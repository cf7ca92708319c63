"""Shared pytest fixtures: one SparkSession per test session, plus
the OpenAQ-shaped fixture lake and its bronze/transform outputs.

Every ``test_parity[...]`` outcome is merged into the parity artifact
(query -> outcome), so a query rotated out of the gated entry set
keeps machine-readable correctness evidence. Full-suite runs shard
themselves through the ``_shard`` plugin.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from openaq_data_pipeline_spark.session import get_spark  # noqa: E402

pytest_plugins = ["_shard", "pytester"]

_REPO_ROOT = Path(__file__).resolve().parent.parent
_PARITY_ARTIFACT = os.environ.get(
    "OPENAQ_PARITY_ARTIFACT", str(_REPO_ROOT / "PARITY_r17.json")
)


def _merge_json_locked(path: str, updates: dict) -> None:
    import fcntl

    with open(path, "a+") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        fh.seek(0)
        try:
            data = json.load(fh)
        except (ValueError, OSError):
            data = {}
        data.update(updates)
        fh.seek(0)
        fh.truncate()
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def pytest_runtest_logreport(report):
    # one entry per oracled query; passing means rows+schema+values
    # matched the DuckDB oracle exactly (tests/oracle_harness.compare).
    # Only the parent writes: a shard's reports reach it by replay.
    # (Imported here, not at the top: importing the plugin before
    # pytest_plugins registers it would skip its assertion rewriting.)
    from _shard import RESULTS_ENV

    if report.when != "call" or os.environ.get(RESULTS_ENV):
        return
    if report.nodeid.startswith("tests/test_entry_parity.py::test_parity["):
        qname = report.nodeid.split("[", 1)[1].rstrip("]")
        entry = {
            "outcome": report.outcome,
            "rows_schema_values_ok": report.outcome == "passed",
        }
        if report.outcome == "failed":
            entry["detail"] = str(report.longrepr)[:1000]
        try:
            _merge_json_locked(_PARITY_ARTIFACT, {qname: entry})
        except OSError:
            pass  # artifact is best-effort evidence, never a failure


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    return get_spark(
        app_name="openaq-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            # concurrent shard processes must not share managed tables
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark-wh")),
        },
    )


@pytest.fixture(scope="session")
def fixture_lake(tmp_path_factory):
    from fixtures_openaq import write_lake

    root = tmp_path_factory.mktemp("lake")
    return write_lake(str(root))


@pytest.fixture(scope="session")
def pipeline(spark, fixture_lake, tmp_path_factory):
    """Ingested + transformed fixture pipeline (lazy model dict)."""
    from openaq_data_pipeline_spark.plans.runner import PipelinePaths, ingest, transform

    root = str(tmp_path_factory.mktemp("wh"))
    paths = PipelinePaths(
        root=root,
        lake_locations=fixture_lake["locations"],
        lake_measurements=fixture_lake["measurements"],
    )
    counts = ingest(spark, paths)
    models = transform(spark, paths)
    return {"counts": counts, "models": models, "paths": paths}
