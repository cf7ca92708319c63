"""Sharded run loop for full-suite pytest runs.

Most of the suite's ~1100 tests run a few tiny Spark jobs at ~0.25 s
each, so the suite is latency-bound and one pytest process leaves a
large box idle. On a box with at least ``MIN_CPUS`` CPUs, a run of at
least ``MIN_ITEMS`` tests replaces pytest's serial loop with concurrent
shard subprocesses, each with its own Spark JVM. Below that, the
shards' JVMs compete for the same cores and measured no faster than
serial (4 vCPUs, 43 tests: 89 s serial, 91 s in two shards), so the
stock loop runs.

A process is a shard exactly when its parent named a results file in
``RESULTS_ENV``. The shard appends each report except a passed setup
or teardown to that file through pytest's own report serialization.
The parent replays them, with their original phase and outcome,
through its own hooks, so its terminal output, summary counts, exit
code and report-consuming plugins see real per-test reports. This is
the pytest-xdist topology, kept here so the suite needs no
third-party plugin.

Shards are packed longest-first by the per-unit seconds in
``DURATIONS_FILE``, which every sharded run refreshes. A unit is a
test file, except in ``SPLIT_FILES``, whose parametrized cases are
each a unit of their own so that packing spreads them over all shards.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest

RESULTS_ENV = "OPENAQ_RESULTS_FILE"
DURATIONS_FILE = Path(__file__).with_name("shard_durations.json")
SPLIT_FILES = ("test_entry_parity.py",)
MIN_ITEMS = 200
MIN_CPUS = 8
UNMEASURED_S = 15.0  # packing weight of a unit no sharded run has timed yet


class _ShardReporter:
    def __init__(self, config: pytest.Config, path: str):
        self.config = config
        self.path = path

    def pytest_runtest_logreport(self, report: pytest.TestReport) -> None:
        if report.when != "call" and report.passed:
            return
        data = self.config.hook.pytest_report_to_serializable(
            config=self.config, report=report
        )
        with open(self.path, "a") as fh:
            fh.write(json.dumps(data, default=str) + "\n")


def pytest_configure(config: pytest.Config) -> None:
    path = os.environ.get(RESULTS_ENV)
    if path:
        config.pluginmanager.register(_ShardReporter(config, path))


def pytest_runtestloop(session: pytest.Session) -> bool | None:
    """Returning True replaces pytest's serial loop; None keeps it."""
    cpus = os.cpu_count() or 1
    if (
        os.environ.get(RESULTS_ENV)
        or session.config.option.collectonly
        or len(session.items) < MIN_ITEMS
        or cpus < MIN_CPUS
        or session.testsfailed
    ):
        return None
    return run_shards(session, min(8, max(2, cpus // 4)), DURATIONS_FILE)


def _unit_of(nodeid: str) -> str:
    fname = nodeid.split("::", 1)[0]
    return nodeid if fname.endswith(SPLIT_FILES) else fname


def _load_durations(path: Path) -> dict[str, float]:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return {}


def pack(weights: dict[str, float], n: int) -> list[list[str]]:
    """Greedy longest-processing-time bin packing into ``n`` shards."""
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for unit in sorted(weights, key=weights.get, reverse=True):
        i = min(range(n), key=lambda k: shards[k][0])
        total, members = shards[i]
        members.append(unit)
        shards[i] = (total + weights[unit], members)
    return [members for _, members in shards if members]


def _read_reports(paths: list[Path]) -> dict[str, list[dict]]:
    """Serialized reports by node id, in the order the shards wrote them."""
    by_node: dict[str, list[dict]] = {}
    for path in paths:
        if not path.exists():
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    data = json.loads(line)
                except ValueError:
                    continue  # a shard killed mid-write leaves a torn last line
                by_node.setdefault(data["nodeid"], []).append(data)
    return by_node


def run_shards(session: pytest.Session, n_shards: int, durations_file: Path) -> bool:
    """Run ``session.items`` in up to ``n_shards`` concurrent pytest
    subprocesses, replay their reports through this session's hooks and
    refresh ``durations_file`` from the measured times."""
    cfg = session.config
    table = _load_durations(durations_file)
    units = sorted({_unit_of(it.nodeid) for it in session.items})
    shards = pack({u: table.get(u, UNMEASURED_S) for u in units}, n_shards)

    tmp = Path(tempfile.mkdtemp(prefix="pytest-shards-"))
    tw = cfg.get_terminal_writer()
    tw.line(
        f"sharded run loop: {len(session.items)} tests -> "
        f"{len(shards)} shard processes (logs in {tmp})"
    )
    results = [tmp / f"results-{i}.jsonl" for i in range(len(shards))]
    procs = []
    for i, members in enumerate(shards):
        env = {**os.environ, "PYTHONUNBUFFERED": "1", RESULTS_ENV: str(results[i])}
        cmd = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider", *members]
        with open(tmp / f"shard-{i}.log", "w") as out:
            procs.append(
                subprocess.Popen(
                    cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cfg.rootpath
                )
            )

    t0 = time.time()
    next_note = 30.0
    while any(p.poll() is None for p in procs):
        time.sleep(0.5)
        if time.time() - t0 > next_note:
            tw.line(
                f"sharded run loop: {len(_read_reports(results))}/"
                f"{len(session.items)} tests reported after {time.time() - t0:.0f}s"
            )
            next_note += 30.0

    reports = _read_reports(results)
    crashed = [i for i, p in enumerate(procs) if p.returncode not in (0, 1, 5)]
    for it in session.items:
        it.ihook.pytest_runtest_logstart(nodeid=it.nodeid, location=it.location)
        for data in reports.get(it.nodeid, ()):
            it.ihook.pytest_runtest_logreport(
                report=cfg.hook.pytest_report_from_serializable(config=cfg, data=data)
            )
        if it.nodeid not in reports:
            # a shard died before reporting this test (e.g. JVM OOM): fail
            # it loudly rather than under-count silently
            it.ihook.pytest_runtest_logreport(
                report=pytest.TestReport(
                    nodeid=it.nodeid,
                    location=it.location,
                    keywords=dict(it.keywords),
                    outcome="failed",
                    longrepr=(
                        "shard process exited without reporting this test "
                        f"(crashed shards: {crashed}; logs in {tmp})"
                    ),
                    when="call",
                    duration=0.0,
                )
            )
        it.ihook.pytest_runtest_logfinish(nodeid=it.nodeid, location=it.location)

    fresh: dict[str, float] = {}
    for nodeid, recs in reports.items():
        unit = _unit_of(nodeid)
        fresh[unit] = round(fresh.get(unit, 0.0) + sum(d["duration"] for d in recs), 2)
    if fresh:
        table.update(fresh)
        try:
            durations_file.write_text(json.dumps(table, indent=1, sort_keys=True))
        except OSError:
            pass  # the table only steers packing; a stale one is harmless
    return True
