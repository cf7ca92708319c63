"""The sharded run loop reports what a serial pytest run reports."""

from __future__ import annotations

import json
from pathlib import Path

import _shard

PROBE_CONFTEST = """
import pytest

pytest_plugins = ["_shard"]


@pytest.fixture
def broken():
    raise RuntimeError("setup fails")


@pytest.fixture
def bad_teardown():
    yield
    raise RuntimeError("teardown fails")
"""


class _TwoShards:
    def __init__(self, durations_file: Path):
        self.durations_file = durations_file

    def pytest_runtestloop(self, session):
        return _shard.run_shards(session, 2, self.durations_file)


def test_shard_reports_match_serial_run(pytester, monkeypatch, tmp_path):
    # the shards import the plugin from this directory
    monkeypatch.setenv("PYTHONPATH", str(Path(_shard.__file__).parent))
    # this process may itself be a shard; the probe run must not be
    monkeypatch.delenv(_shard.RESULTS_ENV, raising=False)
    pytester.makeconftest(PROBE_CONFTEST)
    pytester.makepyfile(
        test_a="""
            import pytest

            def test_pass():
                pass

            @pytest.mark.skipif(True, reason="probe")
            def test_skipif():
                pass
        """,
        test_b="""
            def test_setup_error(broken):
                pass

            def test_teardown_error(bad_teardown):
                pass
        """,
    )
    serial = pytester.runpytest().parseoutcomes()
    assert serial == {"passed": 2, "skipped": 1, "errors": 2}

    durations = tmp_path / "durations.json"
    sharded = pytester.runpytest(plugins=[_TwoShards(durations)])
    sharded.stdout.fnmatch_lines(["sharded run loop: 4 tests -> 2 shard processes*"])
    assert sharded.parseoutcomes() == serial
    assert sorted(json.loads(durations.read_text())) == ["test_a.py", "test_b.py"]
