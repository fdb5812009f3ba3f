from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentinela_py_spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Small core count + few shuffle partitions keeps test latency low while
    # still exercising multi-partition shuffles.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = build_session(app_name="sentinela-tests", shuffle_partitions=8)
    yield s
    # Release DataFrames the module-level index memos pin under this
    # session's applicationId (stale-entry/leak guard — r5 ADVICE).
    from sentinela_py_spark.plans.simops import clear_index_memos

    clear_index_memos()
    s.stop()


# Per-test call durations, written to .benchmarks/test_durations.json at
# the end of every run. A default-tier run (the `-m "not slow"` selection
# from pytest.ini) that takes longer than DEFAULT_TIER_BUDGET_S, 60 % of
# the 2,670 s Tier-1 timeout, prints one warning line; nothing fails.
DEFAULT_TIER_BUDGET_S = 1600
_DURATIONS: dict[str, float] = {}
_SESSION_START = [time.monotonic()]  # reset at session start when loaded before it


def pytest_sessionstart(session):
    _SESSION_START[0] = time.monotonic()


def pytest_runtest_logreport(report):
    if report.when == "call":
        _DURATIONS[report.nodeid] = round(report.duration, 3)


def pytest_sessionfinish(session, exitstatus):
    total = time.monotonic() - _SESSION_START[0]
    out_dir = session.config.rootpath / ".benchmarks"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / "test_durations.json", "w") as fh:
        json.dump({"total_s": round(total, 1), "call_s": _DURATIONS}, fh, indent=1)
    if session.config.option.markexpr == "not slow" and total > DEFAULT_TIER_BUDGET_S:
        reporter = session.config.pluginmanager.get_plugin("terminalreporter")
        reporter.write("\n")
        reporter.write_line(
            f"WARNING: default-tier run took {total:.0f} s, over the "
            f"{DEFAULT_TIER_BUDGET_S} s budget (60 % of the 2670 s Tier-1 timeout)"
        )
