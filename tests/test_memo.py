"""The plans layer's one build memo (`plans/memo.py`): a build runs once
per key however many threads ask for it, a build may ask for another
memoized artifact, and a build that fails halfway leaves no temp tree
behind once `clear_index_memos` runs."""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrameWriter

from conftest import SF_SMOKE
from sentinela_py_spark.plans import memo as memo_mod
from sentinela_py_spark.plans.funnelops import _funnel_state_dir
from sentinela_py_spark.plans.simops import clear_index_memos

_APP = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="memo-test-app"))


@pytest.fixture
def fresh_memo(monkeypatch):
    """Empty memo state for one test; the session's own memos and temp
    trees are restored untouched afterwards."""
    monkeypatch.setattr(memo_mod, "_MEMO", {})
    monkeypatch.setattr(memo_mod, "_TREES", set())


def _run_threads(targets, timeout=30):
    threads = [threading.Thread(target=t) for t in targets]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads), "memo call did not return"


def test_memo_builds_once_under_concurrent_callers(fresh_memo):
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    results = [None] * 8

    def caller(i):
        return lambda: results.__setitem__(i, memo_mod.memo("t", _APP, "sf", build))

    _run_threads([caller(i) for i in range(len(results))])
    assert len(calls) == 1
    assert results[0] is not None
    assert all(r is results[0] for r in results)


def test_memo_build_may_ask_for_another_memo(fresh_memo):
    """The IVF index build trains its codebooks through `memo`, so the
    lock must be re-entrant."""
    out = []

    def outer():
        return memo_mod.memo("inner", _APP, "sf", lambda: 1) + 1

    _run_threads([lambda: out.append(memo_mod.memo("outer", _APP, "sf", outer))])
    assert out == [2]


def test_failed_funnel_build_leaves_no_temp_tree(spark, monkeypatch, fresh_memo):
    # the trailing slash names the same data under a key, and so a temp
    # tree, that no other test uses
    sf_dir = os.path.join(SF_SMOKE, "")
    root = os.path.join(
        tempfile.gettempdir(),
        f"sentinela-funnel-{spark.sparkContext.applicationId}-"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    real_parquet = DataFrameWriter.parquet
    writes = []

    def second_write_fails(self, path, *args, **kwargs):
        writes.append(path)
        if len(writes) == 2:
            raise OSError("disk full")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(OSError, match="disk full"):
        _funnel_state_dir(spark, sf_dir)
    assert os.path.isdir(root), "the first store write should have landed"
    clear_index_memos()
    assert not os.path.exists(root)
