"""Per-session build memo for the plans layer.

Some query inputs are artifacts built once per corpus and then served to
every later query, bench rep and correctness run: trained codebooks, the
stored IVF index, the quality model, the curated pool, and the fixture
ingest state trees. `memo` keeps all of them in one dict keyed by
(name, applicationId, sf_dir). The applicationId keeps a stopped
session's frames from being served to the next one; sf_dir keeps data
regenerated at another path from being served stale.

`temp_tree` names the on-disk root a build writes under, and
`clear_index_memos` empties the memo and removes every such root.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# One lock around check, build and insert, so two threads asking for the
# same artifact build it once. Re-entrant because one build asks for
# another: the IVF index trains its codebooks through `memo`.
_LOCK = threading.RLock()
_MEMO: dict[tuple[str, str, str], Any] = {}
_TREES: set[str] = set()


def memo(name: str, spark: SparkSession, sf_dir: str, build: Callable[[], T]) -> T:
    """Return the ``name`` artifact for this session and ``sf_dir``,
    calling ``build()`` only the first time. A build that raises stores
    nothing, so the next call builds again."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    with _LOCK:
        if key not in _MEMO:
            _MEMO[key] = build()
        return _MEMO[key]


def temp_tree(kind: str, spark: SparkSession, sf_dir: str) -> str:
    """The temp root ``sentinela-<kind>-<appId>-<md5(sf_dir)[:8]>`` for a
    build to write under. It is registered for removal before anything
    is written, so a build that fails halfway leaves nothing behind
    after `clear_index_memos`."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"sentinela-{kind}-{spark.sparkContext.applicationId}-"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    with _LOCK:
        _TREES.add(root)
    return root


def clear_index_memos() -> None:
    """Drop every memoized artifact and delete every temp tree this
    process registered. Memos pin DataFrames under stopped sessions'
    applicationIds for the process lifetime otherwise, so call this on
    session teardown (the test fixture does) or after regenerating
    fixture data in place."""
    with _LOCK:
        _MEMO.clear()
        while _TREES:
            shutil.rmtree(_TREES.pop(), ignore_errors=True)
