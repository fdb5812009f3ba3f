"""Canonical-JSON SHA-256 hashing (M14).

The reference computes idempotency hashes as SHA-256 over
``json.dumps(payload, ensure_ascii=False, sort_keys=True)``
(city_extraction_job.py:254-271, catalog.py:85-92). Spark's ``to_json``
does not reproduce those bytes (key order, spacing, unicode escapes), so
the digest runs in a small Arrow-batched pandas UDF that mirrors the
Python canonical form byte-for-byte — hashes stay comparable across the
reference's history and the engine's.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def canonical_json(value: Any) -> str:
    return json.dumps(value, ensure_ascii=False, sort_keys=True)


def canonical_sha256(value: Any) -> str:
    return hashlib.sha256(canonical_json(value).encode("utf-8")).hexdigest()


def _to_plain(obj: Any) -> Any:
    """Rows/arrays from Spark arrive as dicts/lists/numpy scalars; fold to
    plain JSON-compatible Python so key ordering and repr are canonical."""
    if isinstance(obj, dict):
        return {str(k): _to_plain(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_to_plain(v) for v in obj]
    if hasattr(obj, "asDict"):
        return {str(k): _to_plain(v) for k, v in obj.asDict(recursive=False).items()}
    if type(obj).__module__ == "numpy":
        return obj.tolist() if hasattr(obj, "tolist") else obj
    return obj


@F.pandas_udf(T.StringType())
def canonical_sha256_udf(col: pd.Series) -> pd.Series:
    # Struct columns arrive as a pandas DataFrame (one column per field);
    # scalar/array columns as a Series.
    if isinstance(col, pd.DataFrame):
        records = col.to_dict("records")
        return pd.Series(
            [canonical_sha256(_to_plain(r)) for r in records], index=col.index
        )
    return col.map(lambda v: None if v is None else canonical_sha256(_to_plain(v)))
