"""Time individual registered queries / bench arms with the bench's own
timing (`bench._time_df`: wall time of build + full toPandas
materialization) without paying for the whole bench run.

Usage: python tools/time_queries.py q_dedup_groups q_signature_neardup ...
       python tools/time_queries.py q_dedup_groups.labels      # one bench arm
Env:   R14_SF_DIR (default /root/testdata/sf0.1), R14_REPS (default 3)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

import bench  # noqa: E402  (brings ARMS/EXTRA_ARMS + _ensure_loaded)
from sentinela_py_spark.plans import QUERIES  # noqa: E402
from sentinela_py_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("R14_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("R14_REPS", "3"))
    bench._ensure_loaded()
    spark = build_session(app_name="time-queries")
    # Same warmup as bench.py.
    QUERIES["q_pricing_summary"].spark(spark, sf_dir).collect()
    out: dict[str, list[float | None]] = {}
    for name in sys.argv[1:]:
        if "." in name:
            q, arm = name.split(".", 1)
            fn = (bench.ARMS.get(q) or bench.EXTRA_ARMS.get(q))[arm]
            make = lambda: fn(spark, sf_dir)  # noqa: E731
        else:
            make = lambda: QUERIES[name].spark(spark, sf_dir)  # noqa: E731
        times = []
        for _ in range(reps):
            t, err = bench._time_df(make, reps=1)
            times.append(t)
            if err:
                print(f"{name}: {err}", flush=True)
                break
        out[name] = times
        best = min((t for t in times if t is not None), default=None)
        print(f"{name}: min={best} reps={times}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
