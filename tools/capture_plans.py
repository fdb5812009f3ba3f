"""Capture .explain('formatted') for named registered queries into
plans/<round>/<query>_<tag>.txt.

Usage: python tools/capture_plans.py <round> <tag> <query> [<query> ...]
       python tools/capture_plans.py <round> <tag> all   # every query

Runs at sf0.001 so plan shape (not data volume) is what's captured.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from gen_explain import SF  # noqa: E402  (the sf0.001 tables EXPLAIN.md uses)
from sentinela_py_spark.plans import QUERIES  # noqa: E402
from sentinela_py_spark.plans.registry import _ensure_loaded  # noqa: E402
from sentinela_py_spark.session import build_session  # noqa: E402


def main() -> None:
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    _ensure_loaded()
    if names == ["all"]:
        names = sorted(QUERIES)
    spark = build_session(
        app_name=f"{rnd}-explain", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    out_dir = os.path.join("plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name].spark(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at sf0.001, tag={tag}\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
