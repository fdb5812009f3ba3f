"""``registry``: registered queries of ``plans.QUERIES``, in
registration order, over generated tables.

Every pass runs in a fresh Spark application with the index memos
cleared, so the per-(application, sf) memos start cold as a scheduled
run finds them. One operation is one query: ``q.spark(...)`` (the plan
build, which runs the driver loops and eager barriers) plus
``toPandas()`` (the action). The pass runs a fixed slice of the registry
that covers every plans module; the full registry does not fit the
benchmark's time budget (see perfbench/README.md)."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import re

import gen_tables
from layers import PLANS_MODULES

NOMINAL_PASS_S = 15.0
# The slice, by module; run in registration order.
SLICE = frozenset(
    {
        "q_minhash_signatures",  # dedupops
        "q_cosine_topk",  # simops
        "q_pii_redaction",  # textops
        "q_train_split",  # curation
        "q_ingest_funnel",  # funnelops
        "q_clip_score",  # mmops
        "q_pricing_summary",  # relational
        "q_running_revenue",
        "q_asof_last_view",
    }
)


class Registry:
    name = "registry"
    nominal_pass_s = NOMINAL_PASS_S

    def __init__(self, work):
        self.work = work
        self.sf_dir = work.path("tables")

    def generate(self, seed: int) -> None:
        """The tables, and each query's input rows: the rows of the base
        tables its oracle SQL names, fixed by the workload rather than by
        the plan the program happens to build."""
        from sentinela_py_spark.plans import oracle_sql_map

        self.table_rows = gen_tables.generate(seed, self.sf_dir)
        oracles = oracle_sql_map()
        self.rows_of = {
            name: sum(n for t, n in self.table_rows.items() if re.search(rf"\b{t}\b", oracles[name], re.I))
            for name in sorted(SLICE)
        }

    def setup(self, spark) -> None:
        """Cold memos and the registry loaded."""
        from sentinela_py_spark.plans import QUERIES
        from sentinela_py_spark.plans.simops import clear_index_memos

        clear_index_memos()
        self.queries = [q for name, q in QUERIES.items() if name in SLICE]
        missing = SLICE - {q.name for q in self.queries}
        if missing:
            raise KeyError(f"queries not registered: {sorted(missing)}")

    def run_pass(self, spark, spans, p: int) -> dict:
        ops: list[float] = []
        self.results = {}
        for q in self.queries:
            module = q.spark.__module__.rsplit(".", 1)[-1]
            with spans.span(f"plans.{module}") as s_q:
                with spans.span(f"plans.{module}.build"):
                    df = q.spark(spark, self.sf_dir)
                with spans.span(f"plans.{module}.action"):
                    pdf = df.toPandas()
            ops.append(s_q.dur)
            self.results[q.name] = (list(df.columns), pdf)
        return {"ops": ops, "rows": sum(self.rows_of.values())}

    def check(self, spark) -> list[str]:
        """Untimed: each result hash-matches its DuckDB ``oracle_sql()``
        twin on the same tables."""
        import duckdb

        from sentinela_py_spark.plans import oracle_sql_map

        oracles = oracle_sql_map()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')"
                )
            failures = []
            for name, (cols, pdf) in self.results.items():
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                mine = _digest(cols, pdf.itertuples(index=False, name=None))
                theirs = _digest(duck_cols, res.fetchall())
                if mine != theirs:
                    failures.append(f"{name}: result differs from its oracle ({len(pdf)} rows)")
            return failures
        finally:
            con.close()

    def layer_metrics(self, spans, counts) -> dict:
        from harness import metric

        out = {}
        for m in PLANS_MODULES:
            c = counts.get(f"plans.{m}.build", {})
            a = counts.get(f"plans.{m}.action", {})
            out[f"plans.{m}.build_s"] = metric(spans.total(f"plans.{m}.build"), "s")
            out[f"plans.{m}.action_s"] = metric(spans.total(f"plans.{m}.action"), "s")
            for k, unit in (("jobs", "count"), ("stages", "count"), ("exec_cpu_s", "s"), ("shuffle_bytes", "bytes")):
                out[f"plans.{m}.{k}"] = metric(c.get(k, 0) + a.get(k, 0), unit)
        return out


def _canon(v):
    """One representation per value across pandas, Spark and DuckDB."""
    if v is None or type(v).__name__ == "NaTType":
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
        return float(f"{v:.9g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _digest(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join([repr(sorted(c.lower() for c in cols)), *canon]).encode()).hexdigest()
