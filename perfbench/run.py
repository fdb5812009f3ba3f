"""Benchmark entry point.

    python3 perfbench/run.py --workload <news_enrich|ingest_epochs|registry> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
before anything is timed; the program only sees the generated files.
Each workload is a single-client closed loop on ``local[<cores>]``.

A run makes P = max(1, round(seconds / nominal pass time)) passes; a
traced run makes one. Every pass runs in a fresh Spark application in a
fresh JVM: session start (JVM launch included), warm-up and the
workload's offline builds are measured as one set-up sample, then the
pass itself. Metrics are medians over passes; operation
latencies pool over passes. Correctness checks run untimed after each
pass; a failed check counts as a failed operation.

``--trace 0`` prints the bound end-to-end metrics, ``setup_s`` (CPU
seconds of the set-up) and ``cpu_s`` (CPU seconds of the pass), in the
result; every end-to-end metric, the wall-clock ones too, is in the
detail line before it. ``--trace 1`` runs the pass
with the Spark event log on and prints its per-layer metrics,
attributed to the spans this benchmark records around each call into
the program. Its pass is as cold as that of an untraced run, so the
tracing overhead is its ``trace.wall_s`` minus the ``wall_s`` of
untraced runs of the same workload. Work a workload does only when
traced (its ``traced_extras``) runs after the pass, outside its
``wall_s``.

The last line of standard output is the JSON result."""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# End-to-end metrics the comparison bounds. Both are CPU seconds of the
# process tree: on a virtual machine whose host steals CPU time in
# stretches of minutes, wall-clock figures of the same code moved by up to
# 0.6 between two sets of runs while CPU seconds moved by at most 0.16
# (perfbench/README.md). The wall-clock metrics are printed in the
# detail line.
BOUND = ("setup_s", "cpu_s")
WORKLOADS = {
    "news_enrich": ("wl_news", "News"),
    "ingest_epochs": ("wl_ingest", "Ingest"),
    "registry": ("wl_registry", "Registry"),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sentinela_py_spark")):
        print(f"no sentinela_py_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # Python workers iterate sets alike in every run

    import harness

    # shuffle partitions follow the cores, as in the test suite
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.CPUS)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), cls)
    work = harness.Work(ROOT, f"{args.workload}-{args.seed}-{args.trace}")
    try:
        return _run(workload(work), work, args)
    finally:
        harness.stop_spark()
        work.cleanup()


def _run(wl, work, args) -> int:
    import eventlog
    import harness as H

    wl.generate(args.seed)
    traced = bool(args.trace)
    passes = 1 if traced else max(1, round(args.seconds / wl.nominal_pass_s))

    setups: list[float] = []
    setups_cpu: list[float] = []
    per_pass: list[dict] = []
    ops: list[float] = []
    failures: list[str] = []
    session_start: list[float] = []

    def setup():
        # the previous pass's JVM exits first: its shutdown, and the CPU
        # its exit adds to this process's reaped-children time, fall outside
        H.stop_spark()
        t0, c0 = time.perf_counter(), H.tree_cpu_s()
        spark = H.start_app(work, f"perfbench-{wl.name}", traced)
        session_start.append(time.perf_counter() - t0)
        H.warm_up(spark)
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
        setups_cpu.append(H.tree_cpu_s() - c0)
        return spark

    layer_metrics: dict = {}
    for p in range(passes):
        spark = setup()
        spans = H.Spans(cpu=traced)
        cpu0 = H.tree_cpu_s()
        with H.PeakRss() as rss, spans.span("pass") as whole:
            out = wl.run_pass(spark, spans, p)
        cpu = H.tree_cpu_s() - cpu0
        ops.extend(out["ops"])
        per_pass.append(
            {
                "wall_s": whole.dur,
                "rows_per_s": out["rows"] / whole.dur,
                "cpu_s": cpu,
                "peak_rss_mb": rss.peak_mb,
            }
        )
        if traced and hasattr(wl, "traced_extras"):
            wl.traced_extras(spark, spans)
        failures.extend(f"pass {p}: {f}" for f in wl.check(spark))
        if traced:
            app_id = spark.sparkContext.applicationId
            spark.stop()  # flushes and closes the event log
            counts = eventlog.attribute(eventlog.read(work.eventlog_dir, app_id), spans.done)
            layer_metrics = _common_layers(counts, session_start[-1])
            layer_metrics.update(wl.layer_metrics(spans, counts))

    attempted = len(ops)
    failed = min(attempted, len(failures))
    tail_v, tail_pct, n = H.tail(ops)
    e2e = {
        "setup_s": H.metric(H.median(setups_cpu), "s"),
        "cpu_s": H.metric(H.median([r["cpu_s"] for r in per_pass]), "CPU-s"),
        "setup_wall_s": H.metric(H.median(setups), "s"),
        "wall_s": H.metric(H.median([r["wall_s"] for r in per_pass]), "s"),
        "rows_per_s": H.metric(H.median([r["rows_per_s"] for r in per_pass]), "rows/s"),
        "op_p50_s": H.metric(H.median(ops), "s"),
        "op_tail_s": H.metric(tail_v, "s"),
        "peak_rss_mb": H.metric(H.median([r["peak_rss_mb"] for r in per_pass]), "MB"),
        "error_rate": H.metric(failed / attempted, "ratio"),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "passes": passes,
        "end_to_end": e2e,
        "setup_samples_s": setups,
        "setup_samples_cpu_s": setups_cpu,
        "per_pass": per_pass,
        "ops_s": ops,
        "op_tail": {"percentile": tail_pct, "samples": n, "beyond": sum(x > tail_v for x in ops)},
        "failures": failures,
    }
    if traced:
        layer_metrics["trace.wall_s"] = H.metric(per_pass[-1]["wall_s"], "s")
        layer_metrics["process.peak_rss_mb"] = H.metric(per_pass[-1]["peak_rss_mb"], "MB")
        metrics = _all_layers(layer_metrics)
    else:
        metrics = {k: e2e[k] for k in BOUND}
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    H.emit(not failures, attempted, failed, metrics, detail)
    return 0


def _common_layers(counts: dict, session_start_s: float) -> dict:
    import eventlog
    import harness as H

    tot = eventlog.total(counts)
    return {
        "session.start_s": H.metric(session_start_s, "s"),
        "spark.tasks": H.metric(tot["tasks"], "count"),
        "spark.exec_run_s": H.metric(tot["exec_run_s"], "s"),
        "spark.gc_s": H.metric(tot["gc_s"], "s"),
        "spark.spill_bytes": H.metric(tot["spill_bytes"], "bytes"),
        "spark.sql_executions": H.metric(tot["sql_executions"], "count"),
    }


def _all_layers(metrics: dict) -> dict:
    """Every per-layer metric of every workload. A layer the workload
    does not run reads 0: that is its expected bypass."""
    import layers

    out = {name: {"value": 0.0, "unit": unit} for name, unit in layers.PER_LAYER}
    unknown = set(metrics) - set(out)
    if unknown:
        raise KeyError(f"per-layer metrics missing from layers.PER_LAYER: {sorted(unknown)}")
    out.update(metrics)
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
