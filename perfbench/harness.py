"""Shared machinery of the benchmark: the working directory, Spark
application lifecycle, process-tree CPU and memory accounting from
/proc, latency statistics, spans, and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

CPUS = len(os.sched_getaffinity(0))  # as nproc counts them
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- process tree accounting (/proc, not tracing) ---------------------------


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode(errors="replace")
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state; utime stime cutime cstime are stat fields 14-17
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks, int(fields[21]))
    return out


def _tree(table: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return [p for p in out if p in table]


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree under ``root`` (this process by
    default): driver JVM, Python driver and Python workers. A reaped
    child's time is in its parent's cutime/cstime, so none is lost."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root or os.getpid())) / _CLK_TCK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _pss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree. Python workers are forks of
    one daemon and share most of their pages with it, so each Python
    process counts its proportional share (PSS): summing their RSS would
    count the shared pages once per live worker, and the number of live
    workers varies from run to run. No process shares the JVM's pages, so
    it counts its RSS, which is cheaper to read than its PSS. A JVM
    launches subprocesses by a vfork-style spawn: until the child execs
    it shares the JVM's memory and reports the JVM's RSS as its own, so
    a child still running the JVM's executable is not counted twice."""
    table = _proc_table()
    kb = 0
    for p in _tree(table, root or os.getpid()):
        exe = _exe(p)
        rss_kb = table[p][2] * _PAGE // 1024
        if exe and exe.endswith("/java"):
            if exe != _exe(table[p][0]):
                kb += rss_kb
            continue
        pss = _pss_kb(p)
        kb += rss_kb if pss is None else pss
    return kb / 1024


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds while
    active; ``peak_mb`` is the highest sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self.peak_mb = tree_rss_mb()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --- statistics --------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond``
    samples above it: the order statistic with exactly ``beyond`` larger
    samples. Returns (value, percentile, sample count). With fewer than
    2 * ``beyond`` + 1 samples that order statistic lies below the
    median, so it is no tail: the maximum is returned with percentile
    100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 2 * beyond:
        return xs[-1], 100.0, n
    k = n - beyond - 1  # 0-based: xs[k+1:] holds exactly `beyond` samples
    return xs[k], 100.0 * (k + 1) / n, n


# --- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    cpu: float = 0.0  # process-tree CPU seconds, when sampled

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; spans nest by call order. With
    ``cpu=True`` each span also records the process tree's CPU seconds
    over its interval, which includes Python worker time the event log
    does not see."""

    def __init__(self, cpu: bool = False) -> None:
        self.cpu = cpu
        self.done: list[Span] = []
        self._open: list[Span] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.done if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.done if s.name == name]

    def cpu_total(self, name: str) -> float:
        return sum(s.cpu for s in self.done if s.name == name)


class _SpanCtx:
    def __init__(self, rec: Spans, name: str):
        self.rec, self.name = rec, name

    def __enter__(self) -> Span:
        parent = self.rec._open[-1].name if self.rec._open else None
        self.cpu0 = tree_cpu_s() if self.rec.cpu else 0.0
        self.s = Span(self.name, time.time(), parent=parent)
        self.rec._open.append(self.s)
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.time()
        if self.rec.cpu:
            self.s.cpu = tree_cpu_s() - self.cpu0
        self.rec._open.pop()
        self.rec.done.append(self.s)


# --- Spark applications ----------------------------------------------------------


class Work:
    """The run's private directory inside the checkout; every file the
    benchmark or Spark writes lands under it."""

    def __init__(self, root: str, tag: str):
        self.dir = os.path.join(root, ".perfbench_work", tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.eventlog_dir = self.path("eventlog")
        os.makedirs(self.eventlog_dir)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # every JVM, the spark-submit launcher's too, keeps its files here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass  # another run's directory is still there


def start_app(work: Work, name: str, traced: bool):
    """Stop the current Spark application and its JVM, if any, and start
    a fresh application in a fresh JVM. Every pass then starts as cold as
    a scheduled run does: a new application id makes every
    per-application memo of the engine start cold, and a new JVM makes
    the pass pay its own JIT warm-up, so all passes are alike."""
    from sentinela_py_spark.session import build_session

    stop_spark()
    conf = {
        "spark.sql.warehouse.dir": work.path("warehouse"),
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf["spark.eventLog.dir"] = work.eventlog_dir
        conf["spark.eventLog.compress"] = "false"
    return build_session(app_name=name, master=f"local[{CPUS}]", extra_conf=conf)


def warm_up(spark) -> None:
    """A JVM-side aggregate and an Arrow Python round trip, so the first
    timed operation pays neither codegen warm-up nor worker start."""
    from pyspark.sql import functions as F

    spark.range(0, 20000, numPartitions=CPUS).groupBy((F.col("id") % 7).alias("k")).count().collect()

    def ident(batches):
        yield from batches

    spark.range(0, 1000, numPartitions=CPUS).mapInPandas(ident, "id long").count()


def stop_spark() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes; wait for it
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --- result line ----------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, extra: dict | None = None) -> None:
    """Human-readable detail first, the one-line JSON result last."""
    if extra:
        print(json.dumps({"detail": extra}, sort_keys=True))
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
