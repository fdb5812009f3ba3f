"""Tests of the benchmark's own code: seeded generators, the tail
percentile rule, and time-window job attribution on a canned event log.
None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import gen_corpus  # noqa: E402
import gen_news  # noqa: E402
import gen_tables  # noqa: E402
from harness import Span, tail  # noqa: E402


def _tree(root: str) -> dict[str, object]:
    """Every generated file's content: parquet as rows, json as data."""
    out: dict[str, object] = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            key = os.path.relpath(path, root)
            if f.endswith(".parquet"):
                out[key] = pq.read_table(path).to_pylist()
            else:
                with open(path) as fh:
                    out[key] = json.load(fh)
    return out


@pytest.mark.parametrize(
    "gen",
    [
        lambda seed, d: gen_news.generate(seed, d, n_batches=2, per_batch=12, n_cities=400, n_ambiguous=10),
        lambda seed, d: gen_corpus.generate(seed, d, n_epochs=2, per_epoch=40, vocab=500),
        lambda seed, d: gen_tables.generate(seed, d),
    ],
    ids=["news", "corpus", "tables"],
)
def test_generators_are_deterministic_per_seed(gen, tmp_path):
    gen(7, str(tmp_path / "a"))
    gen(7, str(tmp_path / "b"))
    gen(8, str(tmp_path / "c"))
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_every_seed_gives_the_same_amount_of_work(tmp_path):
    news = [
        gen_news.generate(s, str(tmp_path / f"n{s}"), n_batches=2, per_batch=30, n_cities=400, n_ambiguous=10)
        for s in (1, 2)
    ]
    assert news[0]["batches"] == news[1]["batches"]
    corpus = [
        gen_corpus.generate(s, str(tmp_path / f"c{s}"), n_epochs=2, per_epoch=100, vocab=500)
        for s in (1, 2)
    ]
    sizes = [[{k: len(v) for k, v in ep.items()} for ep in c["epochs"]] for c in corpus]
    assert sizes[0] == sizes[1]
    assert sizes[0][1] == {"eval": 8, "text_exact": 5, "text_near": 7, "vec_dup": 10, "clean": 70}


def test_news_truth_counts_planted_duplicates(tmp_path):
    truth = gen_news.generate(3, str(tmp_path), n_batches=3, per_batch=60, n_cities=600, n_ambiguous=20)
    batches = truth["batches"]
    # the first batch can only repeat urls within itself; later ones relist
    assert all(b["listed"] > b["new"] for b in batches[1:])
    assert sum(b["new"] for b in batches) == len(truth["primary"])
    catalog = json.load(open(tmp_path / "catalog.json"))
    assert len(catalog) == 600
    names = [e["name"] for e in catalog]
    assert len(set(names)) == 600 - 20  # 20 names live in two UFs


def test_corpus_plants_every_class_after_the_first_epoch(tmp_path):
    truth = gen_corpus.generate(5, str(tmp_path), n_epochs=2, per_epoch=300, vocab=800)
    first, second = truth["epochs"]
    assert set(first["clean"]) == set(range(1, 301))
    for kind in ("eval", "text_exact", "text_near", "vec_dup", "clean"):
        assert second[kind], kind


class TestTail:
    def test_exactly_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]  # 1..40
        value, pct, n = tail(xs)
        assert (value, pct, n) == (30.0, 75.0, 40)
        assert sum(x > value for x in xs) == 10

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        assert tail(xs) == tail(sorted(xs))

    def test_guard_with_too_few_samples_returns_the_maximum(self):
        assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
        assert tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)
        # 12 samples: the order statistic with 10 above it is the 2nd
        # smallest, below the median, so the guard holds
        assert tail([float(i) for i in range(12)]) == (11.0, 100.0, 12)
        assert tail([float(i) for i in range(20)]) == (19.0, 100.0, 20)

    def test_twenty_one_samples_is_the_smallest_qualifying_count(self):
        xs = [float(i) for i in range(21)]
        value, pct, n = tail(xs)
        assert (value, n) == (10.0, 21) and pct == pytest.approx(100 * 11 / 21)
        assert value == pytest.approx(statistics.median(xs))

    def test_no_samples_raises(self):
        with pytest.raises(ValueError):
            tail([])


def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def _task(stage: int, run_ms: int, cpu_ns: int, shuffle_written: int = 0) -> str:
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 1,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_written},
            },
        },
    )


CANNED = [
    # job 0 at t=10.5 s: inside span "outer" only
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 10_500, "Stage IDs": [0]}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0, "Submission Time": 10_510}}),
    _task(0, 100, 50_000_000),
    _task(0, 100, 50_000_000),
    # job 1 at t=12 s: inside the nested span "inner"; two stages
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 12_000, "Stage IDs": [1, 2]}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1, "Submission Time": 12_010}}),
    _task(1, 200, 100_000_000, shuffle_written=64),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2, "Submission Time": 12_050}}),
    _task(2, 300, 200_000_000),
    # job 2 at t=13 s, also inner, lists stage 2 again but it is skipped
    # (reused) and runs only stage 3; submitted from a driver thread, so
    # no job group: attribution must not depend on one
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 13_000, "Stage IDs": [2, 3]}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 3, "Submission Time": 13_010}}),
    _task(3, 50, 10_000_000),
    _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", executionId=0, time=12_001),
    # job 3 at t=30 s: outside every span, dropped
    _ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 30_000, "Stage IDs": [4]}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4, "Submission Time": 30_001}}),
    _task(4, 999, 999_000_000),
]
SPANS = [Span("inner", 11.0, 14.0), Span("outer", 10.0, 20.0)]


def test_jobs_are_attributed_to_the_innermost_span_by_submission_time():
    counts = eventlog.attribute(eventlog.parse(CANNED), SPANS)
    assert set(counts) == {"outer", "inner"}
    outer, inner = counts["outer"], counts["inner"]
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (1, 1, 2)
    assert outer["exec_run_s"] == pytest.approx(0.2)
    assert outer["exec_cpu_s"] == pytest.approx(0.1)
    assert (inner["jobs"], inner["stages"], inner["tasks"]) == (2, 3, 3)
    assert inner["exec_cpu_s"] == pytest.approx(0.31)
    assert inner["shuffle_bytes"] == 64
    assert inner["sql_executions"] == 1 and outer["sql_executions"] == 0


def test_total_sums_spans_and_drops_jobs_outside_them():
    tot = eventlog.total(eventlog.attribute(eventlog.parse(CANNED), SPANS))
    assert tot["jobs"] == 3
    assert tot["tasks"] == 5
    assert tot["gc_s"] == pytest.approx(0.005)


def test_rolling_log_files_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_2_app-1").write_text("\n".join(CANNED[8:]) + "\n")
    (d / "events_1_app-1").write_text("\n".join(CANNED[:8]) + "\n")
    files = eventlog.app_log_files(str(tmp_path), "app-1")
    assert [os.path.basename(f) for f in files] == ["events_1_app-1", "events_2_app-1"]
    log = eventlog.read(str(tmp_path), "app-1")
    assert [j.job_id for j in log.jobs] == [0, 1, 2, 3]
