"""The substring-level span-cut stage COMPOSED into the curated
pipeline (plans/curation._curated_pool, r6 VERDICT item #1): a passage
repeated across surviving train docs is cut down to its first
occurrence BEFORE the quality filter and the token-budget packing, and
the registered q_sequence_packing oracle replays the cut bit-for-bit.

The driver fixture cannot exercise this path: its only repeated 8-grams
live in near-dup document pairs, which the doc-level survivor election
removes before the span stage sees them (verified at sf0.01 and sf0.1 —
zero shared grams remain in the pool). So this suite plants the shared
passage itself and drives BOTH engines over the planted corpus.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sentinela_py_spark.plans import QUERIES
from sentinela_py_spark.plans.registry import _ensure_loaded

_ensure_loaded()


def _nskey(t):
    """None-safe sort key: NULLs first within each column."""
    return tuple((v is not None, v) for v in t)

# 16-word passage planted into three otherwise-unrelated documents
PASSAGE = (
    "quarterly governance disclosure boilerplate repeated verbatim across "
    "listed filings without material alteration pursuant standard reporting "
    "conventions"
)
assert len(PASSAGE.split()) == 16

# 30 distinct words each, a couple of stopwords so quality's ratio rule
# is comfortably inside [0.05, 0.6] (the length rule alone already passes)
UNIQ_A = (
    "alpine rivers braid the gravel plains while glaciers retreat and "
    "meltwater carves fresh channels toward distant deltas feeding wetlands "
    "where migratory birds assemble in vast seasonal congregations before "
    "continuing their journeys south"
)
UNIQ_B = (
    "orbital telescopes resolve faint galaxies whose light departed long "
    "before terrestrial continents assumed familiar outlines offering "
    "astronomers layered snapshots of cosmic evolution that calibrate "
    "models describing expansion dark matter and structure"
)
# 12 words, ZERO quality stopwords: after the cut this doc fails BOTH
# quality rules (12 < 20 words; stopword ratio 0 < 0.05) — it passed
# pre-cut ONLY because the boilerplate passage padded its length
UNIQ_C = "brief fragment lacking substance merely padding around duplicated regulatory boilerplate content here"
assert len(UNIQ_C.split()) == 12

FILLER = [
    "coastal mangroves buffer storm surges and shelter juvenile fish in the tangled roots of tidal forests spanning tropical shorelines worldwide today",
    "fermented doughs develop complex flavors as wild yeasts and bacteria metabolize starches over long cool proofing periods in a humid cellar",
    "archival restoration of brittle manuscripts demands controlled humidity gentle solvents and patient conservators trained in the chemistry of aging paper fibers",
]


def _is_eval(doc_id: int) -> bool:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] < "1a"


def _pick_ids(n: int, eval_split: bool, start: int = 1) -> list[int]:
    out, i = [], start
    while len(out) < n:
        if _is_eval(i) == eval_split:
            out.append(i)
        i += 1
    return out


# four planted + three filler train docs, one eval doc
(ID_A, ID_B, ID_C, ID_D, *FILLER_IDS) = _pick_ids(7, eval_split=False)
(EVAL_ID,) = _pick_ids(1, eval_split=True)

DOC_A = f"{UNIQ_A} {PASSAGE}"
DOC_B = f"{UNIQ_B} {PASSAGE}"
DOC_C = f"{UNIQ_C} {PASSAGE}"

# a WITHIN-doc repeat (r9: the intra arm composed into the same span
# stage): a 16-word boilerplate block appearing twice inside ONE doc —
# shared with no other document, so only the intra algebra can cut it
IPASSAGE = (
    "standardized safety warning inserted identically before every "
    "procedural section describing hazardous laboratory operations "
    "requiring certified supervision"
)
assert len(IPASSAGE.split()) == 16
UNIQ_D = (
    "volcanic islands emerge from the restless seafloor and their slopes "
    "gather seabird colonies whose guano enriches young soils for "
    "pioneering windblown vegetation over centuries"
)
assert len(UNIQ_D.split()) == 24
MID_D = "calibration steps follow the numbered checklist precisely here"
assert len(MID_D.split()) == 8
DOC_D = f"{UNIQ_D} {IPASSAGE} {MID_D} {IPASSAGE}"
DOC_D_CUT = f"{UNIQ_D} {IPASSAGE} {MID_D}"

ROWS = (
    [(ID_A, "en", DOC_A), (ID_B, "en", DOC_B), (ID_C, "en", DOC_C), (ID_D, "en", DOC_D)]
    + [(fid, "en", t) for fid, t in zip(FILLER_IDS, FILLER)]
    + [(EVAL_ID, "en", "held out evaluation prose that shares no five gram with any training document in this corpus at all")]
)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("planted")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "lang": pa.array([r[1] for r in ROWS]),
            "text": pa.array([r[2] for r in ROWS]),
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


# slow (69 s): full curated-pool e2e over the span stage; the
# stage-level span tests keep default coverage.
@pytest.mark.slow
def test_planted_passage_cut_from_pool_not_from_first_copy(spark, planted_dir):
    """The curated pool keeps the passage's FIRST occurrence only; both
    docs' unique content survives; the doc whose quality depended on the
    padding fails the post-cut quality filter and leaves the corpus."""
    from sentinela_py_spark.plans.curation import _curated_pool
    from sentinela_py_spark.tables import load_table

    d = load_table(spark, planted_dir, "documents")
    pool = {r["doc_id"]: r["text"] for r in _curated_pool(d).collect()}
    assert pool[ID_A] == DOC_A  # first copy keeps the passage
    assert pool[ID_B] == UNIQ_B  # later copy cut, unique content intact
    # within-doc repeat: the second copy INSIDE one doc is cut too (r9)
    assert pool[ID_D] == DOC_D_CUT
    # quality-inflation proof: pre-cut DOC_C passes (26 words >= 20);
    # post-cut it is 11 stopword-free words -> quality 0 -> dropped
    assert ID_C not in pool
    for fid, t in zip(FILLER_IDS, FILLER):
        assert pool[fid] == t  # span-free docs pass through byte-identical
    assert EVAL_ID not in pool


def test_packing_tokens_reflect_the_cut(spark, planted_dir):
    """The curated arm's packed token totals count CUT text — the
    repeated passage spends training-sequence budget exactly once."""
    from pyspark.sql import functions as F

    out = QUERIES["q_sequence_packing"].spark(spark, planted_dir)
    curated_tokens = (
        out.filter(F.col("method") == "curated")
        .agg(F.sum("seq_tokens").alias("t"))
        .collect()[0]["t"]
    )
    expect = (
        len(DOC_A.split())
        + len(UNIQ_B.split())
        + len(DOC_D_CUT.split())
        + sum(len(t.split()) for t in FILLER)
    )
    assert curated_tokens == expect
    # and the uncut corpus would have counted the passages multiple times
    assert curated_tokens < (
        expect
        + 2 * len(PASSAGE.split())
        + len(UNIQ_C.split())
        + len(IPASSAGE.split())
    )


def test_oracle_replays_the_cut_bit_for_bit(spark, planted_dir):
    """Cross-engine: the registered DuckDB oracle reproduces the span
    detection AND the keep-first cut over the planted corpus — the
    composition is oracle-checked on a corpus where cuts ENGAGE, not
    just on the fixture where the pool has no shared grams."""
    q = QUERIES["q_sequence_packing"]
    sdf = q.spark(spark, planted_dir)
    cols = sorted(sdf.columns)
    srows = sorted((tuple(r[c] for c in cols) for r in sdf.collect()), key=_nskey)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(planted_dir, 'documents.parquet')}')"
    )
    cur = con.execute(q.oracle)
    ocols = [c[0] for c in cur.description]
    idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = sorted((tuple(r[i] for i in idx) for r in cur.fetchall()), key=_nskey)
    assert sorted(ocols) == cols
    assert srows == orows
    # sanity: the curated arm is non-empty
    m = cols.index("method")
    assert any(r[m] == "curated" for r in srows)


def _funnel_by_stage(rows) -> dict:
    """q_sequence_packing's funnel-arm rows keyed by stage name: ``shard``
    carries the stage index and ``seq_tokens`` the stage's token count."""
    from sentinela_py_spark.plans.curation import FUNNEL_STAGES

    names = [*FUNNEL_STAGES, "span_cut_capped"]
    return {names[r["shard"]]: r for r in rows if r["method"] == "funnel"}


def test_curation_funnel_reports_every_stage(spark, planted_dir):
    """The funnel datacard over the planted corpus: doc counts drop
    exactly where the pipeline says they do (eval split at train_pool,
    quality at the gate), token counts shrink exactly at the span cut
    (both repeated passages), and the final row is the packed pool."""
    from sentinela_py_spark.plans.curation import FUNNEL_STAGES
    from sentinela_py_spark.plans.registry import ARMS

    funnel = ARMS["q_sequence_packing"]["funnel"](spark, planted_dir).collect()
    assert sorted(r["shard"] for r in funnel) == list(
        range(len(FUNNEL_STAGES) + 1)
    )  # + the cap-audit row
    rows = _funnel_by_stage(funnel)

    n_total = len(ROWS)
    assert rows["input"]["n_docs"] == n_total
    assert rows["dedup_survivors"]["n_docs"] == n_total  # no doc-level dups
    assert rows["train_pool"]["n_docs"] == n_total - 1   # eval doc dropped
    # span cut: SAME docs, fewer tokens — the two cross-doc copies of
    # PASSAGE and the within-doc repeat of IPASSAGE are gone
    assert rows["span_cut"]["n_docs"] == rows["train_pool"]["n_docs"]
    shrink = rows["train_pool"]["seq_tokens"] - rows["span_cut"]["seq_tokens"]
    assert shrink == 2 * len(PASSAGE.split()) + len(IPASSAGE.split())
    assert rows["decontaminated"]["n_docs"] == rows["span_cut"]["n_docs"]
    # quality gate drops the doc whose quality depended on the padding
    assert rows["quality_gated"]["n_docs"] == rows["decontaminated"]["n_docs"] - 1
    # mixture rates are 1.0 at this corpus size: the sample keeps the pool
    assert rows["mixture_sampled"]["n_docs"] == rows["quality_gated"]["n_docs"]
    # the intra occurrence guard never bites here (IPASSAGE repeats twice)
    cap_row = rows["span_cut_capped"]
    assert (cap_row["n_docs"], cap_row["seq_tokens"]) == (0, 0)


def test_curation_funnel_publishes_capped_spam_docs(spark, tmp_path):
    """A degenerate spam doc (one gram × ~100 occurrences) engages the
    intra occurrence guard; the funnel arm's audit row PUBLISHES it,
    and the registered oracle replays the whole query — capped span
    algebra AND audit counts — bit for bit on the cap-biting corpus
    (the igc/spangc keep-first replay)."""
    from sentinela_py_spark.operators.dedup import DEFAULT_MAX_GRAM_OCCURRENCES

    n_spam = 100 + 8 - 1  # 100 identical 8-grams
    spam_id, keep_id = _pick_ids(2, eval_split=False, start=1000)
    rows = [
        (spam_id, "en", " ".join(["spam"] * n_spam)),
        (keep_id, "en", FILLER[0]),
    ]
    d_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "lang": pa.array([r[1] for r in rows]),
                "text": pa.array([r[2] for r in rows]),
            }
        ),
        os.path.join(d_dir, "documents.parquet"),
    )
    q = QUERIES["q_sequence_packing"]
    sdf = q.spark(spark, d_dir)
    collected = sdf.collect()
    cap_row = _funnel_by_stage(collected)["span_cut_capped"]
    assert cap_row["n_docs"] == 1
    assert cap_row["seq_tokens"] == 100 - DEFAULT_MAX_GRAM_OCCURRENCES

    cols = sorted(sdf.columns)
    srows = sorted((tuple(r[c] for c in cols) for r in collected), key=_nskey)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d_dir, 'documents.parquet')}')"
    )
    cur = con.execute(q.oracle)
    ocols = [c[0] for c in cur.description]
    idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = sorted((tuple(r[i] for i in idx) for r in cur.fetchall()), key=_nskey)
    assert srows == orows
