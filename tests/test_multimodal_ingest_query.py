"""The driver-checked composed multimodal ingest (r13, r12 verdict
#2/#7 — registry slot 50): q_multimodal_ingest routes one paired
(image, caption) batch through the REAL composed_ingest_batch with the
image screen at the head. Pins the LAION-order routing per planted
family — brightness twins die at the IMAGE screen (their clean captions
never reach the text chain), reposts (different image, same caption)
sail through the image screen and die at the CAPTION screen pointing at
their base doc — plus the cap-never-binds precondition both replayed
caps rest on. Cross-engine value equality is tests/test_oracle_parity's
job; these pin the SEMANTICS."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sentinela_py_spark.operators.multimodal import (
    BRIGHT_ID_OFFSET,
    EMBDUP_ID_OFFSET,
    NOISE_ID_OFFSET,
    REPOST_ID_OFFSET,
    documents_to_paired_rows,
)
from sentinela_py_spark.plans import QUERIES
from sentinela_py_spark.plans.registry import _ensure_loaded

_ensure_loaded()

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def routing(spark):
    rows = QUERIES["q_multimodal_ingest"].spark(spark, SF).collect()
    return {r["doc_id"]: (r["stage"], r["matched_doc"]) for r in rows}


def _family(routing, lo, hi):
    return {d: v for d, v in routing.items() if lo <= d < hi}


def test_every_row_routed_exactly_once(spark, routing):
    n_paired = documents_to_paired_rows(
        spark.read.parquet(f"{SF}/documents.parquet")
    ).count()
    assert len(routing) == n_paired  # dict == rows → doc_ids unique


def test_brightness_twins_die_at_the_image_screen(spark, routing):
    bright = _family(routing, BRIGHT_ID_OFFSET, NOISE_ID_OFFSET)
    n_eligible = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter((F.col("doc_id") % 16 == 0) & (F.length("text") > 0))
        .count()
    )
    assert len(bright) == n_eligible
    # every twin is evicted by the image screen — its (perfectly clean)
    # caption never reached the text chain
    assert all(stage == "image_dedup" for stage, _ in bright.values())
    # the survivor-election contract is PER-SCREEN: an image reject's
    # match is image-screen-accepted (it may still fall to a LATER
    # screen — e.g. a base doc whose caption duplicates an earlier doc)
    assert all(routing[m][0] != "image_dedup" for _, m in bright.values())
    # and overwhelmingly the match IS the twin's own base doc
    own_base = sum(
        1 for d, (_, m) in bright.items() if m == d - BRIGHT_ID_OFFSET
    )
    assert own_base > 0.8 * len(bright)


def test_embdups_pass_image_and_text_and_die_at_the_embedding_screen(routing):
    embdups = _family(routing, EMBDUP_ID_OFFSET, EMBDUP_ID_OFFSET + 10**9)
    assert embdups, "no embdup rows in the corpus"
    # new pixels + new words: neither the image screen nor the text
    # chain may accept blame — the vector stage catches the shared
    # embedding. (decontam is allowed the odd one whose translated
    # caption still trips the Bloom filter — vowel-free 5-grams or FPs.)
    stages = {stage for stage, _ in embdups.values()}
    assert "image_dedup" not in stages and "caption_dedup" not in stages
    # an embdup may be ACCEPTED only when its base died UPSTREAM of the
    # embedding screen — the twin is then genuinely the only copy of
    # that semantic vector among the survivors, and keeping it is the
    # dedup-correct verdict
    for d, (stage, _m) in embdups.items():
        if stage == "accepted":
            assert routing[d - EMBDUP_ID_OFFSET][0] in (
                "image_dedup",
                "decontam",
                "caption_dedup",
            )
    caught = {d: m for d, (s, m) in embdups.items() if s == "embedding_dedup"}
    assert len(caught) > 0.8 * len(embdups)
    # the match is the twin's own base doc (its exact-vector rep) —
    # unless the base lost its own near-dup component election, in
    # which case the twin inherits the base's (accepted) match
    own_base = sum(1 for d, m in caught.items() if m == d - EMBDUP_ID_OFFSET)
    assert own_base > 0.8 * len(caught)
    # the embedding screen is the LAST armed stage → its matches are
    # globally accepted
    assert all(routing[m][0] == "accepted" for m in caught.values())


def test_reposts_pass_the_image_screen_and_die_as_caption_dups(routing):
    reposts = _family(routing, REPOST_ID_OFFSET, EMBDUP_ID_OFFSET)
    assert reposts, "no repost rows in the corpus"
    # the repost's IMAGE is genuinely different (reversed text pixels),
    # so the image screen must let every one through; the TEXT chain
    # then takes every one — at decontam when the duplicated caption
    # itself leaks eval 5-grams (it is eval content too, and the
    # cheaper screen runs first), else at the caption-dedup screen
    assert all(
        stage in ("caption_dedup", "decontam") for stage, _ in reposts.values()
    )
    caught = {d: (s, m) for d, (s, m) in reposts.items() if s == "caption_dedup"}
    assert caught, "no repost reached the caption screen"
    # the survivor-election contract is PER-SCREEN: a caption match is
    # caption-screen-accepted but may still fall to the DOWNSTREAM
    # embedding screen (its vector near-dups an earlier doc's)
    assert all(
        routing[m][0] in ("accepted", "embedding_dedup") for _, m in caught.values()
    )
    # the match is the repost's own base doc — unless that base itself
    # duplicated an earlier doc's caption, in which case the whole
    # caption group collapsed onto the earlier survivor (still <= base)
    assert all(m <= d - REPOST_ID_OFFSET for d, (_, m) in caught.items())
    own_base = sum(1 for d, (_, m) in caught.items() if m == d - REPOST_ID_OFFSET)
    assert own_base > 0.8 * len(caught)


def test_eval_split_captions_flagged_at_decontam(spark, routing):
    # the held-out split's own captions are the verbatim leak the
    # decontamination screen exists to catch — every eval-split base doc
    # that survived the image screen is flagged, never accepted
    eval_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter((F.col("doc_id") % 16 == 5) & (F.length("text") > 0))
        .select("doc_id")
        .collect()
    }
    stages = {routing[d][0] for d in eval_ids}
    assert "accepted" not in stages
    assert "decontam" in stages  # the dominant verdict for the split
    flagged = sum(1 for d in eval_ids if routing[d][0] == "decontam")
    assert flagged > 0.8 * len(eval_ids)


def test_noise_twins_never_reach_the_caption_stage(routing):
    noise = _family(routing, NOISE_ID_OFFSET, REPOST_ID_OFFSET)
    assert noise
    # a noise twin is either caught perceptually (image stage) or — if
    # its Hamming distance exceeded the threshold — caught by its
    # duplicated caption; on this corpus the image screen takes them all
    # (hamming <= 2 measured), which is the LAION-order point: the
    # cheaper earlier screen does the work
    assert all(stage == "image_dedup" for stage, _ in noise.values())


def test_base_docs_mostly_accepted(routing):
    base = {d: v for d, v in routing.items() if d < BRIGHT_ID_OFFSET}
    accepted = sum(1 for stage, _ in base.values() if stage == "accepted")
    # base docs are distinct pages; only the corpus's genuine text
    # near-dups (caption screen), eval leaks (decontam), and vector
    # near-dups at NEARDUP_COS (embedding screen) fall out
    assert accepted > 0.75 * len(base)


def test_caps_never_bind_on_the_paired_corpus(spark):
    """Both replayed caps (image 64, minhash DEFAULT) must not bind —
    the precondition under which the oracle's uncapped/capped replay is
    exact. Image bucket occupancy is checked at the deployment band
    geometry; caption bands are checked against the minhash screen's
    default cap (exact caption copies collapse BEFORE banding, exactly
    as the screen does)."""
    from sentinela_py_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_signatures,
        signature_bands,
    )
    from sentinela_py_spark.operators.multimodal import (
        DHASH_BAND_BITS,
        DHASH_BANDS,
        image_dhash,
    )
    from sentinela_py_spark.operators.scale import DEFAULT_MAX_BUCKET_SIZE
    from sentinela_py_spark.plans.mmops import IMG_NEARDUP_BUCKET_CAP

    paired = documents_to_paired_rows(
        spark.read.parquet(f"{SF}/documents.parquet")
    ).localCheckpoint(eager=True)
    sigs = image_dhash(paired.select("doc_id", "payload")).filter(
        F.col("dhash").isNotNull()
    )
    img_max = (
        signature_bands(
            sigs.select("doc_id", "dhash"), "dhash", DHASH_BANDS, DHASH_BAND_BITS
        )
        .groupBy("band", "bsig")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert img_max <= IMG_NEARDUP_BUCKET_CAP
    reps = (
        paired.withColumn(
            "rep", F.min("doc_id").over(Window.partitionBy(F.md5("caption")))
        )
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", F.col("caption").alias("text"))
    )
    mh_max = (
        lsh_band_signatures(minhash_signatures(reps))
        .groupBy("band", "sig")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert mh_max <= DEFAULT_MAX_BUCKET_SIZE


def test_miscaption_family_dies_at_the_clip_screen(spark, routing):
    """r14 (r13 verdict #5): base docs ≡ 11 (mod 16) carry their
    SUCCESSOR base doc's vector as the image-side embedding — the
    mis-captioned pair no dedup screen can see (nothing is duplicated).
    Whenever the successor exists and the two vectors genuinely
    disagree below CLIP_SCORE_MIN, the row must route to 'clip' (it
    passed the image screen — its pixels are unique — and never reached
    the text chain); a missing successor coalesces to the row's own
    vector (cosine 1.0) and passes. No OTHER family may die at the clip
    stage: every non-miscaption row's two vectors are identical."""
    import math

    from sentinela_py_spark.streaming.pipeline import CLIP_SCORE_MIN

    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    fam = {
        d: v for d, v in routing.items()
        if d < BRIGHT_ID_OFFSET and d % 16 == 11
    }
    assert fam, "no miscaption-family rows in the corpus"

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        return dp / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    clip_dead = {d for d, (stage, _) in fam.items() if stage == "clip"}
    expected = {
        d for d in fam
        if d + 1 in emb and round(cos(emb[d], emb[d + 1]), 6) < CLIP_SCORE_MIN
    }
    assert clip_dead == expected and expected, (
        f"clip routing drifted: got {sorted(clip_dead)[:5]}..., "
        f"want {sorted(expected)[:5]}..."
    )
    # the clip stage takes ONLY miscaption rows
    others = {
        d for d, (stage, _) in routing.items()
        if stage == "clip" and not (d < BRIGHT_ID_OFFSET and d % 16 == 11)
    }
    assert others == set()


def test_clear_index_memos_empties_every_memo(monkeypatch):
    """clear_index_memos deletes every temp store it registered, the
    multimodal state root among them, so no memo may survive it pointing
    at a deleted directory."""
    from sentinela_py_spark.plans import curation, funnelops, mmops, simops, textops

    memos = [
        textops._QR_MODEL,
        curation._CURATED_POOL,
        simops._TRAINED_CODEBOOKS,
        simops._IVF_INDEX,
        mmops._MM_STATE,
        funnelops._FUNNEL_STATE,
    ]
    saved = [dict(m) for m in memos]
    # keep the session's own stores on disk: clear only an empty list
    monkeypatch.setattr(simops, "_ANN_STORES", [])
    try:
        for m in memos:
            m[("sentinel-app", "sentinel-sf")] = "sentinel"
        simops.clear_index_memos()
        assert [len(m) for m in memos] == [0] * len(memos)
    finally:
        for m, before in zip(memos, saved):
            m.clear()
            m.update(before)
