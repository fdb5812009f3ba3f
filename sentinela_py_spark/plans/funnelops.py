"""Driver-check of the streaming ingest funnel's ALGEBRA (r11 — r10
verdict #5, using a slot freed by the §8 fold map).

`streaming.pipeline.ingest_funnel` is the per-epoch retention datacard a
lake operator reads off a composed-ingest state root. Its SCREENS have
their own correctness surfaces (stream ≡ batch parity suites,
q_decontamination / q_minhash_pairs corpus_probe oracles, the composed
monotone-invariant tests); what had no oracle was the funnel READER
itself — hive-style epoch partition discovery, the all-epochs frame, the
left-join + coalesce-to-zero of an epoch absent from one store, the
missing-store fallbacks, and the subtractive stage algebra. This module
drives exactly that: it lays down a deterministic FIXTURE state tree
(store membership decided by md5 hex digits of doc_id — the same
engine-replayable split device as q_minhash_pairs' corpus split), runs
`ingest_funnel` over it, and the DuckDB oracle recomputes every (epoch,
stage_idx, stage, n_docs) row from the identical predicates.

The fixture tree exercises every reader path on purpose:
- two epochs (hex1 split) → partition discovery + the epoch join;
- `image/` holds rows ONLY for epoch 0 (r13) → epoch 0 exercises the
  ARMED image stage (arrived = image accepted + rejected, image_dedup
  = survivors) while epoch 1 exercises the PER-EPOCH arming fallback
  (image_dedup falls back to the NEXT armed door — the audio door,
  r14 — the path a stream that gained the image screen mid-life takes
  for its older epochs);
- `audio/` (r14) holds rows for BOTH epochs → the audio_dedup stage is
  armed everywhere, so epoch 1 pins the image→audio-door fallback and
  epoch 0 pins the fully-armed image → audio → text chain;
- `clipscore/rejected` (r14) holds rows for BOTH epochs → the
  subtractive clip_gated stage and the audio→clip-door fallback are
  both exercised (the clip screen stores rejections only, like fuzzy);
- `fuzzy/flagged` holds rows ONLY for epoch 0 → epoch 1 takes the
  left-join coalesce-to-zero path while the store exists;
- `quality/` is ABSENT entirely → the unarmed-screen fallback
  (quality_gated == fuzzy_gated);
- `minhash/accepted` and `accepted` are nested subsets → the funnel is
  monotone and the subtractive stages are non-trivial on both epochs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier_eager

from sentinela_py_spark.plans.memo import memo, temp_tree
from sentinela_py_spark.plans.registry import register
from sentinela_py_spark.tables import load_table

# md5 hex-digit predicates, identical on both engines (md5 of the
# stringified doc_id is lowercase hex in Spark and DuckDB):
#   hex1 < '8'            → epoch 0, else epoch 1          (~50/50)
#   epoch 0 and hex6 < '2' → rejected by the image screen (epoch 0 only
#                            — epoch 1 exercises the per-epoch arming
#                            fallback, r13)
#   hex2 < '3'            → flagged by the exact decontam screen (~3/16)
#   epoch 0 and hex3 < '2' → quarantined by the fuzzy screen (epoch 0
#                            only — epoch 1 exercises coalesce-to-zero)
#   hex4 < '4'            → rejected by the MinHash screen  (~4/16)
#   hex5 < '2'            → rejected by the embedding screen (~2/16)
_H = "substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)"

# Per-epoch store-membership predicates (SQL text — the Spark builder
# applies the same conditions through F.substring/F.md5). The image
# screen runs FIRST (LAION order), so every text-chain predicate is
# rooted on its survivors.
_P_IMGREJ = f"(epoch = 0 AND {_H.format(i=6)} < '2')"
_P_IMG = f"NOT {_P_IMGREJ}"
# the audio screen (r14) runs on the image survivors, BOTH epochs armed
_P_AUDREJ = f"({_P_IMG} AND {_H.format(i=7)} < '2')"
_P_AUD = f"{_P_IMG} AND {_H.format(i=7)} >= '2'"
# the clip-score screen (r14) on the audio survivors, BOTH epochs
_P_CLIPREJ = f"({_P_AUD} AND {_H.format(i=8)} < '1')"
_P_CLIP = f"{_P_AUD} AND {_H.format(i=8)} >= '1'"
_P_DEC = f"{_P_CLIP} AND {_H.format(i=2)} >= '3'"
_P_FLA = f"{_P_CLIP} AND {_H.format(i=2)} < '3'"
_P_FZ = f"{_P_DEC} AND epoch = 0 AND {_H.format(i=3)} < '2'"
_P_GATED = f"{_P_DEC} AND NOT (epoch = 0 AND {_H.format(i=3)} < '2')"
_P_MH = f"{_P_GATED} AND {_H.format(i=4)} >= '4'"
_P_ACC = f"{_P_MH} AND {_H.format(i=5)} >= '2'"


def _funnel_state_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session × sf_dir) the fixture composed-ingest
    state tree under a temp root and return its path. Layout matches
    `composed_ingest_batch`'s documented store layout; membership is
    the md5-digit predicates above."""
    return memo("funnel", spark, sf_dir, lambda: _write_funnel_state(spark, sf_dir))


def _write_funnel_state(spark: SparkSession, sf_dir: str) -> str:
    root = temp_tree("funnel", spark, sf_dir)

    def hx(i: int):
        return F.substring(F.md5(F.col("doc_id").cast("string")), i, 1)

    base = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(hx(1) < "8", 0).otherwise(1).alias("epoch"),
            hx(2).alias("h2"),
            hx(3).alias("h3"),
            hx(4).alias("h4"),
            hx(5).alias("h5"),
            hx(6).alias("h6"),
            hx(7).alias("h7"),
            hx(8).alias("h8"),
        )
        .transform(barrier_eager)
    )
    imgrej = base.filter((F.col("epoch") == 0) & (F.col("h6") < "2"))
    img = base.filter(~((F.col("epoch") == 0) & (F.col("h6") < "2")))
    audrej = img.filter(F.col("h7") < "2")
    aud = img.filter(F.col("h7") >= "2")
    cliprej = aud.filter(F.col("h8") < "1")
    clip = aud.filter(F.col("h8") >= "1")
    dec = clip.filter(F.col("h2") >= "3")
    fla = clip.filter(F.col("h2") < "3")
    fz = dec.filter((F.col("epoch") == 0) & (F.col("h3") < "2"))
    gated = dec.filter(~((F.col("epoch") == 0) & (F.col("h3") < "2")))
    mh = gated.filter(F.col("h4") >= "4")
    acc = mh.filter(F.col("h5") >= "2")
    stores = {
        # epoch 1: zero image rows → the per-epoch arming fallback (r13)
        os.path.join("image", "accepted"): img.filter(F.col("epoch") == 0),
        os.path.join("image", "rejected"): imgrej,
        # audio armed BOTH epochs (r14): epoch 1 pins image→audio-door
        os.path.join("audio", "accepted"): aud,
        os.path.join("audio", "rejected"): audrej,
        # clip screen stores rejections only (subtractive, r14)
        os.path.join("clipscore", "rejected"): cliprej,
        os.path.join("decontam", "accepted"): dec,
        os.path.join("decontam", "flagged"): fla,
        os.path.join("fuzzy", "flagged"): fz,  # epoch 1: zero rows → no partition
        os.path.join("minhash", "accepted"): mh,
        "accepted": acc,
        # NO quality/ store: the unarmed-screen fallback path
    }
    for sub, df in stores.items():
        df.select("doc_id", "epoch").write.mode("overwrite").partitionBy(
            "epoch"
        ).parquet(os.path.join(root, sub))
    return root


# 'arrived'/'image_dedup'/'audio_dedup' mirror the reader's PER-EPOCH
# arming tests (r13; audio r14): an epoch with rows in a media screen's
# stores reports that screen's door/survivors; an unarmed epoch falls
# back along the chain (image → audio door → decontam door) — monotone
# either way.
_CLIP_DOOR = "(n_dec + n_fla + n_clip)"
_AUD_DOOR = (
    "CASE WHEN n_aud + n_audrej > 0 THEN n_aud + n_audrej "
    f"ELSE {_CLIP_DOOR} END"
)
_STAGE_CASE = f"""CASE s.stage
             WHEN 'arrived' THEN
               CASE WHEN n_img + n_imgrej > 0 THEN n_img + n_imgrej
                    ELSE {_AUD_DOOR} END
             WHEN 'image_dedup' THEN
               CASE WHEN n_img + n_imgrej > 0 THEN n_img
                    ELSE {_AUD_DOOR} END
             WHEN 'audio_dedup' THEN
               CASE WHEN n_aud + n_audrej > 0 THEN n_aud
                    ELSE {_CLIP_DOOR} END
             WHEN 'clip_gated' THEN n_dec + n_fla
             WHEN 'decontaminated' THEN n_dec
             WHEN 'fuzzy_gated' THEN n_dec - n_fz
             WHEN 'quality_gated' THEN n_dec - n_fz
             WHEN 'text_dedup' THEN n_mh
             WHEN 'accepted' THEN n_acc END"""


@register(
    "q_ingest_funnel",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN {_H.format(i=1)} < '8' THEN 0 ELSE 1 END AS epoch
      FROM documents
    ),
    c AS (
      SELECT epoch,
             COUNT(*) FILTER (WHERE {_P_IMG} AND epoch = 0) AS n_img,
             COUNT(*) FILTER (WHERE {_P_IMGREJ}) AS n_imgrej,
             COUNT(*) FILTER (WHERE {_P_AUD}) AS n_aud,
             COUNT(*) FILTER (WHERE {_P_AUDREJ}) AS n_audrej,
             COUNT(*) FILTER (WHERE {_P_CLIPREJ}) AS n_clip,
             COUNT(*) FILTER (WHERE {_P_DEC}) AS n_dec,
             COUNT(*) FILTER (WHERE {_P_FLA}) AS n_fla,
             COUNT(*) FILTER (WHERE {_P_FZ}) AS n_fz,
             COUNT(*) FILTER (WHERE {_P_MH}) AS n_mh,
             COUNT(*) FILTER (WHERE {_P_ACC}) AS n_acc
      FROM b GROUP BY epoch
    )
    SELECT c.epoch, CAST(s.i AS BIGINT) AS stage_idx, s.stage,
           CAST({_STAGE_CASE} AS BIGINT) AS n_docs
    FROM c CROSS JOIN (VALUES
      (0, 'arrived'), (1, 'image_dedup'), (2, 'audio_dedup'),
      (3, 'clip_gated'), (4, 'decontaminated'), (5, 'fuzzy_gated'),
      (6, 'quality_gated'), (7, 'text_dedup'), (8, 'accepted')
    ) AS s(i, stage)
    ORDER BY c.epoch, stage_idx
    """,
    survey_ref=(
        "streaming T6+ observability: the per-epoch ingest-funnel datacard's "
        "reader algebra (streaming/pipeline.ingest_funnel) driver-checked — "
        "hive epoch partition discovery, all-epochs left join + coalesce-zero, "
        "absent-store fallback, subtractive stage algebra (r11, r10 verdict #5); "
        "r13: + the image_dedup stage with its per-epoch arming test (epoch 0 "
        "armed, epoch 1 the mid-life-gain fallback); r14: + the audio_dedup "
        "stage (armed both epochs, so epoch 1 pins the image→audio-door "
        "fallback of the full LAION-order chain) and the subtractive "
        "clip_gated stage (cross-modal consistency rejections)"
    ),
    tags=("streaming", "funnel", "observability"),
)
def q_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ingest_funnel` over a deterministic fixture state tree (built
    once per session — see module docstring for what each store
    exercises). Returns the funnel's own output frame unchanged:
    (epoch, stage_idx, stage, n_docs). The oracle recomputes every row
    from the md5-digit membership predicates, so the reader's count /
    join / coalesce / fallback algebra is value-hash-checked — the
    screens behind a REAL state tree keep their own parity suites."""
    from sentinela_py_spark.streaming.pipeline import ingest_funnel

    return ingest_funnel(spark, _funnel_state_dir(spark, sf_dir)).withColumn(
        "epoch", F.col("epoch").cast("int")
    )
