"""Streaming enrichment pipeline (SURVEY.md §2.9).

The reference runs an in-memory FIFO of pending news with at-least-once
ack/retry semantics and a 60 s polling worker
(services/extraction/adapters/pending_news_queue.py:26-73,
services/extraction/app.py:454-486). The Spark rendering:

  file/Kafka source → streaming DataFrame (NEWS_DOCUMENT schema)
  → per-batch URL dedup (the queue's in-flight dedup)
  → foreachBatch: city-extraction pipeline + idempotent upsert sink
  → checkpointing gives at-least-once; the upsert makes replays no-ops.

The reference is processing-time only, and so are these streams (T6);
event-time windows and sessions are the batch `q_event_buckets` and
`q_user_sessions` queries.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier_eager
from sentinela_py_spark.operators.ingest import collapse_duplicate_ids
from sentinela_py_spark.schemas import NEWS_DOCUMENT
from sentinela_py_spark.streaming.stores import (
    read_epoch_store,
    write_epoch_partition,
)


def _start_stream(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    name: str,
    trigger_seconds: int | None = None,
):
    """Start ``foreachBatch(process)`` over ``stream``, checkpointed under
    ``checkpoint_dir/name``. ``trigger_seconds=None`` drains what is there
    and stops (availableNow, the reference's ``interval <= 0`` single-pass
    mode — app.py:482-484); otherwise a processing-time trigger polls like
    the reference worker."""
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def run_extraction_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    catalog_entries: Iterable[Mapping[str, Any]],
    sink: Callable[[Mapping[str, DataFrame], int], None],
    engine=None,
    ner_version: str = "v1",
    gazetteer_version: str = "v1",
    trigger_seconds: int | None = None,
):
    """The full extraction worker (§3.3) as a stream: every micro-batch
    runs `extraction_batch` (NER + pattern mentions → gazetteer →
    aggregation → person branch → version markers) and hands the three
    output frames to the sink. Checkpointing makes replays no-ops when
    the sink upserts by (url) — the reference's ack semantics."""
    from sentinela_py_spark.operators.extraction_job import extraction_batch

    catalog_entries = list(catalog_entries)

    def process(batch: DataFrame, epoch_id: int) -> None:
        deduped = batch.dropDuplicates(["url"])  # in-flight dedup (T3)
        sink(
            extraction_batch(
                deduped,
                catalog_entries,
                engine=engine,
                ner_version=ner_version,
                gazetteer_version=gazetteer_version,
            ),
            epoch_id,
        )

    # NewsDocument JSON lines, the Kafka topic stand-in (swap in
    # `.format("kafka")` + from_json in production); no per-trigger file
    # cap, so every landed file rides the next micro-batch
    stream = spark.readStream.schema(NEWS_DOCUMENT).json(source_path)
    return _start_stream(stream, process, checkpoint_dir, "extract", trigger_seconds)


def first_by_enqueue_seq(pdfs):
    """First-wins representative of a keyed group that may span multiple
    Arrow chunks: the row with the GLOBAL min enqueue_seq across chunks.
    Keeping only the first chunk's candidate would make the emitted
    representative chunk-order-dependent (nondeterministic at scale).
    Falls back to the first row seen when there is no enqueue_seq column."""
    first = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        if "enqueue_seq" in pdf.columns:
            cand = pdf.sort_values("enqueue_seq").head(1)
            if first is None or cand["enqueue_seq"].iloc[0] < first["enqueue_seq"].iloc[0]:
                first = cand
        elif first is None:
            first = pdf.head(1)
    return first


def stateful_url_dedup(stream: DataFrame) -> DataFrame:
    """Cross-batch first-wins URL dedup — the queue's in-flight set
    (pending_news_queue.py:26-32) as a custom stateful operator.

    `dropDuplicates` inside a batch can't suppress a URL re-enqueued in a
    LATER micro-batch; this keeps per-URL state via
    ``applyInPandasWithState`` with a processing-time TTL (the reference's
    inflight entry is cleared on ack; here state expires after 60
    minutes, bounding state size the way a 100 TB stream must).
    Emits each URL's first-seen row (min enqueue_seq within the batch);
    subsequent batches emit nothing for known URLs."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        first = first_by_enqueue_seq(pdfs)
        if state.exists:
            state.setTimeoutDuration(60 * 60 * 1000)
            return  # URL already in flight → suppress
        state.update((True,))
        state.setTimeoutDuration(60 * 60 * 1000)
        if first is not None:
            yield first

    return stream.groupBy("url").applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _parallel_writes(*thunks, sink: "_DeferredWrites | None" = None) -> None:
    """Run a screen's end-of-batch store writes concurrently. The writes
    target disjoint store roots and read only frames the screen has
    already eagerly checkpointed, so their order does not matter: each is
    an idempotent epoch-keyed overwrite, and replay overwrites a
    partially written epoch either way. Overlapping them lets one write's
    task tail back-fill with the next write's tasks.

    With ``sink`` (a screen inside `composed_ingest_batch`) the writes go
    to the batch's shared pool and this returns at once, so they overlap
    the next screen's compute. Without it they run in a pool of their own
    that is drained before returning. Either way a failed write raises."""
    writes = sink if sink is not None else _DeferredWrites(len(thunks))
    writes.submit(*thunks)
    if sink is None:
        writes.drain()


class _DeferredWrites:
    """A bounded pool of store writes. `composed_ingest_batch` makes one
    per batch and every screen submits its checkpoint-backed epoch writes
    to it, so a screen's write tail overlaps the next screen's compute.
    Each write is an idempotent epoch-keyed overwrite of a store root no
    other write or read of the same batch touches; the un-checkpointed
    overflow audits stay inline in their screens, before the writes are
    submitted. ``drain()`` waits for every write and re-raises the first
    failure, so a batch that drains before returning never lets
    foreachBatch commit offsets over a missing write."""

    def __init__(self, max_workers: int = 3):
        from concurrent.futures import ThreadPoolExecutor

        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._futures: list = []

    def submit(self, *thunks) -> None:
        self._futures.extend(self._pool.submit(t) for t in thunks)

    def drain(self) -> None:
        try:
            for f in self._futures:
                f.result()
        finally:
            self._futures.clear()
            self._pool.shutdown(wait=True)


def _read_band_store(spark: SparkSession, bands_dir: str, exclude_epoch: int):
    """The accumulated band index, MINUS the current epoch's partition.

    Excluding ``exclude_epoch`` is what makes checkpoint replay safe: a
    batch whose writes landed but whose offset never committed would
    otherwise join against its own bands, reject every doc as a
    self-match, and overwrite its epoch with empty data. Existence is
    probed by reading through Spark (not a driver-side glob), so the
    state dir can live on any Hadoop-compatible filesystem (HDFS/S3/…).
    Returns None when the store doesn't exist yet.

    Delegates to `streaming.stores.read_epoch_store`, whose
    effective-epoch column (``coalesce(src_epoch, partition epoch)``)
    keeps this exclusion exact even after `compact_epoch_store` folded
    old epochs into the ``epoch=-1`` base — a replayed folded epoch
    still sees precisely the store view its first attempt saw."""
    store = read_epoch_store(spark, bands_dir, exclude_epoch=exclude_epoch)
    return None if store is None else store.drop("epoch")


def _screen_input(
    renamed: DataFrame, id_field: str, content_key, ids_collapsed: bool
) -> DataFrame:
    """The eager barrier every screen opens with. ``ids_collapsed=False``
    (standalone use): the deterministic `collapse_duplicate_ids`
    election runs first — one groupBy shuffle of the batch. ``True``
    (composed use): the caller guarantees unique ids — in
    `composed_ingest_batch` the FIRST screen's election is the
    pipeline's election and every screen preserves uniqueness — so the
    barrier is a plain checkpoint and the redundant per-screen collapse
    shuffle (one full-batch Exchange per downstream screen) is folded
    away. The checkpoint itself stays either way: each screen consumes
    its input from several branches (flagged/accepted/store writes), and
    the barrier is what keeps that lineage from re-executing per
    consumer.

    The ``True`` invariant is CALLER-ASSERTED and normally unchecked
    (checking it would re-pay the exact shuffle the flag folds away); a
    caller passing ``True`` on a raw batch silently loses the
    replay-determinism guarantee the collapse exists for. Set
    ``SENTINELA_CHECK_INVARIANTS=1`` to verify it at runtime (debug
    harnesses / new composition work): the guard costs one count +
    countDistinct pass over the already-checkpointed batch and raises on
    the first duplicate id."""
    if ids_collapsed:
        out = renamed.transform(barrier_eager)
        if os.environ.get("SENTINELA_CHECK_INVARIANTS"):
            # count(lit(1)) not count(id): both count(id) and
            # countDistinct skip NULLs, so NULL-id duplicates would slip
            # the guard; the row count vs distinct-non-null
            # comparison catches NULL ids AND duplicates in one pass.
            n, nd = out.agg(
                F.count(F.lit(1)), F.countDistinct(id_field)
            ).first()
            if n != nd:
                raise ValueError(
                    f"ids_collapsed=True on a batch with duplicate or NULL "
                    f"{id_field!r} values ({n} rows, {nd} distinct non-null) "
                    "— the caller must run the duplicate-id election first"
                )
        return out
    return collapse_duplicate_ids(renamed, id_field, content_key).transform(
        barrier_eager
    )


def dedup_batch_against_corpus(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of near-dup rejection at ingest (the MinHash screen
    `composed_ingest_batch` chains under ``minhash/``).

    1. collapse EXACT copies on md5(text) — a uniformly-distributed key,
       skew-proof at any copy count — and band only the representatives;
    2. WITHIN-batch near-dups: candidate pairs from a (hot-bucket-capped)
       self-join of the representatives' bands feed
       `connected_components`; each component's survivor is re-elected
       AFTER the corpus verdicts (min id among members not
       corpus-rejected), so every reject's ``matched_doc`` IS an accepted
       row — never another reject (greedy pairwise rules strand chains
       like 1–2, 2–3; min-id-first election strands members whose
       representative is itself corpus-rejected);
    3. CROSS-corpus near-dups: representative bands equi-join the
       persistent band store on (band, sig) — cost ∝ true collisions,
       the index never rescans corpus text. Exact copies then follow
       their representative's verdict: rep accepted → reject the copy
       pointing at the rep; rep rejected → the copy inherits the rep's
       matched_doc and reason (both accepted rows by construction);
    4. survivors write their bands to ``bands/epoch=N`` and their rows to
       ``accepted/epoch=N``; rejects land in ``rejected/epoch=N`` with
       the matched doc and reason. Every write is an epoch-keyed
       overwrite and the store read EXCLUDES the current epoch, so a
       checkpoint-replayed batch reproduces its first attempt bit for bit
       instead of self-matching (see `_read_band_store`); in-batch
       duplicate IDS collapse through the deterministic
       `collapse_duplicate_ids` election first, so the replay guarantee
       holds even for a batch carrying one doc_id with two texts.

    Skew guards (the two joins where one hot (band, sig) — a boilerplate
    template flooding the firehose — would otherwise blow up one task):
    exact copies never reach the band join at all (step 1), so the
    degenerate identical-template flood is handled EXACTLY at any copy
    count; the within-batch self-join over representatives runs through
    `band_candidate_pairs`, whose ``max_bucket_size`` cap bounds a
    residual near-dup bucket's pair output at cap²/2 and writes every
    truncated bucket to ``overflow/epoch=N`` (explicit, never-silent
    accounting); the cross-corpus probe needs only min(corpus_doc) per
    (band, sig), so the store is PRE-AGGREGATED to one row per band
    signature before the join — exact, and immune to corpus-side bucket
    skew at any corpus size."""
    from sentinela_py_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        band_candidate_pairs,
        connected_components,
        cross_corpus_candidates,
        lsh_band_signatures,
        minhash_signatures,
    )

    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    spark = batch.sparkSession
    bands_dir = os.path.join(state_dir, "bands")

    # deterministic in-batch id collapse (NOT dropDuplicates — replay
    # must reproduce the first attempt even when one doc_id arrives with
    # two different texts; folded to a plain barrier in composed mode —
    # see _screen_input)
    b = _screen_input(
        batch.withColumnRenamed(id_col, "doc_id"),
        "doc_id",
        F.md5(F.col(text_col)),
        ids_collapsed,
    )
    # 1. exact-copy collapse (uniform md5 key — no skew at any copy count)
    rep_of = (
        b.select("doc_id", F.md5(F.col(text_col)).alias("__th"))
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("__th")))
        .select("doc_id", "rep")
        .transform(barrier_eager)
    )
    rep_docs = b.join(
        rep_of.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id", "left_semi"
    )
    bands = lsh_band_signatures(
        minhash_signatures(rep_docs, "doc_id", text_col)
    ).transform(barrier_eager)
    # 2. within-batch (representatives only): min-label components of the
    # band-collision graph (hot-bucket-capped self-join; truncations land
    # in overflow/epoch=N)
    pairs, overflow = band_candidate_pairs(bands, max_bucket_size)
    edges = pairs.select("doc_a", "doc_b")
    members = connected_components(rep_docs.select("doc_id"), edges)
    # 3. cross-corpus: any shared (band, sig) with the accepted index —
    # `cross_corpus_candidates` pre-aggregates the store to one row per
    # (band, sig) (only min(corpus_doc) matters), so no store-side bucket
    # can concentrate rows in one task. Same helper as q_minhash_pairs'
    # corpus_probe arm, so the oracle-checked batch algebra IS the
    # streaming algebra.
    store = _read_band_store(spark, bands_dir, epoch_id)
    if store is not None:
        vs_corpus = (
            cross_corpus_candidates(bands, store)
            .select(
                F.col("doc_a").alias("doc_id"),
                F.col("doc_b").alias("matched_doc"),
            )
            .withColumn("reason", F.lit("vs_corpus"))
        )
    else:
        vs_corpus = None
    # Survivor RE-ELECTION among representatives not rejected against the
    # corpus, so a within_batch reject never points at a corpus-rejected
    # row (see docstring step 2).
    alive = (
        members.join(vs_corpus.select("doc_id"), "doc_id", "left_anti")
        if vs_corpus is not None
        else members
    )
    surv = alive.groupBy("group_id").agg(F.min("doc_id").alias("survivor"))
    in_batch = (
        alive.join(surv, "group_id")
        .filter(F.col("doc_id") != F.col("survivor"))
        .select("doc_id", F.col("survivor").alias("matched_doc"))
        .withColumn("reason", F.lit("within_batch"))
    )
    rep_rejects = (
        vs_corpus.unionByName(in_batch) if vs_corpus is not None else in_batch
    )
    # Exact copies follow their representative's verdict (docstring step 3).
    copy_rejects = (
        rep_of.filter(F.col("doc_id") != F.col("rep"))
        .join(
            rep_rejects.select(
                F.col("doc_id").alias("rep"),
                F.col("matched_doc").alias("rep_match"),
                F.col("reason").alias("rep_reason"),
            ),
            "rep",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("rep_match", F.col("rep")).alias("matched_doc"),
            F.coalesce("rep_reason", F.lit("within_batch")).alias("reason"),
        )
    )
    rejects = rep_rejects.unionByName(copy_rejects).transform(barrier_eager)
    accepted = b.join(rejects, "doc_id", "left_anti").transform(barrier_eager)
    # the overflow audit writes FIRST, sequentially: its lineage is not
    # checkpointed, so it must not run concurrently with the band-store
    # overwrite below (on a replayed epoch the overwrite deletes the
    # first attempt's files while a concurrent un-checkpointed scan
    # could still be listing them)
    if overflow is not None:
        write_epoch_partition(
            overflow, os.path.join(state_dir, "overflow"), epoch_id
        )
    # 4. idempotent epoch-keyed writes (replay overwrites — or no-ops
    # against the compaction marker for an already-folded epoch — never
    # dupes; see streaming.stores), run concurrently: disjoint stores,
    # all inputs checkpointed above (_parallel_writes).
    accepted_out = accepted.withColumnRenamed("doc_id", id_col)
    _parallel_writes(
        lambda: write_epoch_partition(
            accepted_out, os.path.join(state_dir, "accepted"), epoch_id
        ),
        lambda: write_epoch_partition(
            b.join(rejects, "doc_id").withColumnRenamed("doc_id", id_col),
            os.path.join(state_dir, "rejected"),
            epoch_id,
        ),
        lambda: write_epoch_partition(
            bands.join(accepted.select("doc_id"), "doc_id", "left_semi"),
            bands_dir,
            epoch_id,
        ),
        sink=write_sink,
    )
    return accepted_out


def image_dedup_batch_against_corpus(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of IMAGE near-dup rejection at ingest — the
    streaming twin of the `image` and `image_probe` arms of
    `plans.mmops.q_signature_neardup`: a LAION-style
    multimodal lake dedups arriving images against the accepted corpus
    BY PERCEPTUAL HASH before any text screen runs. A thin binding of
    `signature_dedup_batch_against_corpus` (the generic screen
    shared with the audio twin) to the dHash signer: ONE Arrow
    decode+dHash pass (`operators.multimodal.image_dhash`) yields a
    64-bit signature + decoded-pixel md5 per image, and the generic
    screen does the rest (exact-pixel collapse, 4×16-bit banded
    within-batch components, cross-corpus probe, epoch-keyed state)."""
    from sentinela_py_spark.operators.multimodal import image_dhash

    def signer(frame: DataFrame) -> DataFrame:
        return image_dhash(frame).select(
            "doc_id",
            F.col("dhash").alias("sig"),
            F.col("pix_md5").alias("content_md5"),
        )

    return signature_dedup_batch_against_corpus(
        batch,
        epoch_id,
        state_dir,
        signer,
        id_col=id_col,
        payload_col=payload_col,
        write_sink=write_sink,
    )


def audio_dedup_batch_against_corpus(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of AUDIO near-dup rejection at ingest — the
    streaming twin of the `audio` arm of
    `plans.mmops.q_signature_neardup`: arriving
    clips are fingerprinted (`operators.multimodal.audio_fingerprint` —
    decode_wav → 64 gain-invariant frame-energy sign bits + decoded-
    sample md5) and screened by the same generic signature machinery as
    the image screen: a re-encoded or gain-shifted copy of an accepted
    clip is rejected at ingest, byte-identical PCM collapses exactly at
    any copy count, and the persistent store is one fixed-width row per
    (band, bsig, sig)."""
    from sentinela_py_spark.operators.multimodal import audio_fingerprint

    def signer(frame: DataFrame) -> DataFrame:
        return audio_fingerprint(frame).select(
            "doc_id",
            F.col("afp").alias("sig"),
            F.col("data_md5").alias("content_md5"),
        )

    return signature_dedup_batch_against_corpus(
        batch,
        epoch_id,
        state_dir,
        signer,
        id_col=id_col,
        payload_col=payload_col,
        ids_collapsed=ids_collapsed,
        write_sink=write_sink,
    )


def signature_dedup_batch_against_corpus(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    signer,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """The GENERIC perceptual-signature near-dup screen (one body for
    the image and audio twins), with the store/replay discipline of
    `dedup_batch_against_corpus`. ``signer`` maps a (doc_id, payload)
    frame to (doc_id, sig: long, content_md5) — one Arrow pass, NULL
    sig rows for undecodable payloads.

    1. payloads the signer can't decode pass through untouched (a
       corrupt container is the quality screen's problem, not the dedup
       screen's — rejecting on decode failure would let a corrupted
       byte evade dedup AND drop good data);
    2. EXACT copies collapse on content_md5 (uniform key, skew-proof at
       any copy count) and only representatives enter the band
       machinery;
    3. WITHIN-batch: `hamming_band_pairs` over the representatives
       (4×16-bit bands tiling the 64-bit signature — pigeonhole recall
       at Hamming ≤ 3; Hamming ≤ 3 refine,
       doc_id-ordered hot-bucket cap with the overflow audit landing at
       ``overflow/epoch=N``) feeds `connected_components`;
       survivors are re-elected AFTER the corpus verdicts exactly as
       the MinHash screen does, so every reject's ``matched_doc`` is an
       accepted row;
    4. CROSS-corpus: representative bands equi-join the persistent
       signature store on (band, bsig), then verify at TRUE Hamming ≤ 3.
       The store is pre-aggregated to one row per (band, bsig, sig)
       with min(doc_id) — a template flood of
       byte-identical or perceptually-identical copies collapses to ONE
       stored row exactly (they share the signature), the perceptual
       analog of `cross_corpus_candidates`' skew-immune pre-aggregation;
    5. survivors write (doc_id, band, bsig, sig) to ``bands/epoch=N``
       and their rows to ``accepted/epoch=N``; rejects land at
       ``rejected/epoch=N`` with matched_doc + reason. Epoch-keyed
       writes ride `streaming.stores.write_epoch_partition` and the
       store read excludes the live epoch, so a checkpoint-replayed
       batch reproduces its first attempt — across compactions too."""
    from sentinela_py_spark.operators.dedup import (
        connected_components,
        hamming_band_pairs,
        signature_bands,
    )
    from sentinela_py_spark.operators.multimodal import (
        DHASH_BAND_BITS,
        DHASH_BANDS,
    )

    spark = batch.sparkSession
    bands_dir = os.path.join(state_dir, "bands")
    b = _screen_input(
        batch.withColumnRenamed(id_col, "doc_id"),
        "doc_id",
        F.md5(F.col(payload_col)),
        ids_collapsed,
    )
    sigs = signer(
        b.select("doc_id", F.col(payload_col).alias("payload"))
    ).transform(barrier_eager)
    decodable = sigs.filter(F.col("sig").isNotNull())
    # 2. exact-copy collapse on the decoded-content md5
    rep_of = (
        decodable.select("doc_id", "content_md5")
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("content_md5")))
        .select("doc_id", "rep")
        .transform(barrier_eager)
    )
    rep_sigs = decodable.join(
        rep_of.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    rep_bands = signature_bands(
        rep_sigs.select("doc_id", "sig"), "sig", DHASH_BANDS, DHASH_BAND_BITS
    ).transform(barrier_eager)
    # 3. within-batch components over the Hamming-refined band pairs
    pairs, overflow = hamming_band_pairs(
        rep_sigs.select("doc_id", "sig"),
        "sig",
        max_hamming=3,
        n_bands=DHASH_BANDS,
        band_bits=DHASH_BAND_BITS,
        max_bucket_size=64,
    )
    members = connected_components(
        rep_sigs.select("doc_id"), pairs.select("doc_a", "doc_b")
    )
    # 4. cross-corpus probe: band collision → true-Hamming verify
    store = _read_band_store(spark, bands_dir, epoch_id)
    if store is not None:
        corpus_sigs = store.groupBy("band", "bsig", F.col("sig").alias("c_sig")).agg(
            F.min("doc_id").alias("corpus_doc")
        )
        probe_ham = F.bit_count(F.col("sig").bitwiseXOR(F.col("c_sig")))
        vs_corpus = (
            rep_bands.join(corpus_sigs, ["band", "bsig"])
            .filter(probe_ham <= 3)
            .groupBy("doc_id")
            .agg(F.min("corpus_doc").alias("matched_doc"))
            .withColumn("reason", F.lit("vs_corpus"))
        )
    else:
        vs_corpus = None
    alive = (
        members.join(vs_corpus.select("doc_id"), "doc_id", "left_anti")
        if vs_corpus is not None
        else members
    )
    surv = alive.groupBy("group_id").agg(F.min("doc_id").alias("survivor"))
    in_batch = (
        alive.join(surv, "group_id")
        .filter(F.col("doc_id") != F.col("survivor"))
        .select("doc_id", F.col("survivor").alias("matched_doc"))
        .withColumn("reason", F.lit("within_batch"))
    )
    rep_rejects = (
        vs_corpus.unionByName(in_batch) if vs_corpus is not None else in_batch
    )
    copy_rejects = (
        rep_of.filter(F.col("doc_id") != F.col("rep"))
        .join(
            rep_rejects.select(
                F.col("doc_id").alias("rep"),
                F.col("matched_doc").alias("rep_match"),
                F.col("reason").alias("rep_reason"),
            ),
            "rep",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("rep_match", F.col("rep")).alias("matched_doc"),
            F.coalesce("rep_reason", F.lit("within_batch")).alias("reason"),
        )
    )
    rejects = rep_rejects.unionByName(copy_rejects).transform(barrier_eager)
    accepted = b.join(rejects, "doc_id", "left_anti").transform(barrier_eager)
    # overflow first, sequentially (un-checkpointed lineage must not
    # race the band-store overwrite on a replayed epoch), then the
    # checkpoint-backed writes concurrently: disjoint stores
    # (_parallel_writes)
    if overflow is not None:
        write_epoch_partition(
            overflow, os.path.join(state_dir, "overflow"), epoch_id
        )
    accepted_out = accepted.withColumnRenamed("doc_id", id_col)
    _parallel_writes(
        lambda: write_epoch_partition(
            accepted_out, os.path.join(state_dir, "accepted"), epoch_id
        ),
        lambda: write_epoch_partition(
            b.join(rejects, "doc_id").withColumnRenamed("doc_id", id_col),
            os.path.join(state_dir, "rejected"),
            epoch_id,
        ),
        lambda: write_epoch_partition(
            rep_bands.join(accepted.select("doc_id"), "doc_id", "left_semi"),
            bands_dir,
            epoch_id,
        ),
        sink=write_sink,
    )
    return accepted_out


def embedding_dedup_batch_against_corpus(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
    max_bucket_size: int | None = None,
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of embedding near-dup rejection at ingest — the
    SemDeDup-at-ingest shape: LSH buckets generate candidates, TRUE COSINE
    confirms them (bucket collision alone would false-reject ~1/2^P of all
    random pairs), and only confirmed near-dups are dropped.

    1. collapse EXACT copies on the embedding value itself (array
       equality — no hash collisions; min-id window over a uniform id
       space) and bucket only the representatives: an identical-vector
       flood is handled EXACTLY at any copy count, and the hot-bucket cap
       below only ever affects near-identical tails;
    2. WITHIN-batch: `embedding_neardup_pairs` edges over the
       representatives → connected components — each component's survivor
       is the min id among members NOT corpus-rejected (re-elected after
       step 3's verdicts), so every reject's ``matched_vec`` is an
       accepted row: corpus-matched rows point at their (accepted) corpus
       match, the rest point at the surviving representative;
    3. CROSS-corpus: representatives multi-probe (Hamming ≤ 1) the
       persistent BUCKET-KEYED index of accepted vectors; candidates are
       cosine-scored against the stored embedding and rejected at ≥
       threshold — cost ∝ bucket collisions, never |batch| × |corpus|.
       Exact copies then follow their representative's verdict;
    4. survivors append (vec_id, bucket, norm, embedding) to
       ``index/epoch=N``; accepted/rejected rows land beside it. All
       writes are epoch-keyed overwrites and the index read EXCLUDES the
       current epoch, so a checkpoint-replayed batch reproduces its first
       attempt instead of self-matching (see `_read_band_store`);
       in-batch duplicate IDS collapse through the deterministic
       `collapse_duplicate_ids` election first, so the replay guarantee
       holds even for a batch carrying one vec_id with two vectors.

    Skew guards: unlike the MinHash stream, the cross-corpus probe here
    needs the full candidate set (true cosine against EACH stored vector,
    not a min), so both join sides are hot-bucket-capped at
    ``max_bucket_size`` — the store per bucket and the batch's probe
    frame per bucket — bounding any one probe key's task output at cap².
    EVERY truncation — the within-batch self-join cap's (step 2) and both
    probe-side caps' (step 3) — lands in ``overflow/epoch=N`` with a
    ``side`` column (explicit, never-silent accounting); a capped vector
    skips that screen for that bucket (documented recall trade — exact
    copies are immune via step 1, and a capped batch vector remains
    subject to future batches probing against its index entry)."""
    from sentinela_py_spark.operators.dedup import connected_components
    from sentinela_py_spark.operators.scale import DEFAULT_MAX_BUCKET_SIZE, cap_buckets
    from sentinela_py_spark.plans.simops import (
        NEARDUP_COS,
        PROBE_XORS,
        bucketed_embeddings,
        dot_product,
        embedding_neardup_pairs_with_audit,
    )

    threshold = NEARDUP_COS if threshold is None else threshold
    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    spark = batch.sparkSession
    index_dir = os.path.join(state_dir, "index")

    # deterministic in-batch id collapse (NOT dropDuplicates — replay
    # must reproduce the first attempt even when one vec_id arrives with
    # two different vectors; folded to a plain barrier in composed mode —
    # see _screen_input)
    b = _screen_input(
        batch.withColumnRenamed(id_col, "vec_id").withColumnRenamed(vec_col, "embedding"),
        "vec_id",
        F.md5(F.to_json(F.col("embedding"))),
        ids_collapsed,
    )
    # 1. exact-copy collapse (bitwise array equality — no hash collisions)
    rep_of = (
        b.withColumn("rep", F.min("vec_id").over(Window.partitionBy("embedding")))
        .select("vec_id", "rep")
        .transform(barrier_eager)
    )
    rep_vecs = b.join(
        rep_of.filter(F.col("vec_id") == F.col("rep")).select("vec_id"), "vec_id", "left_semi"
    )
    bucketed = bucketed_embeddings(rep_vecs).transform(barrier_eager)

    # 2. within-batch (representatives only): cosine-confirmed LSH pairs →
    # min-label components. Representative election is DEFERRED until the
    # corpus verdicts are known (step 3): electing min(id) here would let
    # a representative that is itself corpus-rejected strand its members
    # pointing at a rejected row. The self-join cap's truncations feed
    # the overflow audit below.
    pairs, within_overflow = embedding_neardup_pairs_with_audit(
        rep_vecs, threshold=threshold, max_bucket_size=max_bucket_size, bucketed=bucketed
    )
    edges = pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    comp = connected_components(rep_vecs.select(F.col("vec_id").alias("doc_id")), edges)
    members = comp.select(F.col("doc_id").alias("vec_id"), "group_id")

    # 3. cross-corpus: multi-probe into the bucket-keyed accepted index,
    # then exact cosine on the candidates only. Both sides are capped per
    # bucket first so no hot probe key can concentrate cap-unbounded work
    # in one task; truncations are collected for the overflow audit.
    overflow_parts = (
        [] if within_overflow is None
        else [within_overflow.withColumn("side", F.lit("within_batch"))]
    )
    store = _read_band_store(spark, index_dir, epoch_id)
    if store is not None:
        # rebalance=False: a micro-batch's capped frame is byte-small and
        # feeds one bounded probe join — the extra round-robin Exchange
        # the registered self-joins need (AQE byte-coalescing, see
        # cap_buckets) is pure per-epoch overhead here.
        store, store_overflow = cap_buckets(
            store, ["bucket"], max_bucket_size, ["vec_id"], rebalance=False
        )
        probe_base, batch_overflow = cap_buckets(
            bucketed, ["bucket"], max_bucket_size, ["vec_id"], rebalance=False
        )
        overflow_parts += [
            store_overflow.withColumn("side", F.lit("store")),
            batch_overflow.withColumn("side", F.lit("batch")),
        ]
        probes = probe_base.select(
            "vec_id", "embedding", "norm",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(x)) for x in PROBE_XORS])
            ).alias("probe"),
        )
        cand = probes.join(
            store.select(
                F.col("vec_id").alias("corpus_vec"),
                F.col("bucket").alias("probe"),
                F.col("norm").alias("corpus_norm"),
                F.col("embedding").alias("corpus_emb"),
            ),
            "probe",
        )
        cos = dot_product(F.col("embedding"), F.col("corpus_emb")) / (
            F.col("norm") * F.col("corpus_norm")
        )
        vs_corpus = (
            cand.filter(F.round(cos, 6) >= threshold)
            .groupBy("vec_id")
            .agg(F.min("corpus_vec").alias("matched_vec"))
            .withColumn("reason", F.lit("vs_corpus"))
        )
    else:
        vs_corpus = None
    # Representative RE-ELECTION: each component's survivor is the min id
    # among members NOT rejected against the corpus, so every
    # within_batch reject's matched_vec is an ACCEPTED row (never a
    # corpus-rejected one). A component whose members all matched the
    # corpus keeps no survivor — correctly, since the corpus already
    # holds its content.
    alive = (
        members.join(vs_corpus.select("vec_id"), "vec_id", "left_anti")
        if vs_corpus is not None
        else members
    )
    survivors = alive.groupBy("group_id").agg(F.min("vec_id").alias("survivor"))
    in_batch = (
        alive.join(survivors, "group_id")
        .filter(F.col("vec_id") != F.col("survivor"))
        .select("vec_id", F.col("survivor").alias("matched_vec"))
        .withColumn("reason", F.lit("within_batch"))
    )
    rep_rejects = vs_corpus.unionByName(in_batch) if vs_corpus is not None else in_batch
    # Exact copies follow their representative's verdict (step 1): rep
    # accepted → the copy rejects pointing at the rep; rep rejected → the
    # copy inherits the rep's matched_vec and reason (both accepted rows
    # by construction).
    copy_rejects = (
        rep_of.filter(F.col("vec_id") != F.col("rep"))
        .join(
            rep_rejects.select(
                F.col("vec_id").alias("rep"),
                F.col("matched_vec").alias("rep_match"),
                F.col("reason").alias("rep_reason"),
            ),
            "rep",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("rep_match", F.col("rep")).alias("matched_vec"),
            F.coalesce("rep_reason", F.lit("within_batch")).alias("reason"),
        )
    )
    rejects = rep_rejects.unionByName(copy_rejects).transform(barrier_eager)
    accepted = b.join(rejects, "vec_id", "left_anti").transform(barrier_eager)

    # the overflow audit writes FIRST, sequentially: its store-side arm
    # scans the live index (un-checkpointed lineage), so on a replayed
    # epoch it must not run concurrently with the index overwrite below
    # (which deletes the first attempt's epoch files mid-scan)
    if overflow_parts:
        overflow = overflow_parts[0]
        for part in overflow_parts[1:]:
            overflow = overflow.unionByName(part)
        write_epoch_partition(
            overflow, os.path.join(state_dir, "overflow"), epoch_id
        )
    # 4. idempotent epoch-keyed writes, run concurrently: disjoint
    # stores, checkpointed inputs (_parallel_writes)
    accepted_out = accepted.withColumnRenamed("vec_id", id_col)
    _parallel_writes(
        lambda: write_epoch_partition(
            accepted_out, os.path.join(state_dir, "accepted"), epoch_id
        ),
        lambda: write_epoch_partition(
            b.join(rejects, "vec_id").withColumnRenamed("vec_id", id_col),
            os.path.join(state_dir, "rejected"),
            epoch_id,
        ),
        lambda: write_epoch_partition(
            bucketed.join(accepted.select("vec_id"), "vec_id", "left_semi"),
            index_dir,
            epoch_id,
        ),
        sink=write_sink,
    )
    return accepted_out


def decontamination_screen_batch(
    batch: DataFrame,
    bloom_row: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
    m_bits: int | None = None,
    n_hashes: int | None = None,
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of train/eval decontamination AT INGEST — the
    deployment shape `plans.textops.q_decontamination` documents (the
    Bloom screen "runs on every ingest batch"): each document's distinct
    word 5-grams probe the ONE-row broadcast Bloom filter of eval grams
    (functions/bloom.py — map-only, no shuffle until the tiny per-doc
    hit count), and documents with ≥ ``min_hits`` probing positive are
    quarantined instead of entering the corpus.

    False-positive discipline: the filter admits no false NEGATIVES, so
    every genuinely contaminated doc is caught; a clean doc is flagged at
    ≈ the filter's per-gram FP rate compounded over its grams — size m
    for the eval gram count (p ≈ (1 − e^(−k·n/m))^k, `functions.bloom`)
    or raise ``min_hits`` to keep the quarantine precision acceptable, and re-screen the flagged
    slice with the exact join offline (it is tiny by construction).

    ``m_bits``/``n_hashes`` MUST match the geometry ``bloom_row`` was
    built with (None → the library defaults) — a probe at the wrong
    modulus lands bits in the wrong words and silently breaks the
    no-false-negative guarantee, which is why `run_composed_ingest_stream`
    owns both build and probe and threads one geometry through.

    Writes are epoch-keyed overwrites (``accepted/epoch=N``,
    ``flagged/epoch=N`` with the per-doc hit count), so a
    checkpoint-replayed batch reproduces its first attempt."""
    from sentinela_py_spark.functions.bloom import BLOOM_BITS, BLOOM_K, bloom_contains
    from sentinela_py_spark.functions.text_stats import word_shingles

    m_bits = BLOOM_BITS if m_bits is None else m_bits
    n_hashes = BLOOM_K if n_hashes is None else n_hashes
    # Deterministic in-batch id collapse (min md5(text) per id, ties
    # among identical texts broken by the row's remaining columns) — see
    # collapse_duplicate_ids, the shared survivor election of all three
    # screens. Non-text columns (e.g. the embedding when this
    # screen runs inside `composed_ingest_batch`) ride through untouched.
    # ids_collapsed=True: when the image screen runs AHEAD of this
    # one in the composed chain, ITS election already made ids unique —
    # skip re-paying the collapse shuffle, same barrier-budget fold as
    # the downstream screens.
    renamed = batch.withColumnRenamed(id_col, "doc_id").withColumnRenamed(
        text_col, "text"
    )
    b = _screen_input(renamed, "doc_id", F.md5(F.col("text")), ids_collapsed)
    grams = b.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("g"),
    )
    # eager checkpoint BEFORE the writes + left_anti reuse (the sibling
    # screens' pattern):
    # `hits` has three consumers (flagged write, accepted write, the
    # returned frame the next screen checkpoints), and without the
    # barrier the gram explode + Bloom probe — the screen's whole cost —
    # re-executes per consumer (measured ~3× per epoch at sf0.1). The
    # frame itself is tiny: (doc_id, n_hits) for flagged docs only.
    hits = (
        grams.crossJoin(F.broadcast(bloom_row))
        .filter(bloom_contains(F.col("g"), F.col("bloom"), n_hashes, m_bits))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .transform(barrier_eager)
    )
    flagged = b.join(hits, "doc_id").select("doc_id", "n_hits")
    accepted = b.join(hits, "doc_id", "left_anti")
    _parallel_writes(
        lambda: write_epoch_partition(
            flagged, os.path.join(state_dir, "flagged"), epoch_id
        ),
        lambda: write_epoch_partition(
            accepted, os.path.join(state_dir, "accepted"), epoch_id
        ),
        sink=write_sink,
    )
    return accepted.withColumnRenamed("doc_id", id_col).withColumnRenamed("text", text_col)


def fuzzy_eval_artifacts(eval_docs: DataFrame) -> dict:
    """FROZEN eval-side artifacts of the fuzzy decontamination screen
    (build once at stream start, like the Bloom row): the eval split's
    MinHash band index and its distinct xxhash64-folded 3-gram shingle
    frame with per-doc counts. Both are eval-split-sized (small by
    construction — the held-out set, not the corpus), eagerly
    checkpointed, and broadcast into every micro-batch's probe; the
    screen itself stays STATELESS across batches (the artifacts never
    change mid-stream — rotate them by restarting, the frozen-model
    contract)."""
    from pyspark.sql import Window as W

    from sentinela_py_spark.functions.text_stats import word_shingles
    from sentinela_py_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_signatures,
    )

    d = eval_docs.select("doc_id", "text")
    bands = (
        lsh_band_signatures(minhash_signatures(d))
        .select(F.col("doc_id").alias("e_doc"), "band", "sig")
        .transform(barrier_eager)
    )
    w = W.partitionBy("doc_id")
    shingles = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(word_shingles(F.col("text"), k=3), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .distinct()
        .withColumn("n_e", F.count("*").over(w))
        .select(F.col("doc_id").alias("e_doc"), "sh", "n_e")
        .transform(barrier_eager)
    )
    return {"bands": bands, "shingles": shingles}


def _fuzzy_verified(
    b: DataFrame, cand: DataFrame, artifacts: dict, jaccard: float
) -> DataFrame:
    """The fuzzy screen's Jaccard-verify stage, CANDIDATE-ONLY
    end-to-end: the 3-gram shingle explode + distinct + per-doc
    count run ONLY over docs that banded against the eval index — a
    left_semi on ``cand``'s doc_ids FIRST, so a clean batch (cand
    empty, the common case) pays the banding pass and nothing else.
    Before this, ``n_t`` was windowed over EVERY batch doc's shingles —
    a full-batch shuffle the screen's own "verify join runs only on
    collision candidates" promise didn't cover. Returns (doc_id, e_doc,
    ..., jac) rows at jac ≥ ``jaccard``. Factored out so the plan test
    can pin the semi-join sitting UNDER the n_t window."""
    from sentinela_py_spark.functions.text_stats import word_shingles

    w = Window.partitionBy("doc_id")
    tsh = (
        b.join(cand.select("doc_id").distinct(), "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.transform(word_shingles(F.col("text"), k=3), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .distinct()
        .withColumn("n_t", F.count("*").over(w))
    )
    return (
        cand.join(tsh, "doc_id")
        .join(F.broadcast(artifacts["shingles"]), ["e_doc", "sh"])
        .groupBy("doc_id", "e_doc")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_t").alias("n_t"),
            F.first("n_e").alias("n_e"),
        )
        .withColumn(
            "jac",
            F.col("n_common").cast("double")
            / (F.col("n_t") + F.col("n_e") - F.col("n_common")),
        )
        .filter(F.col("jac") >= jaccard)
    )


def fuzzy_decon_screen_batch(
    batch: DataFrame,
    artifacts: dict,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids_collapsed: bool = False,
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of FUZZY train/eval decontamination at ingest —
    the streaming twin of `q_decontamination`'s fuzzy arm:
    DOCUMENT-level, Jaccard-verified eval-copy quarantine. Under an
    FP-disciplined exact screen (``min_hits`` raised so one stray
    shared gram cannot quarantine a clean doc — the deployment posture
    `decontamination_screen_batch` documents), a lightly-edited eval
    copy shares too few exact 5-grams to trip the Bloom screen while
    its whole-doc 3-gram Jaccard stays over the verify bar — the gap
    this screen closes (fixture math in the tests). Batch
    documents MinHash-band against the frozen eval band index
    (`fuzzy_eval_artifacts` — broadcast, the index is eval-sized), and
    band collisions are verified at whole-doc 3-gram Jaccard ≥
    `plans.textops.FUZZY_DECON_JACCARD` before a
    document is quarantined — banding alone would flag at LSH's
    false-positive rate; the ENTIRE verify stage (shingle explode,
    distinct, per-doc count, eval join) runs only on the collision
    candidates, which are near-empty on clean batches — a clean batch
    pays the signature/banding pass and nothing else.

    Scale shape: the per-batch cost is one signature pass over the
    batch + a broadcast band join + a candidate-only verify — no
    persistent state, no store to desynchronize, so replay safety is
    just the epoch-keyed overwrite of ``flagged/epoch=N`` (doc_id,
    n_eval_docs, max_jaccard). Slots between the exact screen and the
    dedup stores in `composed_ingest_batch` for the same hygiene
    reason: an edited eval copy must never enter the band store or
    vector index where it could win a survivor election."""
    from sentinela_py_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_signatures,
    )
    from sentinela_py_spark.plans.textops import FUZZY_DECON_JACCARD

    renamed = batch.withColumnRenamed(id_col, "doc_id").withColumnRenamed(
        text_col, "text"
    )
    b = _screen_input(renamed, "doc_id", F.md5(F.col("text")), ids_collapsed)
    bands = lsh_band_signatures(minhash_signatures(b.select("doc_id", "text")))
    cand = (
        bands.join(F.broadcast(artifacts["bands"]), ["band", "sig"])
        .select("doc_id", "e_doc")
        .distinct()
        .transform(barrier_eager)
    )
    verified = _fuzzy_verified(b, cand, artifacts, FUZZY_DECON_JACCARD)
    # eager checkpoint BEFORE the write + left_anti reuse — without it
    # the bands-join + Jaccard-verify lineage executes once per consumer
    # (the sibling screens' pattern)
    flagged = verified.groupBy("doc_id").agg(
        F.count_distinct("e_doc").alias("n_eval_docs"),
        F.round(F.max("jac"), 6).alias("max_jaccard"),
    ).transform(barrier_eager)
    _parallel_writes(
        lambda: write_epoch_partition(
            flagged, os.path.join(state_dir, "flagged"), epoch_id
        ),
        sink=write_sink,
    )
    accepted = b.join(flagged, "doc_id", "left_anti")
    return accepted.withColumnRenamed("doc_id", id_col).withColumnRenamed(
        "text", text_col
    )


def quality_screen_batch(
    batch: DataFrame,
    model: dict,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of the QUALITY screen at ingest — the streaming
    twin of the curated pipeline's stage-5 gate, under FROZEN artifacts
    (`plans.textops.qr_frozen_model`): the rule threshold AND the
    offline-trained SVM's verdict, with the char-LM probabilities
    broadcast from the frozen model rather than retrained per batch
    (per-batch retraining would make a doc's verdict depend on its batch
    cohort — nondeterministic under repartitioned replay, and wrong: the
    reference distribution is the curated corpus, not whatever arrived
    this minute). Exactly the frozen-codebook contract the ANN
    maintenance tail uses; retrain offline and restart the stream to
    rotate models.

    STATELESS across batches (no store to desynchronize): rejected rows
    land at ``rejected/epoch=N`` with their scores (epoch-keyed
    overwrite — replay-safe), survivors return with every input column
    intact."""
    from sentinela_py_spark.plans.textops import qr_score_frozen

    verdict = qr_score_frozen(batch, model, id_col=id_col, text_col=text_col).select(
        id_col,
        "quality",
        "svm_score",
        # word-LM likelihood: recorded beside the gate's scores as
        # reviewable evidence (the CCNet-style signal an operator reads
        # off a rejection); the keep verdict itself is unchanged —
        # re-gating on a new signal is a model rotation, not a patch
        "word_lm_logprob",
        ((F.col("quality") >= 0.5) & (F.col("svm_score") > 0)).alias("keep"),
    )
    joined = batch.join(verdict, id_col).transform(barrier_eager)
    rejected = joined.filter(~F.col("keep")).select(
        id_col, "quality", "svm_score", "word_lm_logprob"
    )
    _parallel_writes(
        lambda: write_epoch_partition(
            rejected, os.path.join(state_dir, "rejected"), epoch_id
        ),
        sink=write_sink,
    )
    return joined.filter(F.col("keep")).drop(
        "quality", "svm_score", "word_lm_logprob", "keep"
    )


# Cross-modal consistency threshold (CLIP-score shape): keep a paired row only when its two modality vectors
# agree at rounded cosine >= this. LAION-style lakes run exactly this
# screen (CLIP similarity >= 0.28 there) after image dedup; the value
# here sits in the same band as NEARDUP_COS so the synthetic embedding
# fixtures separate cleanly (matched pairs ~1.0, mismatched ~0).
CLIP_SCORE_MIN = 0.4


def clip_score_verdict(
    pairs: DataFrame,
    id_col: str = "doc_id",
    image_vec_col: str = "image_embedding",
    text_vec_col: str = "embedding",
) -> DataFrame:
    """(id, clip_cos, keep) for paired rows carrying an image-side and a
    text-side vector — the SINGLE cosine/verdict definition shared by
    the streaming screen (`clip_score_screen_batch`) and the registered
    oracle query (`plans.mmops.q_clip_score`), so the algebra the
    DuckDB oracle replays is the algebra the deployed screen runs.

    ``clip_cos`` is the 6dp-rounded cosine with the −2.0 degenerate
    guard (the embedding screen's convention): a zero-norm vector's NaN
    and a NULL/missing vector both land at −2.0 — below any real
    threshold — because a pair whose consistency CANNOT be attested is
    not a keepable pair (the LAION semantics: unverifiable pairs drop).
    Pure map-only column algebra: no shuffle, no state, no UDF."""
    cos_r = clip_cos_col(image_vec_col, text_vec_col)
    return pairs.select(
        id_col,
        cos_r.alias("clip_cos"),
        (cos_r >= CLIP_SCORE_MIN).alias("keep"),
    )


def clip_cos_col(image_vec_col: str, text_vec_col: str):
    """The guarded rounded-cosine COLUMN both clip-score surfaces build
    on: 6dp round; a zero-norm vector (``try_divide`` → NULL under ANSI
    — plain division would THROW, not produce the NaN the pre-ANSI
    comment in `_guarded_cos_sql` describes) and a NULL/missing vector
    both land at −2.0. ``nanvl`` stays as a belt-and-suspenders guard
    for a non-ANSI session, where 0/0 IS NaN."""
    from sentinela_py_spark.plans.simops import dot_product, l2_norm_sq

    a, b = F.col(image_vec_col), F.col(text_vec_col)
    raw = F.try_divide(
        dot_product(a, b), F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b))
    )
    return F.coalesce(F.nanvl(F.round(raw, 6), F.lit(-2.0)), F.lit(-2.0))


def clip_score_screen_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    image_vec_col: str = "image_embedding",
    text_vec_col: str = "embedding",
    write_sink: _DeferredWrites | None = None,
) -> DataFrame:
    """One micro-batch of the CROSS-MODAL CONSISTENCY screen (the
    other load-bearing LAION screen beside image dedup): drop paired rows whose image-side and caption-side vectors
    disagree (rounded cosine < ``CLIP_SCORE_MIN``). Perceptual dedup catches
    "same image again"; THIS screen catches "wrong caption for this
    image" — scraped alt-text that describes the page, not the picture
    — which no dedup screen can see because nothing is duplicated.

    STATELESS across batches, like the quality screen (the verdict is a
    pure function of the row — no store to desynchronize, nothing for
    replay to race): rejected rows land at ``rejected/epoch=N`` with
    their ``clip_cos`` as reviewable evidence (epoch-keyed overwrite —
    replay-safe); survivors return with every input column intact.
    Map-only: the cosine rides the batch scan, zero shuffles and NO
    re-join (the verdict is row-wise, unlike the quality screen's
    exploded-gram scores) — at 100 TB this screen is free compared to
    any dedup stage."""
    scored = batch.withColumn(
        "clip_cos", clip_cos_col(image_vec_col, text_vec_col)
    ).transform(barrier_eager)
    rejected = scored.filter(F.col("clip_cos") < CLIP_SCORE_MIN).select(id_col, "clip_cos")
    _parallel_writes(
        lambda: write_epoch_partition(
            rejected, os.path.join(state_dir, "rejected"), epoch_id
        ),
        sink=write_sink,
    )
    return scored.filter(F.col("clip_cos") >= CLIP_SCORE_MIN).drop("clip_cos")


# Stage names of the ingest funnel, in screen order (mirrors the batch
# pipeline's FUNNEL_STAGES: same idea, per-EPOCH instead of per-stage
# frames — the observability datacard a streaming lake publishes).
INGEST_FUNNEL_STAGES = (
    "arrived",
    "image_dedup",
    "audio_dedup",
    "clip_gated",
    "decontaminated",
    "fuzzy_gated",
    "quality_gated",
    "text_dedup",
    "accepted",
)


# The stores `ingest_funnel` counts: (column alias, path under the state
# root), in the order the funnel joins them.
_FUNNEL_STORES = (
    ("n_dec", "decontam/accepted"),
    ("n_fla", "decontam/flagged"),
    ("n_img", "image/accepted"),
    ("n_imgrej", "image/rejected"),
    ("n_aud", "audio/accepted"),
    ("n_audrej", "audio/rejected"),
    ("n_clip", "clipscore/rejected"),
    ("n_fz", "fuzzy/flagged"),
    ("n_qrej", "quality/rejected"),
    ("n_mh", "minhash/accepted"),
    ("n_acc", "accepted"),
)


def ingest_funnel(spark: SparkSession, state_dir: str) -> DataFrame:
    """(epoch, stage_idx, stage, n_docs) — the PER-EPOCH retention
    datacard of a composed-ingest deployment, derived purely from the
    screens' own persisted state (no recompute, no new state): where did
    each micro-batch's documents go, and which screen took them? The
    streaming twin of q_sequence_packing's funnel arm — a lake
    operator reads this off the state root to monitor ingest health
    (a screen suddenly rejecting everything is a data incident, and
    this is the frame that shows it per epoch).

    Stages (missing screens — e.g. an unarmed quality gate — are
    reported as the previous stage's count, so the funnel is always
    monotone and complete):

    - ``arrived``: what reached the first armed screen — image accepted
      + rejected when the image screen is armed (the LAION-order head
      of the chain), else decontam accepted + flagged (the
      post-trim batch);
    - ``image_dedup``: the image screen's survivors — the rows
      whose captions were allowed to enter the text chain at all;
    - ``audio_dedup``: the audio screen's survivors — same
      LAION-order position for clip-carrying rows (image first, audio
      second, both ahead of every text screen);
    - ``clip_gated``: minus the cross-modal consistency screen's
      rejections (stateless — stores only its rejected rows, like the
      fuzzy/quality screens);
    - ``decontaminated``: the Bloom screen's survivors;
    - ``fuzzy_gated``: minus the fuzzy eval-copy screen's quarantines
      (stateless — stores only its flagged rows);
    - ``quality_gated``: minus the frozen-model screen's rejections
      (likewise stateless, rejections only);
    - ``text_dedup``: the MinHash screen's survivors;
    - ``accepted``: the composed pipeline's final frame (also the
      embedding screen's survivors).

    Epochs come back as a column via hive-style partition discovery of
    the ``epoch=N`` directories; an epoch whose store is empty still
    reports its zero (full-outer epoch join + coalesce)."""

    def _counts(sub: str) -> DataFrame | None:
        # read_epoch_store's effective epoch keeps per-epoch attribution
        # exact after compaction (folded rows carry src_epoch)
        try:
            df = read_epoch_store(spark, os.path.join(state_dir, sub))
        except Exception:  # noqa: BLE001 — screen not armed / no epochs yet
            return None
        if df is None:
            return None
        return df.groupBy("epoch").agg(F.count("*").alias("n"))

    counts = {alias: _counts(sub) for alias, sub in _FUNNEL_STORES}
    if counts["n_dec"] is None:
        raise ValueError(f"no composed-ingest state under {state_dir!r}")

    # all epochs ever seen (the decontam screen writes accepted for every
    # epoch, even empty)
    epochs = counts["n_dec"].select("epoch").distinct()

    def _n(cdf: DataFrame | None, alias: str) -> DataFrame:
        if cdf is None:
            return epochs.select("epoch", F.lit(0).alias(alias))
        return epochs.join(cdf, "epoch", "left").select(
            "epoch", F.coalesce("n", F.lit(0)).alias(alias)
        )

    wide = None
    for alias, _ in _FUNNEL_STORES:
        part = _n(counts[alias], alias)
        wide = part if wide is None else wide.join(part, "epoch")
    # Subtractive screens (fuzzy/quality) are stateless — a missing
    # store means zero rejections, so the _n(None)=0 coalesce IS the
    # previous-stage fallback. The survivor-count stages (text_dedup,
    # accepted) read their screens' accepted stores directly; when that
    # screen isn't armed, fall back to the PREVIOUS stage's expression
    # (not a raw 0) so the funnel stays monotone and complete — the
    # invariant the alerting contract advertises.
    quality_gated = F.col("n_dec") - F.col("n_fz") - F.col("n_qrej")
    text_dedup = F.col("n_mh") if counts["n_mh"] is not None else quality_gated
    # media screens armed → 'arrived' is what reached the FIRST armed
    # screen's door, 'image_dedup'/'audio_dedup' each screen's
    # survivors; unarmed → each collapses to the NEXT screen's door
    # (audio falls back to decontam's door, image to audio's), the
    # previous-stage fallback chain that keeps the funnel monotone.
    # The arming test is PER-EPOCH (accepted + rejected > 0, never
    # satisfied by the coalesced zeros of an epoch the screen didn't
    # run), so a stream that gained a media screen mid-life reports
    # every epoch monotonically (the LAION order is image → audio →
    # text chain).
    dec_door = F.col("n_dec") + F.col("n_fla")
    # the clip screen sits between media dedup and decontam: its
    # survivors ARE the decontam door, so clip_gated = dec_door and the
    # clip DOOR (what reached it) = dec_door + its rejections — the
    # subtractive-screen accounting fuzzy/quality use, with n_clip = 0
    # (coalesced) when the screen never ran
    clip_door = dec_door + F.col("n_clip")
    clip_gated = dec_door
    if counts["n_aud"] is not None:
        aud_armed = (F.col("n_aud") + F.col("n_audrej")) > 0
        aud_door = F.when(aud_armed, F.col("n_aud") + F.col("n_audrej")).otherwise(
            clip_door
        )
        audio_dedup = F.when(aud_armed, F.col("n_aud")).otherwise(clip_door)
    else:
        aud_door = audio_dedup = clip_door
    if counts["n_img"] is not None:
        img_armed = (F.col("n_img") + F.col("n_imgrej")) > 0
        arrived = F.when(img_armed, F.col("n_img") + F.col("n_imgrej")).otherwise(
            aud_door
        )
        image_dedup = F.when(img_armed, F.col("n_img")).otherwise(aud_door)
    else:
        arrived = image_dedup = aud_door
    stage_exprs = {
        "arrived": arrived,
        "image_dedup": image_dedup,
        "audio_dedup": audio_dedup,
        "clip_gated": clip_gated,
        "decontaminated": F.col("n_dec"),
        "fuzzy_gated": F.col("n_dec") - F.col("n_fz"),
        "quality_gated": quality_gated,
        "text_dedup": text_dedup,
        "accepted": F.col("n_acc") if counts["n_acc"] is not None else text_dedup,
    }
    # unpivot via ONE array-explode rather than a per-stage union, which
    # would re-derive the whole store-join frame once per stage:
    # exploding a struct array computes `wide` once and emits the 9
    # stage rows per epoch in a single pass
    stage_structs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                stage_exprs[name].cast("long").alias("n_docs"),
            )
            for i, name in enumerate(INGEST_FUNNEL_STAGES)
        ]
    )
    return (
        wide.select("epoch", F.explode(stage_structs).alias("s"))
        .select("epoch", "s.stage_idx", "s.stage", "s.n_docs")
        .orderBy("epoch", "stage_idx")
    )


def composed_ingest_batch(
    batch: DataFrame,
    bloom_row: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    threshold: float | None = None,
    min_hits: int = 1,
    max_bucket_size: int | None = None,
    m_bits: int | None = None,
    n_hashes: int | None = None,
    index_dir: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    books: list[list[list[float]]] | None = None,
    quality_model: dict | None = None,
    trim_repeats: dict | None = None,
    fuzzy_eval: dict | None = None,
    image_payload_col: str | None = None,
    audio_payload_col: str | None = None,
    clip_vec_col: str | None = None,
) -> DataFrame:
    """One micro-batch of the COMPOSED ingest pipeline — the streaming
    twin of `plans.curation._curated_pool`'s batch composition: every
    armed screen chained in ONE foreachBatch body, each seeing only the
    previous screen's survivors:

        [optional] image near-dup screen (the LAION order: a multimodal
        lake ingests PAIRED (image, caption) rows and dedups IMAGES
        FIRST, so a perceptual duplicate's caption never reaches the
        text screens or their stores; pass ``image_payload_col`` to arm
        it — `image_dedup_batch_against_corpus` under ``image/`` at its
        default Hamming radius and bucket cap)
      → [optional] audio near-dup screen (the same position for
        clip-carrying rows; pass ``audio_payload_col`` to arm it —
        `audio_dedup_batch_against_corpus` under ``audio/``, defaults
        likewise)
      → [optional] cross-modal consistency screen (after media dedup,
        before any text screen, so a mis-captioned pair's caption never
        enters the band store or vector index; pass ``clip_vec_col``
        naming the row's IMAGE-side vector column to arm it — the
        caption-side vector is ``vec_col``, the screen is
        `clip_score_screen_batch` under ``clipscore/`` at
        `CLIP_SCORE_MIN`, stateless and map-only)
      → [optional] repetition trim   (WITHIN-doc repeated-passage cut —
        a doc-local NORMALIZER, not a screen: pass ``trim_repeats``
        kwargs for `operators.dedup.remove_intra_doc_repeats`, e.g.
        ``{"k": 3, "min_span_words": 12}``; runs before every text
        screen so each downstream signature, gram, and store is computed
        from the text that will actually be kept)
      → train/eval decontamination   (5-gram Bloom probe — map-only)
      → [optional] fuzzy eval-copy screen (MinHash bands vs the FROZEN
        eval band index, whole-doc-Jaccard-verified — quarantines the
        lightly-EDITED eval copy a min_hits-disciplined Bloom screen
        passes; pass ``fuzzy_eval`` from `fuzzy_eval_artifacts`)
      → [optional] quality screen    (rule + FROZEN-model gate — pass
        ``quality_model`` from `plans.textops.qr_frozen_model`)
      → MinHash near-dup rejection   (text; vs batch + the band store)
      → embedding near-dup rejection (vectors; vs batch + the vec index)
      → [optional] ANN index append  (frozen-codebook encode of the
        survivors into the cell-partitioned search tree — pass
        ``index_dir`` + ``centroids`` + ``books`` to arm it)

    Decontamination is the first text screen: it is the cheapest (a
    broadcast Bloom probe, no persistent state) and running it ahead of
    the dedup screens keeps contaminated content out of the band store
    and vector index, so a contaminated doc can never become a dedup
    survivor that later clean near-dups are rejected against. The
    quality screen follows for the same store-hygiene reason. Each
    screen keeps its own state layout under a subdir (``decontam/``,
    ``quality/``, ``minhash/``, ``embedding/``, ...); the stores
    accumulate only rows that survived every screen before them. Final
    survivors — the embedding screen's accepted frame, carrying every
    input column — land in ``accepted/epoch=N``.

    Plan shape: the chain is pure DataFrame handoff (no re-read, no
    reconciliation join). Each screen opens with ONE eager checkpoint of
    its input; only the first screen runs the `collapse_duplicate_ids`
    election, and every later screen opens with a plain barrier
    (``ids_collapsed=True``) because every screen preserves id
    uniqueness. Every screen's write is an epoch-keyed overwrite and
    every store read excludes the current epoch, so a replayed batch
    reproduces its first attempt, including the composed ``accepted``.

    The screens submit their store writes to one bounded pool
    (`_DeferredWrites`), so screen N's writes overlap screen N+1's
    compute. The pool is drained in a ``finally`` around the whole
    chain, the final ``accepted`` write and index append included: when
    this returns every write has landed, and a failed write raises, so
    foreachBatch never commits offsets over a missing write."""
    sink = _DeferredWrites()
    try:
        ids_elected = False
        if image_payload_col is not None:
            # the image screen's in-batch election makes ids unique for
            # the whole chain
            batch = image_dedup_batch_against_corpus(
                batch,
                epoch_id,
                os.path.join(state_dir, "image"),
                id_col=id_col,
                payload_col=image_payload_col,
                write_sink=sink,
            )
            ids_elected = True
        if audio_payload_col is not None:
            # after the image screen ids are unique already; first in the
            # chain, this screen elects
            batch = audio_dedup_batch_against_corpus(
                batch,
                epoch_id,
                os.path.join(state_dir, "audio"),
                id_col=id_col,
                payload_col=audio_payload_col,
                ids_collapsed=ids_elected,
                write_sink=sink,
            )
            ids_elected = True
        if clip_vec_col is not None:
            # stateless and row-wise: it neither needs nor performs an
            # id election
            batch = clip_score_screen_batch(
                batch,
                epoch_id,
                os.path.join(state_dir, "clipscore"),
                id_col=id_col,
                image_vec_col=clip_vec_col,
                text_vec_col=vec_col,
                write_sink=sink,
            )
        if trim_repeats is not None:
            from sentinela_py_spark.operators.dedup import remove_intra_doc_repeats

            batch = remove_intra_doc_repeats(
                batch, id_col=id_col, text_col=text_col, **trim_repeats
            )
        a1 = decontamination_screen_batch(
            batch,
            bloom_row,
            epoch_id,
            os.path.join(state_dir, "decontam"),
            id_col=id_col,
            text_col=text_col,
            min_hits=min_hits,
            m_bits=m_bits,
            n_hashes=n_hashes,
            ids_collapsed=ids_elected,
            write_sink=sink,
        )
        if fuzzy_eval is not None:
            a1 = fuzzy_decon_screen_batch(
                a1,
                fuzzy_eval,
                epoch_id,
                os.path.join(state_dir, "fuzzy"),
                id_col=id_col,
                text_col=text_col,
                ids_collapsed=True,
                write_sink=sink,
            )
        if quality_model is not None:
            a1 = quality_screen_batch(
                a1,
                quality_model,
                epoch_id,
                os.path.join(state_dir, "quality"),
                id_col=id_col,
                text_col=text_col,
                write_sink=sink,
            )
        a2 = dedup_batch_against_corpus(
            a1,
            epoch_id,
            os.path.join(state_dir, "minhash"),
            id_col=id_col,
            text_col=text_col,
            max_bucket_size=max_bucket_size,
            ids_collapsed=True,
            write_sink=sink,
        )
        final = embedding_dedup_batch_against_corpus(
            a2,
            epoch_id,
            os.path.join(state_dir, "embedding"),
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            ids_collapsed=True,
            write_sink=sink,
        )  # backed by the screen's own eager checkpoint
        write_epoch_partition(final, os.path.join(state_dir, "accepted"), epoch_id)
        if index_dir is not None:
            # index what survived EVERY screen: the searchable vector tree
            # can never serve content the curation chain rejected
            ann_index_append_batch(
                final, epoch_id, index_dir, centroids, books,
                id_col=id_col, vec_col=vec_col,
            )
        return final
    finally:
        sink.drain()


def run_composed_ingest_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    eval_docs: DataFrame,
    schema=None,
    threshold: float | None = None,
    min_hits: int = 1,
    m_bits: int | None = None,
    n_hashes: int | None = None,
    index_dir: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    books: list[list[list[float]]] | None = None,
    quality_model: dict | None = None,
    trim_repeats: dict | None = None,
    fuzzy: bool = False,
    image_payload_col: str | None = None,
    audio_payload_col: str | None = None,
    clip_vec_col: str | None = None,
    source_format: str = "json",
    compact_every: int | None = None,
):
    """The composed streaming-ingest flagship: ONE stream of
    (id, text, embedding) rows — or, with ``image_payload_col`` /
    ``audio_payload_col``, of PAIRED (id, media payload(s), caption
    text, embedding) rows, the LAION / LAION-A lake shape, read from
    parquet with ``source_format="parquet"`` — runs every armed screen
    per micro-batch (`composed_ingest_batch`), one file per batch — the
    shape a training-data lake actually deploys (one firehose, every
    screen, one checkpoint) rather than parallel single-screen streams
    with divergent progress. The eval Bloom filter is built ONCE up
    front (`functions.bloom.eval_gram_bloom`); geometry is threaded
    through build and probe. Pass ``index_dir`` +
    ``centroids`` + ``books`` to arm the ANN index-maintenance tail:
    each micro-batch's survivors are frozen-codebook-encoded and
    appended to the searchable tree (`ann_index_append_batch`). Pass
    ``quality_model`` (`plans.textops.qr_frozen_model`) to arm the
    quality screen between decontamination and the dedup screens —
    model trained offline, frozen for the stream's lifetime.

    Pass ``trim_repeats`` (kwargs for `operators.dedup.
    remove_intra_doc_repeats`) to arm the WITHIN-doc repetition trim as
    a stage-0 normalizer — doc-local, so it respects every contract the
    cross-doc cut (below) breaks.

    Pass ``compact_every=K`` to fold every screen store's old
    epochs into its ``epoch=-1`` base after each K-th epoch
    (`streaming.stores.compact_ingest_state`) — the self-bounding shape
    that keeps per-store file counts O(K) at production epoch counts
    instead of one dir per micro-batch forever, with replay and funnel
    attribution preserved (src_epoch rides the base). With the index
    tail armed, the same cadence folds the ANN tree into a one-file-per-
    cell base (`functions.vectors.compact_ann_index_tree`). External
    readers of the tree should search between maintenance windows or
    through a snapshot: the root swap is two renames, not atomic.

    DESIGN DECISION — the CROSS-document substring-level span-cut screen
    (`operators.dedup.remove_shared_spans`, stage 3 of the batch
    `_curated_pool`) is deliberately BATCH-ONLY and absent here. The
    three streaming screens are accept/reject verdicts: a rejected doc
    leaves no trace downstream and an accepted doc enters the stores
    byte-identical to its source, so replay and store hygiene are
    per-doc idempotence arguments. Span cutting MUTATES accepted text,
    which breaks that contract at ingest three ways: (1) the doc's
    MinHash bands and embedding were computed from the UNCUT text, so
    cutting after admission would desynchronize the dedup stores from
    the corpus they index (future batches would probe against
    signatures of text that no longer exists); (2) keep-first-occurrence
    is order-dependent across the whole corpus — a passage's "first"
    copy is only knowable against the full accepted set, so an
    ingest-time cut would depend on arrival order and make replay
    after reordering non-bit-identical; (3) a positioned-gram store
    (the passage-level analog of the band store) would have to be
    rewritten for every accepted doc rather than appended, turning the
    screen's O(batch) state update into O(corpus). The deployment shape
    is therefore: screens at ingest (this stream), passage cutting in
    the periodic batch curation run (`plans.curation._curated_pool`),
    where the full surviving pool is in scope and the cut is replayed
    bit-for-bit by the registered oracle. The WITHIN-doc trim is the
    deliberate exception: its verdict depends only on the document
    itself (no store, no arrival order), it runs BEFORE any signature
    is computed, and a replayed batch trims identically — every
    argument above is about corpus-coupled state, none applies."""
    from sentinela_py_spark.functions.bloom import eval_gram_bloom

    bloom_row = eval_gram_bloom(eval_docs, n_hashes=n_hashes, m_bits=m_bits)
    # fuzzy screen: eval-side band index + shingle frame built ONCE from
    # the same eval split, frozen for the stream's lifetime
    fz = fuzzy_eval_artifacts(eval_docs) if fuzzy else None

    def process(batch: DataFrame, epoch_id: int) -> None:
        composed_ingest_batch(
            batch, bloom_row, epoch_id, state_dir,
            threshold=threshold, min_hits=min_hits,
            m_bits=m_bits, n_hashes=n_hashes,
            index_dir=index_dir, centroids=centroids, books=books,
            quality_model=quality_model, trim_repeats=trim_repeats,
            fuzzy_eval=fz, image_payload_col=image_payload_col,
            audio_payload_col=audio_payload_col, clip_vec_col=clip_vec_col,
        )
        # self-bounding store maintenance: fold every store's old epochs
        # into its base on the cadence, INSIDE the foreachBatch
        # (serialized with the writes, so the root swap never races its
        # own writer); keep_latest=1 leaves the just-written epoch live —
        # the only epoch a checkpointed stream can still legitimately
        # replay with a write. compact_ingest_state skips ANN trees, so
        # the armed index tree is folded here by its own cell-clustered
        # compactor; a replay of an epoch it folded no-ops against its
        # marker (`ann_index_append_batch`).
        if compact_every is not None and (epoch_id + 1) % compact_every == 0:
            from sentinela_py_spark.functions.vectors import compact_ann_index_tree
            from sentinela_py_spark.streaming.stores import compact_ingest_state

            compact_ingest_state(batch.sparkSession, state_dir, keep_latest=1)
            if index_dir is not None:
                compact_ann_index_tree(batch.sparkSession, index_dir)

    # one file per micro-batch: json lines, or parquet for binary payloads
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    if schema is not None:
        reader = reader.schema(schema)
    load = reader.parquet if source_format == "parquet" else reader.json
    return _start_stream(load(source_path), process, checkpoint_dir, "composed")


def encode_ann_batch(
    batch: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAP-SIDE IVF-PQ encode of raw vectors against a frozen driver-
    resident codebook: cell assignment (`assign_cells_literal`) +
    residual-PQ codes (`pq_residual_codes`) — zero shuffles, the encode
    rides the input scan. The streaming append path
    (`ann_index_append_batch`) encodes through it, and so does an
    offline base build, so 'stream ≡ batch encode' holds by
    construction."""
    from sentinela_py_spark.functions.kmeans import pq_stitch_codewords
    from sentinela_py_spark.functions.litutil import fast_lit
    from sentinela_py_spark.functions.vectors import pq_residual_codes
    from sentinela_py_spark.plans.simops import assign_cells_literal

    seed_vecs = fast_lit([[float(x) for x in v] for v in pq_stitch_codewords(books)], 2)
    cent_lit = fast_lit([[float(x) for x in v] for _, v in sorted(centroids)], 2)
    assigned = assign_cells_literal(batch, centroids, id_col=id_col, vec_col=vec_col)
    return assigned.select(
        id_col,
        vec_col,
        "cell_id",
        pq_residual_codes(
            F.col(vec_col),
            F.element_at(cent_lit, (F.col("cell_id") + 1).cast("int")),
            seed_vecs,
        ).alias("codes"),
    )


def ann_index_append_batch(
    batch: DataFrame,
    epoch_id: int,
    index_dir: str,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of ANN index MAINTENANCE — the streaming half of
    the vector lake (FAISS ``IndexIVF.add``: the codebook trains offline
    ONCE; arriving vectors encode against the FROZEN centroids/codewords
    and append to the store; a drifting corpus re-trains and rebuilds
    offline, never in the ingest path):

    1. each vector is assigned its cell and residual-PQ codes MAP-SIDE
       against the frozen driver-resident codebook (`assign_cells_literal`
       + `pq_residual_codes` — zero shuffles; the encode rides the batch
       scan);
    2. the encoded rows land at ``{index_dir}/epoch=N`` partitioned by
       cell_id — the SAME minimal (id, vector, cell, codes) frame the
       offline builder writes (`write_ann_index_tree_base` nests the
       base at ``epoch=-1`` in the same layout). The write is an
       epoch-keyed OVERWRITE, so a checkpoint-replayed batch reproduces
       its first attempt instead of duplicating rows — and an epoch
       already folded into the base by `compact_ann_index_tree` (the
       ``_compaction.json`` marker) is
       SKIPPED outright, so replay stays idempotent across compactions;
    3. readers (`functions.vectors.read_ann_index_tree`) see base + every
       appended epoch as one frame, and cell_id stays a partition column
       at the second directory level, so probe-side partition pruning
       holds across epochs exactly as on the flat layout.
    """
    from sentinela_py_spark.functions.vectors import tree_compacted_through

    through = tree_compacted_through(index_dir)
    if through is not None and epoch_id <= through:
        # this epoch's rows already live in the compacted/rebuilt base;
        # re-writing the epoch dir would double them
        return
    encoded = encode_ann_batch(batch, centroids, books, id_col, vec_col)
    encoded.repartition(F.col("cell_id")).write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(os.path.join(index_dir, f"epoch={epoch_id}"))
