"""Epoch-store IO + compaction for the streaming screens (r13, r12
verdict #3 — "no epoch-store compaction outside the ANN tree").

Every ingest screen persists its state as hive-partitioned epoch dirs
(``bands/epoch=N``, ``accepted/epoch=N``, ...). One dir per micro-batch
is the classic small-files spiral: at production epoch counts (10³–10⁴)
every store read pays open-file + footer cost per epoch forever — the
same spiral `functions.vectors.compact_ann_index_tree` fixed for the
ANN tree in r7. This module generalizes that fold+marker pattern to the
schema-agnostic screen stores:

- **Fold**: `compact_epoch_store` rewrites epochs ≤ N into ONE base
  partition ``epoch=-1`` (O(1) files), keeps the newest ``keep_latest``
  epochs as live dirs, stamps ``_compaction.json`` with the highest
  epoch folded, and swaps the root (the ANN tree's publish discipline).
- **Replay-safe reads**: the base preserves each row's origin epoch as
  a ``src_epoch`` DATA column, and `read_epoch_store` reports the
  EFFECTIVE epoch (``coalesce(src_epoch, partition epoch)``) — so the
  exclude-live-epoch replay guarantee survives compaction: a replayed
  epoch still sees exactly the store view its first attempt saw, even
  for rows that have since been folded into the base.
- **Replay-safe writes**: `write_epoch_partition` consults the marker
  and SKIPS a write for an epoch already folded (its rows live in the
  base; re-creating the epoch dir would double them — the exact failure
  `tree_compacted_through` prevents for ANN appends).

Scale note: a screen store is signature/verdict-sized — a vanishing
fraction of the corpus it indexes — so the fold is one cheap rewrite on
the maintenance cadence (every K epochs), and ``mergeSchema`` on the
read stays cheap BECAUSE compaction keeps the file count O(1).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_EPOCH = -1

# URI-scheme prefix (hdfs://, s3a://, file://, ...): the compaction
# walk/swap below is os-level (os.walk/os.listdir/os.rename), which on a
# remote filesystem yields NOTHING — compact_every would become a silent
# no-op and small-files growth would resume with no error (r13 ADVICE).
# The screen WRITES tolerate remote roots (Spark's own writers handle
# them); only the local-fs maintenance pass refuses.
import re as _re

_SCHEME_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _require_local(path: str, what: str) -> None:
    """Raise on scheme-prefixed (non-local-fs) paths — never no-op.

    ``file://`` is rejected too: stripping it correctly needs URI
    parsing (authority component), and a caller on the local fs can
    simply pass the plain path."""
    if _SCHEME_RE.match(path):
        raise ValueError(
            f"{what} uses os-level directory walks/renames and supports "
            f"local-filesystem store roots only, got {path!r}; run the "
            "maintenance pass on a local mirror or port the store IO to "
            "the Hadoop FileSystem API before pointing it at remote storage"
        )


def _marker_path(store_root: str) -> str:
    # underscore prefix: parquet partition discovery skips the file
    return os.path.join(store_root, "_compaction.json")


def _recover_interrupted_swap(store_root: str) -> None:
    """Heal a store whose previous compaction crashed mid-swap (r13
    ADVICE: the root swap is two non-atomic renames — a crash between
    them leaves NO dir at ``store_root`` while the data sits whole in
    ``store_root + '.old'``; a read would then see an empty store and a
    screen would silently re-accept known duplicates).

    Recovery is deterministic from which dirs exist:
    - root missing + ``.old`` present  → the first rename landed but the
      second didn't: the old root is complete and the ``.compact-tmp``
      (if any) is an unpublished draft — restore ``.old`` and drop the
      draft.
    - root present + ``.old`` present  → the second rename landed but
      the cleanup didn't: the new root is live — drop the leftover.
    A leftover ``.compact-tmp`` beside a live root is always a draft
    from a crash before the swap started — drop it."""
    old, tmp = store_root + ".old", store_root + ".compact-tmp"
    if os.path.exists(old):
        if os.path.exists(store_root):
            shutil.rmtree(old)
        else:
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            os.rename(old, store_root)
    elif os.path.exists(tmp) and os.path.exists(store_root):
        shutil.rmtree(tmp)


def store_compacted_through(store_root: str) -> int | None:
    """Highest epoch folded into this store's base (None if never
    compacted) — the per-store twin of
    `functions.vectors.tree_compacted_through`."""
    try:
        with open(_marker_path(store_root)) as f:
            return int(json.load(f)["through_epoch"])
    except FileNotFoundError:
        return None


def write_epoch_partition(df: DataFrame, store_root: str, epoch_id: int) -> bool:
    """Epoch-keyed overwrite into ``store_root/epoch=N`` with the
    replay-after-compaction guard: an epoch at or below the store's
    compaction marker is SKIPPED (returns False) — its first attempt's
    rows already live in the base partition, so re-writing would double
    them. Rows carry ``src_epoch`` so a later fold preserves their
    origin epoch (see `read_epoch_store`)."""
    through = store_compacted_through(store_root)
    if through is not None and epoch_id <= through:
        return False
    df.withColumn("src_epoch", F.lit(epoch_id).cast("long")).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_root, f"epoch={epoch_id}"))
    return True


def read_epoch_store(
    spark: SparkSession, store_root: str, exclude_epoch: int | None = None
) -> DataFrame | None:
    """The accumulated store with ONE effective ``epoch`` column
    (``coalesce(src_epoch, partition epoch)`` — base rows keep their
    origin epoch), minus ``exclude_epoch`` when given. Returns None when
    the store doesn't exist yet. ``mergeSchema`` tolerates stores whose
    pre-compaction files predate the ``src_epoch`` column; compaction
    keeps the file count O(1), which is what keeps the merged footer
    read cheap.

    Local roots are healed first if a previous compaction crashed
    mid-swap (`_recover_interrupted_swap`) — without this, a store whose
    data sits whole in ``.old`` would read as None and the screen would
    silently treat its corpus as empty (r13 ADVICE). Remote
    (scheme-prefixed) roots skip the heal: compaction refuses them, so
    an interrupted swap cannot exist there."""
    from pyspark.errors import AnalysisException

    if not _SCHEME_RE.match(store_root):
        _recover_interrupted_swap(store_root)
    try:
        df = spark.read.option("mergeSchema", "true").parquet(store_root)
    except AnalysisException:
        return None
    eff = (
        F.coalesce(F.col("src_epoch"), F.col("epoch").cast("long"))
        if "src_epoch" in df.columns
        else F.col("epoch").cast("long")
    )
    df = df.withColumn("epoch", eff).drop("src_epoch")
    if exclude_epoch is not None:
        df = df.filter(F.col("epoch") != exclude_epoch)
    return df


def _store_epochs(store_root: str) -> list[int]:
    return sorted(
        int(p.split("=", 1)[1])
        for p in os.listdir(store_root)
        if p.startswith("epoch=")
    )


def compact_epoch_store(
    spark: SparkSession,
    store_root: str,
    keep_latest: int = 1,
) -> int:
    """Fold this store's epoch dirs into ``epoch=-1`` — the screen-store
    twin of `compact_ann_index_tree`. The newest ``keep_latest`` live
    epochs stay as dirs (the only epochs a checkpointed stream can still
    legitimately replay with a WRITE — older replays no-op against the
    marker); everything older joins the base, with each row's origin
    epoch preserved in ``src_epoch`` so post-compaction reads exclude a
    replayed epoch's own rows exactly as before. Kept epochs are
    rewritten (not copied) so every surviving file carries ``src_epoch``
    — one pass makes the store schema-uniform. The base is written as
    one file (signature-sized stores fit one parquet file). Stamps the
    marker and swaps the root; returns the ``through_epoch`` stamped.
    Searches/probes see identical rows before and after (test-pinned).
    Run on the maintenance cadence that keeps per-store file counts
    flat, in a quiet window (the ANN tree's publish caveat applies).
    Local-filesystem roots only (raises on hdfs://-style paths — the
    walk and swap are os-level, r13 ADVICE); an interrupted previous
    swap is healed before folding."""
    _require_local(store_root, "compact_epoch_store")
    _recover_interrupted_swap(store_root)
    epochs = _store_epochs(store_root)
    if not epochs:
        raise ValueError(f"not an epoch store (no epoch= dirs): {store_root}")
    live = [e for e in epochs if e != BASE_EPOCH]
    # max(0, ...): keep_latest beyond the live count keeps everything —
    # a negative slice start would silently WRAP and keep less
    keep = (
        set(live[max(0, len(live) - keep_latest) :]) if keep_latest > 0 else set()
    )
    prior = store_compacted_through(store_root)
    fold = [e for e in live if e not in keep]
    if not fold and prior is not None:
        return prior  # nothing new to fold
    through = max(fold + ([prior] if prior is not None else []), default=BASE_EPOCH)
    df = read_epoch_store(spark, store_root)
    tmp = store_root + ".compact-tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    keep_list = sorted(keep)
    base = df.filter(~F.col("epoch").isin(keep_list)) if keep_list else df
    # the writes fully materialize the reads before the old root moves,
    # so the swap never races its own input
    base.withColumnRenamed("epoch", "src_epoch").coalesce(1).write.parquet(
        os.path.join(tmp, f"epoch={BASE_EPOCH}")
    )
    for e in keep_list:
        df.filter(F.col("epoch") == e).withColumnRenamed(
            "epoch", "src_epoch"
        ).coalesce(1).write.parquet(os.path.join(tmp, f"epoch={e}"))
    with open(_marker_path(tmp), "w") as f:
        json.dump({"through_epoch": through}, f)
    old = store_root + ".old"
    os.rename(store_root, old)
    os.rename(tmp, store_root)
    shutil.rmtree(old)
    return through


def compact_ingest_state(
    spark: SparkSession,
    state_dir: str,
    keep_latest: int = 1,
) -> dict[str, int]:
    """One maintenance pass over a composed-ingest state root: every
    epoch store under it (``decontam/accepted``, ``minhash/bands``, the
    image signature store, ...) is folded by `compact_epoch_store`.
    ANN index TREES (epoch dirs with ``cell_id=`` children) are skipped
    — they have their own cell-clustered compactor,
    `functions.vectors.compact_ann_index_tree`, which preserves the
    one-file-per-cell layout a probe depends on. Returns
    {relative store path: through_epoch}. Local-filesystem state roots
    only — a scheme-prefixed (hdfs://, s3a://) root raises up front
    instead of walking nothing and silently folding zero stores (r13
    ADVICE)."""
    _require_local(state_dir, "compact_ingest_state")
    out: dict[str, int] = {}
    for root, dirs, _files in os.walk(state_dir):
        epoch_dirs = [d for d in dirs if d.startswith("epoch=")]
        if not epoch_dirs:
            continue
        dirs[:] = []  # a store is a leaf: never descend into epoch dirs
        # probe EVERY epoch dir for cell clustering, not just the first:
        # an ANN tree whose first-listed epoch happens to be empty (a
        # crashed write) must still be recognized and left to its own
        # cell-preserving compactor
        if any(
            c.startswith("cell_id=")
            for e in epoch_dirs
            for c in os.listdir(os.path.join(root, e))
        ):
            continue  # ANN tree — its own compactor owns it
        out[os.path.relpath(root, state_dir)] = compact_epoch_store(
            spark, root, keep_latest=keep_latest
        )
    return out
