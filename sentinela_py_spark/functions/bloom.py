"""Deterministic Bloom filter as pure Column algebra.

The scale path for membership screens (decontamination, URL blocklists,
seen-before checks) when even the small side's exact key set is too big
to broadcast: an m-bit Bloom filter with k salted hashes compresses it to
m/8 bytes at a known false-positive rate p ≈ (1 − e^(−k·n/m))^k — e.g.
10^9 eval grams at m=2^33, k=4 is one gigabyte broadcast with p < 3%.
Everything is md5-derived integer arithmetic (same digest on every
engine), so the filter — including its false positives — is
deterministic and DuckDB-oracle-checkable, unlike
``DataFrameStatFunctions.bloomFilter`` whose layout is JVM-private.

Layout: bit i lives in word i÷32 at bit i mod 32 (32-bit words in a
long: shifts stay under the sign bit, which DuckDB overflow-checks on
BIGINT — 64-bit words would need two's-complement shifts both engines
can't express identically); the built filter is ONE row holding a
map<long, long> of non-zero words (zero words are absent —
``bloom_contains`` coalesces misses to 0), broadcast like a dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier_eager
from sentinela_py_spark.functions.text_stats import word_shingles

__all__ = [
    "BLOOM_BITS",
    "BLOOM_K",
    "bloom_build",
    "bloom_contains",
    "eval_gram_bloom",
]

BLOOM_BITS = 1 << 16  # 65,536 bits = 2,048 32-bit words — demo-sized (see module note)
BLOOM_K = 4


def _positions(key: Column, n_hashes: int, m_bits: int) -> list[Column]:
    """k md5-derived positions in [0, m_bits). When a 32-bit slice can
    address every bit (m_bits ≤ 2^32), the first four positions come from
    DISJOINT 8-hex slices of ONE digest — md5 is the dominant per-row
    cost on both the build and the map-only probe, and one digest per key
    instead of k cuts it k× (the slices are independent uniform words,
    the standard slice-the-digest construction). Larger filters (the
    m=2^33 deployment example) and hashes beyond four fall back to salted
    60-bit digests — a 32-bit slice mod m > 2^32 could never set the
    upper half of the filter, silently doubling the real FP rate."""
    cols = []
    digest = F.md5(key)
    for i in range(n_hashes):
        if i < 4 and m_bits <= (1 << 32):
            h = F.substring(digest, 1 + 8 * i, 8)
        else:
            h = F.substring(F.md5(F.concat(F.lit(f"s{i}-"), key)), 1, 15)
        cols.append(F.conv(h, 16, 10).cast("long") % m_bits)
    return cols


def bloom_build(
    keys: DataFrame,
    n_hashes: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """ONE-row DataFrame with column ``bloom: map<long, long>`` — the
    non-zero 32-bit words of the filter over the ``key`` column of
    ``keys``. Build cost is one explode (|keys|·k rows) + a bit_or
    aggregation on ≤ m/32 words; the result broadcasts."""
    pos = F.explode(F.array(*_positions(F.col("key"), n_hashes, m_bits))).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 32).cast("long").alias("word"),
            (F.col("pos") % 32).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bit"))).alias("mask"))
    )
    return words.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word", "mask")))
        ).alias("bloom")
    )


def eval_gram_bloom(
    eval_docs: DataFrame,
    n_hashes: int | None = None,
    m_bits: int | None = None,
) -> DataFrame:
    """The decontamination screen's filter: the distinct word 5-grams of
    ``eval_docs`` through `bloom_build`, materialized behind an eager
    barrier so every micro-batch probes the one built row. ``None``
    geometry means the library defaults, as on the probe side."""
    keys = eval_docs.select(
        F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("key")
    )
    return bloom_build(
        keys,
        n_hashes=BLOOM_K if n_hashes is None else n_hashes,
        m_bits=BLOOM_BITS if m_bits is None else m_bits,
    ).transform(barrier_eager)


def bloom_contains(
    key: Column,
    bloom: Column,
    n_hashes: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> Column:
    """True iff every one of the key's k bits is set — exact-member keys
    always pass; non-members pass at the filter's false-positive rate
    (deterministically: the same FPs on every engine and run)."""
    cond = F.lit(True)
    for p in _positions(key, n_hashes, m_bits):
        word = (p / 32).cast("long")
        bit = (p % 32).cast("int")
        mask = F.coalesce(F.element_at(bloom, word), F.lit(0).cast("long"))
        hit = F.call_function("shiftright", mask, bit).bitwiseAND(F.lit(1)) == 1
        cond = cond & hit
    return cond
