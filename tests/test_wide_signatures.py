"""Wide (multi-word) Hamming signatures.

`signature_bands` / `hamming_band_pairs` generalized to `array<bigint>`
signatures — the path that lifts the 64-bit perceptual-hash ceiling (at
10⁹ images, 4 bands need 96+ hash bits to keep buckets near 64 rows; a
single int64 column cannot carry them).

Pins:
- band slicing on wide signatures matches a pure-Python reference
  bit-for-bit, for ALIGNED (4×64 on 256-bit), SUB-WORD (4×16 on one
  word), and STRADDLING (4×24 on 96-bit — band 2 spans bits 48..72
  across two words) geometries, including signed (bit-63-set) words;
- `wide_hamming` equals the popcount of the word-wise xor;
- pair recall: every pair within Hamming ≤ n_bands−1 is found
  (pigeonhole carries over word boundaries);
- coverage validation raises when set bits sit beyond the banded
  range (the wide analog of the scalar range check), including the
  sign bit of a partially-covered word;
- the single-word path is untouched (dispatch is by column type).
"""

from __future__ import annotations

import random

import pytest

from sentinela_py_spark.operators.dedup import (
    hamming_band_pairs,
    is_wide_signature,
    signature_bands,
    wide_hamming,
)


def _words_of(value: int, n_words: int) -> list[int]:
    """Little-endian signed int64 words of an arbitrary-width int."""
    out = []
    for i in range(n_words):
        w = (value >> (64 * i)) & ((1 << 64) - 1)
        out.append(w - (1 << 64) if w >= 1 << 63 else w)
    return out


def _ref_slice(value: int, band: int, band_bits: int) -> int:
    """Reference band slice straight off the flat integer."""
    return (value >> (band * band_bits)) & ((1 << band_bits) - 1)


def _sig_df(spark, values: list[int], n_words: int):
    rows = [(i, _words_of(v, n_words)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "doc_id long, sig array<long>")


GEOMETRIES = [
    # (hash_bits, n_words, n_bands, band_bits) — aligned, sub-word, straddle
    (256, 4, 4, 64),
    (64, 1, 4, 16),
    (96, 2, 4, 24),   # band 2 spans bits 48..72: the straddle case
    (128, 2, 4, 32),  # two bands per word, no straddle
    (160, 3, 5, 32),  # odd word count
    (96, 2, 3, 32),   # straddle at band 1 (bits 32..64) boundary-exact
]


@pytest.mark.parametrize("hash_bits,n_words,n_bands,band_bits", GEOMETRIES)
def test_wide_band_slices_match_reference(
    spark, hash_bits, n_words, n_bands, band_bits
):
    rng = random.Random(hash_bits * 1000 + band_bits)
    values = [rng.getrandbits(hash_bits) for _ in range(20)]
    # force signed words: set the top bit of every word for one value
    values.append((1 << hash_bits) - 1)
    values.append(0)
    df = _sig_df(spark, values, n_words)
    assert is_wide_signature(df, "sig")
    got = {
        (r["doc_id"], r["band"]): r["bsig"]
        for r in signature_bands(df, "sig", n_bands, band_bits).collect()
    }
    for i, v in enumerate(values):
        for b in range(n_bands):
            want = _ref_slice(v, b, band_bits)
            # bb=64 slices are signed words: compare bit patterns
            if band_bits == 64 and want >= 1 << 63:
                want -= 1 << 64
            assert got[(i, b)] == want, (
                f"value {v:#x} band {b} ({band_bits} bits): "
                f"{got[(i, b)]:#x} != {want:#x}"
            )


def test_wide_hamming_matches_popcount(spark):
    rng = random.Random(7)
    pairs = [
        (rng.getrandbits(256), rng.getrandbits(256)) for _ in range(10)
    ] + [((1 << 256) - 1, 0), (1 << 255, 0), (0, 0)]
    rows = [
        (i, _words_of(a, 4), _words_of(b, 4)) for i, (a, b) in enumerate(pairs)
    ]
    df = spark.createDataFrame(rows, "i long, a array<long>, b array<long>")
    got = {
        r["i"]: r["h"]
        for r in df.select("i", wide_hamming("a", "b").alias("h")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        assert got[i] == bin(a ^ b).count("1")


@pytest.mark.parametrize("hash_bits,n_words,n_bands,band_bits", GEOMETRIES)
def test_wide_pair_recall_and_refine(
    spark, hash_bits, n_words, n_bands, band_bits
):
    """Plant near pairs at every Hamming 0..n_bands−1 (full pigeonhole
    recall), one pair just OVER threshold (refined away), and unrelated
    random signatures (not paired)."""
    rng = random.Random(42 + hash_bits)
    base = rng.getrandbits(hash_bits)
    values, expected = [], {}
    max_h = n_bands - 1
    nid = 0

    def add(v):
        nonlocal nid
        values.append(v)
        nid += 1
        return nid - 1

    for h in range(max_h + 1):
        a = add(base := rng.getrandbits(hash_bits))
        flipped = base
        for bit in rng.sample(range(hash_bits), h):
            flipped ^= 1 << bit
        b = add(flipped)
        expected[(min(a, b), max(a, b))] = h
    # just over threshold: refined away even though bands may collide
    a = add(v := rng.getrandbits(hash_bits))
    over = v
    for bit in rng.sample(range(hash_bits), max_h + 1):
        over ^= 1 << bit
    add(over)
    for _ in range(5):
        add(rng.getrandbits(hash_bits))

    df = _sig_df(spark, values, n_words)
    pairs, audit = hamming_band_pairs(
        df, "sig", max_hamming=max_h, n_bands=n_bands, band_bits=band_bits
    )
    assert audit is None
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    for pair, h in expected.items():
        assert got.get(pair) == h, f"expected pair {pair} at Hamming {h}, got {got}"
    for pair, h in got.items():
        assert h <= max_h


def test_wide_coverage_validation(spark):
    # 96-bit coverage (4×24) on 2-word signatures: bits ≥ 96 must be 0
    good = _sig_df(spark, [(1 << 96) - 1, 12345], 2)
    pairs, _ = hamming_band_pairs(
        good, "sig", max_hamming=3, n_bands=4, band_bits=24,
        validate_coverage=True,
    )
    pairs.collect()  # no raise
    for bad_value in (1 << 96, 1 << 127):  # incl. the word-1 sign bit
        bad = _sig_df(spark, [bad_value], 2)
        with pytest.raises(ValueError, match="beyond the 4x24-bit band coverage"):
            hamming_band_pairs(
                bad, "sig", max_hamming=3, n_bands=4, band_bits=24,
                validate_coverage=True,
            )
    # full 2-word coverage accepts any bit pattern, signed words included
    full = _sig_df(spark, [(1 << 128) - 1], 2)
    p, _ = hamming_band_pairs(
        full, "sig", max_hamming=3, n_bands=4, band_bits=32,
        validate_coverage=True,
    )
    p.collect()


def test_single_word_path_unchanged(spark):
    df = spark.createDataFrame(
        [(1, 0x1234), (2, 0x1235), (3, 0xFF00)], "doc_id long, sig long"
    )
    assert not is_wide_signature(df, "sig")
    pairs, _ = hamming_band_pairs(df, "sig", max_hamming=3, n_bands=4, band_bits=16)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert got == {(1, 2): 1}
