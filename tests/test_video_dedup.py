"""Video near-dup dedup (r14): per-frame dHash words through the wide
Hamming-band machinery — the third perceptual modality.

Pins: the demuxer splits/validates concatenated-PPM streams; word f of
the signature IS `dhash64_of` of sampled frame f; brightness twins
(every frame shifted) keep the whole signature while the content md5
moves; the registered `video` arm catches every planted bright twin at
Hamming 0 with exact_dup=false and respects the refine threshold; and
a frame-REORDERED stream does NOT collide at Hamming 0 (temporal
structure is part of the signature — the property a bag-of-frames
hash would lose).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinela_py_spark.operators.multimodal import (
    BRIGHT_ID_OFFSET,
    NOISE_ID_OFFSET,
    VID_SAMPLE_FRAMES,
    dhash64_of,
    split_ppm_stream,
    video_dhash,
    video_dhash256_of,
)
from sentinela_py_spark.plans import QUERIES
from sentinela_py_spark.plans.registry import _ensure_loaded

_ensure_loaded()

SF = "/root/testdata/sf0.001"


def _ppm(w: int, h: int, body: bytes) -> bytes:
    pix = (body * (w * h * 3 // len(body) + 1))[: w * h * 3]
    return f"P6\n{w} {h}\n255\n".encode() + pix


def _vid(*frames: bytes) -> bytes:
    return b"".join(frames)


FRAMES = [
    _ppm(17, 19, b"spark shuffles partition data across executors "),
    _ppm(17, 19, b"catalyst rewrites logical plans into operators "),
    _ppm(16, 18, b"arrow batches stream pandas frames to python "),
    _ppm(18, 16, b"watermarks bound state growth for late events "),
]


@pytest.fixture(scope="module")
def video_rows(spark):
    rows = QUERIES["q_signature_neardup"].spark(spark, SF).collect()
    return [r for r in rows if r["method"] == "video"]


class TestDemuxAndSigner:
    def test_split_roundtrip_and_validation(self):
        frames = split_ppm_stream(_vid(*FRAMES))
        assert frames == FRAMES
        with pytest.raises(ValueError, match="not a binary PPM"):
            split_ppm_stream(_vid(*FRAMES) + b"JUNK")
        with pytest.raises(ValueError, match="truncated"):
            split_ppm_stream(_vid(*FRAMES)[:-5])
        with pytest.raises(ValueError, match="empty"):
            split_ppm_stream(b"")

    def test_words_are_per_frame_dhashes(self):
        words, _ = video_dhash256_of(_vid(*FRAMES))
        assert len(words) == VID_SAMPLE_FRAMES
        assert words == [dhash64_of(f)[0] for f in FRAMES]

    def test_brightness_shift_preserves_signature_not_md5(self):
        def bright(ppm: bytes) -> bytes:
            hdr = ppm.index(b"255\n") + 4
            return ppm[:hdr] + bytes(b + 1 for b in ppm[hdr:])

        w0, m0 = video_dhash256_of(_vid(*FRAMES))
        w1, m1 = video_dhash256_of(_vid(*[bright(f) for f in FRAMES]))
        assert w0 == w1 and m0 != m1

    def test_frame_reorder_changes_signature(self):
        w0, _ = video_dhash256_of(_vid(*FRAMES))
        w1, _ = video_dhash256_of(_vid(FRAMES[1], FRAMES[0], *FRAMES[2:]))
        assert w0 != w1
        # ...but it's a word PERMUTATION: the same per-frame hashes
        assert sorted(w0) == sorted(w1)

    def test_corrupt_payload_yields_null_row(self, spark):
        vids = spark.createDataFrame(
            [(1, bytearray(_vid(*FRAMES))), (2, bytearray(b"NOT A VIDEO"))],
            "doc_id long, payload binary",
        )
        got = {r["doc_id"]: r["vhash"] for r in video_dhash(vids).collect()}
        assert got[1] is not None and got[2] is None


class TestVideoArm:
    def test_every_bright_twin_caught_at_hamming_zero(self, spark, video_rows):
        n_planted = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .filter((F.col("doc_id") % 16 == 0) & (F.length("text") > 0))
            .count()
        )
        bright = [
            r for r in video_rows
            if BRIGHT_ID_OFFSET <= r["doc_b"] < NOISE_ID_OFFSET
        ]
        planted = {
            r["doc_a"] for r in bright
            if r["doc_b"] == r["doc_a"] + BRIGHT_ID_OFFSET
        }
        assert len(planted) == n_planted == len(bright)
        assert all(r["hamming"] == 0 and not r["exact_dup"] for r in bright)

    def test_threshold_respected_and_distinct_videos_spared(self, video_rows):
        assert video_rows, "video arm returned no rows"
        assert all(r["hamming"] <= 3 for r in video_rows)
        base_pairs = [r for r in video_rows if r["doc_b"] < BRIGHT_ID_OFFSET]
        assert len(base_pairs) < 10
