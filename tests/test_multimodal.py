"""Multimodal plumbing: binary payload schema, Arrow batch path, frame
sampling layout, and the REAL binary-PPM and WAV decode paths."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from sentinela_py_spark.operators.multimodal import (
    FRAME_LEN,
    FRAME_STRIDE,
    MEDIA_SCHEMA,
    audio_features,
    decode_ppm,
    decode_wav,
    documents_to_images,
    documents_to_media,
    documents_to_wavs,
    media_pixel_features,
    sample_frames,
)

DOCS = [
    (0, "a" * 10),
    (1, "hello world " * 20),  # 240 chars -> 4 frames, keep 0 and 2
    (2, "x"),
]


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    return documents_to_media(docs)


def test_media_schema_and_metadata(media):
    assert media.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    assert isinstance(media.schema["payload"].dataType, BinaryType)
    rows = {r["doc_id"]: r for r in media.collect()}
    assert rows[0]["media_type"] == "image"
    assert rows[1]["media_type"] == "audio"
    assert rows[2]["media_type"] == "video"
    assert bytes(rows[1]["payload"]) == ("hello world " * 20).encode()
    assert rows[1]["meta"]["n_bytes"] == 240
    assert rows[1]["meta"]["n_frames"] == 4
    assert rows[0]["meta"]["width"] == 16 and rows[0]["meta"]["height"] == 9


def test_frame_sampling_layout(media):
    frames = sample_frames(media).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 240 bytes -> frames 0..3, stride 2 keeps 0 and 2, both full
    kept = sorted(r["frame_idx"] for r in by_doc[1])
    assert kept == [0, 2]
    raw = ("hello world " * 20).encode()
    for r in by_doc[1]:
        frame = raw[r["frame_idx"] * FRAME_LEN : (r["frame_idx"] + 1) * FRAME_LEN]
        assert r["frame_bytes"] == len(frame) == FRAME_LEN
        assert r["frame_md5"] == hashlib.md5(frame).hexdigest()
    # doc 0: 10 bytes -> single short frame
    assert [(r["frame_idx"], r["frame_bytes"]) for r in by_doc[0]] == [(0, 10)]
    assert FRAME_STRIDE == 2


def test_frame_sampling_partition_invariant(media):
    one = sample_frames(media.coalesce(1)).orderBy("doc_id", "frame_idx").collect()
    many = sample_frames(media.repartition(8)).orderBy("doc_id", "frame_idx").collect()
    assert one == many


def _ppm(w: int, h: int, pix: bytes) -> bytes:
    assert len(pix) == w * h * 3
    return f"P6\n{w} {h}\n255\n".encode() + pix


def test_decode_ppm_roundtrip():
    pix = bytes(range(2 * 2 * 3))
    w, h, maxval, decoded = decode_ppm(_ppm(2, 2, pix))
    assert (w, h, maxval) == (2, 2, 255)
    assert decoded == pix


def test_decode_rejects_malformed():
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_ppm(b"\x89PNG")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n4 4\n255\n\x00\x00")  # pixel plane too short


def _wav_bytes(data: bytes, rate: int = 8000, channels: int = 1, bits: int = 8) -> bytes:
    import struct

    block = channels * (bits // 8)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


class TestWavCodec:
    def test_parser_agrees_with_stdlib_wave(self):
        import io
        import wave

        payload = _wav_bytes(bytes(range(64)), rate=16000, channels=2, bits=16)
        rate, channels, bits, data = decode_wav(payload)
        with wave.open(io.BytesIO(payload)) as w:
            assert (rate, channels, bits) == (
                w.getframerate(),
                w.getnchannels(),
                w.getsampwidth() * 8,
            )
            assert data == w.readframes(w.getnframes())

    def test_extra_chunks_and_word_alignment(self):
        # a 3-byte LIST chunk before data must be skipped with its pad byte
        import struct

        data = b"\x10\x20\x30\x40"
        body = (
            b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"LIST"
            + struct.pack("<I", 3)
            + b"abc\x00"  # odd-size chunk + pad
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        assert decode_wav(payload)[3] == data

    @pytest.mark.parametrize(
        "mutate",
        [
            lambda p: b"XIFF" + p[4:],  # bad magic
            lambda p: p[:40],  # truncated data chunk
            lambda p: p.replace(b"fmt ", b"fmx "),  # no fmt before data
            lambda p: p[:20] + b"\x03\x00" + p[22:],  # non-PCM format code
        ],
    )
    def test_malformed_rejected(self, mutate):
        with pytest.raises(ValueError):
            decode_wav(mutate(_wav_bytes(b"\x00\x01")))


class TestAudioPath:
    def test_documents_to_wavs_are_valid_containers(self, spark):
        import io
        import wave

        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in documents_to_wavs(docs).collect()}
        for doc_id, text in DOCS:
            payload = bytes(rows[doc_id]["payload"])
            # the JVM-built container must satisfy the stdlib parser
            with wave.open(io.BytesIO(payload)) as w:
                assert w.getnframes() == len(text)
                assert w.getframerate() == (doc_id % 3 + 1) * 8000
                assert w.readframes(w.getnframes()) == text.encode()
            assert rows[doc_id]["n_samples"] == len(text)

    def test_audio_features_exact_stats(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        feats = {r["doc_id"]: r for r in audio_features(documents_to_wavs(docs)).collect()}
        for doc_id, text in DOCS:
            row = feats[doc_id]
            vals = text.encode()
            assert row["n_samples"] == len(vals)
            assert row["sum_samples"] == sum(vals)
            assert row["sum_squares"] == sum(v * v for v in vals)
            assert (row["min_sample"], row["max_sample"]) == (min(vals), max(vals))
            assert row["mean_square"] == pytest.approx(
                sum(v * v for v in vals) / len(vals), abs=1e-6
            )
            assert row["duration_ms"] == pytest.approx(
                len(vals) * 1000 / row["sample_rate"], abs=1e-6
            )

    def test_corrupt_audio_yields_null_features(self, spark):
        rows = [(0, _wav_bytes(b"\x05\x06")), (1, b"garbage"), (2, None)]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        feats = {r["doc_id"]: r for r in audio_features(df).collect()}
        assert feats[0]["n_samples"] == 2
        assert feats[1]["n_samples"] is None and feats[1]["checksum"] is None
        assert feats[2]["n_samples"] is None


def test_documents_to_images_are_valid_ppm(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in documents_to_images(docs).collect()}
    for doc_id, text in DOCS:
        w, h, maxval, pix = decode_ppm(bytes(rows[doc_id]["payload"]))
        assert (w, h) == (rows[doc_id]["width"], rows[doc_id]["height"])
        assert (w, h) == (doc_id % 8 + 2, doc_id % 6 + 2)
        # pixel bytes cycle the ASCII text
        expect = (text * (w * h * 3 // len(text) + 1))[: w * h * 3].encode()
        assert pix == expect


def test_media_pixel_features_nulls_corrupt_payloads(spark):
    """Undecodable payloads must surface as NULL features, not kill the
    scan — a 100 TB lake WILL contain corrupt media."""
    good = _ppm(2, 1, b"\x01\x02\x03\x04\x05\x06")
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"\x89PNG not a ppm")), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in media_pixel_features(df).collect()}
    assert rows[1]["width"] == 2 and rows[1]["sum_pixels"] == 21
    assert rows[2]["width"] is None and rows[2]["checksum"] is None
    assert rows[3]["width"] is None and rows[3]["mean_pixel"] is None


def test_media_pixel_features_real_decode(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    feats = {r["doc_id"]: r for r in media_pixel_features(documents_to_images(docs)).collect()}
    for doc_id, text in DOCS:
        w, h = doc_id % 8 + 2, doc_id % 6 + 2
        pix = (text * (w * h * 3 // len(text) + 1))[: w * h * 3].encode()
        r = feats[doc_id]
        assert (r["width"], r["height"], r["maxval"]) == (w, h, 255)
        assert r["n_pixel_bytes"] == len(pix)
        assert r["sum_pixels"] == sum(pix)
        assert r["min_pixel"] == min(pix) and r["max_pixel"] == max(pix)
        assert r["mean_pixel"] == pytest.approx(sum(pix) / len(pix), abs=1e-6)


def test_metadata_query_prunes_payload(media):
    """A metadata-only projection must not carry the payload column
    through the plan (column pruning is what makes metadata queries cheap
    at 100 TB)."""
    plan = media.select("doc_id", "media_type", "meta").explain
    meta_only = media.select("doc_id", "media_type", F.col("meta.n_bytes"))
    explained = meta_only._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in explained
