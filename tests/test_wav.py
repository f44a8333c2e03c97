"""REAL PCM-WAV decode path (extends the round-4 verdict-#5 BMP work to
audio): encode_wav → decode_wav must be sample-exact across mono/stereo,
8/16-bit, chunk padding and unknown-chunk walking; strict extract_features
over a generated WAV table must reproduce header fields, exact channel sums
and sample probes straight from the sample formula. Mirrors the reference's
opaque-payload handling (all sink values are raw bytes,
/root/reference/src/main/java/com/pxene/dmp/common/HBaseTools.java:98-121)
with the decode made real where the environment permits (stdlib struct +
numpy only — no codec libs in the container)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from dmp_crawler_spark.operators import multimodal


def test_wav_roundtrip_exact():
    for i in (0, 1, 2, 3, 6, 13, 255, 1000):
        smp, sr = multimodal._wav_samples(i)
        for junk in (False, True):
            payload = multimodal.encode_wav(smp, sr, junk_chunk=junk)
            out, sr2, bits = multimodal.decode_wav(payload)
            assert sr2 == sr and bits == 16
            assert np.array_equal(out, smp.astype(np.int32)), (i, junk)


def test_wav_odd_junk_chunk_padding():
    """The junk chunk body is odd-length, so the word-align pad byte in the
    chunk walk is load-bearing: a walker that forgets the pad lands
    mid-stream and fails (or mis-reads) the data chunk."""
    smp, sr = multimodal._wav_samples(3)  # i%3==0 adds junk in the generator
    with_junk = multimodal.encode_wav(smp, sr, junk_chunk=True)
    without = multimodal.encode_wav(smp, sr, junk_chunk=False)
    assert with_junk != without
    a, _, _ = multimodal.decode_wav(with_junk)
    b, _, _ = multimodal.decode_wav(without)
    assert np.array_equal(a, b)


def test_wav_8bit_decode_centered():
    """8-bit PCM is unsigned in the container format; decode centers it to
    signed (v - 128)."""
    raw = np.array([0, 1, 127, 128, 129, 255], dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw.tobytes()
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    out, sr, bits = multimodal.decode_wav(payload)
    assert sr == 8000 and bits == 8
    assert out[:, 0].tolist() == [-128, -127, -1, 0, 1, 127]


def test_decode_wav_rejects_malformed():
    smp, sr = multimodal._wav_samples(5)
    good = multimodal.encode_wav(smp, sr)
    for bad in (b"", b"RIFX" + good[4:], good[:40], good[: len(good) - 3]):
        with pytest.raises(ValueError):
            multimodal.decode_wav(bad)
    # non-PCM audio format (IEEE float = 3) must be rejected loudly
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        multimodal.decode_wav(payload)
    # fmt present but no data chunk
    body2 = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    payload2 = b"RIFF" + struct.pack("<I", 4 + len(body2)) + b"WAVE" + body2
    with pytest.raises(ValueError, match="missing fmt or data"):
        multimodal.decode_wav(payload2)
    # a second fmt or data chunk is ambiguous (which one wins?) — reject
    fmt_chunk = body2
    data_chunk = b"data" + struct.pack("<I", 4) + b"\x00" * 4
    for body3, which in ((fmt_chunk + fmt_chunk + data_chunk, "fmt"),
                         (fmt_chunk + data_chunk + data_chunk, "data"),
                         (fmt_chunk + data_chunk + fmt_chunk, "fmt")):
        payload3 = b"RIFF" + struct.pack("<I", 4 + len(body3)) + b"WAVE" + body3
        with pytest.raises(ValueError, match=f"duplicate {which} chunk"):
            multimodal.decode_wav(payload3)


def test_wav_strict_features_match_formula(spark):
    """strict extract_features over wav_media_from_ids reproduces the
    sample formula: header fields, EXACT per-channel sums, min/max, and
    first/second/last sample probes (the probes make interleaving
    load-bearing — swapping channels or frames fails here)."""
    ids = spark.range(0, 24).select(F.col("id").alias("media_id"))
    media = multimodal.wav_media_from_ids(ids)
    feats = multimodal.extract_features(media, strict=True)
    rows = {r["media_id"]: r["feature"] for r in feats.collect()}
    assert len(rows) == 24
    for i, f in rows.items():
        smp, sr = multimodal._wav_samples(i)
        n, nch = smp.shape
        s0 = smp[:, 0].astype(np.int64)
        expect = [sr, nch, n, 16, int(s0.sum()), 0, int(s0.min()),
                  int(s0.max()), int(s0[0]), int(s0[1]), int(s0[-1]), 0, 0]
        if nch == 2:
            s1 = smp[:, 1].astype(np.int64)
            expect[5] = int(s1.sum())
            expect[11] = int(s1[0])
            expect[12] = int(s1[-1])
        assert [int(v) for v in f[:13]] == expect, i


def test_wav_meta_duration(spark):
    ids = spark.range(0, 8).select(F.col("id").alias("media_id"))
    rows = multimodal.wav_media_from_ids(ids).select(
        "media_id", "kind", "mime", "meta.duration_ms", "meta.sample_rate"
    ).collect()
    for r in rows:
        smp, sr = multimodal._wav_samples(r["media_id"])
        assert r["kind"] == "audio" and r["mime"] == "audio/wav"
        assert r["sample_rate"] == sr
        assert r["duration_ms"] == smp.shape[0] * 1000 // sr


def test_wav_channel_sum_bound():
    """Channel sums ride float32 slots, exact only while |sum| < 2^24: a
    full-scale 16-bit payload one frame past the bound raises instead of
    rounding, and one just under it keeps the exact sum."""
    full = lambda n: np.full((n, 1), 32767, dtype=np.int16)  # noqa: E731
    with pytest.raises(ValueError):
        multimodal._wav_features(multimodal.encode_wav(full(513), 8000))
    out = multimodal._wav_features(multimodal.encode_wav(full(512), 8000))
    assert out[4] == 512 * 32767
