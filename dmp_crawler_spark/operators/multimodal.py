"""Multimodal (image/audio/video) column plumbing for the pages pipeline.

Media payloads are opaque `binary` columns + a typed metadata struct —
the same pattern as the `html binary` column in the pages table. The
Spark-side plumbing (schemas, Arrow batch shape, mapInPandas signatures,
partition hygiene: media bytes are column-pruned out of every non-decode
stage) is real and tested. Decode is REAL for the formats this
environment can carry without codec libs — uncompressed BMP images
(decode_bmp) and PCM WAV audio (decode_wav), both pure stdlib-struct +
numpy parsers — and stubbed behind DETERMINISTIC fakes for everything
needing Pillow/ffmpeg (absent in the container); each stub is clearly
marked and raises NotImplementedError when `strict=True`.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image | audio | video
    T.StructField("mime", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),    # opaque bytes
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]), True),
])

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), False),
    T.StructField("n_bytes", T.IntegerType(), False),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame", T.BinaryType(), False),
])


def encode_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """Minimal BMP writer (24-bit BI_RGB, BITMAPINFOHEADER) for fixtures:
    pixels is (H, W, 3) uint8 RGB. top_down=True writes a negative-height
    header (rows in natural order); otherwise rows are stored bottom-up,
    per the format default. Pure struct packing — no codec libs."""
    h, w, _ = pixels.shape
    row_raw = w * 3
    pad = (-row_raw) % 4
    stride = row_raw + pad
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        img_size, 2835, 2835, 0, 0,
    )
    rows = pixels if top_down else pixels[::-1]
    body = bytearray()
    padding = b"\x00" * pad
    for r in rows:
        body += r[:, ::-1].tobytes()  # RGB → BGR storage order
        body += padding
    return header + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL (non-stub) decode for the one codec this environment can carry
    without external libs: uncompressed BMP (BI_RGB, BITMAPINFOHEADER,
    24- or 32-bit). Returns (H, W, 3) uint8 RGB. Handles bottom-up
    (positive height) and top-down (negative height) storage, 4-byte row
    padding, and BGR(A) channel order. Raises ValueError on anything the
    parser does not fully understand — no silent wrong pixels."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP variant: planes={planes} bpp={bpp} "
            f"compression={compression}"
        )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions {w}x{h_raw}")
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    need = data_off + stride * h
    if len(payload) < need:
        raise ValueError(f"truncated pixel array: {len(payload)} < {need}")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)
    px = rows[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        px = px[::-1]
    # stored BGR(A) → RGB: take channels 2,1,0 (drops A when present)
    return np.ascontiguousarray(px[:, :, 2::-1])


def _bmp_features(payload: bytes) -> np.ndarray:
    """REAL feature vector from a decoded BMP: header geometry, exact
    per-channel SUMS (integers ≤ 2^24, so exact in float32 — no rounding
    parity risk for the SQL oracle), and three pixel probes ((0,0),
    (x=1,y=2), (W-1,H-1)) — the probes make channel order and row
    direction load-bearing, so a BGR swap or a bottom-up/top-down mix-up
    fails the oracle, not just a unit test."""
    px = decode_bmp(payload)
    h, w, _ = px.shape
    sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    p00 = px[0, 0]
    p12 = px[min(2, h - 1), min(1, w - 1)]
    pwh = px[h - 1, w - 1]
    out = np.zeros(FEATURE_DIM, dtype=np.float32)
    out[:14] = [
        w, h,
        sums[0], sums[1], sums[2],
        p00[0], p00[1], p00[2],
        p12[0], p12[1], p12[2],
        pwh[0], pwh[1], pwh[2],
    ]
    return out


def encode_wav(
    samples: np.ndarray, sample_rate: int, junk_chunk: bool = False
) -> bytes:
    """Minimal RIFF/WAVE PCM writer for fixtures: samples is
    (n_frames, n_channels) int16, interleaved little-endian on disk.
    junk_chunk=True inserts an ODD-length unknown chunk between fmt and
    data so the reader's chunk walk (with the word-align pad byte) is
    exercised, not just the happy path. Pure struct packing."""
    n, nch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, nch, sample_rate, sample_rate * 2 * nch, 2 * nch, 16
    )
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if junk_chunk:
        j = b"engine-test-junk!"  # 17 bytes: odd, forces a pad byte
        body += b"cue " + struct.pack("<I", len(j)) + j + b"\x00"
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """REAL (non-stub) audio decode for the second codec this environment
    can carry without external libs: RIFF/WAVE uncompressed PCM
    (audio_format=1), 8- or 16-bit, any channel count. Walks the chunk
    list (word-aligned sizes, unknown chunks skipped), requires exactly
    one fmt and one data chunk, and raises ValueError on anything it does
    not fully understand — no silent wrong samples. Returns ((n_frames, n_channels) int32
    samples, sample_rate, bits); 8-bit unsigned is centered to signed
    (v - 128) so both widths mean the same thing downstream."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_off = pos + 8
        if body_off + size > len(payload):
            raise ValueError(f"truncated chunk {cid!r}: need {size} bytes")
        if cid == b"fmt ":
            if fmt is not None:
                raise ValueError("duplicate fmt chunk")
            if size < 16:
                raise ValueError(f"fmt chunk too small: {size}")
            afmt, nch, sr, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload, body_off
            )
            if afmt != 1 or bits not in (8, 16) or nch < 1:
                raise ValueError(
                    f"unsupported WAV variant: fmt={afmt} bits={bits} nch={nch}"
                )
            fmt = (nch, sr, bits)
        elif cid == b"data":
            if data is not None:
                raise ValueError("duplicate data chunk")
            data = payload[body_off:body_off + size]
        pos = body_off + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    nch, sr, bits = fmt
    frame_bytes = (bits // 8) * nch
    if len(data) % frame_bytes:
        raise ValueError(
            f"data chunk not frame-aligned: {len(data)} % {frame_bytes}"
        )
    if bits == 16:
        arr = np.frombuffer(data, dtype="<i2").astype(np.int32)
    else:
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    return arr.reshape(-1, nch), sr, bits


def _wav_features(payload: bytes) -> np.ndarray:
    """REAL feature vector from a decoded WAV: header fields, EXACT
    per-channel sums (a float32 slot holds them exactly only while
    |sum| < 2^24, so a larger sum raises ValueError instead of rounding
    away from the SQL oracle), min/max of channel 0, and first/second/last
    sample probes per channel — the probes make frame interleaving
    load-bearing, so a channel swap or frame-order bug fails the oracle,
    not just a unit test. Mono leaves the channel-1 slots at 0."""
    smp, sr, bits = decode_wav(payload)
    n, nch = smp.shape
    sums = smp.astype(np.int64).sum(axis=0)
    if np.abs(sums).max() >= 1 << 24:
        raise ValueError(f"channel sum {sums.tolist()} not exact in float32")
    s0 = smp[:, 0]
    out = np.zeros(FEATURE_DIM, dtype=np.float32)
    out[0:4] = [sr, nch, n, bits]
    out[4] = sums[0]
    out[6] = s0.min()
    out[7] = s0.max()
    out[8] = s0[0]
    out[9] = s0[1] if n > 1 else 0
    out[10] = s0[-1]
    if nch > 1:
        out[5] = sums[1]
        out[11] = smp[0, 1]
        out[12] = smp[-1, 1]
    return out


def _strict_decode_features(payload: bytes) -> np.ndarray:
    """strict=True path: REAL decode for formats the environment can
    handle without codec libs (BMP images, PCM WAV audio); everything
    else keeps the documented NotImplementedError stub (Pillow/ffmpeg
    absent here)."""
    if payload is not None and payload[:2] == b"BM":
        return _bmp_features(payload)
    if (
        payload is not None
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    ):
        return _wav_features(payload)
    raise NotImplementedError(
        "strict decode implemented for BMP and PCM WAV only in this "
        "environment — JPEG/PNG/MP3/video need Pillow/ffmpeg (not in the "
        "container)"
    )


def _fake_decode_features(payload: bytes) -> np.ndarray:
    """STUB — deterministic fake for the codec step. A real deployment
    plugs Pillow/torchaudio/ffmpeg here; the container lacks them, so the
    'decoded features' are a seeded hash expansion of the payload bytes.
    The Spark plumbing around it (Arrow batches, schema, pruning) is what
    this module actually tests."""
    h = hashlib.blake2b(payload or b"", digest_size=FEATURE_DIM * 4).digest()
    return np.frombuffer(h, dtype=np.uint32).astype(np.float32) / np.float32(2**32)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """(media_id, kind, payload) → FEATURE_DIM float features per item.
    Column-prunes to exactly the needed columns before the Python stage.

    strict=False: deterministic hash-expansion stub for every payload
    (plumbing test mode). strict=True: REAL decode — BMP payloads are
    parsed by decode_bmp (geometry + channel means + pixel probes);
    formats needing codec libs the container lacks raise
    NotImplementedError per item, loudly, instead of faking."""
    decode = _strict_decode_features if strict else _fake_decode_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(p).tolist() for p in pdf["payload"].values]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "kind": pdf["kind"].values,
                "feature": feats,
                "n_bytes": [len(p or b"") for p in pdf["payload"].values],
            })

    return media.select("media_id", "kind", "payload").mapInPandas(run, FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000, strict: bool = False) -> DataFrame:
    """Video frame sampling: one 'frame' per every_ms of duration.
    STUB decode — frames are deterministic hashes of (payload, idx); the
    UDTF-style explode shape (one input row → N output rows) is real."""
    if strict:
        raise NotImplementedError("real frame decode requires ffmpeg")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"].values, pdf["payload"].values, pdf["duration_ms"].values
            ):
                dur = 0 if dur is None or pd.isna(dur) else int(dur)  # null → NaN in pandas
                n = max(1, dur // every_ms)
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(
                        hashlib.blake2b((payload or b"") + struct.pack("<i", i),
                                        digest_size=32).digest()
                    )
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    cols = media.select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )
    return cols.mapInPandas(run, FRAME_SCHEMA)


def _media_row(i: int) -> dict:
    kind = ["image", "audio", "video"][i % 3]
    payload = hashlib.blake2b(str(i).encode(), digest_size=64).digest()
    return {
        "media_id": i, "kind": kind,
        "mime": {"image": "image/jpeg", "audio": "audio/wav",
                 "video": "video/mp4"}[kind],
        "payload": payload,
        "meta": {
            "width": 640 if kind == "image" else None,
            "height": 480 if kind == "image" else None,
            "duration_ms": 3000 + (i % 5) * 1000 if kind != "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
        },
    }


def _gen_media(id_col: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([_media_row(int(i)) for i in pdf[id_col].values],
                               columns=[f.name for f in MEDIA_SCHEMA.fields])
    return gen


def generate_media(spark, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic synthetic media table for tests (seeded payload bytes)."""
    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        _gen_media("id"), MEDIA_SCHEMA)


def media_from_ids(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic media rows keyed by an EXISTING id column — lets a
    harness-replayed query derive its media table from a parquet table
    (e.g. documents.doc_id) instead of self-generating, so an external
    oracle can re-derive the identical shape from the same source table."""
    return ids.select(id_col).mapInPandas(_gen_media(id_col), MEDIA_SCHEMA)


def _bmp_pixels(i: int) -> np.ndarray:
    """Deterministic test image i: W=8+i%9, H=6+i%7, pixel (x, y) =
    (R, G, B) = ((x+i)%256, (2y+i)%256, (3x+5y+i)%256). Every channel is
    a distinct affine form in (x, y), so any transpose / flip / channel
    swap in the decoder shifts at least one probe value."""
    w = 8 + i % 9
    h = 6 + i % 7
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r = (x + i) % 256 + np.zeros((h, w), dtype=np.int64)
    g = (2 * y + i) % 256 + np.zeros((h, w), dtype=np.int64)
    b = (3 * x + 5 * y + i) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def resize_nn(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """REAL nearest-neighbor image resize on decoded (H, W, 3) pixels:
    source index = floor(dst * src_extent / dst_extent) per axis — the
    classic integer NN map, chosen over center-offset variants because it
    is exactly replayable as (x*W)//out_w in any SQL engine, so the
    whole decode → resize → re-encode chain stays oracle-checkable."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad target size {out_w}x{out_h}")
    h, w, _ = px.shape
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    return px[np.ix_(ys, xs)]


def resize_bmp_media(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Distributed image resize over a media table of BMP payloads:
    decode_bmp → resize_nn → encode_bmp per item, Arrow-batched, with the
    payload column pruned to exactly (media_id, payload) before the
    Python stage. Non-BMP payloads raise (decode_bmp's contract) — no
    silent pass-through of bytes the resize never touched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(
                pdf["media_id"].values, pdf["payload"].values
            ):
                rp = resize_nn(decode_bmp(payload), out_w, out_h)
                rows.append({
                    "media_id": int(mid), "kind": "image",
                    "mime": "image/bmp",
                    "payload": encode_bmp(np.ascontiguousarray(rp)),
                    "meta": {"width": out_w, "height": out_h,
                             "duration_ms": None, "sample_rate": None},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return media.select("media_id", "payload").mapInPandas(run, MEDIA_SCHEMA)


def _wav_samples(i: int) -> tuple[np.ndarray, int]:
    """Deterministic test clip i: n = 400 + (37i mod 257) frames at
    sr = 8000 + (i mod 4)*4000 Hz; odd ids mono, even ids stereo;
    ch0[t] = ((3t + i) mod 2000) − 1000 and ch1[t] = ((7t + 2i) mod 2000)
    − 1000. Each channel is a distinct affine-mod form in (t, i), so any
    interleave / channel-swap / truncation bug in the codec shifts at
    least one probe or sum. Returns ((n, nch) int16, sample_rate)."""
    n = 400 + (i * 37) % 257
    nch = 1 if i % 2 == 1 else 2
    t = np.arange(n, dtype=np.int64)
    s0 = (3 * t + i) % 2000 - 1000
    if nch == 1:
        smp = s0[:, None]
    else:
        s1 = (7 * t + 2 * i) % 2000 - 1000
        smp = np.stack([s0, s1], axis=1)
    return smp.astype(np.int16), 8000 + (i % 4) * 4000


def wav_media_from_ids(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic REAL-codec audio table: one PCM WAV per id, samples
    from _wav_samples; every third id carries an odd-length unknown chunk
    before data, so the chunk walk (and its pad byte) stays exercised
    end-to-end, not just in unit tests."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf[id_col].values:
                i = int(i)
                smp, sr = _wav_samples(i)
                rows.append({
                    "media_id": i, "kind": "audio", "mime": "audio/wav",
                    "payload": encode_wav(smp, sr, junk_chunk=(i % 3 == 0)),
                    "meta": {"width": None, "height": None,
                             "duration_ms": int(smp.shape[0] * 1000 // sr),
                             "sample_rate": sr},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return ids.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)


def bmp_media_from_ids(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic REAL-codec media table: one 24-bit BMP per id, pixels
    from _bmp_pixels; odd ids are stored top-down (negative height),
    even ids bottom-up, so both row orders stay exercised end-to-end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf[id_col].values:
                i = int(i)
                px = _bmp_pixels(i)
                rows.append({
                    "media_id": i, "kind": "image", "mime": "image/bmp",
                    "payload": encode_bmp(px, top_down=(i % 2 == 1)),
                    "meta": {"width": px.shape[1], "height": px.shape[0],
                             "duration_ms": None, "sample_rate": None},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return ids.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)
