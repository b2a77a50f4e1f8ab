"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a metadata struct;
decode / feature-extract / resize run as Arrow-batched ``mapInPandas``
stages. The actual codecs are NOT in this container, so the
decode step is stubbed: ``decode_stub`` raises ``NotImplementedError`` where
a real codec would run, and ``deterministic_features`` is the seeded fake
used by tests — the Spark-side plumbing (schema, batch shape, partitioning,
never-throw error channel) is real and tested.

Scale shape: the binary column stays columnar end-to-end (Arrow buffers, no
base64 round-trips); feature extraction is a per-row map with no shuffle;
partitioning follows the parent table.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

ASSET_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("payload", BinaryType(), True),
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", LongType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("content_hash", StringType(), False),
    StructField("features", ArrayType(DoubleType()), True),
    StructField("error", StringType(), True),
])

FEATURE_DIM = 16


def decode_stub(payload: bytes, kind: str):
    """Where a real decoder would run (PIL / libav are not in this
    container). Marked clearly so the integration point is obvious."""
    raise NotImplementedError(
        f"no {kind} codec in this environment — swap in a real decoder here")


PPM_MIME = "image/x-portable-pixmap"


def decode_ppm(payload: bytes):
    """REAL image decode for binary PPM (P6) — the one raster format a
    pure numpy parser can own with no external codec: ASCII header
    (magic, width, height, maxval; '#' comments legal between tokens),
    one whitespace byte, then raw RGB. Returns an (H, W, 3) uint8 array.

    Not a toy in context: the point of the multimodal column design is
    that decode is a per-row Arrow-batched map over an opaque binary
    column — this function proves the whole path (bytes in parquet →
    numpy pixels → stats) with a genuine parser, while JPEG/PNG remain
    routed to decode_stub until a codec exists in the container."""
    import numpy as np
    if payload is None or len(payload) < 2 or payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(payload[start:pos])
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        raise ValueError("non-numeric PPM header field")
    if w <= 0 or h <= 0 or not 0 < maxval < 256:
        raise ValueError("unsupported PPM geometry or maxval")
    pos += 1  # exactly one whitespace byte after maxval, per spec
    pix = payload[pos:pos + 3 * w * h]
    if len(pix) != 3 * w * h:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)


def decode(payload: bytes, mime: str):
    """Codec dispatch: PPM decodes for real; everything else hits the
    stub (the integration point for PIL/libav when present)."""
    if mime == PPM_MIME:
        return decode_ppm(payload)
    return decode_stub(payload, mime or "unknown")


def deterministic_features(payload: bytes, dim: int = FEATURE_DIM) -> List[float]:
    """Seeded fake feature vector: md5 hex-digest chain → [0,1) doubles
    (each value is an 8-hex-digit slice / 2^32 — an exact dyadic rational,
    so sums are bit-exact across engines). Deterministic stand-in for an
    embedding model; hex-string chaining (seed_{j+1} = md5(ascii hex of
    seed_j)) keeps every step expressible in SQL, which is what lets the
    driver verify this path against a DuckDB oracle."""
    out: List[float] = []
    seed = hashlib.md5(payload or b"").hexdigest()
    while len(out) < dim:
        for i in range(0, 32, 8):
            out.append(int(seed[i:i + 8], 16) / 2 ** 32)
            if len(out) == dim:
                break
        seed = hashlib.md5(seed.encode("ascii")).hexdigest()
    return out


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for asset_id, kind, payload in zip(pdf["asset_id"], pdf["kind"],
                                           pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            try:
                feats = deterministic_features(raw)
                err = None
            except Exception as exc:  # never throw — error channel instead
                feats, err = None, f"{type(exc).__name__}: {exc}"
            rows.append({
                "asset_id": asset_id,
                "kind": kind,
                "n_bytes": len(raw),
                "content_hash": hashlib.md5(raw).hexdigest(),
                "features": feats,
                "error": err,
            })
        yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


def extract_features(assets: DataFrame) -> DataFrame:
    """binary assets → fixed-dim feature rows (Arrow-batched map, no shuffle)."""
    return assets.select("asset_id", "kind", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA)


IMAGE_STATS_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("img_width", IntegerType(), True),
    StructField("img_height", IntegerType(), True),
    StructField("mean_r", DoubleType(), True),
    StructField("mean_g", DoubleType(), True),
    StructField("mean_b", DoubleType(), True),
    StructField("error", StringType(), True),
])


def _image_stat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for asset_id, mime, payload in zip(pdf["asset_id"], pdf["mime"],
                                           pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            rec = {"asset_id": asset_id, "n_bytes": len(raw),
                   "img_width": None, "img_height": None,
                   "mean_r": None, "mean_g": None, "mean_b": None,
                   "error": None}
            try:  # never throw — error channel instead
                img = decode(raw, mime)
                h, w = img.shape[:2]
                means = img.reshape(-1, 3).mean(axis=0, dtype="float64")
                rec.update(img_width=w, img_height=h,
                           mean_r=round(float(means[0]), 6),
                           mean_g=round(float(means[1]), 6),
                           mean_b=round(float(means[2]), 6))
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"
            rows.append(rec)
        yield pd.DataFrame(rows,
                           columns=[f.name for f in IMAGE_STATS_SCHEMA.fields])


def image_stats(assets: DataFrame) -> DataFrame:
    """Decode image payloads (PPM real, others → error channel) and emit
    per-image geometry + channel means — dimensions come from the DECODED
    array, never trusted metadata. Arrow-batched map, no shuffle; the
    binary column stays columnar end-to-end."""
    return assets.select("asset_id", "mime", "payload").mapInPandas(
        _image_stat_batches, schema=IMAGE_STATS_SCHEMA)


WAV_MIME = "audio/wav"

AUDIO_STATS_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("sample_rate", IntegerType(), True),
    StructField("n_channels", IntegerType(), True),
    StructField("n_frames", LongType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("peak", IntegerType(), True),
    StructField("mean_abs", DoubleType(), True),
    StructField("error", StringType(), True),
])


def decode_wav(payload: bytes):
    """REAL audio decode for 16-bit PCM WAV (RIFF) — like decode_ppm,
    the one audio container a pure numpy parser can own: RIFF/WAVE
    envelope, chunk walk (unknown chunks skipped, odd sizes padded per
    spec), fmt validation (PCM, 16-bit), then the data chunk as
    little-endian int16 frames. Returns (sample_rate, n_channels,
    samples[(n_frames, n_channels) int16]). Compressed audio (mp3 etc.)
    stays routed to decode_stub until a codec exists in the container."""
    import numpy as np
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = body
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated WAV data chunk")
            data = body
        pos += 8 + size + (size & 1)  # odd chunks carry a pad byte
    if fmt is None or data is None:
        raise ValueError("missing WAV fmt or data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding (format={audio_format}, "
                         f"bits={bits}); PCM 16-bit only")
    if n_channels < 1 or sample_rate < 1:
        raise ValueError("unsupported WAV geometry")
    if len(data) % (2 * n_channels):
        raise ValueError("WAV data length not frame-aligned")
    samples = np.frombuffer(data, dtype="<i2").reshape(-1, n_channels)
    return sample_rate, n_channels, samples


def _audio_stat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np
    for pdf in batches:
        rows = []
        for asset_id, mime, payload in zip(pdf["asset_id"], pdf["mime"],
                                           pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            rec = {"asset_id": asset_id, "n_bytes": len(raw),
                   "sample_rate": None, "n_channels": None,
                   "n_frames": None, "duration_ms": None,
                   "peak": None, "mean_abs": None, "error": None}
            try:  # never throw — error channel instead
                if mime != WAV_MIME:
                    decode_stub(raw, mime or "unknown")
                rate, ch, samples = decode_wav(raw)
                nf = samples.shape[0]
                a = np.abs(samples.astype("int32"))
                rec.update(sample_rate=rate, n_channels=ch, n_frames=nf,
                           duration_ms=nf * 1000 // rate,
                           peak=int(a.max()) if nf else 0,
                           mean_abs=round(float(a.mean()), 6) if nf
                           else 0.0)
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"
            rows.append(rec)
        yield pd.DataFrame(rows,
                           columns=[f.name for f in AUDIO_STATS_SCHEMA.fields])


def audio_stats(assets: DataFrame) -> DataFrame:
    """Decode audio payloads (PCM WAV real, others → error channel) and
    emit per-asset geometry + amplitude stats — rate/channels/frames come
    from the DECODED stream, never trusted metadata. Arrow-batched map,
    no shuffle; the binary column stays columnar end-to-end."""
    return assets.select("asset_id", "mime", "payload").mapInPandas(
        _audio_stat_batches, schema=AUDIO_STATS_SCHEMA)


GIF_MIME = "image/gif"

GIF_META_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("error", StringType(), True),
])


def decode_gif_meta(payload: bytes):
    """REAL container walk for GIF87a/89a — the animation-family member
    of the decoder trio (PPM raster, WAV PCM, GIF container): header +
    logical screen descriptor, then the block stream — image descriptors
    (local color table + LZW sub-blocks SKIPPED structurally, no codec
    needed to count frames), extensions, trailer. Returns
    (width, height, n_frames). Frame PIXELS stay undecoded — LZW is a
    codec and codecs route through decode_stub; counting and geometry
    are container facts this parser owns end to end."""
    if payload is None or len(payload) < 13 \
            or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    pos = 13
    if flags & 0x80:  # global color table: 3 * 2^(n+1) bytes
        pos += 3 * (2 << (flags & 0x07))

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF sub-block stream")
            size = payload[p]
            p += 1
            if size == 0:
                return p
            p += size

    frames = 0
    while True:
        if pos >= len(payload):
            raise ValueError("GIF ended without trailer")
        block = payload[pos]
        pos += 1
        if block == 0x3B:          # trailer
            break
        if block == 0x2C:          # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            iflags = payload[pos + 8]
            pos += 9
            if iflags & 0x80:      # local color table
                pos += 3 * (2 << (iflags & 0x07))
            pos += 1               # LZW minimum code size
            pos = skip_subblocks(pos)
            frames += 1
        elif block == 0x21:        # extension: label + sub-blocks
            pos += 1
            pos = skip_subblocks(pos)
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if frames == 0:
        raise ValueError("GIF contains no image frames")
    return width, height, frames


def _gif_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for asset_id, mime, payload in zip(pdf["asset_id"], pdf["mime"],
                                           pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            rec = {"asset_id": asset_id, "n_bytes": len(raw),
                   "width": None, "height": None, "n_frames": None,
                   "error": None}
            try:  # never throw — error channel instead
                if mime != GIF_MIME:
                    decode_stub(raw, mime or "unknown")
                w, h, n = decode_gif_meta(raw)
                rec.update(width=w, height=h, n_frames=n)
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"
            rows.append(rec)
        yield pd.DataFrame(rows,
                           columns=[f.name for f in GIF_META_SCHEMA.fields])


def gif_meta(assets: DataFrame) -> DataFrame:
    """Container-walk GIF payloads (frame count + geometry from the
    DECODED structure, never trusted metadata); other mimes → error
    channel. Arrow-batched map, no shuffle."""
    return assets.select("asset_id", "mime", "payload").mapInPandas(
        _gif_meta_batches, schema=GIF_META_SCHEMA)
