"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct — exactly how the html column of the pages table
works. The Spark-side machinery (schemas, Arrow batching, mapInPandas
signatures, partitioning) is real and tested, and so are the codecs for
the formats stdlib can express: PNG/BMP pixels (vendored decoders below)
and PCM WAV audio (:func:`decode_wav`), each bit-exact-tested against an
independent in-test encoder. Compressed media (jpeg/mp3/video) still
needs PIL/ffmpeg/torchaudio — those paths raise loudly, and the
deterministic sha256 fakes (``_fake_decode``/``_fake_audio``) exist so
the plumbing and the SQL-twinned catalog queries run without them.

Scale notes: binary payloads are the one column you must NOT let a shuffle
drag around. Operators here project metadata/features out of the payload
in a narrow map, then drop the payload before any wide transformation —
the 100 TB rule: shuffle features, never bytes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def decode_media(payload: bytes) -> np.ndarray:
    """Decode an IMAGE payload to an H x W x 3 uint8 RGB array. Prefers
    PIL when installed (any format PIL knows); otherwise the vendored
    stdlib decoders below handle PNG (8-bit gray/RGB/RGBA,
    non-interlaced) and uncompressed 24-bit BMP — so real pixels ARE
    decoded even in codec-less environments, asserted bit-exact against
    a test-side encoder. Audio/video (and exotic image formats without
    PIL) still raise loudly: those genuinely need ffmpeg/torchaudio."""
    try:
        import io

        from PIL import Image  # optional dep, like openpyxl in readers

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError:
        pass
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    raise NotImplementedError(
        "payload is not PNG/BMP and no image library is installed; "
        "WAV audio decodes via decode_wav; video (and non-WAV audio) "
        "decoding requires ffmpeg/torchaudio (optional deps)"
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, mono float64 samples in [-1, 1]) for a PCM WAV
    payload via the stdlib ``wave`` module — 8/16/32-bit integer PCM,
    any channel count (channels are mean-mixed to mono). The audio
    counterpart of the vendored PNG/BMP decoders: real samples ARE
    decoded in codec-less environments, bit-exact-tested against an
    independent in-test encoder; compressed formats (mp3/ogg/flac)
    still raise loudly — those genuinely need ffmpeg/torchaudio."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if sw == 1:  # 8-bit WAV is unsigned
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        arr = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(
            f"WAV sample width {sw} bytes unsupported (8/16/32-bit PCM only)"
        )
    if nch > 1:
        arr = arr.reshape(-1, nch).mean(axis=1)
    return rate, arr


def audio_features(samples: np.ndarray) -> np.ndarray:
    """FEATURE_DIM-slice RMS energy envelope, peak-normalized — the
    audio counterpart of :func:`real_features`' luminance histogram.
    Deterministic (linspace slice bounds are a pure function of the
    sample count) and round(6)-stable like every feature emitted here."""
    n = samples.size
    if n == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    bounds = np.linspace(0, n, FEATURE_DIM + 1).astype(np.int64)
    rms = np.array(
        [
            np.sqrt(np.mean(samples[a:b] ** 2)) if b > a else 0.0
            for a, b in zip(bounds[:-1], bounds[1:])
        ]
    )
    peak = rms.max()
    if peak > 0:
        rms = rms / peak
    return rms.astype(np.float32).round(6)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(payload: bytes) -> np.ndarray:
    """Stdlib PNG subset decoder: 8-bit depth, color types 0 (gray),
    2 (RGB), 6 (RGBA), no interlace. Chunk walk + zlib + the five
    per-row filters (spec section 9); alpha is dropped, gray is
    replicated to RGB. Payloads are dimension-bounded per row of the
    media frame, and this runs inside the Arrow batch map — per-pixel
    python cost is bounded by the same batch sizing as the fake path."""
    import struct
    import zlib

    pos = 8
    idat = b""
    width = height = None
    color_type = bit_depth = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bit_depth != 8 or color_type not in (0, 2, 6) or interlace:
                raise NotImplementedError(
                    f"PNG subset: bit_depth={bit_depth} color_type="
                    f"{color_type} interlace={interlace} not supported "
                    "without PIL"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        row = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for x in range(channels, stride):
                row[x] = (row[x] + row[x - channels]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = row[x - channels] if x >= channels else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = row[x - channels] if x >= channels else 0
                ul = prev[x - channels] if x >= channels else 0
                row[x] = (row[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[r] = row
        prev = row
    arr = out.reshape(height, width, channels)
    if channels == 1:
        return np.repeat(arr, 3, axis=2)
    return arr[:, :, :3].copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Stdlib BMP decoder: uncompressed 24-bit BI_RGB only (the format
    the reference's report assets use when rasterized)."""
    import struct

    (data_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP subset: {bpp}-bit compression={compression} not "
            "supported without PIL"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    rows = []
    for r in range(height):
        off = data_off + r * stride
        row = np.frombuffer(
            payload, dtype=np.uint8, count=width * 3, offset=off
        ).reshape(width, 3)[:, ::-1]  # BGR -> RGB
        rows.append(row)
    if bottom_up:
        rows.reverse()
    return np.stack(rows)


def real_features(arr: np.ndarray) -> np.ndarray:
    """FEATURE_DIM-bin normalized luminance histogram of decoded pixels
    — the real counterpart of _fake_decode's hash features."""
    lum = (
        0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    )
    hist, _ = np.histogram(lum, bins=FEATURE_DIM, range=(0.0, 256.0))
    return (hist / max(1, lum.size)).astype(np.float32).round(6)


def _fake_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in for decode+feature-extract: dimensions and a
    FEATURE_DIM-float feature vector derived from sha256 of the bytes.
    Pure function of the payload -> same invariance guarantees as the real
    thing, so all plumbing tests are meaningful."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0]
    height = 64 + h[1]
    raw = np.frombuffer(
        hashlib.sha256(b"feat" + payload).digest() + hashlib.sha256(b"feat2" + payload).digest(),
        dtype=np.uint8,
    )[:FEATURE_DIM]
    feats = (raw.astype(np.float32) / 255.0).round(6)
    return width, height, feats


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_sec", DoubleType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def _fake_audio(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic sha256 stand-in for the WAV decode, mirroring
    _fake_decode: (sample_rate, n_samples, features) as pure functions
    of the payload bytes — and therefore SQL-expressible, which is what
    lets q_multimodal_audio carry a DuckDB twin over text payloads."""
    h = hashlib.sha256(payload).digest()
    sample_rate = 8000 + h[0] * 64
    n_samples = 1000 + h[2] * 256 + h[3]
    raw = np.frombuffer(
        hashlib.sha256(b"afeat" + payload).digest(), dtype=np.uint8
    )[:FEATURE_DIM]
    feats = (raw.astype(np.float32) / 255.0).round(6)
    return sample_rate, n_samples, feats


def extract_audio_features(
    media: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "payload",
    codec: str = "fake",
) -> DataFrame:
    """WAV payloads -> (sample_rate, n_samples, duration, RMS-envelope
    features), Arrow-batched; the payload is consumed inside the map —
    downstream shuffles carry FEATURE_DIM floats and four scalars, never
    the audio bytes. ``codec="real"`` runs :func:`decode_wav` (stdlib
    PCM decode, bit-exact-tested); undecodable payloads raise rather
    than silently degrade. ``codec="fake"`` is the sha256 stand-in the
    catalog twin uses over text payloads (same plumbing, no samples)."""
    if codec not in ("fake", "real"):
        raise ValueError(f"codec must be 'fake' or 'real', got {codec!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, rates, counts, durs, feats = [], [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[bytes_col]):
                data = bytes(payload) if payload is not None else b""
                if codec == "real":
                    rate, samples = decode_wav(data)
                    ns = int(samples.size)
                    fv = audio_features(samples)
                else:
                    rate, ns, fv = _fake_audio(data)
                ids.append(mid)
                nb.append(len(data))
                rates.append(rate)
                counts.append(ns)
                # RAW division — consumers round engine-side (F.round /
                # SQL ROUND share half-away semantics; Python's round()
                # is half-even and diverges on exact 5e-7 ties, which
                # integer sample/rate ratios genuinely produce)
                durs.append(ns / rate)
                feats.append(fv.tolist())
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "duration_sec": pd.Series(durs, dtype="float64"),
                    "features": feats,
                }
            )

    return media.select(id_col, bytes_col).mapInPandas(run, AUDIO_SCHEMA)


def extract_media_features(
    media: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "payload",
    kind_col: str = "kind",
    codec: str = "fake",
) -> DataFrame:
    """binary payloads -> (metadata, feature vector), Arrow-batched.
    The payload column is consumed inside the map and does not appear in
    the output schema — downstream shuffles move 16 floats, not megabytes.

    ``codec="real"`` decodes actual pixels via :func:`decode_media`
    (PIL when installed, else the vendored stdlib PNG/BMP decoders) and
    emits true dimensions + a luminance histogram; undecodable payloads
    raise rather than silently degrade. ``codec="fake"`` (default) is
    the deterministic hash stand-in the catalog queries use over text
    payloads — clearly subordinate: same plumbing, no pixels."""
    if codec not in ("fake", "real"):
        raise ValueError(f"codec must be 'fake' or 'real', got {codec!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, nb, ws, hs, feats = [], [], [], [], [], []
            for mid, kind, payload in zip(pdf[id_col], pdf[kind_col], pdf[bytes_col]):
                data = bytes(payload) if payload is not None else b""
                if codec == "real" and kind == "audio":
                    # the WAV path closes the audio half of the former
                    # declared boundary; video still raises in decode_media
                    _, samples = decode_wav(data)
                    w = h = None
                    fv = audio_features(samples)
                elif codec == "real":
                    arr = decode_media(data)
                    h, w = arr.shape[0], arr.shape[1]
                    fv = real_features(arr)
                else:
                    w, h, fv = _fake_decode(data)
                ids.append(mid)
                kinds.append(kind)
                nb.append(len(data))
                ws.append(w if kind == "image" else None)
                hs.append(h if kind == "image" else None)
                feats.append(fv.tolist())
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "width": pd.Series(ws, dtype="Int32"),
                    "height": pd.Series(hs, dtype="Int32"),
                    "features": feats,
                }
            )

    return media.select(id_col, kind_col, bytes_col).mapInPandas(run, FEATURES_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_n: int = 30, id_col: str = "media_id", nframes_col: str = "n_frames"
) -> DataFrame:
    """Video frame-sampling as a JVM-side explode of frame indices —
    the per-frame decode would then be a mapInPandas over this plan.
    (media_id, frame_idx); one row per sampled frame. Zero-frame media
    emit NO rows (filtered before the sequence: clamping the bound to 0
    instead would fabricate a phantom frame 0 the decode cannot read,
    and an unclamped sequence(0, -1) is an ANSI error)."""
    idxs = F.sequence(F.lit(0), F.col(nframes_col) - 1, F.lit(every_n))
    return (
        media.filter(F.col(nframes_col) >= 1)
        .select(F.col(id_col), F.explode(idxs).alias("frame_idx"))
    )


def docs_as_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kind: str = "image",
) -> DataFrame:
    """Test adapter: wrap a text table's bytes as fake payloads of the
    given kind so the multimodal plumbing is exercised end-to-end
    without real codecs."""
    return docs.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )
