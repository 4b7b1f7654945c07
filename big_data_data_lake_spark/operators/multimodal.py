"""Multimodal column handling (SURVEY §7 Phase 4): opaque binary
payloads (image/audio/video bytes) with typed metadata, processed by
Arrow-batched ``mapInPandas`` — the sanctioned Python seam for logic
built-in functions can't express.

``decode_image`` is a REAL decoder for every major still format,
with no codec library — PPM (P6), 24-bit BMP, 8-bit PNG (DEFLATE is
stdlib ``zlib``; the scanline filters are numpy), and baseline JPEG
(numpy DCT + pure-Python Huffman, ``operators/jpeg.py``) — with
numpy nearest-neighbor resampling behind ``resize_images``; only
video containers remain a clearly-marked NotImplementedError stub,
because ffmpeg is absent in this container. The plumbing — binary
columns, Arrow batch transfer, output schema — is identical either
way: swapping in PIL/ffmpeg changes only a function body, never the
plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, blob_len int, first_byte int, checksum int"


def attach_blob(df: DataFrame, text_col: str = "text", out: str = "blob") -> DataFrame:
    """Materialize an opaque binary column (stand-in for image/audio
    bytes; in production this is the parquet BINARY column itself).
    NULL text becomes an empty payload — the kernels' existing
    zero-length path — instead of a NULL blob that would crash
    ``len()`` inside every Arrow kernel."""
    return df.withColumn(out, F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8"))


# ---------------------------------------------------------------------------
# Image decode: real for uncompressed formats, loud stub for codecs
# ---------------------------------------------------------------------------


def _ppm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited PPM header token, skipping
    ``#`` comments (the format allows them anywhere in the header)."""
    while pos < len(buf):
        c = buf[pos : pos + 1]
        if c in (b" ", b"\t", b"\r", b"\n"):
            pos += 1
        elif c == b"#":
            nl = buf.find(b"\n", pos)
            pos = len(buf) if nl == -1 else nl + 1
        else:
            break
    start = pos
    while pos < len(buf) and buf[pos : pos + 1] not in (b" ", b"\t", b"\r", b"\n"):
        pos += 1
    return buf[start:pos], pos


def decode_ppm(blob: bytes) -> np.ndarray:
    """Binary PPM (P6): ``P6 <w> <h> <maxval>`` header, then raw RGB.
    Returns (h, w, 3) uint8."""
    tok, pos = _ppm_token(blob, 0)
    if tok != b"P6":
        raise ValueError(f"not a P6 PPM (magic {tok!r})")
    (w_tok, pos) = _ppm_token(blob, pos)
    (h_tok, pos) = _ppm_token(blob, pos)
    (mx_tok, pos) = _ppm_token(blob, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(mx_tok)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    # The spec terminates the header with a SINGLE whitespace byte, but
    # some Windows tools write "\r\n" — skipping blindly one byte would
    # shift the raster and silently corrupt every pixel. Accept either,
    # then validate the raster length so any other malformation raises.
    if blob[pos : pos + 1] not in (b" ", b"\t", b"\r", b"\n"):
        raise ValueError("malformed PPM: no whitespace after maxval")
    offset = pos + 2 if blob[pos : pos + 2] == b"\r\n" else pos + 1
    if len(blob) - offset < w * h * 3:
        raise ValueError(
            f"malformed PPM: raster holds {len(blob) - offset} bytes, "
            f"needs {w * h * 3}"
        )
    data = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=offset)
    return data.reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM bytes (round-trips decode_ppm)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_bmp(blob: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, the plain Windows
    bitmap): BGR rows padded to 4 bytes, stored bottom-up (top-down
    when height is negative). Returns (h, w, 3) uint8 RGB."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = int.from_bytes(blob[10:14], "little")
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    compression = int.from_bytes(blob[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# IHDR color types -> samples per pixel (3 = palette, unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(blob: bytes) -> np.ndarray:
    """REAL PNG decode with no codec library: PNG's only compression
    is DEFLATE (stdlib ``zlib``) plus five per-scanline byte filters,
    so the whole format is parseable with zlib + numpy. Supports the
    overwhelmingly common profile — 8-bit depth, color types
    gray/gray+alpha/RGB/RGBA, non-interlaced — and stays a loud
    ``NotImplementedError`` for palette, 16-bit and Adam7 (rare in
    crawl data; a PIL swap-in changes only this function body).
    Returns (h, w, 3) uint8 RGB (alpha dropped, gray replicated).

    Filters None/Up/Sub vectorize fully (Up is a row add; Sub is a
    per-channel cumsum mod 256). Average/Paeth recurse on the left
    pixel, so those rows fall back to a per-pixel loop — acceptable
    because the kernel runs inside Arrow-batched ``mapInPandas``
    where throughput comes from row parallelism, not single-image
    latency."""
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + payload + CRC
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG: missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, interlace = ihdr[8], ihdr[9], ihdr[12]
    if depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG profile not supported (depth={depth}, color_type={ctype}, "
            f"interlace={interlace}): only 8-bit non-interlaced "
            "gray/GA/RGB/RGBA is built in"
        )
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # crawl data is full of truncated/bit-rotted files; the kernel
        # contract is ValueError so mapInPandas fallbacks catch it
        # instead of the job dying on a zlib.error
        raise ValueError(f"malformed PNG deflate stream: {e}") from None
    if len(raw) != (stride + 1) * h:
        raise ValueError(
            f"malformed PNG: inflated stream holds {len(raw)} bytes, "
            f"needs {(stride + 1) * h}"
        )
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, scan = arr[:, 0], arr[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    zero_row = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, row = int(filters[y]), scan[y]
        prev = out[y - 1] if y else zero_row
        if f == 0:  # None
            rec = row
        elif f == 2:  # Up
            rec = (row + prev) & 0xFF
        elif f == 1:  # Sub: per-channel cumsum mod 256
            rec = np.cumsum(row.reshape(w, ch), axis=0).reshape(stride) & 0xFF
        elif f in (3, 4):  # Average / Paeth: left-recursive
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"malformed PNG: unknown filter type {f}")
        out[y] = rec
    px = out.astype(np.uint8).reshape(h, w, ch)
    if ctype == 2:
        return px
    if ctype == 6:
        return np.ascontiguousarray(px[:, :, :3])
    # gray / gray+alpha -> replicate luma
    return np.repeat(px[:, :, :1], 3, axis=2)


def decode_image(blob: bytes) -> np.ndarray:
    """Decode an image blob to an (h, w, 3) uint8 RGB array.

    Real for every major still format, with no codec library: PPM P6,
    24-bit BMP, 8-bit non-interlaced PNG (stdlib zlib + numpy
    unfilter), and baseline JPEG (numpy DCT + pure-Python Huffman;
    ``operators/jpeg.py``). Video containers stay a LOUD stub — they
    need ffmpeg, absent in this container — as do the rare image
    profiles (progressive JPEG, Adam7/palette PNG)."""
    if blob[:2] == b"P6":
        return decode_ppm(blob)
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    if blob[:8] == _PNG_SIG:
        return decode_png(blob)
    if blob[:2] == b"\xff\xd8":
        from . import jpeg as _jpeg

        return _jpeg.decode_jpeg(blob)
    raise NotImplementedError(
        "PPM(P6)/BMP-24/PNG-8/baseline-JPEG decode is built in; video "
        "containers need ffmpeg, absent in this container"
    )


def resize_nearest(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample via pure index arithmetic — the
    deterministic, dependency-free kernel behind resize_images."""
    h, w = img.shape[:2]
    rows = (np.arange(target_h) * h) // target_h
    cols = (np.arange(target_w) * w) // target_w
    return img[rows][:, cols]


def extract_features(df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob") -> DataFrame:
    """Byte-level feature extraction over Arrow batches: length, first
    byte, additive checksum. Deterministic stand-in for a real decoder;
    batch shape and schema are production-identical."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "blob_len": blobs.map(len).astype("int32"),
                    "first_byte": blobs.map(lambda b: b[0] if len(b) else -1).astype("int32"),
                    # numpy view per blob — no per-byte Python loop
                    # (uint8 sum promotes to platform int, never wraps)
                    "checksum": blobs.map(
                        lambda b: int(np.frombuffer(b, dtype=np.uint8).sum()) % 256
                    ).astype("int32"),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id bigint, width int, height int, resized binary"


def resize_images(
    df: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Image resize over Arrow batches: decodable blobs (PPM/BMP) do
    REAL pixel work — decode, numpy nearest-neighbor resample to
    (target_h, target_w), re-encode as PPM so the output column is
    itself a decodable image. Blobs in formats the container can't
    decode fall back to a deterministic byte truncate/pad (the
    plumbing stand-in), so mixed-format corpora never kill the job —
    the production posture for crawl data full of half-broken files."""

    n = target_w * target_h

    def one(b: bytes) -> bytes:
        try:
            img = decode_image(bytes(b))
        except (NotImplementedError, ValueError):
            return bytes(b[:n]).ljust(n, b"\0")
        return encode_ppm(resize_nearest(img, target_w, target_h))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": target_w,
                    "height": target_h,
                    "resized": blobs.map(one),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(op, schema=RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: real decode for the dependency-free formats (WAV/PCM)
# ---------------------------------------------------------------------------


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE with 16-bit PCM data: returns ((n_samples, channels)
    int16, sample_rate). Pure header arithmetic + numpy frombuffer —
    no codec library. Compressed audio (MP3/AAC/OGG) is not decodable
    without libs absent from this container and raises loudly."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        sz = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only 16-bit PCM WAV is built in (format={audio_format}, bits={bits}); "
            "compressed audio needs ffmpeg, absent in this container"
        )
    if channels <= 0 or rate <= 0:
        # a corrupt fmt chunk must downgrade to the raw-PCM fallback,
        # not ZeroDivisionError an executor task
        raise ValueError(f"corrupt WAV fmt chunk (channels={channels}, rate={rate})")
    n = len(data) // (2 * channels)
    samples = np.frombuffer(data, dtype="<i2", count=n * channels).reshape(n, channels)
    return samples, rate


def _as_mono_float(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode to mono float in [-1, 1]: real WAV decode when the blob
    is RIFF; otherwise the bytes are INTERPRETED as headerless
    unsigned-8-bit PCM at 8 kHz — itself a real raw-audio format (the
    telephony u8 convention), so even the fallback is genuine DSP, not
    a fake. Mixed-format corpora never kill the job. A NULL payload
    decodes as zero samples (crawl posture: missing media is empty,
    not fatal)."""
    if blob is None:
        return np.zeros(0, dtype=np.float64), 8000
    try:
        samples, rate = decode_wav(bytes(blob))
        return samples.astype(np.float64).mean(axis=1) / 32768.0, rate
    except (ValueError, NotImplementedError):
        u8 = np.frombuffer(bytes(blob), dtype=np.uint8)
        return (u8.astype(np.float64) - 128.0) / 128.0, 8000


AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples int, duration_ms double, "
    "rms double, peak double"
)


def audio_features(df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob") -> DataFrame:
    """Per-clip audio features over Arrow batches: duration, RMS
    level, absolute peak — the triage signals an audio-data pipeline
    filters on (silence, clipping, truncation) before expensive
    transcription. Real signal math on decodable blobs; row-local, so
    the operator is a pure mapInPandas with zero shuffles."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("doc_id", "sample_rate", "n_samples", "duration_ms", "rms", "peak")}
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                x, rate = _as_mono_float(blob)
                out["doc_id"].append(int(doc_id))
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(x))
                out["duration_ms"].append(round(len(x) * 1000.0 / rate, 3))
                out["rms"].append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
                out["peak"].append(float(np.max(np.abs(x))) if len(x) else 0.0)
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(op, schema=AUDIO_FEATURE_SCHEMA)
