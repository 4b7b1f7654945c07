"""Test-input encoders: PNG, WAV and baseline JPEG writers.

The package only decodes media (``operators/multimodal.py``,
``operators/jpeg.py``); these encoders build the blobs the decoder
tests feed it. Import as ``from _encoders import encode_jpeg`` (the
tests directory is on ``sys.path`` under pytest). The module is not
called ``_codecs``: that name is a built-in module, already imported,
so ``from _codecs import ...`` would never reach this file.
"""

from __future__ import annotations

import numpy as np

from big_data_data_lake_spark.operators.jpeg import ZIGZAG, _C, _huff_encode_table
from big_data_data_lake_spark.operators.multimodal import _PNG_SIG


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (8-bit color type 2, filter
    None per scanline, stdlib zlib DEFLATE + CRCs). Round-trips
    ``decode_png`` exactly; any external PNG reader accepts it."""
    import zlib

    h, w = img.shape[:2]
    body = np.ascontiguousarray(img, dtype=np.uint8)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n, channels) int16 -> 16-bit PCM WAV bytes (round-trips
    decode_wav)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * ch * 2).to_bytes(4, "little")
        + (ch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


# --------------------------------------------------------------------------
# Baseline JPEG encoder (4:4:4, ITU-T T.81 Annex K tables)
# --------------------------------------------------------------------------

QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# Standard Huffman tables: (bits[1..16], values). Only the encoder
# hardcodes these; the decoder builds its tables from the DHT segments
# in the file, so it reads any spec-conformant baseline JPEG.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (H//8 * W//8, 8, 8) row-major block view (H, W % 8 == 0)."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    """Size class: number of bits to represent |v| (0 for v == 0)."""
    return 0 if v == 0 else int(abs(v)).bit_length()


def _amplitude_bits(v: int, s: int) -> int:
    """T.81 F.1.2.1: negative amplitudes use the one's-complement form."""
    return v if v >= 0 else v + (1 << s) - 1


def encode_jpeg(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes (4:4:4, Annex K
    quantization + Huffman tables). Lossy like any JPEG encode;
    ``decode_jpeg`` recovers the image within quantization error."""
    h, w = img.shape[:2]
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    qts = [QT_LUMA, QT_CHROMA, QT_CHROMA]
    dc_tabs = [
        _huff_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
        _huff_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    ac_tabs = [
        _huff_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
        _huff_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]
    # quantized zigzag coefficients per component, block row-major
    comp_coefs = []
    for ci, plane in enumerate(planes):
        padded = np.empty((ph, pw))
        padded[:h, :w] = plane
        padded[h:, :w] = plane[-1:, :]  # edge-replicate padding
        padded[:, w:] = padded[:, w - 1 : w]
        blocks = _blocks(padded - 128.0)
        coefs = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
        q = np.round(coefs / qts[ci][None]).astype(np.int64)
        comp_coefs.append(q.reshape(-1, 64)[:, ZIGZAG])

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    n_blocks = (ph // 8) * (pw // 8)
    for bi in range(n_blocks):
        for ci in range(3):
            ti = 0 if ci == 0 else 1
            zz = comp_coefs[ci][bi]
            diff = int(zz[0]) - prev_dc[ci]
            prev_dc[ci] = int(zz[0])
            s = _category(diff)
            code, ln = dc_tabs[ti][s]
            bw.put(code, ln)
            if s:
                bw.put(_amplitude_bits(diff, s), s)
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    if k > last_nz:
                        code, ln = ac_tabs[ti][0x00]  # EOB
                        bw.put(code, ln)
                        break
                    run += 1
                    if run == 16:
                        code, ln = ac_tabs[ti][0xF0]  # ZRL
                        bw.put(code, ln)
                        run = 0
                else:
                    s = _category(v)
                    code, ln = ac_tabs[ti][(run << 4) | s]
                    bw.put(code, ln)
                    bw.put(_amplitude_bits(v, s), s)
                    run = 0
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    def dqt(tid: int, qt: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(x) for x in qt.reshape(64)[ZIGZAG]))

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    sof = seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([3])
        + bytes([1, 0x11, 0])  # Y: 1x1, qt 0
        + bytes([2, 0x11, 1])  # Cb: 1x1, qt 1
        + bytes([3, 0x11, 1]),  # Cr: 1x1, qt 1
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, QT_LUMA)
        + dqt(1, QT_CHROMA)
        + dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
        + dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
        + dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        + dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
        + sof
        + sos
        + scan
        + b"\xff\xd9"
    )
