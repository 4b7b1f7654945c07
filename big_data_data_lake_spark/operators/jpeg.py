"""Baseline JPEG decoder in pure numpy + stdlib — no libjpeg.

Baseline sequential JPEG (ITU-T T.81) needs exactly four ingredients,
none of which require a codec library: an 8x8 DCT (a numpy matrix
product), scalar quantization, zigzag run-length coding, and canonical
Huffman coding (a pure-Python bit reader). This module decodes
baseline SOF0 (any sampling factors up to 2x2, gray or YCbCr), which
covers the overwhelming majority of crawl-data JPEGs; the
genuinely rare profiles — progressive SOF2, arithmetic coding,
12-bit — stay loud ``NotImplementedError``s.

Like the PNG decoder next door (multimodal.decode_png), single-image
latency is not the design target: these kernels run inside
Arrow-batched ``mapInPandas``, where throughput comes from row
parallelism across executor cores. The Huffman loops are sequential
by nature (bit-serial entropy coding); everything block-shaped (DCT,
quantization, color transform, upsampling) is vectorized numpy.

Reference semantics ported: the reference pipeline treats image
payloads as opaque blobs (SURVEY §2 M-family); this makes the decode
seam real for one more major format.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# Constant tables (ITU-T T.81)
# --------------------------------------------------------------------------

# zigzag position -> row-major block index
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8x8 DCT-II basis: dct2(b) = C @ b @ C.T, idct2(B) = C.T @ B @ C
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(2.0 / 8.0)
_C[0, :] = np.sqrt(1.0 / 8.0)


def _unblocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


# --------------------------------------------------------------------------
# Canonical Huffman
# --------------------------------------------------------------------------


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via canonical assignment (T.81 C.2)."""
    table, code, vi = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[vals[vi]] = (code, ln)
            code += 1
            vi += 1
        code <<= 1
    return table


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    enc = _huff_encode_table(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("malformed JPEG: entropy stream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def symbol(self, table: dict[tuple[int, int], int]) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | self.bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("malformed JPEG: invalid Huffman code")


def _extend(bits: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: an s-bit amplitude field to its signed
    value (negative amplitudes are coded in one's-complement form)."""
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


# --------------------------------------------------------------------------
# Decoder (baseline SOF0, 1 or 3 components, sampling factors <= 2)
# --------------------------------------------------------------------------


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB. Reads quantization and
    Huffman tables from the stream, so it reads any spec-conformant
    baseline file. Progressive (SOF2),
    arithmetic coding, 12-bit, restart intervals and >2x sampling
    factors raise NotImplementedError; every malformation raises
    ValueError (never IndexError/KeyError — crawl blobs are hostile,
    and the mapInPandas fallback paths catch exactly these two
    types)."""
    try:
        return _decode_jpeg_impl(blob)
    except (IndexError, KeyError) as e:
        raise ValueError(
            f"malformed JPEG: {type(e).__name__}: {e}"
        ) from None


def _decode_jpeg_impl(blob: bytes) -> np.ndarray:
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    scan_comps: list[tuple[int, int, int]] = []
    scan_data = b""
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("malformed JPEG: expected marker")
        # T.81 allows any number of FF fill bytes before a marker;
        # without this skip a fill byte reads as "marker 0xFF" and
        # the next two bytes parse as a garbage segment length
        # (advisor finding, r5)
        while pos + 4 <= len(blob) and blob[pos + 1] == 0xFF:
            pos += 1
        marker = blob[pos + 1]
        if marker in (0xD8, 0xD9):
            pos += 2
            continue
        ln = int.from_bytes(blob[pos + 2 : pos + 4], "big")
        payload = blob[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                prec, tid = payload[p] >> 4, payload[p] & 0xF
                if prec:
                    raise NotImplementedError("16-bit quantization tables")
                qt = np.zeros(64, dtype=np.int32)
                qt[ZIGZAG] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                qtabs[tid] = qt.reshape(8, 8)
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                cls, tid = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nv])
                htabs[(cls, tid)] = _huff_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:
            if payload[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            nc = payload[5]
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG")
            for i in range(nc):
                cid, hv, qid = payload[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "q": qid}
                )
            if any(c["h"] == 0 or c["v"] == 0 for c in comps):
                # A factor of 0 is illegal per ITU-T T.81 §B.2.2 (Hi/Vi in
                # 1..4); without this check the subsample-ratio division at
                # plane reconstruction (vmax // c["v"]) would raise a bare
                # ZeroDivisionError on a single-bit-corrupted file — outside
                # the decoder's ValueError/NotImplementedError contract.
                raise ValueError("invalid JPEG sampling factors (0)")
            if any(c["h"] > 2 or c["v"] > 2 for c in comps):
                raise NotImplementedError("sampling factors > 2")
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("only baseline sequential (SOF0) JPEG")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals (DRI)")
        elif marker == 0xDA:
            ns = payload[0]
            for i in range(ns):
                cid, tt = payload[1 + 2 * i], payload[2 + 2 * i]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            # entropy stream runs to the next real marker (skip 0xFF00
            # stuffing); collect and un-stuff
            raw = bytearray()
            while pos < len(blob):
                bch = blob[pos]
                if bch == 0xFF:
                    nxt = blob[pos + 1] if pos + 1 < len(blob) else 0xD9
                    if nxt == 0x00:
                        raw.append(0xFF)
                        pos += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        raise NotImplementedError("restart markers in scan")
                    break
                raw.append(bch)
                pos += 1
            scan_data = bytes(raw)
            break
        # other segments (APPn, COM) are metadata — skipped
    if not comps or not scan_data:
        raise ValueError("truncated JPEG: missing SOF/SOS")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component plane dims in blocks (MCU-padded)
    for c in comps:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 8, 8), dtype=np.float64)
    by_id = {c["id"]: c for c in comps}
    order = []
    for cid, dc_t, ac_t in scan_comps:
        c = by_id[cid]
        c["dc_t"], c["ac_t"] = dc_t, ac_t
        order.append(c)

    br = _BitReader(scan_data)
    prev_dc = {c["id"]: 0 for c in comps}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in order:
                dct = htabs[(0, c["dc_t"])]
                act = htabs[(1, c["ac_t"])]
                for vy in range(c["v"]):
                    for vx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        s = br.symbol(dct)
                        diff = _extend(br.bits(s), s) if s else 0
                        prev_dc[c["id"]] += diff
                        zz[0] = prev_dc[c["id"]]
                        k = 1
                        while k < 64:
                            sym = br.symbol(act)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0xF
                            if size == 0:
                                if run != 15:
                                    raise ValueError("malformed JPEG AC symbol")
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("malformed JPEG: AC overrun")
                            zz[k] = _extend(br.bits(size), size)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = zz
                        by = my * c["v"] + vy
                        bx = mx * c["h"] + vx
                        c["coef"][by * c["bw"] + bx] = block.reshape(8, 8) * qtabs[
                            c["q"]
                        ]

    planes = []
    for c in comps:
        spatial = np.einsum("xu,nuv,yv->nxy", _C.T, c["coef"], _C.T) + 128.0
        plane = _unblocks(spatial, c["bh"] * 8, c["bw"] * 8)
        # nearest upsample to full MCU-padded resolution, then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)
