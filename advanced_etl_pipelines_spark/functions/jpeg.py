"""Pure-numpy JPEG codec (ITU-T T.81): container syntax, pixel pipeline
and Huffman-coded DCT.

Why this exists: the multimodal operators keep a "real codec" seam
(operators/multimodal.py) and this container ships no image library, so
JPEG binds here the same way PNG binds to ``functions/png.py``: a
minimal, fully public implementation of the published spec.  The bytes
produced here are standard JFIF files any viewer opens.

Module boundaries follow the entropy coding, not the SOF number:

* this module holds what every mode shares — the tables, the one
  segment walker (``_parse``: DQT, DHT, DAC, DRI, SOF0/1/2/3/9/10 and
  every SOS, with length, truncation and restart-marker checks), the
  one scan driver (``_code_scan``), the one encoder front end
  (``_quantized_grids``), the one pixel tail (``_assemble_image``) and
  the segment writers — plus Huffman coding of DCT coefficients,
  sequential (SOF0, SOF1 at 12-bit) and progressive (SOF2);
* ``jpeg_arith``: QM arithmetic coding of DCT coefficients, sequential
  (SOF9) and progressive (SOF10);
* ``jpeg_lossless``: the lossless predictor (SOF3).

Every DCT mode decodes into per-component coefficient grids, then
dequantizes, IDCTs, upsamples (sample replication, up to 2x2 sampling)
and colour-converts once, so a file decodes pixel-identically to its
twin in any other DCT mode.  8- and 12-bit precision (16-bit DQT
entries, uint16 output).  Hierarchical SOFs raise
``NotImplementedError``; truncated or malformed files raise
``ValueError``.

Encoders: Annex K quantization tables scaled by the libjpeg quality
convention (x16 at 12-bit), Annex K Huffman tables (flat tables at
12-bit, whose categories Annex K stops short of), 4:4:4 or 4:2:0
chroma, grayscale or RGB input.  Everything numeric is numpy (matrix
DCT per 8x8 block); the entropy coders are Python bit loops, fine for
fixture-scale images.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------- tables

# Annex K.1/K.2 quantization tables (natural row-major order).
QUANT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
QUANT_CHROM = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)

# Annex K.3 Huffman specifications: (bits per code length 1..16, values).
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> list[int]:
    """Row-major indices of the 8x8 block in zigzag visit order,
    generated from the diagonal-walk definition (no transcription)."""
    out: list[int] = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag.reverse()
        out.extend(r * 8 + c for r, c in diag)
    return out


ZIGZAG = np.array(_zigzag_order(), dtype=np.int64)

# Orthonormal 8-point DCT-II matrix: dct2d(B) = D @ B @ D.T
_D = np.array(
    [
        [
            (np.sqrt(1 / 8) if i == 0 else np.sqrt(2 / 8))
            * np.cos((2 * j + 1) * i * np.pi / 16)
            for j in range(8)
        ]
        for i in range(8)
    ]
)


def _scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality convention: 1 (worst) .. 100 (best)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


@lru_cache(maxsize=64)
def _build_decode(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[tuple[int, int], int]:
    """Canonical Huffman: (length, code) -> symbol.  Memoized on the
    table spec — a corpus of same-encoder images (one DHT per file)
    otherwise rebuilds identical dicts per image."""
    return {(n, c): s for s, (c, n) in _build_codes(bits, vals).items()}


# Flat canonical Huffman tables for 12-bit precision: Annex K's tables
# only reach DC category 11 / AC size 10, which 12-bit coefficients
# exceed.  All 16 DC categories at length 5 and all 226 AC symbols
# (EOB + ZRL + run 0-15 x size 1-14) at length 8 — Kraft-valid, and the
# all-ones code of each length stays unused per the spec convention.
# The progressive AC alphabet also needs the EOBn symbols (r<<4)|0, so
# ACP12 is every (run<<4)|size for size 0..14: 240 symbols at length 8.
DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
DC12_VALS = list(range(16))
AC12_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
AC12_BITS = [0, 0, 0, 0, 0, 0, 0, len(AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0]
ACP12_VALS = [(r << 4) | s for r in range(16) for s in range(15)]
ACP12_BITS = [0, 0, 0, 0, 0, 0, 0, len(ACP12_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _huffman_tables(precision: int, progressive: bool, nc: int) -> list:
    """(class, table id, bits, vals) of every DHT an encoder writes:
    luminance tables as id 0, chrominance as id 1 when nc > 1."""
    if precision == 12:
        ac = (ACP12_BITS, ACP12_VALS) if progressive else (AC12_BITS, AC12_VALS)
        spec = [((DC12_BITS, DC12_VALS), ac)] * 2
    else:
        spec = [
            ((DC_LUM_BITS, DC_LUM_VALS), (AC_LUM_BITS, AC_LUM_VALS)),
            ((DC_CHROM_BITS, DC_CHROM_VALS), (AC_CHROM_BITS, AC_CHROM_VALS)),
        ]
    return [
        (cls, tid, *spec[tid][cls])
        for tid in range(min(nc, 2))
        for cls in (0, 1)
    ]


# ------------------------------------------------------------- bit IO


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1-bits

    def marker(self, byte: int) -> None:
        """Byte-align and emit a bare marker (RSTn) — raw, unstuffed."""
        self.flush()
        self.out += bytes([0xFF, byte])


class _BitReader:
    """MSB-first reader over one restart interval of Huffman-coded
    bytes, as ``_parse`` cut it out: every 0xFF in it is a stuffed
    0xFF00, and reading past its end means the stream is corrupt."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bits(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            byte = self.data[self.pos]
            self.pos += 2 if byte == 0xFF else 1
            self.acc = (self.acc << 8) | byte
            self.n += 8
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ------------------------------------------------------- segment walker

_SOF_MODES = (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA)
_PROGRESSIVE = (0xC2, 0xCA)
_UNSUPPORTED_SOF = (0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF)


def _default_cond() -> tuple[dict, dict]:
    """Arithmetic conditioning per table id before any DAC (T.81
    F.1.4.4): DC (L, U) = (0, 1), AC Kx = 5."""
    return {t: (0, 1) for t in range(4)}, {t: 5 for t in range(4)}


def _parse(data: bytes, header_only: bool = False) -> dict:
    """The one JPEG segment walker (T.81 Annex B).

    Returns the frame: ``sof`` (marker byte), ``precision``, ``comps``
    (id, h, v, tq), ``geom``, ``quant`` and ``scans``.  Each scan holds
    its components with their table selectors, Ss/Se/Ah/Al, the
    Huffman tables, arithmetic conditioning and restart interval in
    force at its SOS, and its entropy-coded data cut into restart
    intervals (``intervals``, still byte-stuffed).  ``header_only``
    returns at the SOF.  A buffer that ends inside a segment, inside
    entropy-coded data or before EOI raises ``ValueError``.
    """
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    n = len(data)
    frame: dict = {"quant": {}, "scans": []}
    huff: dict[tuple[int, int], dict] = {}
    dc_cond, ac_cond = _default_cond()
    ri = 0
    pos = 2
    while True:
        if pos >= n:
            raise ValueError("truncated JPEG (no EOI)")
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1  # FF fill bytes before a marker
        if pos + 2 > n:
            raise ValueError("truncated JPEG")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            continue  # length-less markers (TEM / RSTn / repeated SOI)
        if marker in _UNSUPPORTED_SOF:
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} not supported"
                " (hierarchical and arithmetic-lossless modes; every"
                " other SOF decodes)"
            )
        if pos + 2 > n:
            raise ValueError("truncated JPEG")
        seglen = (data[pos] << 8) | data[pos + 1]
        if seglen < 2 or pos + seglen > n:
            raise ValueError("truncated JPEG segment")
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                wide = seg[i] >> 4  # 16-bit entries (the 12-bit form)
                size = 128 if wide else 64
                if i + 1 + size > len(seg):
                    raise ValueError("bad DQT segment")
                zz = np.frombuffer(
                    seg[i + 1 : i + 1 + size], dtype=">u2" if wide else np.uint8
                )
                nat = np.empty(64, dtype=np.int32)
                nat[ZIGZAG] = zz
                frame["quant"][seg[i] & 0xF] = nat.reshape(8, 8)
                i += 1 + size
        elif marker in _SOF_MODES:
            nc = seg[5] if len(seg) > 5 else 0
            if not nc or len(seg) < 6 + 3 * nc:
                raise ValueError("bad SOF segment")
            precision = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            comps = [
                {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                for cid, hv, tq in zip(seg[6::3], seg[7::3], seg[8::3])
            ][:nc]
            if marker == 0xC3:
                if not 2 <= precision <= 16:
                    raise ValueError(f"invalid precision {precision}")
                if any(c["h"] != 1 or c["v"] != 1 for c in comps):
                    raise NotImplementedError(
                        "subsampled lossless JPEG not supported"
                    )
            elif precision not in (8, 12):
                raise NotImplementedError("only 8/12-bit precision supported")
            if min(min(c["h"], c["v"]) for c in comps) < 1:
                raise ValueError("bad sampling factor")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if hmax > 2 or vmax > 2:
                raise NotImplementedError("sampling factors above 2 not supported")
            frame.update(sof=marker, precision=precision, comps=comps)
            frame["geom"] = {
                "h": h,
                "w": w,
                "hmax": hmax,
                "vmax": vmax,
                "mcus_x": -(-w // (8 * hmax)),
                "mcus_y": -(-h // (8 * vmax)),
            }
            if header_only:
                return frame
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                bits = tuple(seg[i + 1 : i + 17])
                vals = tuple(seg[i + 17 : i + 17 + sum(bits)])
                if len(bits) != 16 or len(vals) != sum(bits):
                    raise ValueError("bad DHT segment")
                huff[(seg[i] >> 4, seg[i] & 0xF)] = _build_decode(bits, vals)
                i += 17 + len(vals)
        elif marker == 0xCC:  # DAC: DC (L, U) bounds and AC Kx
            for i in range(0, len(seg) - 1, 2):
                tid, val = seg[i] & 0xF, seg[i + 1]
                if seg[i] >> 4:
                    ac_cond[tid] = val
                else:
                    dc_cond[tid] = (val & 0xF, val >> 4)
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("bad DRI segment")
            ri = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:  # SOS, then its entropy-coded data
            if "comps" not in frame:
                raise ValueError("SOS before SOF")
            ns = seg[0] if seg else 0
            if not ns or len(seg) < 4 + 2 * ns:
                raise ValueError("bad SOS segment")
            by_id = {c["id"]: c for c in frame["comps"]}
            scomps = []
            for cid, tids in zip(seg[1 : 2 * ns : 2], seg[2 : 2 * ns + 1 : 2]):
                if cid not in by_id or tids >> 4 > 3 or tids & 0xF > 3:
                    raise ValueError("bad SOS component or table selector")
                scomps.append(
                    {"comp": by_id[cid], "dc": tids >> 4, "ac": tids & 0xF}
                )
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if frame["sof"] in _PROGRESSIVE:
                if ss == 0 and se != 0:
                    raise ValueError("DC scan with Se != 0")
                if ss and ns != 1:
                    raise ValueError("interleaved AC scan is illegal")
            if frame["sof"] != 0xC3 and (ss > se or se > 63):
                raise ValueError("bad spectral selection")
            intervals, pos = _entropy_intervals(data, pos)
            frame["scans"].append({
                "comps": scomps,
                "ss": ss,
                "se": se,
                "ah": ahal >> 4,
                "al": ahal & 0xF,
                "huff": dict(huff),
                "cond": (dict(dc_cond), dict(ac_cond)),
                "ri": ri,
                "intervals": intervals,
            })
    if "comps" not in frame:
        raise ValueError("no SOF marker found")
    if not header_only and not frame["scans"]:
        raise ValueError("no SOS marker found")
    return frame


def _entropy_intervals(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Cut the entropy-coded data starting at ``pos`` at its RSTn
    markers; returns the intervals and the offset of the marker that
    ends the scan.  Inside the data a 0xFF is always stuffed (0xFF00),
    so the first other 0xFF-marker pair ends the scan."""
    out = []
    start = pos
    while True:
        pos = data.find(b"\xff", pos)
        q = pos + 1
        while 0 < q < len(data) and data[q] == 0xFF:
            q += 1  # fill bytes
        if pos < 0 or q >= len(data):
            raise ValueError("truncated JPEG entropy stream")
        if data[q] == 0x00:
            pos = q + 1
            continue
        out.append(data[start:pos])
        if not 0xD0 <= data[q] <= 0xD7:
            return out, pos
        start = pos = q + 1


def _interval(scan: dict, k: int) -> bytes:
    """Restart interval ``k`` of a parsed scan."""
    if k >= len(scan["intervals"]):
        raise ValueError("expected restart marker")
    return scan["intervals"][k]


# ------------------------------------------------------- scan driver


def _comp_blocks(geom: dict, c: dict) -> tuple[int, int]:
    """Non-interleaved block-grid dims for one component (T.81 A.2.2:
    ceil of the component's OWN sample dims over 8, not the MCU grid)."""
    comp_w = -(-geom["w"] * c["h"] // geom["hmax"])
    comp_h = -(-geom["h"] * c["v"] // geom["vmax"])
    return -(-comp_h // 8), -(-comp_w // 8)


def _block_order(scomps: list[dict], geom: dict):
    """(scan-component index, block row, block col, MCU number) of every
    block of a scan in coding order: MCU order for an interleaved scan,
    the component's own block grid for a one-component scan."""
    if len(scomps) == 1:
        bh, bw = _comp_blocks(geom, scomps[0]["comp"])
        for iy in range(bh):
            for ix in range(bw):
                yield 0, iy, ix, iy * bw + ix
        return
    for my in range(geom["mcus_y"]):
        for mx in range(geom["mcus_x"]):
            for i, sc in enumerate(scomps):
                c = sc["comp"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        yield i, my * c["v"] + by, mx * c["h"] + bx, (
                            my * geom["mcus_x"] + mx
                        )


def _code_scan(coder, scan: dict, grids: dict, geom: dict):
    """Run one scan through an entropy coder, block by block.

    ``grids`` maps component id to its (rows, cols, 64) zigzag
    coefficient grid, which a decoder fills and an encoder reads.  The
    coder gets ``restart(k)`` at the start of restart interval k (k = 0
    first) and one call per block for the scan's pass: a sequential
    scan (Ss = 0, Se > 0) is a DC first pass plus an AC first pass over
    1..Se, a progressive scan one of the four passes of T.81 G.1.2."""
    ss, se, ah, al, ri = (scan[k] for k in ("ss", "se", "ah", "al", "ri"))
    scomps = scan["comps"]
    interval = -1
    for i, by, bx, mcu in _block_order(scomps, geom):
        if (mcu // ri if ri else 0) != interval:
            interval += 1
            coder.restart(interval)
        blk = grids[scomps[i]["comp"]["id"]][by, bx]
        if ss == 0:
            if ah == 0:
                coder.dc_first(i, blk, al)
            else:
                coder.dc_refine(i, blk, al)
            if se:
                coder.ac_first(i, blk, 1, se, 0)
        elif ah == 0:
            coder.ac_first(i, blk, ss, se, al)
        else:
            coder.ac_refine(i, blk, ss, se, al)
    return coder


# ---------------------------------------------------------- pixel tail


def _assemble_image(frame: dict, coeffs: dict) -> np.ndarray:
    """Dequantize + IDCT + upsample + colour-convert the coefficient
    grids of every DCT mode -> uint8/uint16 (H,W) or (H,W,3)."""
    geom, precision = frame["geom"], frame["precision"]
    shift = float(1 << (precision - 1))
    maxval = (1 << precision) - 1
    out_dt = np.uint8 if precision == 8 else np.uint16
    full = []
    for c in frame["comps"]:
        grid = coeffs[c["id"]]
        by, bx = grid.shape[:2]
        qt = frame["quant"].get(c["tq"])
        if qt is None:
            raise ValueError("frame references missing quantization table")
        plane = np.zeros((by * 8, bx * 8), dtype=np.float64)
        for iy in range(by):
            for ix in range(bx):
                nat = np.zeros(64, dtype=np.float64)
                nat[ZIGZAG] = grid[iy, ix]
                plane[iy * 8 : iy * 8 + 8, ix * 8 : ix * 8 + 8] = (
                    _D.T @ (nat.reshape(8, 8) * qt) @ _D + shift
                )
        ry, rx = geom["vmax"] // c["v"], geom["hmax"] // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[: geom["h"], : geom["w"]])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, maxval).astype(out_dt)
    y, cb, cr = full[0], full[1] - shift, full[2] - shift
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=2)
    return np.clip(np.round(out), 0, maxval).astype(out_dt)


def jpeg_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the SOF marker — a header
    read, no entropy decode."""
    frame = _parse(data, header_only=True)
    return frame["geom"]["w"], frame["geom"]["h"], len(frame["comps"])


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes of any supported mode -> uint8/uint16 array (H,W) or
    (H,W,3); lossless files keep their own component count."""
    frame = _parse(data)
    if frame["sof"] == 0xC3:
        from advanced_etl_pipelines_spark.functions.jpeg_lossless import (
            _decode_lossless,
        )

        return _decode_lossless(frame)
    if frame["sof"] in (0xC9, 0xCA):
        from advanced_etl_pipelines_spark.functions.jpeg_arith import (
            _ArithScanDecoder as coder,
        )
    else:
        coder = _HuffmanDecoder
    geom = frame["geom"]
    coeffs = {
        c["id"]: np.zeros(
            (geom["mcus_y"] * c["v"], geom["mcus_x"] * c["h"], 64),
            dtype=np.int64,
        )
        for c in frame["comps"]
    }
    for scan in frame["scans"]:
        _code_scan(coder(scan), scan, coeffs, geom)
    return _assemble_image(frame, coeffs)


# ------------------------------------------------------ encoder front end


def _quantized_grids(arr, quality, subsampling, precision=8):
    """Color-convert, subsample, pad, DCT, quantize -> (comps, grids,
    geom, quant): per-component zigzag coefficient grids, and the
    natural-order quantization tables (luminance, then chrominance for
    RGB input)."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    shift = float(1 << (precision - 1))
    a = np.asarray(arr, dtype=np.uint8 if precision == 8 else np.uint16)
    if precision == 12 and a.max(initial=0) > 4095:
        raise ValueError("sample exceeds 12-bit range")
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"unsupported array shape {a.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = a.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qscale = 16 if precision == 12 else 1
    quant = [
        _scale_quant(t, quality) * qscale for t in (QUANT_LUM, QUANT_CHROM)
    ][: 1 if gray else 2]
    if gray:
        planes = [a.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + shift
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + shift
        if subsampling == "420":

            def down(p):  # box-average 2x2 (odd dims edge-padded first)
                ph = np.pad(
                    p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                    mode="edge",
                )
                return (
                    ph[0::2, 0::2] + ph[0::2, 1::2]
                    + ph[1::2, 0::2] + ph[1::2, 1::2]
                ) / 4.0

            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    comps, grids = [], {}
    for ci, (p, (sh, sv)) in enumerate(zip(planes, samp)):
        padded = np.pad(  # edge-replicate to the plane's share of the MCUs
            p,
            (
                (0, mcus_y * 8 * sv - p.shape[0]),
                (0, mcus_x * 8 * sh - p.shape[1]),
            ),
            mode="edge",
        )
        qt = quant[min(ci, 1)].reshape(8, 8)
        by, bx = mcus_y * sv, mcus_x * sh
        grid = np.zeros((by, bx, 64), dtype=np.int64)
        for iy in range(by):
            for ix in range(bx):
                block = padded[iy * 8 : iy * 8 + 8, ix * 8 : ix * 8 + 8]
                coef = _D @ (block - shift) @ _D.T
                grid[iy, ix] = np.round(coef / qt).astype(
                    np.int64
                ).ravel()[ZIGZAG]
        comps.append({"id": ci + 1, "h": sh, "v": sv, "tq": min(ci, 1)})
        grids[ci + 1] = grid
    geom = {
        "h": h, "w": w, "hmax": hmax, "vmax": vmax,
        "mcus_x": mcus_x, "mcus_y": mcus_y,
    }
    return comps, grids, geom, quant


def _scan(comps: list[dict], ss: int, se: int, ah: int, al: int, ri: int = 0):
    """An encoder's scan over ``comps``: a DC first pass selects each
    component's own DC table, a scan with an AC band its own AC table,
    every other selector is 0."""
    return {
        "comps": [
            {
                "comp": c,
                "dc": c["tq"] if ss == 0 and ah == 0 else 0,
                "ac": c["tq"] if se else 0,
            }
            for c in comps
        ],
        "ss": ss,
        "se": se,
        "ah": ah,
        "al": al,
        "ri": ri,
        "cond": _default_cond(),
    }


def _progressive_script(comps: list[dict], ri: int = 0) -> list[dict]:
    """The scan script both progressive encoders use (a condensed form
    of libjpeg's): DC first at Al=1; per component AC 1-5 and 6-63 first
    at Al=2; per component AC refinements Al=1 then Al=0; DC refinement
    last — spectral selection and successive approximation on both the
    DC and AC paths."""
    return (
        [_scan(comps, 0, 0, 0, 1, ri)]
        + [
            _scan([c], ss, se, 0, 2, ri)
            for c in comps
            for ss, se in ((1, 5), (6, 63))
        ]
        + [
            _scan([c], 1, 63, ah, al, ri)
            for ah, al in ((2, 1), (1, 0))
            for c in comps
        ]
        + [_scan(comps, 0, 0, 1, 0, ri)]
    )


# ----------------------------------------------------- segment writers


def _segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def _sos(scan: dict) -> bytes:
    return _segment(
        0xDA,
        bytes([len(scan["comps"])])
        + b"".join(
            bytes([sc["comp"]["id"], (sc["dc"] << 4) | sc["ac"]])
            for sc in scan["comps"]
        )
        + bytes([scan["ss"], scan["se"], (scan["ah"] << 4) | scan["al"]]),
    )


def _write_jpeg(
    sof: int,
    precision: int,
    comps: list[dict],
    geom: dict,
    quant: list[np.ndarray],
    tables: list,
    scans: list[dict],
    entropy,
) -> bytes:
    """SOI, [APP0 JFIF + DQT for DCT modes], SOF, DHT, [DAC for
    arithmetic modes], [DRI], then each scan's SOS and the bytes
    ``entropy(scan)`` codes for it, then EOI."""
    out = bytearray(b"\xff\xd8")
    if quant:
        out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    wide = precision == 12  # 16-bit DQT entries
    for tid, q in enumerate(quant):  # zigzag order on the wire
        out += _segment(
            0xDB,
            bytes([(wide << 4) | tid])
            + q[ZIGZAG].astype(">u2" if wide else np.uint8).tobytes(),
        )
    out += _segment(
        sof,
        struct.pack(">BHHB", precision, geom["h"], geom["w"], len(comps))
        + b"".join(
            bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]]) for c in comps
        ),
    )
    for cls, tid, bits, vals in tables:
        out += _segment(0xC4, bytes([(cls << 4) | tid] + bits + vals))
    if sof in (0xC9, 0xCA):  # DAC: the conditioning, written out
        dc_cond, ac_cond = scans[0]["cond"]
        out += _segment(
            0xCC,
            b"".join(
                bytes([tid, (dc_cond[tid][1] << 4) | dc_cond[tid][0]])
                + bytes([0x10 | tid, ac_cond[tid]])
                for tid in range(len(quant))
            ),
        )
    if scans[0]["ri"]:
        out += _segment(0xDD, struct.pack(">H", scans[0]["ri"]))
    for scan in scans:
        out += _sos(scan) + entropy(scan)
    return bytes(out + b"\xff\xd9")


# ------------------------------------------------------- Huffman coding


class _HuffmanDecoder:
    """Huffman decoding of one DCT scan (T.81 F.2.2 sequential, G.1.2
    progressive with its EOB-run conventions: in first scans EOBr ends
    the block and skips the band in the next (1<<r)-1 + bits(r)
    blocks; in refinement scans it covers (1<<r) + bits(r) blocks
    including the rest of the current one, whose already-nonzero
    coefficients still take one correction bit each)."""

    def __init__(self, scan: dict) -> None:
        self.scan = scan
        self.dc = [scan["huff"].get((0, sc["dc"])) for sc in scan["comps"]]
        self.ac = [scan["huff"].get((1, sc["ac"])) for sc in scan["comps"]]

    def restart(self, k: int) -> None:
        self.br = _BitReader(_interval(self.scan, k))
        self.preds = [0] * len(self.dc)
        self.eobrun = 0

    @staticmethod
    def _table(table):
        if table is None:
            raise ValueError("scan references missing Huffman table")
        return table

    def dc_first(self, i, blk, al):
        s = _huff_decode(self.br, self._table(self.dc[i]))
        if s > 15:
            raise ValueError("bad DC magnitude category")
        self.preds[i] += _extend(self.br.bits(s), s) if s else 0
        blk[0] = self.preds[i] << al

    def dc_refine(self, i, blk, al):
        if self.br.bits(1):
            blk[0] |= 1 << al

    def ac_first(self, i, blk, ss, se, al):
        if self.eobrun:
            self.eobrun -= 1
            return
        act = self._table(self.ac[i])
        br = self.br
        k = ss
        while k <= se:
            sym = _huff_decode(br, act)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r != 15:
                    self.eobrun = (1 << r) - 1 + (br.bits(r) if r else 0)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            blk[k] = _extend(br.bits(s), s) << al
            k += 1

    def ac_refine(self, i, blk, ss, se, al):
        br = self.br
        p1, m1 = 1 << al, -1 << al
        k = ss
        if self.eobrun == 0:
            act = self._table(self.ac[i])
            while k <= se:
                sym = _huff_decode(br, act)
                r, s = sym >> 4, sym & 0xF
                newval = 0
                if s == 0:
                    if r != 15:
                        self.eobrun = (1 << r) + (br.bits(r) if r else 0)
                        break
                    # ZRL: pass 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("bad refinement AC symbol")
                    newval = p1 if br.bits(1) else m1
                while k <= se:
                    if blk[k]:
                        if br.bits(1) and not (blk[k] & p1):
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1
        if self.eobrun:
            # rest of this block's band: correction bits only
            while k <= se:
                if blk[k]:
                    if br.bits(1) and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            self.eobrun -= 1


class _HuffmanEncoder:
    """Huffman encoding of one DCT scan, the mirror of
    ``_HuffmanDecoder``.  First passes end every block's band with its
    own EOB (no EOB runs)."""

    def __init__(self, scan: dict, codes: dict) -> None:
        self.bw = _BitWriter()
        self.dc = [codes.get((0, sc["dc"])) for sc in scan["comps"]]
        self.ac = [codes.get((1, sc["ac"])) for sc in scan["comps"]]

    def restart(self, k: int) -> None:
        if k:
            self.bw.marker(0xD0 + (k - 1) % 8)
        self.preds = [0] * len(self.dc)

    def finish(self) -> bytes:
        self.bw.flush()
        return bytes(self.bw.out)

    def _value(self, codes, r, v):
        """Symbol (r<<4)|size, then the value's size bits."""
        s = _category(v)
        self.bw.write(*codes[(r << 4) | s])
        if s:
            self.bw.write(v if v >= 0 else v + (1 << s) - 1, s)

    def dc_first(self, i, blk, al):
        t = int(blk[0]) >> al  # DC uses ARITHMETIC shift
        self._value(self.dc[i], 0, t - self.preds[i])
        self.preds[i] = t

    def dc_refine(self, i, blk, al):
        self.bw.write((int(blk[0]) >> al) & 1, 1)

    def ac_first(self, i, blk, ss, se, al):
        ac = self.ac[i]
        r = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = abs(v) >> al  # AC uses MAGNITUDE shift
            if t == 0:
                r += 1
                continue
            while r > 15:
                self.bw.write(*ac[0xF0])  # ZRL
                r -= 16
            self._value(ac, r, t if v > 0 else -t)
            r = 0
        if r:
            self.bw.write(*ac[0x00])  # EOB, run of 1

    def ac_refine(self, i, blk, ss, se, al):
        """T.81 G.1.2.3 encoder side: already-significant coefficients
        each contribute one buffered magnitude bit (flushed right after
        the next Huffman symbol, matching the decoder's read order); a
        newly-significant coefficient (magnitude == 1 at this Al) is
        coded as symbol (run<<4)|1 plus a raw SIGN bit (1 = positive).
        Runs only count zero-HISTORY positions; trailing content after
        the last new significance folds into an EOB whose correction
        bits follow it."""
        ac, bw = self.ac[i], self.bw
        absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        eob = -1  # index of the last NEWLY-significant coefficient
        for j, t in enumerate(absv):
            if t == 1:
                eob = j
        r = 0
        pending: list[int] = []
        for j, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and j <= eob:
                bw.write(*ac[0xF0])  # ZRL
                for bit in pending:
                    bw.write(bit, 1)
                pending = []
                r -= 16
            if t > 1:
                pending.append(t & 1)  # already significant
                continue
            bw.write(*ac[(r << 4) | 1])
            bw.write(1 if int(blk[ss + j]) > 0 else 0, 1)
            for bit in pending:
                bw.write(bit, 1)
            pending = []
            r = 0
        if r > 0 or pending:
            bw.write(*ac[0x00])  # EOB (run of 1 block)
            for bit in pending:
                bw.write(bit, 1)


def _encode_huffman(arr, quality, subsampling, precision, progressive, ri=0):
    comps, grids, geom, quant = _quantized_grids(
        arr, quality, subsampling, precision
    )
    tables = _huffman_tables(precision, progressive, len(comps))
    codes = {(cls, tid): _build_codes(b, v) for cls, tid, b, v in tables}
    if progressive:
        sof, scans = 0xC2, _progressive_script(comps)
    else:
        sof = 0xC0 if precision == 8 else 0xC1
        scans = [_scan(comps, 0, 63, 0, 0, ri)]
    return _write_jpeg(
        sof, precision, comps, geom, quant, tables, scans,
        lambda scan: _code_scan(
            _HuffmanEncoder(scan, codes), scan, grids, geom
        ).finish(),
    )


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """(H,W) grayscale or (H,W,3) RGB -> sequential Huffman JFIF bytes.

    ``subsampling``: "444" (no chroma subsampling) or "420" (2x2 — what
    cameras emit).  ``restart_interval`` > 0 emits a DRI segment and an
    RSTn marker every that many MCUs.  ``precision`` 8 emits baseline
    SOF0 from uint8 input; 12 emits extended sequential SOF1 from uint16
    input in 0..4095 (16-bit DQT entries, flat DC12/AC12 tables).
    """
    return _encode_huffman(
        arr, quality, subsampling, precision, False, restart_interval
    )


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    precision: int = 8,
) -> bytes:
    """(H,W) grayscale or (H,W,3) RGB -> progressive (SOF2) JFIF bytes
    over ``_progressive_script``.  ``precision`` 12 takes uint16 input
    in 0..4095 (16-bit DQT entries, flat DC12/ACP12 tables)."""
    return _encode_huffman(arr, quality, subsampling, precision, True)
