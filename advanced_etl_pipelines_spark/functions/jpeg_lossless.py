"""Lossless JPEG (SOF3) — pure numpy/stdlib, ITU-T T.81 Annex H.

The last sequential member of the codec family (rounds 2-6 landed
baseline, progressive, arithmetic and 12-bit DCT JPEG): SOF3 files
carry no DCT at all — each sample is predicted from its decoded
neighbors (the seven Annex H.1.2.1 predictors over Ra=left, Rb=above,
Rc=above-left) and the prediction ERROR is entropy-coded with the
same DC-style Huffman categories as baseline DC diffs, plus the
category-16 convention (diff = 32768, no magnitude bits).  Decode is
therefore EXACT: the strongest possible parity oracle —
``decode(encode(x)) == x`` bit-for-bit for any input, any precision
2..16, any predictor.

Scope (what the format's real users — DNG/medical-imaging files —
overwhelmingly use, and what the in-repo encoder mints for fixtures):
non-subsampled components (all sampling factors 1; interleaved MCU =
one sample per component), precision 2..16, predictors 1-7, point
transform Pt >= 0, restart markers.  Subsampled lossless raises
loudly.

``jpeg.decode_jpeg`` parses the file with the shared segment walker
and hands a SOF3 frame to ``_decode_lossless``; the encoder writes its
segments with the shared writers.
"""

from __future__ import annotations

import numpy as np

from advanced_etl_pipelines_spark.functions.jpeg import (
    _BitReader,
    _BitWriter,
    _build_codes,
    _category,
    _extend,
    _huff_decode,
    _interval,
    _scan,
    _write_jpeg,
)

# Flat canonical table over the 17 lossless DC categories (0..16):
# 16 codes at length 5 + category 16 at length 6 keeps Kraft-validity
# with the all-ones code unused at both lengths.
DCL_BITS = [0, 0, 0, 0, 16, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
DCL_VALS = list(range(17))


def _predict(ra: int, rb: int, rc: int, sel: int) -> int:
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"invalid lossless predictor {sel}")


def _samples(h: int, w: int, ri: int):
    """(y, x, k, first_line) for every MCU (one sample per component)
    in scan order: k is the restart interval an MCU starts (k = 0 for
    the scan's first MCU, -1 for MCUs that start none), and
    ``first_line`` holds until the end of the row that interval starts
    on (T.81 H.1.2.2: Ra prediction along its first line)."""
    k = -1
    first_line = True
    for y in range(h):
        for x in range(w):
            mcu = y * w + x
            reset = mcu == 0 or bool(ri) and mcu % ri == 0
            if reset:
                k += 1
                first_line = True
            yield y, x, k if reset else -1, first_line
            if x == w - 1:
                first_line = False


def _prediction(s, y, x, c, sel, reset, first_line, default) -> int:
    """Prediction of sample (y, x, c) from its decoded neighbours in
    ``s``: the default at an interval start, Ra along its first line,
    Rb at a row start, else predictor ``sel`` (Annex H.1.2.1)."""
    if reset:
        return default
    if first_line:
        return int(s[y, x - 1, c])  # Ra
    if x == 0:
        return int(s[y - 1, x, c])  # row start: Rb
    return _predict(
        int(s[y, x - 1, c]), int(s[y - 1, x, c]), int(s[y - 1, x - 1, c]), sel
    )


def encode_jpeg_lossless(
    arr: np.ndarray,
    predictor: int = 4,
    precision: int | None = None,
    point_transform: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """(H,W) or (H,W,C<=4) integer array -> SOF3 lossless JFIF bytes.

    ``precision`` defaults to the smallest width holding the data
    (min 2).  Components are stored non-subsampled; with C > 1 samples
    interleave one-per-component per MCU, the layout our decoder (and
    the common single-scan DNG shape) uses."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] > 4:
        raise ValueError(f"unsupported array shape {arr.shape}")
    if a.min() < 0:
        raise ValueError("lossless JPEG samples must be non-negative")
    if precision is None:
        precision = max(2, int(a.max()).bit_length())
    if not 2 <= precision <= 16:
        raise ValueError("precision must be in 2..16")
    if int(a.max()) >> precision:
        raise ValueError(f"sample exceeds {precision}-bit range")
    h, w, nc = a.shape
    pt = point_transform
    s = (a.astype(np.int64) >> pt) if pt else a.astype(np.int64)

    codes = _build_codes(DCL_BITS, DCL_VALS)
    bw = _BitWriter()
    default = 1 << (precision - pt - 1)
    for y, x, k, first_line in _samples(h, w, restart_interval):
        if k > 0:
            bw.marker(0xD0 + (k - 1) % 8)
        for c in range(nc):
            px = _prediction(s, y, x, c, predictor, k >= 0, first_line, default)
            diff = (int(s[y, x, c]) - px) & 0xFFFF
            if diff >= 0x8000:
                diff -= 0x10000  # modulo-65536 arithmetic per spec
            cat = 16 if diff == -32768 else _category(diff)
            bw.write(*codes[cat])
            if 0 < cat < 16:
                bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    bw.flush()

    comps = [{"id": c + 1, "h": 1, "v": 1, "tq": 0} for c in range(nc)]
    return _write_jpeg(
        0xC3, precision, comps, {"h": h, "w": w}, [],
        [(0, 0, DCL_BITS, DCL_VALS)],
        [_scan(comps, predictor, 0, 0, pt, restart_interval)],  # Ss = predictor
        lambda scan: bytes(bw.out),
    )


def _decode_lossless(frame: dict) -> np.ndarray:
    """SOF3 frame (``jpeg._parse``) -> integer pixel array, EXACT
    (uint8/uint16 by precision; shape (H,W) for one component, (H,W,C)
    otherwise)."""
    scans, comps = frame["scans"], frame["comps"]
    scan = scans[0]
    if len(scans) != 1 or len(scan["comps"]) != len(comps):
        # a multi-scan (non-interleaved) lossless file would otherwise
        # silently decode only its first scan — raise, per the
        # strict-decode contract
        raise NotImplementedError("multi-scan lossless JPEG not supported")
    tables = [scan["huff"].get((0, sc["dc"])) for sc in scan["comps"]]
    if None in tables:
        raise ValueError("scan references missing table")
    h, w, nc = frame["geom"]["h"], frame["geom"]["w"], len(comps)
    pt = scan["al"]
    out = np.zeros((h, w, nc), dtype=np.int64)
    default = 1 << (frame["precision"] - pt - 1)
    for y, x, k, first_line in _samples(h, w, scan["ri"]):
        if k >= 0:
            br = _BitReader(_interval(scan, k))
        for ci in range(nc):
            cat = _huff_decode(br, tables[ci])
            if cat == 16:
                diff = 32768
            else:
                diff = _extend(br.bits(cat), cat) if cat else 0
            px = _prediction(
                out, y, x, ci, scan["ss"], k >= 0, first_line, default
            )
            out[y, x, ci] = (px + diff) & 0xFFFF  # modulo-65536 per spec

    if pt:
        out <<= pt
    out = out.astype(np.uint8 if frame["precision"] <= 8 else np.uint16)
    return out[:, :, 0] if nc == 1 else out
