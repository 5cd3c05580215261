"""QM arithmetic coding of JPEG DCT coefficients (SOF9 sequential,
SOF10 progressive) — pure numpy, ITU-T T.81.

``jpeg.py`` owns the container (segment walker and writers), the scan
driver, the encoder front end and the pixel tail; this module adds the
arithmetic entropy coder from the same public spec:

* Annex D — the binary arithmetic coder itself: the 113-state
  Qe probability-estimation machine (Table D.3, public spec
  constants, transcribed like the PNG CRC polynomial or the IMA step
  table; ``tests/test_multimodal.py::test_qe_table_structural_invariants``
  checks the transcription against spec-derivable structure and the
  printed fast-attack/exchange-head values, and pins fingerprints so
  any single-row edit fails — mutation-verified),
  conditional MPS/LPS exchange, renormalization, byte-oriented
  carry handling with 0xFF00 byte stuffing (the interop convention the
  reference implementations use, so entropy segments stay marker-free
  exactly like the Huffman scans).
* Annex F.1.4 / F.2.4 — the DCT statistical models: per-component DC
  conditioning contexts classified by the previous diff against the
  DAC segment's (L, U) bounds, per-zigzag-index AC EOB/run contexts,
  the low/high AC magnitude-category split at Kx, and the shared
  magnitude-bit bins.
* Annex G.2 — progressive passes.  First scans reuse the sequential
  decision trees over the band [Ss..Se] in the point-transformed
  domain (DC diffs >> Al, AC magnitudes |v| >> Al) with no EOB runs;
  DC refinements code one bit per block with the fixed bin; AC
  refinements (Figure G.10) walk the band with three decisions per
  context group 3*(k-1): +0 EOB (only past EOBx, the end of block
  established by previous scans), +1 "newly nonzero" for zero-history
  positions (then a fixed-bin sign), +2 the correction bit of an
  already-significant coefficient.

Every scan starts with fresh statistics and a fresh coder interval
(T.81 G.1.1.2), and restart markers reinitialize both.  An
arithmetic-coded file carries the SAME quantized coefficients as its
Huffman twin, so its decode is pixel-identical to ``jpeg.decode_jpeg``
of the baseline encode of the same image: the parity property the
tests pin, which an encoder bug cannot self-cancel outside the shared
state table.  8- and 12-bit precision, sampling up to 2x2.
"""

from __future__ import annotations

import numpy as np

from advanced_etl_pipelines_spark.functions.jpeg import (
    _code_scan,
    _interval,
    _progressive_script,
    _quantized_grids,
    _scan,
    _write_jpeg,
)

# T.81 Table D.3: (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS).
# Row 113 is the conventional FIXED bin (Qe ~0.5, self-transitions, no
# switch) used for AC sign decisions — including it as an ordinary row
# makes "never adapts" fall out of the table instead of special-casing.
_QE_TAB: list[tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1),
    (0x5A1D, 113, 113, 0),  # 113: fixed ~0.5 bin (AC sign)
]

_FIXED_BIN = 113

# statistics-area sizes per table (T.81 Tables F.4/F.5 layouts)
_DC_STAT_BINS = 64
_AC_STAT_BINS = 256


class _ArithEncoder:
    """T.81 Annex D encoder, byte-oriented carry/stuffing handling.

    State bytes pack (state index | MPS << 7); ``encode(stats, i,
    bit)`` adapts the bin in place.  Output performs 0xFF00 byte
    stuffing so the scan stays marker-free.
    """

    def __init__(self) -> None:
        self.out = bytearray()
        self.c = 0
        self.a = 0x10000
        self.ct = 11
        self.buffer = -1  # pending byte (may still take a carry)
        self.sc = 0  # stacked 0xFF bytes (carry-sensitive)
        self.zc = 0  # pending 0x00 bytes (suppressed at flush)

    def _emit(self, byte: int) -> None:
        self.out.append(byte & 0xFF)

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        sv = stats[i]
        qe, nl, nm, switch = _QE_TAB[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit != mps:
            # LPS path (with conditional exchange)
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            if switch:
                mps ^= 1
            stats[i] = (mps << 7) | nl
        else:
            # MPS path
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            stats[i] = (mps << 7) | nm
        # renormalize + byte out
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                temp = self.c >> 19
                if temp > 0xFF:
                    # carry ripples into the pending byte and converts
                    # every stacked 0xFF to 0x00
                    if self.buffer >= 0:
                        while self.zc:
                            self._emit(0x00)
                            self.zc -= 1
                        self._emit(self.buffer + 1)
                        if self.buffer + 1 == 0xFF:
                            self._emit(0x00)
                    self.zc += self.sc
                    self.sc = 0
                    self.buffer = temp & 0xFF
                elif temp == 0xFF:
                    self.sc += 1  # stack: a later carry may turn it 0x00
                else:
                    if self.buffer == 0:
                        self.zc += 1
                    elif self.buffer >= 0:
                        while self.zc:
                            self._emit(0x00)
                            self.zc -= 1
                        self._emit(self.buffer)
                    if self.sc:
                        while self.zc:
                            self._emit(0x00)
                            self.zc -= 1
                        while self.sc:
                            self._emit(0xFF)
                            self._emit(0x00)
                            self.sc -= 1
                    self.buffer = temp
                self.c &= 0x7FFFF
                self.ct += 8
            if self.a >= 0x8000:
                break

    def flush(self) -> None:
        """T.81 D.1.8: terminate with the sparsest in-interval code
        point, then drain pending bytes (trailing 0x00s suppressed)."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            if self.buffer >= 0:
                while self.zc:
                    self._emit(0x00)
                    self.zc -= 1
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                while self.zc:
                    self._emit(0x00)
                    self.zc -= 1
                self._emit(self.buffer)
            if self.sc:
                while self.zc:
                    self._emit(0x00)
                    self.zc -= 1
                while self.sc:
                    self._emit(0xFF)
                    self._emit(0x00)
                    self.sc -= 1
        if self.c & 0x7FFF800:
            while self.zc:
                self._emit(0x00)
                self.zc -= 1
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0x00)


class _ArithDecoder:
    """T.81 Annex D decoder over the bytes starting at ``pos``.

    0xFF00 unstuffs to a 0xFF data byte; a marker or the end of the
    bytes stops the feed, and zeros are supplied from then on (the
    spec's convention for completing the final interval)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.c = 0
        self.a = 0
        self.ct = -16  # forces the 2-byte initial fill
        self.hit_marker = False

    def _byte_in(self) -> int:
        d = self.data
        if self.hit_marker or self.pos >= len(d):
            return 0
        b = d[self.pos]
        if b != 0xFF:
            self.pos += 1
            return b
        # 0xFF: swallow fill 0xFFs, then stuffed-zero vs marker
        p = self.pos + 1
        while p < len(d) and d[p] == 0xFF:
            p += 1
        if p < len(d) and d[p] == 0x00:
            self.pos = p + 1
            return 0xFF
        self.hit_marker = True
        return 0

    def decode(self, stats: bytearray, i: int) -> int:
        # renormalize / feed
        while self.a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._byte_in()) & 0xFFFFFFFF
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        self.a = 0x8000  # 2 initial bytes in: A = 0x10000
            self.a = (self.a << 1) & 0x1FFFF
        sv = stats[i]
        qe, nl, nm, switch = _QE_TAB[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        temp = (self.a << self.ct) & 0xFFFFFFFF
        if self.c >= temp:
            self.c -= temp
            # LPS branch (conditional exchange)
            if self.a < qe:
                bit = mps
                stats[i] = (mps << 7) | nm
            else:
                bit = mps ^ 1
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nl
            self.a = qe
        else:
            if self.a < 0x8000:
                # MPS branch with conditional exchange
                if self.a < qe:
                    bit = mps ^ 1
                    if switch:
                        mps ^= 1
                    stats[i] = (mps << 7) | nl
                else:
                    bit = mps
                    stats[i] = (mps << 7) | nm
            else:
                bit = mps
        return bit



# ------------------------------------------------------- DCT models


class _ArithModel:
    """Statistics of one arithmetic-coded DCT scan (T.81 F.1.4 / F.2.4,
    G.2), shared by the two directions, which ``_code_scan`` drives."""

    def __init__(self, scan: dict) -> None:
        self.scan = scan
        self.dc_cond, self.ac_cond = scan["cond"]
        self.dc_tbl = [sc["dc"] for sc in scan["comps"]]
        self.ac_tbl = [sc["ac"] for sc in scan["comps"]]
        self.dc_stats = {t: bytearray(_DC_STAT_BINS) for t in set(self.dc_tbl)}
        self.ac_stats = {t: bytearray(_AC_STAT_BINS) for t in set(self.ac_tbl)}
        self.fixed = bytearray([_FIXED_BIN])

    def reset(self) -> None:
        for st in (*self.dc_stats.values(), *self.ac_stats.values()):
            st[:] = bytes(len(st))
        self.dc_context = [0] * len(self.dc_tbl)
        self.preds = [0] * len(self.dc_tbl)

    def _dc_context(self, i: int, m: int, sign: int) -> None:
        """Classify the DC diff's magnitude category against (L, U)."""
        lo, hi = self.dc_cond[self.dc_tbl[i]]
        if m < ((1 << lo) >> 1):
            self.dc_context[i] = 0
        elif m > ((1 << hi) >> 1):
            self.dc_context[i] = 12 + sign * 4
        else:
            self.dc_context[i] = 4 + sign * 4


class _ArithScanDecoder(_ArithModel):
    def restart(self, k: int) -> None:
        self.dec = _ArithDecoder(_interval(self.scan, k), 0)
        self.reset()

    def dc_first(self, i, blk, al):
        """One DC decision tree (T.81 F.2.4.1); the prediction lives in
        the >> Al domain."""
        dec, st = self.dec, self.dc_stats[self.dc_tbl[i]]
        s0 = self.dc_context[i]
        if dec.decode(st, s0) == 0:
            self.dc_context[i] = 0
        else:
            sign = dec.decode(st, s0 + 1)
            sp = s0 + 2 + sign
            m = dec.decode(st, sp)
            if m:
                sp = 20  # X1
                while dec.decode(st, sp):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("arith DC magnitude overflow")
                    sp += 1
            self._dc_context(i, m, sign)
            v = m
            sp += 14  # magnitude-bit bins
            while m := m >> 1:
                if dec.decode(st, sp):
                    v |= m
            v += 1
            self.preds[i] += -v if sign else v
        blk[0] = self.preds[i] << al

    def dc_refine(self, i, blk, al):
        if self.dec.decode(self.fixed, 0):
            blk[0] |= 1 << al

    def ac_first(self, i, blk, ss, se, al):
        """AC decisions over zigzag band [ss..se] (T.81 F.2.4.2; a
        progressive first scan stores the value << Al)."""
        dec, ast = self.dec, self.ac_stats[self.ac_tbl[i]]
        kx = self.ac_cond[self.ac_tbl[i]]
        k = ss
        while k <= se:
            sp = 3 * (k - 1)
            if dec.decode(ast, sp):
                break  # EOB
            while dec.decode(ast, sp + 1) == 0:
                sp += 3
                k += 1
                if k > se:
                    raise ValueError("arith AC run overflow")
            sign = dec.decode(self.fixed, 0)
            sp += 2
            m = dec.decode(ast, sp)
            if m:
                if dec.decode(ast, sp):
                    m <<= 1
                    sp = 189 if k <= kx else 217
                    while dec.decode(ast, sp):
                        m <<= 1
                        if m == 0x8000:
                            raise ValueError("arith AC magnitude overflow")
                        sp += 1
            v = m
            sp += 14
            while m := m >> 1:
                if dec.decode(ast, sp):
                    v |= m
            v += 1
            blk[k] = (-v if sign else v) << al
            k += 1

    def ac_refine(self, i, blk, ss, se, al):
        """T.81 G.2.3 / Figure G.10, one block."""
        dec, ast = self.dec, self.ac_stats[self.ac_tbl[i]]
        p1, m1 = 1 << al, -1 << al
        # EOBx: end-of-block index established by previous scans (down to
        # 0 — a lower-band coefficient still counts, per Annex G)
        kex = se
        while kex > 0 and blk[kex] == 0:
            kex -= 1
        k = ss
        while k <= se:
            sp = 3 * (k - 1)
            if k > kex and dec.decode(ast, sp):
                break  # EOB
            while True:
                if blk[k]:
                    # previously significant: one correction bit
                    if dec.decode(ast, sp + 2):
                        blk[k] += m1 if blk[k] < 0 else p1
                    break
                if dec.decode(ast, sp + 1):
                    # newly significant: fixed-bin sign
                    blk[k] = m1 if dec.decode(self.fixed, 0) else p1
                    break
                sp += 3
                k += 1
                if k > se:
                    raise ValueError("arith AC refinement run overflow")
            k += 1


class _ArithScanEncoder(_ArithModel):
    def __init__(self, scan: dict) -> None:
        super().__init__(scan)
        self.out = bytearray()

    def restart(self, k: int) -> None:
        if k:
            self.enc.flush()
            self.out += self.enc.out + bytes([0xFF, 0xD0 + (k - 1) % 8])
        self.enc = _ArithEncoder()
        self.reset()

    def finish(self) -> bytes:
        self.enc.flush()
        return bytes(self.out + self.enc.out)

    def dc_first(self, i, blk, al):
        """DC decision tree, encode direction; ``al`` applies the DC
        point transform (ARITHMETIC shift, T.81 G.1.2.1) before the
        prediction diff."""
        enc, st = self.enc, self.dc_stats[self.dc_tbl[i]]
        s0 = self.dc_context[i]
        t = int(blk[0]) >> al
        diff = t - self.preds[i]
        self.preds[i] = t
        if diff == 0:
            enc.encode(st, s0, 0)
            self.dc_context[i] = 0
            return
        enc.encode(st, s0, 1)
        sign = 1 if diff < 0 else 0
        v = -diff if sign else diff
        enc.encode(st, s0 + 1, sign)
        sp = s0 + 2 + sign
        m = 0
        v -= 1
        if v:
            enc.encode(st, sp, 1)
            m = 1
            sp = 20
            v2 = v
            while v2 := v2 >> 1:
                enc.encode(st, sp, 1)
                m <<= 1
                sp += 1
        enc.encode(st, sp, 0)
        self._dc_context(i, m, sign)
        sp += 14
        while m := m >> 1:
            enc.encode(st, sp, 1 if (m & v) else 0)

    def dc_refine(self, i, blk, al):
        self.enc.encode(self.fixed, 0, (int(blk[0]) >> al) & 1)

    def ac_first(self, i, blk, ss, se, al):
        """AC decisions over zigzag band [ss..se], encode direction;
        ``al`` applies the AC point transform (MAGNITUDE shift, T.81
        G.1.2.2)."""
        enc, ast = self.enc, self.ac_stats[self.ac_tbl[i]]
        kx = self.ac_cond[self.ac_tbl[i]]
        mags = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        ke = se
        while ke >= ss and mags[ke - ss] == 0:
            ke -= 1
        k = ss
        while k <= ke:
            sp = 3 * (k - 1)
            enc.encode(ast, sp, 0)  # not EOB yet
            while mags[k - ss] == 0:
                enc.encode(ast, sp + 1, 0)
                sp += 3
                k += 1
            enc.encode(ast, sp + 1, 1)
            v = mags[k - ss]
            enc.encode(self.fixed, 0, 1 if int(blk[k]) < 0 else 0)
            sp += 2
            m = 0
            v -= 1  # encoded magnitude vd = |coef| - 1
            if v:
                enc.encode(ast, sp, 1)
                m = 1
                v2 = v >> 1
                if v2:
                    enc.encode(ast, sp, 1)
                    m <<= 1
                    sp = 189 if k <= kx else 217
                    while v2 := v2 >> 1:
                        enc.encode(ast, sp, 1)
                        m <<= 1
                        sp += 1
            enc.encode(ast, sp, 0)
            sp += 14
            while m := m >> 1:
                enc.encode(ast, sp, 1 if (m & v) else 0)
            k += 1
        if k <= se:
            enc.encode(ast, 3 * (k - 1), 1)  # EOB

    def ac_refine(self, i, blk, ss, se, al):
        """T.81 G.1.3.3 / Figure G.10, encode direction.  The grid holds
        FULL coefficients; history is what survives >> (Al+1) (the
        previous scan's point transform, Ah = Al + 1)."""
        enc, ast = self.enc, self.ac_stats[self.ac_tbl[i]]
        mags = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        ke = se
        while ke >= ss and mags[ke - ss] == 0:
            ke -= 1
        kex = ke
        while kex > 0 and (abs(int(blk[kex])) >> (al + 1)) == 0:
            kex -= 1
        k = ss
        while k <= ke:
            sp = 3 * (k - 1)
            if k > kex:
                enc.encode(ast, sp, 0)  # not EOB yet
            while True:
                t = mags[k - ss]
                if t:
                    if t >> 1:  # previously significant: correction bit
                        enc.encode(ast, sp + 2, t & 1)
                    else:  # newly significant: decision + fixed-bin sign
                        enc.encode(ast, sp + 1, 1)
                        enc.encode(self.fixed, 0, 1 if int(blk[k]) < 0 else 0)
                    break
                enc.encode(ast, sp + 1, 0)
                sp += 3
                k += 1
            k += 1
        if k <= se:
            enc.encode(ast, 3 * (k - 1), 1)  # EOB


# ------------------------------------------------------------ encoders


def _encode_arith(arr, quality, subsampling, precision, progressive, ri):
    comps, grids, geom, quant = _quantized_grids(
        arr, quality, subsampling, precision
    )
    if progressive:
        sof, scans = 0xCA, _progressive_script(comps, ri)
    else:
        sof, scans = 0xC9, [_scan(comps, 0, 63, 0, 0, ri)]
    return _write_jpeg(
        sof, precision, comps, geom, quant, [], scans,
        lambda scan: _code_scan(
            _ArithScanEncoder(scan), scan, grids, geom
        ).finish(),
    )


def encode_jpeg_arith(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """(H,W) grayscale or (H,W,3) RGB -> SOF9 arithmetic-coded JFIF.

    ``precision`` 8 (uint8 input) or 12 (uint16 input, 0..4095; quant
    tables scale x16 and ship as 16-bit DQT entries).  Default DAC
    conditioning (DC L=0/U=1, AC Kx=5), matching the spec defaults so
    a DAC-less decoder agrees."""
    return _encode_arith(
        arr, quality, subsampling, precision, False, restart_interval
    )


def encode_jpeg_arith_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """(H,W) grayscale or (H,W,3) RGB -> SOF10 JFIF bytes over the
    same scan script as the Huffman progressive encoder
    (``jpeg._progressive_script``).  Default DAC conditioning."""
    return _encode_arith(
        arr, quality, subsampling, precision, True, restart_interval
    )
