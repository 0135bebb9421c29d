"""Pure-numpy baseline JPEG codec — no third-party dependency.

The container ships no PIL/ffmpeg, but baseline JPEG (ITU-T T.81,
sequential DCT, 8-bit) needs neither: the format is 8x8 FDCT blocks,
uniform quantization, zigzag run-length coding and static Huffman tables
— all of it exact integer/float math numpy expresses directly. This
module implements:

- ``jpeg_encode``: grayscale or RGB baseline JFIF streams — YCbCr 4:4:4
  by default, 4:2:0 (2×2-mean chroma downsample) with ``subsample=True``
  — using the Annex K quantization tables (libjpeg quality scaling) and
  the Annex K "typical" Huffman tables.
- ``jpeg_decode``: baseline (SOF0/1) AND progressive (SOF2, T.81
  Annex G: spectral selection + successive approximation with EOB runs)
  streams at any sampling-factor combination in {1, 2, 4} with integer
  ratios (grayscale, 4:4:4, 4:2:2, 4:2:0 — i.e. everything the encoders
  emit plus virtually every camera/web JPEG), with DRI/restart-marker
  support and replication chroma upsampling. 12-bit, arithmetic-coded
  and hierarchical streams are refused with ``ValueError`` — stated,
  not hidden.
- ``jpeg_encode_progressive``: SOF2 streams carrying byte-identical
  quantized coefficients to the baseline encoder — the exactness
  invariant (progressive decode == baseline decode) the tests pin.

Determinism contract (what the DuckDB gate arithmetic relies on):
- FDCT/IDCT are the exact orthonormal matrix forms of T.81 §A.3.3,
  S = C·s·Cᵀ with C[u,x] = ½·α(u)·cos((2x+1)uπ/16), α(0)=1/√2. For a
  flat block of level-shifted value d every AC term is exactly 0 and
  DC = 8d (the cosines cancel by symmetry; float64 keeps this exact
  because d·Σrow(C²) sums identical terms).
- All coefficient/pixel rounding is round-half-away-from-zero
  (sign·floor(|t|+½)), mirrored in SQL as FLOOR(x+0.5) on the
  non-negative pixel path.

Scale shape: these functions run INSIDE Arrow batches (mapInPandas) —
per-payload work is vectorized numpy block math; the only per-symbol
Python loop is Huffman entropy coding, bounded by the payload size.
Pinned by tests/test_jpeg_codec.py (flat-field exact arithmetic,
random-image roundtrip error bounds vs the quantization-step ceiling,
entropy-layer exactness through a hand-assembled coefficient stream).
"""

from __future__ import annotations

import struct

# --------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K — the interchange-format defaults)
# --------------------------------------------------------------------------

# K.1 luminance / K.2 chrominance quantization tables, natural (row) order
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# zigzag index of each natural position (T.81 Figure 5)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 "typical" Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
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


_DCT_MATRIX = None


def _dct_matrix():
    """C[u, x] = ½·α(u)·cos((2x+1)uπ/16) — S = C·s·Cᵀ is the T.81 FDCT.
    Memoized: callers must not mutate the returned array."""
    global _DCT_MATRIX
    if _DCT_MATRIX is None:
        import numpy as np

        x = np.arange(8)
        u = np.arange(8)[:, None]
        c = 0.5 * np.cos((2 * x[None, :] + 1) * u * np.pi / 16)
        c[0, :] *= 1 / np.sqrt(2)
        c.setflags(write=False)
        _DCT_MATRIX = c
    return _DCT_MATRIX


def _round_half_away(t):
    """sign(t)·floor(|t| + ½) — the codec's single rounding rule."""
    import numpy as np

    return np.sign(t) * np.floor(np.abs(t) + 0.5)


def _snap(t):
    """Snap float DCT/IDCT outputs to the nearest 1/4096 before any
    rounding decision. True coefficients of the closed-form cases (flat
    blocks: DC = 8d, AC = 0) are exact multiples of 1/8; accumulated
    float error is ~1e-10 ≪ 2⁻¹³, so snapping restores them EXACTLY and
    the half-away rounding sees the same knife-edge values the SQL
    oracle's integer arithmetic computes."""
    import numpy as np

    return np.round(t * 4096.0) / 4096.0


_QSCALE_CACHE: dict = {}


def quality_scale(table, quality: int):
    """libjpeg quality scaling of a base table: q<50 → 5000/q %, q≥50 →
    (200 − 2q) %, each entry round-half-up then clamped to [1, 255].
    quality=50 returns the base table unchanged — the gate's fixed point.
    Memoized by table content (encoders call it twice per image on the
    two Annex K constants); callers must not mutate the result."""
    import numpy as np

    arr = np.asarray(table, dtype=np.int64)
    key = (arr.shape, arr.tobytes(), int(quality))
    cached = _QSCALE_CACHE.get(key)
    if cached is not None:
        return cached
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (np.asarray(table, dtype=np.int64) * scale + 50) // 100
    t = np.clip(t, 1, 255).astype(np.int64)
    t.setflags(write=False)
    if len(_QSCALE_CACHE) >= 64:
        _QSCALE_CACHE.clear()
    _QSCALE_CACHE[key] = t
    return t


# --------------------------------------------------------------------------
# Huffman machinery
# --------------------------------------------------------------------------


_ENCODE_CODES_CACHE: dict = {}


def _build_codes(bits, vals):
    """symbol -> (code, length) by T.81 Annex C canonical assignment.
    Cached by table content (encoders call this 2-4x per image; the
    tables are the four Annex K constants). Callers must not mutate."""
    key = (bytes(bits), bytes(vals))
    codes = _ENCODE_CODES_CACHE.get(key)
    if codes is not None:
        return codes
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if len(_ENCODE_CODES_CACHE) >= 64:
        _ENCODE_CODES_CACHE.clear()
    _ENCODE_CODES_CACHE[key] = codes
    return codes


class _HuffLUT:
    """16-bit-peek Huffman decode table: canonical JPEG codes are
    prefix-free, so every 16-bit window whose prefix is code C maps to
    C's symbol. One 65536-entry (symbol, length) pair of Python lists
    per table (≤8 tables per image) replaces the bit-at-a-time dict
    walk — the decoder's former per-symbol hot loop."""

    __slots__ = ("sym", "ln")

    def __init__(self, bits, vals):
        import numpy as np

        sym = np.zeros(65536, dtype=np.int64)
        ln = np.zeros(65536, dtype=np.int64)  # 0 = no code -> invalid stream
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                sym[lo:hi] = vals[k]
                ln[lo:hi] = length
                code += 1
                k += 1
            code <<= 1
        # plain lists: CPython scalar indexing beats numpy scalar indexing
        self.sym = sym.tolist()
        self.ln = ln.tolist()


_DECODE_LUT_CACHE: dict = {}


def _build_decode_table(bits, vals):
    """Decode table for :meth:`_BitReader.huff` (16-bit peek LUT), cached
    by table content — decoders parse DHT per image, and rebuilding the
    64 Ki-entry LUT per image dwarfed small-image decode time. Bounded:
    adversarial streams with endless distinct tables can't grow it."""
    key = (bytes(bits), bytes(vals))
    t = _DECODE_LUT_CACHE.get(key)
    if t is None:
        if len(_DECODE_LUT_CACHE) >= 64:
            _DECODE_LUT_CACHE.clear()
        t = _HuffLUT(bits, vals)
        _DECODE_LUT_CACHE[key] = t
    return t


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        # Drop emitted history bits: without this mask the accumulator is an
        # ever-growing Python int and entropy coding goes O(n^2) in stream
        # size (invisible on tiny images, a cliff at megapixel scale).
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per F.1.2.3
        return bytes(self.buf)


class _BitReader:
    """Reads the entropy-coded segment: un-stuffs FF 00; any other FF xx
    (RSTn, EOI, next marker) is a hard boundary the filler pads past —
    restart markers are consumed only by the explicit
    :meth:`sync_to_restart` the MCU loop calls at DRI intervals (T.81
    F.2.1.3.1: the pre-marker fill bits of the current byte are
    discarded, which only the interval counter can know)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) | 0  # pad past EOI; harmless
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # RSTn / EOI / next marker: stop consuming, pad
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def sync_to_restart(self):
        """Discard the partial byte (marker fill bits) and step over the
        RSTn marker that T.81 places after each restart interval."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.acc >> self.nbits) & ((1 << n) - 1)
        # Same O(n^2) guard as _BitWriter.write: truncate consumed bits so
        # the accumulator stays a small int across the whole scan.
        self.acc &= (1 << self.nbits) - 1
        return out

    def huff(self, table) -> int:
        # Peek 16 bits (the max code length) and consume only the matched
        # code's length — bit-identical to the former bit-at-a-time walk.
        if self.nbits < 16:
            self._fill()
        window = (self.acc >> (self.nbits - 16)) & 0xFFFF
        length = table.ln[window]
        if length == 0:
            raise ValueError("invalid Huffman code in entropy stream")
        self.nbits -= length
        self.acc &= (1 << self.nbits) - 1
        return table.sym[window]


def _magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2.1: value -> (category, appended bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _extend(bits: int, cat: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


# --------------------------------------------------------------------------
# Block entropy coding (shared by encoder and the entropy-layer test)
# --------------------------------------------------------------------------


def encode_block(writer, zz, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-code one zigzag-ordered quantized block; returns its DC
    (the next block's predictor). Exposed for the entropy-exactness test."""
    dc = int(zz[0])
    cat, bits = _magnitude(dc - prev_dc)
    code, length = dc_codes[cat]
    writer.write(code, length)
    writer.write(bits, cat)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        cat, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | cat]
        writer.write(code, length)
        writer.write(bits, cat)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _ac_first(reader, ac_table, coef, ss, se, al, eobrun):
    """Progressive AC first scan (T.81 G.1.2.2 / libjpeg
    decode_mcu_AC_first semantics) applied to one block's zigzag
    coefficients; returns the remaining end-of-band run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = reader.huff(ac_table)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.bits(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("progressive AC run past end of band")
        coef[k] = _extend(reader.bits(s), s) << al
        k += 1
    return 0


def _ac_refine(reader, ac_table, coef, ss, se, al, eobrun):
    """Progressive AC refinement scan (T.81 G.1.2.3 / libjpeg
    decode_mcu_AC_refine semantics): newly-nonzero coefficients arrive as
    ±2^Al, already-nonzero ones take a correction bit."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = reader.huff(ac_table)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break
                newval = 0  # ZRL: 16 zero-history skips, nothing written
            else:
                if s != 1:
                    raise ValueError("invalid progressive refinement magnitude")
                newval = p1 if reader.bits(1) else m1
            # advance past r zero-history coefficients, emitting correction
            # bits for nonzero-history ones along the way
            while k <= se:
                if coef[k]:
                    if reader.bits(1) and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        # end-of-band: correct every remaining nonzero-history coefficient
        while k <= se:
            if coef[k]:
                if reader.bits(1) and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _next_marker(payload: bytes, p: int) -> int:
    """Position of the next true marker at/after p (skips stuffed FF 00,
    restart markers, and stray fill bytes)."""
    n = len(payload)
    while p + 1 < n:
        if (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
            and payload[p + 1] != 0xFF  # fill byte; real marker follows
        ):
            return p
        p += 1
    return n


def decode_block(reader, prev_dc, dc_table, ac_table):
    """Decode one block to a 64-entry zigzag list; returns (zz, dc)."""
    zz = [0] * 64
    cat = reader.huff(dc_table)
    dc = prev_dc + _extend(reader.bits(cat), cat)
    zz[0] = dc
    i = 1
    while i < 64:
        sym = reader.huff(ac_table)
        if sym == 0x00:  # EOB
            break
        run, cat = sym >> 4, sym & 0x0F
        if cat == 0:
            if run != 15:
                raise ValueError(f"invalid AC symbol {sym:#x}")
            i += 16  # ZRL
            continue
        i += run
        if i >= 64:
            raise ValueError("AC run past end of block")
        zz[i] = _extend(reader.bits(cat), cat)
        i += 1
    return zz, dc


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _to_blocks(plane):
    """(H, W) float plane, already level-shifted → (n, 8, 8) blocks with
    edge-replication padding; returns (blocks, blocks_w)."""
    import numpy as np

    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8),
        ww // 8,
    )


def _plane_zigzag(plane, qtable):
    """FDCT + quantize one level-shifted component plane → zigzag-ordered
    int64 coefficient rows. The SINGLE copy of the lossy math: both the
    baseline and progressive encoders call this, which is what makes
    their byte-identical-coefficients invariant structural rather than
    coincidental."""
    import numpy as np

    c = _dct_matrix()
    blocks, _ = _to_blocks(plane)
    coeffs = _snap(np.einsum("ux,nxy,vy->nuv", c, blocks, c))
    zz = _round_half_away(_snap(coeffs / qtable.reshape(8, 8))).astype(np.int64)
    return zz.reshape(-1, 64)[:, ZIGZAG]


def _color_planes(a, gray: bool):
    """uint8 image → level-shifted float64 component planes (Y or
    Y/Cb/Cr per the JFIF matrix). Shared by both encoders — the +128/−128
    round trip on chroma is kept to preserve the historical float path
    bit-for-bit."""
    import numpy as np

    if gray:
        return [a.astype(np.float64) - 128.0]
    rgb = a.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = (-0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1]
          + 0.5 * rgb[..., 2] + 128.0)
    cr = (0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1]
          - 0.081312 * rgb[..., 2] + 128.0)
    return [y - 128.0, cb - 128.0, cr - 128.0]


# --------------------------------------------------------------------------
# Vectorized baseline entropy coder — bit-identical to the encode_block /
# _BitWriter loop above (pinned by test_vectorized_entropy_matches_scalar),
# which stays as the progressive encoder's emitter and the parity reference.
# --------------------------------------------------------------------------

_BITLEN_TABLE = None


def _bitlen_table():
    """uint8 LUT of int.bit_length for 0..65535 (exact, no log2 rounding)."""
    global _BITLEN_TABLE
    if _BITLEN_TABLE is None:
        import numpy as np

        _BITLEN_TABLE = np.array(
            [v.bit_length() for v in range(65536)], dtype=np.int64
        )
    return _BITLEN_TABLE


_CODES_ARRAYS_CACHE: dict = {}


def _codes_arrays(codes):
    """symbol -> (code, length) dict from _build_codes → two 256-entry
    int64 arrays for vectorized indexing. Keyed by the dict's identity —
    safe because _build_codes memoizes, so equal tables ARE the same
    object and live for the process."""
    cached = _CODES_ARRAYS_CACHE.get(id(codes))
    if cached is not None and cached[0] is codes:
        return cached[1], cached[2]
    import numpy as np

    carr = np.zeros(256, dtype=np.int64)
    larr = np.zeros(256, dtype=np.int64)
    for sym, (code, length) in codes.items():
        carr[sym] = code
        larr[sym] = length
    if len(_CODES_ARRAYS_CACHE) >= 64:
        _CODES_ARRAYS_CACHE.clear()
    # keep a strong ref to `codes` so the id can never be recycled
    _CODES_ARRAYS_CACHE[id(codes)] = (codes, carr, larr)
    return carr, larr


def _component_items(zz, dc_codes, ac_codes):
    """Entropy-code one component's quantized zigzag blocks (already in
    scan-traversal order) without a per-symbol Python loop. Returns
    (codes, lens, counts): flat (value, bitlength) item streams plus each
    block's item count, so callers can interleave components per MCU.
    Item order per block is exactly encode_block's: DC code, DC bits,
    then per nonzero AC [ZRL*, AC code, AC bits], then EOB unless the
    block's last nonzero is coefficient 63."""
    import numpy as np

    bitlen = _bitlen_table()
    dc_carr, dc_larr = _codes_arrays(dc_codes)
    ac_carr, ac_larr = _codes_arrays(ac_codes)
    zz = np.asarray(zz, dtype=np.int64)
    n = zz.shape[0]

    # DC: differential against the previous block of the SAME component
    diff = np.diff(zz[:, 0], prepend=0)
    cat_dc = bitlen[np.abs(diff)]
    # parity with the scalar path's dc_codes[cat] KeyError: a category
    # absent from the table must fail loudly, not drop from the stream
    # (zero length in the lookup arrays marks an absent symbol)
    missing = np.nonzero(dc_larr[cat_dc] == 0)[0]
    if missing.size:
        raise KeyError(int(cat_dc[missing[0]]))
    bits_dc = np.where(diff > 0, diff, diff + (1 << cat_dc) - 1)

    # AC: nonzero runs per block
    ac = zz[:, 1:]
    nzb, nzj = np.nonzero(ac)
    vals = ac[nzb, nzj]
    idx = nzj + 1  # true zigzag coefficient index
    previdx = np.empty_like(idx)
    previdx[:1] = 0
    previdx[1:] = idx[:-1]
    first = np.empty(len(nzb), dtype=bool)
    first[:1] = True
    first[1:] = nzb[1:] != nzb[:-1]
    previdx[first] = 0
    run = idx - previdx - 1
    zrl = run >> 4
    rem = run & 15
    cat_ac = bitlen[np.abs(vals)]
    sym = (rem << 4) | cat_ac
    missing = np.nonzero(ac_larr[sym] == 0)[0]
    if missing.size:  # same loud-failure parity as ac_codes[sym]
        raise KeyError(int(sym[missing[0]]))
    bits_ac = np.where(vals > 0, vals, vals + (1 << cat_ac) - 1)

    # expand each nonzero into [ZRL * zrl, AC code, AC bits]
    per_nz = zrl + 2
    m = int(per_nz.sum())
    zrl_code, zrl_len = ac_codes[0xF0]
    codes_ac = np.full(m, zrl_code, dtype=np.int64)
    lens_ac = np.full(m, zrl_len, dtype=np.int64)
    pos = np.cumsum(per_nz) - 2  # each nonzero's AC-code slot
    codes_ac[pos] = ac_carr[sym]
    lens_ac[pos] = ac_larr[sym]
    codes_ac[pos + 1] = bits_ac
    lens_ac[pos + 1] = cat_ac

    # per-block layout: 2 DC items + AC items + optional EOB
    ac_counts = np.bincount(nzb, weights=per_nz, minlength=n).astype(np.int64)
    last_nz = np.zeros(n, dtype=np.int64)
    last_nz[nzb] = idx  # ascending within block: final write is the max
    eob = last_nz != 63
    counts = 2 + ac_counts + eob
    boff = np.concatenate(([0], np.cumsum(counts)[:-1]))
    total = int(counts.sum())
    codes = np.empty(total, dtype=np.int64)
    lens = np.empty(total, dtype=np.int64)
    codes[boff] = dc_carr[cat_dc]
    lens[boff] = dc_larr[cat_dc]
    codes[boff + 1] = bits_dc
    lens[boff + 1] = cat_dc
    if m:
        blk = np.repeat(nzb, per_nz)
        acstart = np.concatenate(([0], np.cumsum(ac_counts)[:-1]))
        dest = boff[blk] + 2 + (np.arange(m) - acstart[blk])
        codes[dest] = codes_ac
        lens[dest] = lens_ac
    eb = np.nonzero(eob)[0]
    eob_code, eob_len = ac_codes[0x00]
    codes[boff[eb] + 2 + ac_counts[eb]] = eob_code
    lens[boff[eb] + 2 + ac_counts[eb]] = eob_len
    return codes, lens, counts


def _interleave_items(parts, pattern):
    """Merge per-component item streams into global MCU order. pattern is
    the per-MCU component sequence ([0] gray, [0,1,2] 4:4:4,
    [0,0,0,0,1,2] 4:2:0 — luma rows already tile-ordered by the caller)."""
    import numpy as np

    if len(parts) == 1:
        return parts[0][0], parts[0][1]
    pattern = np.asarray(pattern, dtype=np.int64)
    nmcu = len(parts[0][2]) // int((pattern == 0).sum())
    order = np.tile(pattern, nmcu)
    gcounts = np.empty(len(order), dtype=np.int64)
    for c, (_, _, counts) in enumerate(parts):
        gcounts[order == c] = counts
    goff = np.concatenate(([0], np.cumsum(gcounts)[:-1]))
    total = int(gcounts.sum())
    out_codes = np.empty(total, dtype=np.int64)
    out_lens = np.empty(total, dtype=np.int64)
    for c, (codes, lens, counts) in enumerate(parts):
        bdest = goff[order == c]
        start = np.concatenate(([0], np.cumsum(counts)[:-1]))
        dest = np.repeat(bdest, counts) + (
            np.arange(len(codes)) - np.repeat(start, counts)
        )
        out_codes[dest] = codes
        out_lens[dest] = lens
    return out_codes, out_lens


def _encode_scan_entropy(zz_lists, comp_tables, pattern) -> bytes:
    """Entropy-code one interleaved scan. Dispatches on size: tiny scans
    (< 256 blocks — thumbnails, icons, the gate corpus) run the scalar
    encode_block loop, whose per-block cost beats the vectorized
    pipeline's fixed numpy setup; larger scans run the vectorized
    item-stream pipeline. Byte-identical either way
    (test_vectorized_entropy_matches_scalar pins both paths)."""
    total_blocks = sum(z.shape[0] for z in zz_lists)
    if total_blocks < 256:
        w = _BitWriter()
        prev = [0] * len(zz_lists)
        ptr = [0] * len(zz_lists)
        nmcu = len(zz_lists[0]) // sum(1 for c in pattern if c == 0)
        for _ in range(nmcu):
            for c in pattern:
                dc_codes, ac_codes = comp_tables[c]
                prev[c] = encode_block(
                    w, zz_lists[c][ptr[c]], prev[c], dc_codes, ac_codes
                )
                ptr[c] += 1
        return w.flush()
    parts = [
        _component_items(zz_lists[c], *comp_tables[c])
        for c in range(len(zz_lists))
    ]
    return _pack_entropy(*_interleave_items(parts, pattern))


def _pack_entropy(codes, lens) -> bytes:
    """MSB-first bit-pack the (value, bitlength) item stream, pad the last
    byte with 1-bits (F.1.2.3) and stuff 00 after FF — byte-identical to
    _BitWriter. Chunked so the (items, 16) expansion never exceeds ~16 MB."""
    import numpy as np

    nz = lens > 0
    codes = codes[nz]
    lens = lens[nz]
    span = np.arange(16, dtype=np.int64)[None, :]
    flats = []
    for s in range(0, len(codes), 1 << 20):
        c = codes[s : s + (1 << 20), None]
        l = lens[s : s + (1 << 20), None]
        sh = l - 1 - span
        bits = ((c >> np.maximum(sh, 0)) & 1).astype(np.uint8)
        flats.append(bits[sh >= 0])  # row-major boolean pick = stream order
    flat = (
        np.concatenate(flats) if flats else np.empty(0, dtype=np.uint8)
    )
    pad = (-len(flat)) % 8
    if pad:
        flat = np.concatenate([flat, np.ones(pad, dtype=np.uint8)])
    by = np.packbits(flat)
    stuff = np.nonzero(by == 0xFF)[0]
    if len(stuff):
        by = np.insert(by, stuff + 1, 0)
    return by.tobytes()


def jpeg_encode(arr, quality: int = 50, subsample: bool = False) -> bytes:
    """Encode a uint8 array as baseline JFIF: (H, W) / (H, W, 1) →
    grayscale single-scan; (H, W, 3) → YCbCr interleaved, 4:4:4 by
    default or 4:2:0 (2×2-mean chroma downsample, the shape virtually
    every camera/web JPEG uses) with ``subsample=True``. Annex K tables
    scaled by libjpeg quality (50 = unscaled — the gate's choice)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    subsample = subsample and not gray

    qluma = quality_scale(QUANT_LUMA, quality)
    qchroma = quality_scale(QUANT_CHROMA, quality)
    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0 (1:1 aspect, no thumbnail)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # DQT: table 0 (luma) always; table 1 (chroma) for color
    zz_luma = qluma[ZIGZAG]
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(v) for v in zz_luma)
    if not gray:
        zz_chroma = qchroma[ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(int(v) for v in zz_chroma)
    # SOF0
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        qsel = 0 if cid == 1 else 1
        samp = 0x22 if (subsample and cid == 1) else 0x11
        sof += struct.pack(">BBB", cid, samp, qsel)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT (class<<4 | id)
    tables = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS), (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        tables += [
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for tc, bits, vals in tables:
        seg = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    # SOS
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    if gray:
        zz_lists = [_plane_zigzag(_color_planes(a, gray=True)[0], qluma)]
        comp_tables = [
            (
                _build_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _build_codes(AC_LUMA_BITS, AC_LUMA_VALS),
            )
        ]
        pattern = [0]
    else:
        dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
        ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
        dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
        ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
        planes = _color_planes(a, gray=False)
        if subsample:
            # pad to a 16-multiple canvas (edge replication), keep luma
            # full-res and 2x2-mean the chroma planes (libjpeg's default
            # h2v2 box filter)
            ph, pw = -h % 16, -w % 16
            if ph or pw:
                planes = [
                    np.pad(p, ((0, ph), (0, pw)), mode="edge") for p in planes
                ]
            hh16, ww16 = planes[0].shape
            planes[1] = planes[1].reshape(
                hh16 // 2, 2, ww16 // 2, 2
            ).mean(axis=(1, 3))
            planes[2] = planes[2].reshape(
                hh16 // 2, 2, ww16 // 2, 2
            ).mean(axis=(1, 3))
        zzs = [
            _plane_zigzag(plane, qluma if idx == 0 else qchroma)
            for idx, plane in enumerate(planes)
        ]
        if subsample:
            # 4:2:0 MCU: 4 luma blocks (raster within the 16x16 tile),
            # then one Cb and one Cr — reorder the luma rows into tile
            # order so the vectorized DC chain sees scan-traversal order
            cols_y = planes[0].shape[1] // 8
            cols_c = planes[1].shape[1] // 8
            my = np.arange(planes[0].shape[0] // 16)
            mx = np.arange(cols_c)
            by = np.arange(2)
            bx = np.arange(2)
            luma_order = (
                (2 * my[:, None, None, None] + by[None, None, :, None]) * cols_y
                + 2 * mx[None, :, None, None]
                + bx[None, None, None, :]
            ).ravel()
            zz_lists = [zzs[0][luma_order], zzs[1], zzs[2]]
            pattern = [0, 0, 0, 0, 1, 2]
        else:
            # interleaved MCU order at 1x1 sampling: one block per component
            zz_lists = zzs
            pattern = [0, 1, 2]
        comp_tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    out += _encode_scan_entropy(zz_lists, comp_tables, pattern)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _emit_ac_first(writer, zz, ac_codes, ss, se, al):
    """Emit one block's band in a progressive AC first scan (point
    transform = magnitude shift toward zero; EOB0 per block — legal, and
    it keeps the static Annex K tables sufficient since EOBn (n>0)
    symbols are absent from them)."""
    import numpy as np

    band = np.asarray(zz[ss : se + 1], dtype=np.int64)
    mags = np.abs(band) >> al
    nz = np.nonzero(mags)[0]
    if nz.size == 0:  # whole band zero (every DC-only block): just EOB0
        code, length = ac_codes[0x00]
        writer.write(code, length)
        return
    prev = -1
    for j in nz.tolist():
        r = j - prev - 1
        prev = j
        while r > 15:
            code, length = ac_codes[0xF0]
            writer.write(code, length)
            r -= 16
        mag = int(mags[j])
        cat, bits = _magnitude(mag if band[j] >= 0 else -mag)
        code, length = ac_codes[(r << 4) | cat]
        writer.write(code, length)
        writer.write(bits, cat)
    if nz[-1] != se - ss:
        code, length = ac_codes[0x00]  # EOB0
        writer.write(code, length)


def _emit_ac_refine(writer, zz, ac_codes, ss, se, al):
    """Emit one block's band in a progressive AC refinement scan (libjpeg
    encode_mcu_AC_refine shape, without cross-block EOB runs): newly
    nonzero values (|coef|>>Al == 1) get a run/sign symbol; already
    nonzero ones append buffered correction bits."""
    import numpy as np

    band = np.asarray(zz[ss : se + 1], dtype=np.int64)
    mags = np.abs(band) >> al
    nzidx = np.nonzero(mags)[0]
    if nzidx.size == 0:  # whole band zero (every DC-only block): just EOB0
        code, length = ac_codes[0x00]
        writer.write(code, length)
        return
    newly = np.nonzero(mags == 1)[0]
    eob_pos = ss + int(newly[-1]) if newly.size else ss - 1
    pending: list[int] = []
    r = 0
    prev = ss - 1
    for j in nzidx.tolist():
        k = ss + j
        r += k - prev - 1  # zero-magnitude coefficients skipped over
        prev = k
        mag = int(mags[j])
        # the ZRL check runs at ANY nonzero coefficient (stale included,
        # jcphuff shape): a stale coefficient past the ZRL's 16-position
        # span must sequence its correction bit after the NEXT symbol,
        # which the decoder's advance loop reads there. Guard k <= eob_pos
        # so trailing runs fold into EOB instead of a dangling ZRL.
        while r > 15 and k <= eob_pos:
            code, length = ac_codes[0xF0]
            writer.write(code, length)
            r -= 16
            for b in pending:
                writer.write(b, 1)
            pending = []
        if mag > 1:  # nonzero history: correction bit, buffered
            pending.append(mag & 1)
            continue
        code, length = ac_codes[(r << 4) | 1]
        writer.write(code, length)
        writer.write(1 if band[j] > 0 else 0, 1)
        for b in pending:
            writer.write(b, 1)
        pending = []
        r = 0
    r += se - prev  # trailing zero run
    if r or pending:
        code, length = ac_codes[0x00]  # EOB0
        writer.write(code, length)
        for b in pending:
            writer.write(b, 1)


def jpeg_encode_progressive(arr, quality: int = 50) -> bytes:
    """Encode a uint8 array as a PROGRESSIVE (SOF2) JFIF stream at 1x1
    sampling — grayscale or YCbCr 4:4:4 — with the scan script
    DC(Al=1) → DC refine → per-component AC 1..63 (Al=1) → AC refine.
    The quantized coefficients are byte-for-byte the ones
    :func:`jpeg_encode` produces, so decoding a progressive stream must
    equal decoding the baseline stream EXACTLY — the invariant
    tests/test_jpeg_codec.py pins."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")

    qluma = quality_scale(QUANT_LUMA, quality)
    qchroma = quality_scale(QUANT_CHROMA, quality)
    # the SAME shared pipeline jpeg_encode uses — the byte-identical
    # coefficient invariant is structural, not two copies kept in sync
    planes = _color_planes(a, gray)
    zzs = [
        _plane_zigzag(plane, qluma if idx == 0 else qchroma)
        for idx, plane in enumerate(planes)
    ]
    ncomp = len(planes)

    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += (b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
            + bytes(int(v) for v in qluma[ZIGZAG]))
    if not gray:
        out += (b"\xff\xdb" + struct.pack(">H", 67) + b"\x01"
                + bytes(int(v) for v in qchroma[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += struct.pack(">BBB", cid, 0x11, 0 if cid == 1 else 1)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    tables = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
              (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        tables += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                   (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    for tc, bits, vals in tables:
        seg = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg

    def sos_header(comp_sel, ss, se, ah, al):
        seg = bytes([len(comp_sel)])
        for cid, tsel in comp_sel:
            seg += bytes([cid, tsel])
        seg += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg

    dc_codes = [_build_codes(DC_LUMA_BITS, DC_LUMA_VALS)]
    ac_codes = [_build_codes(AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        dc_codes += [_build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)] * 2
        ac_codes += [_build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)] * 2
    nblocks = zzs[0].shape[0]

    # scan 1: DC first, all components interleaved, Al=1
    out += sos_header(
        [(i + 1, (0 if i == 0 else 1) << 4) for i in range(ncomp)],
        0, 0, 0, 1,
    )
    writer = _BitWriter()
    prev = [0] * ncomp
    for n in range(nblocks):
        for comp in range(ncomp):
            dc = int(zzs[comp][n][0]) >> 1  # arithmetic shift per G.1.2.1
            cat, bits = _magnitude(dc - prev[comp])
            code, length = dc_codes[comp][cat]
            writer.write(code, length)
            writer.write(bits, cat)
            prev[comp] = dc
    out += writer.flush()

    # scan 2: DC refine, Al=0
    out += sos_header(
        [(i + 1, 0) for i in range(ncomp)], 0, 0, 1, 0,
    )
    writer = _BitWriter()
    for n in range(nblocks):
        for comp in range(ncomp):
            writer.write(int(zzs[comp][n][0]) & 1, 1)
    out += writer.flush()

    # per component: AC first (Al=1) then AC refine (Ah=1, Al=0)
    for comp in range(ncomp):
        tsel = 0 if comp == 0 else 1
        out += sos_header([(comp + 1, tsel)], 1, 63, 0, 1)
        writer = _BitWriter()
        for n in range(nblocks):
            _emit_ac_first(writer, zzs[comp][n], ac_codes[comp], 1, 63, 1)
        out += writer.flush()
        out += sos_header([(comp + 1, tsel)], 1, 63, 1, 0)
        writer = _BitWriter()
        for n in range(nblocks):
            _emit_ac_refine(writer, zzs[comp][n], ac_codes[comp], 1, 63, 0)
        out += writer.flush()

    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def _scan_baseline(
    reader, scomps, sampf, htables, zz_all, cols,
    mcux, mcuy, restart_interval, ncomp,
):
    """One baseline sequential scan: all components interleaved in MCU
    order (the only scan a baseline file has)."""
    if len(scomps) != ncomp:
        raise ValueError("multi-scan baseline not supported")
    prev = [0] * len(scomps)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            reader.sync_to_restart()
            prev = [0] * len(scomps)
        mx, my = m % mcux, m // mcux
        for k, (ci, dsel, asel) in enumerate(scomps):
            dc_t = htables.get(0x00 | dsel)
            ac_t = htables.get(0x10 | asel)
            if dc_t is None or ac_t is None:
                raise ValueError("missing Huffman table")
            hh, vv = sampf[ci]
            for by in range(vv):
                for bx in range(hh):
                    zz, prev[k] = decode_block(reader, prev[k], dc_t, ac_t)
                    zz_all[ci][(my * vv + by) * cols[ci] + (mx * hh + bx)] = zz


def _scan_progressive(
    reader, scomps, sampf, htables, zz_all, cols,
    mcux, mcuy, restart_interval,
    width, height, hmax, vmax, ss, se, ah, al,
):
    """One progressive scan (T.81 Annex G): DC scans may interleave all
    components in MCU order; AC scans are single-component over the
    component's own (non-interleaved) block grid. ``Ah == 0`` is a first
    pass at point transform ``Al``; ``Ah > 0`` refines one bit."""
    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if len(scomps) > 1:
            prev = [0] * len(scomps)
            for m in range(mcux * mcuy):
                if restart_interval and m and m % restart_interval == 0:
                    reader.sync_to_restart()
                    prev = [0] * len(scomps)
                mx, my = m % mcux, m // mcux
                for k, (ci, dsel, _a) in enumerate(scomps):
                    hh, vv = sampf[ci]
                    for by in range(vv):
                        for bx in range(hh):
                            bi = (my * vv + by) * cols[ci] + (mx * hh + bx)
                            prev[k] = _dc_progressive(
                                reader, htables, dsel, zz_all[ci][bi],
                                ah, al, prev[k],
                            )
        else:
            ci, dsel, _a = scomps[0]
            bw_i, bh_i = _comp_grid(width, height, sampf[ci], hmax, vmax)
            prev0 = 0
            cnt = 0
            for ry in range(bh_i):
                for rx in range(bw_i):
                    if restart_interval and cnt and cnt % restart_interval == 0:
                        reader.sync_to_restart()
                        prev0 = 0
                    cnt += 1
                    prev0 = _dc_progressive(
                        reader, htables, dsel,
                        zz_all[ci][ry * cols[ci] + rx], ah, al, prev0,
                    )
    else:  # AC scan
        if len(scomps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        ci, _d, asel = scomps[0]
        ac_t = htables.get(0x10 | asel)
        if ac_t is None:
            raise ValueError("missing Huffman table")
        bw_i, bh_i = _comp_grid(width, height, sampf[ci], hmax, vmax)
        eobrun = 0
        cnt = 0
        for ry in range(bh_i):
            for rx in range(bw_i):
                if restart_interval and cnt and cnt % restart_interval == 0:
                    reader.sync_to_restart()
                    eobrun = 0
                cnt += 1
                coef = zz_all[ci][ry * cols[ci] + rx]
                if ah == 0:
                    eobrun = _ac_first(reader, ac_t, coef, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine(reader, ac_t, coef, ss, se, al, eobrun)


def _comp_grid(width, height, samp, hmax, vmax):
    """Non-interleaved block-grid dims of one component (ceil of its own
    downsampled size — smaller than the MCU-padded grid it stores into)."""
    hh, vv = samp
    comp_w = -(-width * hh // hmax)
    comp_h = -(-height * vv // vmax)
    return (comp_w + 7) // 8, (comp_h + 7) // 8


def _dc_progressive(reader, htables, dsel, coef, ah, al, prev):
    """DC coefficient of one block in a progressive scan; returns the
    updated predictor."""
    if ah == 0:
        dc_t = htables.get(0x00 | dsel)
        if dc_t is None:
            raise ValueError("missing Huffman table")
        s = reader.huff(dc_t)
        prev += _extend(reader.bits(s), s)
        coef[0] = prev << al
    else:
        if reader.bits(1):
            coef[0] |= 1 << al
    return prev


def jpeg_decode(payload: bytes):
    """Decode a baseline (SOF0/1) or progressive (SOF2) JPEG to a uint8
    numpy array of shape (H, W) for single-component streams or
    (H, W, 3) RGB for 3-component YCbCr — interleaved at any sampling
    factors in {1, 2, 4} (4:4:4, 4:2:2, 4:2:0; chroma upsampled by
    replication). Raises ``ValueError`` on 12-bit, arithmetic-coded,
    hierarchical, or truncated/malformed streams."""
    try:
        return _jpeg_decode(payload)
    except (struct.error, IndexError) as ex:
        # normalize truncation/malformed-stream errors to the ValueError
        # contract the Arrow kernels' pass-through handlers rely on
        raise ValueError(f"malformed JPEG payload: {ex}") from ex


def _jpeg_decode(payload: bytes):
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    qtables: dict[int, "np.ndarray"] = {}
    htables: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qsel)
    restart_interval = 0
    progressive = False
    any_scan = False
    zz_all = None
    sampf = hmax = vmax = mcux = mcuy = cols = rows = None
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("marker desync")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2): realign on the FF
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # length-less TEM/RSTn
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        data = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(data):
                pq, tq = data[off] >> 4, data[off] & 0x0F
                off += 1
                if pq == 0:
                    vals = np.frombuffer(data[off : off + 64], dtype=np.uint8)
                    off += 64
                else:
                    vals = np.frombuffer(
                        data[off : off + 128], dtype=">u2"
                    ).astype(np.int64)
                    off += 128
                t = np.zeros(64, dtype=np.int64)
                t[ZIGZAG] = vals.astype(np.int64)
                qtables[tq] = t
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(data):
                tc_th = data[off]
                bits = list(data[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(data[off + 17 : off + 17 + nvals])
                htables[tc_th] = _build_decode_table(bits, vals)
                off += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            precision, height, width, ncomp = struct.unpack(">BHHB", data[:6])
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            for i in range(ncomp):
                cid, samp, qsel = struct.unpack(
                    ">BBB", data[6 + 3 * i : 9 + 3 * i]
                )
                comps.append((cid, samp, qsel))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline or progressive Huffman JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS — decode this scan, continue at next marker
            if width is None:
                raise ValueError("JPEG scan before SOF")
            if zz_all is None:
                # allocate coefficient grids once, from the frame header.
                # Sampling factors: h in the high nibble, v in the low. A
                # single-component FRAME is non-interleaved by definition
                # (T.81 A.2.2: its MCU is one data unit), so factors
                # collapse to 1x1.
                if len(comps) == 1:
                    sampf = [(1, 1)]
                else:
                    sampf = [((s >> 4) & 0xF, s & 0xF) for _, s, _ in comps]
                hmax = max(hh for hh, _ in sampf)
                vmax = max(vv for _, vv in sampf)
                for hh, vv in sampf:
                    if (hh not in (1, 2, 4) or vv not in (1, 2, 4)
                            or hmax % hh or vmax % vv):
                        raise ValueError(
                            f"unsupported sampling factors {sampf}"
                        )
                mcux = (width + 8 * hmax - 1) // (8 * hmax)
                mcuy = (height + 8 * vmax - 1) // (8 * vmax)
                cols = [mcux * hh for hh, _ in sampf]
                rows = [mcuy * vv for _, vv in sampf]
                zz_all = [
                    np.zeros((rows[i] * cols[i], 64), dtype=np.int64)
                    for i in range(len(comps))
                ]
            ns = data[0]
            scomps = []  # (component index, dc table sel, ac table sel)
            for i in range(ns):
                cid, tsel = data[1 + 2 * i], data[2 + 2 * i]
                ci = next(
                    (j for j, (c2, _, _) in enumerate(comps) if c2 == cid),
                    None,
                )
                if ci is None:
                    raise ValueError(f"scan references unknown component {cid}")
                scomps.append((ci, tsel >> 4, tsel & 0x0F))
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 0x0F
            reader = _BitReader(payload, pos + 2 + seglen)
            if not progressive:
                _scan_baseline(
                    reader, scomps, sampf, htables, zz_all, cols,
                    mcux, mcuy, restart_interval, len(comps),
                )
            else:
                _scan_progressive(
                    reader, scomps, sampf, htables, zz_all, cols,
                    mcux, mcuy, restart_interval,
                    width, height, hmax, vmax, ss, se, ah, al,
                )
            any_scan = True
            pos = _next_marker(payload, reader.pos)
            continue
        pos += 2 + seglen
    if width is None or not any_scan:
        raise ValueError("JPEG without SOF/SOS")
    ncomp = len(comps)

    c = _dct_matrix()
    planes = []
    inv_zig = np.empty(64, dtype=np.int64)
    inv_zig[ZIGZAG] = np.arange(64)
    for comp in range(ncomp):
        q = qtables.get(comps[comp][2])
        if q is None:
            raise ValueError("missing quantization table")
        coeffs = (zz_all[comp][:, inv_zig] * q[None, :]).reshape(-1, 8, 8)
        blocks = np.einsum("xu,nuv,yv->nxy", c.T, coeffs.astype(np.float64), c.T)
        bh_i, bw_i = rows[comp], cols[comp]
        plane = (
            blocks.reshape(bh_i, bw_i, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_i * 8, bw_i * 8)
        )
        plane = _round_half_away(_snap(plane) + 128.0)
        hh, vv = sampf[comp]
        if hh != hmax or vv != vmax:  # chroma upsample by replication
            plane = np.repeat(
                np.repeat(plane, vmax // vv, axis=0), hmax // hh, axis=1
            )
        planes.append(np.clip(plane, 0, 255)[:height, :width])
    if ncomp == 1:
        return planes[0].astype(np.uint8)
    if ncomp != 3:
        raise ValueError(f"unsupported component count {ncomp}")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(_round_half_away(rgb), 0, 255).astype(np.uint8)


def flat_gray_roundtrip_value(v: int, quality: int = 50) -> int:
    """The exact arithmetic the DuckDB gate replays: a flat grayscale
    image of value v encodes to DC-only blocks, so the decode is
    clamp(round_half_away(round_half_away(8·(v−128)/Q₀₀)·Q₀₀/8 + 128)).
    Kept engine-side so tests pin codec == formula == SQL."""
    from fractions import Fraction

    def half_away(t: Fraction) -> int:
        m = abs(t) + Fraction(1, 2)
        return (1 if t >= 0 else -1) * (m.numerator // m.denominator)

    q00 = int(quality_scale(QUANT_LUMA, quality)[0])
    qdc = half_away(Fraction(8 * (v - 128), q00))
    # round AFTER the +128 level shift, exactly as the decoder does —
    # half-away rounding is not translation-invariant (reconstruction
    # −127.5 must become pixel 1, not 0), found by the hypothesis sweep
    px = half_away(Fraction(qdc * q00, 8) + 128)
    return max(0, min(255, px))
