"""Pins for the pure-numpy baseline JPEG codec (functions/jpeg.py).

Three layers, each isolating one failure mode:
- flat-field exactness: a constant image is DC-only, so the decode is a
  closed-form function of (value, Q00) — codec must equal the formula
  the DuckDB gate replays in SQL (any FDCT/quant/entropy/IDCT bug breaks
  this bit-exactly);
- entropy-layer exactness: hand-fed quantized coefficient blocks survive
  encode_block -> bitstream -> decode_block unchanged (Huffman + magnitude
  coding is lossless by construction);
- roundtrip error bound: random images decode within the quantization
  ceiling (max coefficient error Q/2 propagated through the orthonormal
  IDCT), so the lossy layers lose only what T.81 says they may.
"""

import numpy as np
import pytest

from assemblagedb_spark.functions.jpeg import (
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    QUANT_LUMA,
    _BitReader,
    _BitWriter,
    _build_codes,
    _build_decode_table,
    decode_block,
    encode_block,
    flat_gray_roundtrip_value,
    jpeg_decode,
    jpeg_encode,
    quality_scale,
)
from tests.conftest import flat_gray_at, jpeg_encoded


# ---------------------------------------------------------------------------
# flat-field exactness (the gate's arithmetic)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("quality", [25, 50, 90])
def test_flat_gray_matches_closed_form(quality):
    # every value class: extremes, mid, both rounding parities
    for v in [0, 1, 37, 127, 128, 129, 200, 254, 255]:
        img = np.full((24, 16), v, dtype=np.uint8)
        out = jpeg_decode(jpeg_encoded(img, quality))
        expect = flat_gray_at(v, quality)
        assert out.shape == (24, 16)
        assert (out == expect).all(), (v, quality, np.unique(out), expect)


def test_flat_gray_non_multiple_of_8_crops_back():
    # padding is edge-replicated so padded blocks stay flat -> still exact
    img = np.full((13, 11), 77, dtype=np.uint8)
    out = jpeg_decode(jpeg_encode(img))
    assert out.shape == (13, 11)
    assert (out == flat_gray_roundtrip_value(77)).all()


def test_quality_50_is_the_unscaled_annex_k_table():
    assert quality_scale(QUANT_LUMA, 50).tolist() == list(QUANT_LUMA)
    assert int(quality_scale(QUANT_LUMA, 50)[0]) == 16


# ---------------------------------------------------------------------------
# entropy layer is exactly lossless
# ---------------------------------------------------------------------------


def test_entropy_roundtrip_exact_on_adversarial_blocks():
    dc_codes = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_table = _build_decode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_table = _build_decode_table(AC_LUMA_BITS, AC_LUMA_VALS)

    rng = np.random.RandomState(7)
    blocks = []
    # adversarial shapes: all-zero AC, dense, long zero runs (ZRL),
    # max-category values, trailing nonzero at index 63 (no EOB)
    zz = np.zeros(64, dtype=np.int64); zz[0] = 13; blocks.append(zz)
    zz = rng.randint(-255, 256, size=64).astype(np.int64); blocks.append(zz)
    zz = np.zeros(64, dtype=np.int64); zz[0] = -9; zz[40] = 3; blocks.append(zz)
    zz = np.zeros(64, dtype=np.int64); zz[0] = 5; zz[63] = -1; blocks.append(zz)
    zz = np.zeros(64, dtype=np.int64); zz[0] = 0; zz[17] = 1023; zz[18] = -1023
    blocks.append(zz)
    for _ in range(20):
        zz = rng.randint(-40, 41, size=64) * (rng.rand(64) < 0.2)
        blocks.append(zz.astype(np.int64))

    w = _BitWriter()
    prev = 0
    for zz in blocks:
        prev = encode_block(w, zz, prev, dc_codes, ac_codes)
    payload = w.flush() + b"\xff\xd9"

    r = _BitReader(payload, 0)
    prev = 0
    for zz in blocks:
        got, prev = decode_block(r, prev, dc_table, ac_table)
        assert got == list(zz)


# ---------------------------------------------------------------------------
# lossy roundtrip bounded by the quantization ceiling
# ---------------------------------------------------------------------------


def _error_ceiling(quality: int) -> float:
    # coefficient error <= Q(u,v)/2; IDCT basis magnitude <= alpha_u*alpha_v/4,
    # so pixel error <= sum(Q)/8 * (worst constructive case) — use the loose
    # analytic bound sum(Q/2 * 1/4) plus 1 for the two half-away roundings.
    q = quality_scale(QUANT_LUMA, quality).astype(np.float64)
    return float((q / 2).sum() / 4 + 1.0)


@pytest.mark.parametrize("quality", [50, 90])
def test_random_gray_roundtrip_within_quant_bound(quality):
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(40, 56), dtype=np.uint8)
    out = jpeg_decode(jpeg_encoded(img, quality))
    assert out.shape == img.shape
    err = np.abs(out.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= _error_ceiling(quality), (err, _error_ceiling(quality))


def test_smooth_gradient_high_quality_is_close():
    # a smooth ramp at quality 95 should be nearly lossless — catches
    # gross scaling errors the analytic ceiling would let through
    y, x = np.mgrid[0:32, 0:32]
    img = ((x * 3 + y * 2) % 200 // 4 + 20).astype(np.uint8)
    out = jpeg_decode(jpeg_encoded(img, 95))
    err = np.abs(out.astype(np.int64) - img.astype(np.int64))
    assert err.mean() < 3.0 and err.max() <= 20


def test_rgb_roundtrip_flat_color_and_shape():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 80, 40
    out = jpeg_decode(jpeg_encoded(img, 90))
    assert out.shape == (16, 16, 3)
    err = np.abs(out.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= 6  # color transform rounding + DC quantization only


# ---------------------------------------------------------------------------
# contract: refusals and header integration
# ---------------------------------------------------------------------------


def test_decoder_refuses_non_jpeg_and_truncated_headers():
    with pytest.raises(ValueError):
        jpeg_decode(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff\xd9")  # SOI+EOI, no SOF/SOS


def test_decoder_refuses_lossless_and_malformed_progressive():
    payload = bytearray(jpeg_encode(np.full((8, 8), 50, dtype=np.uint8)))
    idx = payload.find(b"\xff\xc0")
    assert idx > 0
    # SOF3 (lossless) still refuses outright
    payload[idx + 1] = 0xC3
    with pytest.raises(ValueError, match="baseline or progressive"):
        jpeg_decode(bytes(payload))
    # a baseline entropy stream relabeled SOF2 is structurally invalid
    # progressive (its single scan spans Ss=0..Se=63) and must refuse
    payload[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan with Se"):
        jpeg_decode(bytes(payload))


def test_header_parser_reads_our_streams():
    # the round-6 header-only parser must agree with the full codec
    from assemblagedb_spark.operators.multimodal import decode_image

    img = np.full((24, 17), 90, dtype=np.uint8)
    w, h, c = decode_image(jpeg_encode(img))
    assert (w, h, c) == (17, 24, 1)
    rgb = np.zeros((9, 12, 3), dtype=np.uint8)
    w, h, c = decode_image(jpeg_encode(rgb))
    assert (w, h, c) == (12, 9, 3)


def test_byte_stuffing_and_restart_reader():
    # 0xFF bytes inside the entropy stream must be stuffed and un-stuffed;
    # probe with many blocks to make raw 0xFF output bytes likely
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(64, 64), dtype=np.uint8)
    payload = jpeg_encoded(img, 10)  # coarse -> dense 1-bits
    body = payload[2:-2]
    # every 0xFF in the entropy segment must be followed by 0x00 or a marker
    sos = body.find(b"\xff\xda")
    seg = body[sos + 2 :]
    for i, b in enumerate(seg[:-1]):
        if b == 0xFF:
            assert seg[i + 1] == 0x00 or seg[i + 1] >= 0xC0
    out = jpeg_decode(payload)
    assert out.shape == img.shape


def _build_rst_stream(img, dri):
    """Foreign-stream builder: a grayscale baseline JPEG with a DRI
    segment and RSTn markers every `dri` MCUs (our encoder never emits
    them; real camera/libjpeg output does)."""
    import struct

    from assemblagedb_spark.functions import jpeg as J

    qluma = J.quality_scale(J.QUANT_LUMA, 50)
    dc_codes = J._build_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac_codes = J._build_codes(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    c = J._dct_matrix()
    blocks, _ = J._to_blocks(img.astype(np.float64) - 128.0)
    coeffs = J._snap(np.einsum("ux,nxy,vy->nuv", c, blocks, c))
    zz = (
        J._round_half_away(J._snap(coeffs / qluma.reshape(8, 8)))
        .astype(np.int64).reshape(-1, 64)[:, J.ZIGZAG]
    )
    h, w = img.shape
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in qluma[J.ZIGZAG]
    )
    out += b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, h, w, 1
    ) + bytes([1, 0x11, 0])
    for tc, bits, vals in [
        (0x00, J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        (0x10, J.AC_LUMA_BITS, J.AC_LUMA_VALS),
    ]:
        seg = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 0x3F, 0])
    wtr = J._BitWriter()
    prev = 0
    rst = 0
    for i in range(zz.shape[0]):
        if dri and i and i % dri == 0:
            out += wtr.flush() + bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = J._BitWriter()
            prev = 0  # T.81: DC prediction resets at every restart
        prev = J.encode_block(wtr, zz[i], prev, dc_codes, ac_codes)
    out += wtr.flush() + b"\xff\xd9"
    return bytes(out)


def test_restart_markers_decode_with_predictor_reset():
    # flat image across restart intervals stays the exact closed form
    img = np.full((8, 32), 100, dtype=np.uint8)
    dec = jpeg_decode(_build_rst_stream(img, 2))
    assert dec.shape == (8, 32)
    assert (dec == flat_gray_roundtrip_value(100)).all()
    # and a random image decodes IDENTICALLY with and without DRI —
    # byte-boundary sync and predictor reset lose nothing
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 40), dtype=np.uint8)
    assert (
        jpeg_decode(_build_rst_stream(img, 3))
        == jpeg_decode(jpeg_encode(img))
    ).all()


def test_jpeg_resize_transform_pure_path():
    # the decode -> nearest-resize -> re-encode composition the
    # codec="jpeg" resize kernel runs per payload, checked without Spark:
    # output is a valid baseline stream at the target dims, and resizing
    # a flat image (exact under both lossy passes) stays the closed form
    from assemblagedb_spark.functions.png import resize_nearest

    v = 90
    img = np.full((24, 24), v, dtype=np.uint8)
    once = jpeg_decode(jpeg_encode(img))
    resized = jpeg_encode(resize_nearest(once, width=16, height=16))
    out = jpeg_decode(resized)
    assert out.shape == (16, 16)
    # f is idempotent on its own fixed points: f(f(v)) == f(v)
    fv = flat_gray_roundtrip_value(v)
    assert (out == flat_gray_roundtrip_value(fv)).all()
    assert flat_gray_roundtrip_value(fv) == fv


# ---------------------------------------------------------------------------
# chroma subsampling (4:2:0 — the common camera/web shape)
# ---------------------------------------------------------------------------


def test_420_flat_color_tight():
    # flat chroma survives the 2x2 mean exactly, so only DC quantization
    # and color-transform rounding remain
    img = np.zeros((20, 28, 3), dtype=np.uint8)
    img[...] = (200, 80, 40)
    out = jpeg_decode(jpeg_encoded(img, 90, subsample=True))
    assert out.shape == (20, 28, 3)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 6


def test_420_smooth_image_close_and_odd_dims_crop():
    yy, xx = np.mgrid[0:32, 0:48]
    smooth = np.stack(
        [(xx * 2 + 10) % 200 + 20, (yy * 3) % 180 + 30, (xx + yy) % 150 + 50],
        -1,
    ).astype(np.uint8)
    out = jpeg_decode(jpeg_encoded(smooth, 95, subsample=True))
    err = np.abs(out.astype(int) - smooth.astype(int))
    assert err.mean() < 8
    # odd dims exercise the 16-multiple padding + final crop
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(17, 19, 3), dtype=np.uint8)
    assert jpeg_decode(jpeg_encoded(img, subsample=True)).shape == (17, 19, 3)


def test_420_mcu_interleave_is_positionally_correct():
    # four quadrants of distinct flat colors: any block-order mistake in
    # the 4-luma+Cb+Cr MCU interleave scrambles quadrants
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[:16, :16] = (250, 10, 10)
    img[:16, 16:] = (10, 250, 10)
    img[16:, :16] = (10, 10, 250)
    img[16:, 16:] = (240, 240, 20)
    out = jpeg_decode(jpeg_encoded(img, 90, subsample=True))
    for sl, color in [
        ((slice(2, 14), slice(2, 14)), (250, 10, 10)),
        ((slice(2, 14), slice(18, 30)), (10, 250, 10)),
        ((slice(18, 30), slice(2, 14)), (10, 10, 250)),
        ((slice(18, 30), slice(18, 30)), (240, 240, 20)),
    ]:
        patch = out[sl].astype(int)
        assert np.abs(patch - np.array(color)).max() <= 12, color


def test_420_restart_markers_via_dri():
    # foreign 4:2:0 stream with restart markers: build with our encoder
    # at the MCU layer is involved, so instead rewrite a 1x1 stream test
    # is covered elsewhere; here assert 4:2:0 + gray single-scan file
    # with explicit 2x2 factors decodes as non-interleaved (T.81 A.2.2)
    gray = np.full((12, 12), 77, dtype=np.uint8)
    payload = bytearray(jpeg_encode(gray))
    idx = payload.find(b"\xff\xc0")
    # set the single component's sampling byte to 0x22 — real encoders do
    payload[idx + 2 + 9] = 0x22
    out = jpeg_decode(bytes(payload))
    assert out.shape == (12, 12)
    assert (out == flat_gray_roundtrip_value(77)).all()


# ---------------------------------------------------------------------------
# progressive (SOF2) — decode must equal the baseline decode EXACTLY,
# because jpeg_encode_progressive emits the same quantized coefficients
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "shape,quality",
    [((24, 16), 50), ((13, 11), 90), ((40, 56), 25),
     ((16, 16, 3), 50), ((9, 7, 3), 75), ((48, 32, 3), 95)],
)
def test_progressive_decode_equals_baseline(shape, quality):
    rng = np.random.RandomState(sum(shape) + quality)
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    base = jpeg_decode(jpeg_encoded(img, quality))
    prog = jpeg_decode(jpeg_encoded(img, quality, progressive=True))
    assert (base == prog).all()


def test_progressive_fuzz_small_images():
    # the AC refinement bit-sequencing (ZRL spans, buffered correction
    # bits, EOB folding) has many interacting paths — fuzz them
    rng = np.random.RandomState(77)
    for _ in range(25):
        hh, ww = rng.randint(1, 40), rng.randint(1, 40)
        shape = (hh, ww) if rng.randint(2) == 0 else (hh, ww, 3)
        q = int(rng.choice([10, 25, 50, 75, 90, 95]))
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        b = jpeg_decode(jpeg_encoded(img, q))
        p = jpeg_decode(jpeg_encoded(img, q, progressive=True))
        assert (b == p).all(), (shape, q)


def test_progressive_stream_structure():
    from assemblagedb_spark.functions.jpeg import jpeg_encode_progressive

    img = np.full((16, 16, 3), 100, dtype=np.uint8)
    payload = jpeg_encode_progressive(img)
    assert b"\xff\xc2" in payload  # SOF2
    assert payload.count(b"\xff\xda") >= 8  # DC x2 + (AC first+refine) x3
    # flat color: progressive and baseline agree with the closed form
    gray = np.full((24, 16), 37, dtype=np.uint8)
    out = jpeg_decode(jpeg_encode_progressive(gray))
    assert (out == flat_gray_roundtrip_value(37)).all()


def test_truncated_streams_raise_value_error():
    # struct.error/IndexError must normalize to the ValueError contract
    # the Arrow kernels' NULL-pass-through handlers rely on
    full = jpeg_encode(np.full((8, 8), 50, dtype=np.uint8))
    for payload in [
        b"\xff\xd8\xff\xc0\x00\x03\x08",  # truncated SOF
        full[: len(full) // 3],            # mid-header cut
    ]:
        with pytest.raises(ValueError):
            jpeg_decode(payload)


def test_fill_bytes_before_markers_are_legal():
    # T.81 B.1.1.2: any marker may be preceded by any number of FF fill
    # bytes; splice some in front of DQT and SOS
    img = np.full((8, 16), 90, dtype=np.uint8)
    payload = jpeg_encode(img)
    for marker in (b"\xff\xdb", b"\xff\xda"):
        idx = payload.find(marker)
        padded = payload[:idx] + b"\xff\xff\xff" + payload[idx:]
        out = jpeg_decode(padded)
        assert (out == flat_gray_roundtrip_value(90)).all()


def test_bit_accumulators_stay_bounded():
    # Regression for the O(n^2) entropy cliff: consumed/emitted history
    # bits must be truncated from the accumulator, or it grows into an
    # arbitrarily large Python int and every <<8 copies the whole stream.
    w = _BitWriter()
    rng = np.random.RandomState(11)
    for _ in range(5000):
        n = int(rng.randint(1, 17))
        w.write(int(rng.randint(0, 1 << n)), n)
        assert w.acc.bit_length() <= w.nbits
    payload = w.flush()
    r = _BitReader(payload, 0)
    consumed = 0
    total = len(payload) * 8
    while consumed + 16 < total:
        n = int(rng.randint(1, 17))
        r.bits(n)
        consumed += n
        assert r.acc.bit_length() <= r.nbits


def test_vectorized_entropy_matches_scalar():
    # The vectorized item/pack pipeline in jpeg_encode must produce the
    # exact bytes of the scalar encode_block/_BitWriter reference, for
    # every scan pattern (grayscale, 4:4:4 interleave, 4:2:0 interleave).
    from assemblagedb_spark.functions import jpeg as J

    rng = np.random.RandomState(23)

    def scalar_stream(zz_lists, pattern, tables):
        w = _BitWriter()
        prev = [0] * len(zz_lists)
        ptrs = [0] * len(zz_lists)
        nmcu = len(zz_lists[0]) // pattern.count(0)
        for _ in range(nmcu):
            for c in pattern:
                dc_codes, ac_codes = tables[c]
                encode_block(w, zz_lists[c][ptrs[c]], prev[c], dc_codes, ac_codes)
                prev[c] = int(zz_lists[c][ptrs[c]][0])
                ptrs[c] += 1
        return w.flush()

    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(J.DC_CHROMA_BITS, J.DC_CHROMA_VALS)
    ac_c = _build_codes(J.AC_CHROMA_BITS, J.AC_CHROMA_VALS)

    def random_zz(n):
        # sparse blocks with occasional long runs, extremes, all-zero and
        # dense blocks — exercises ZRL splitting, EOB suppression at 63
        zz = np.zeros((n, 64), dtype=np.int64)
        for i in range(n):
            kind = i % 5
            if kind == 0:
                continue  # all-zero block
            if kind == 1:
                zz[i, 63] = rng.randint(-1023, 1024) or 7  # no EOB
            nnz = rng.randint(1, 20)
            pos = rng.choice(63, size=min(nnz, 63), replace=False) + 1
            zz[i, pos] = rng.randint(-1023, 1024, size=len(pos))
            zz[i, 0] = rng.randint(-1023, 1024)  # diffs stay ≤ cat 11
        return zz

    for pattern, comps in [
        ([0], [(dc_l, ac_l)]),
        ([0, 1, 2], [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]),
        ([0, 0, 0, 0, 1, 2], [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]),
    ]:
        nmcu = 24
        zz_lists = [random_zz(nmcu * pattern.count(c)) for c in range(len(comps))]
        expected = scalar_stream(zz_lists, pattern, comps)
        parts = [
            J._component_items(zz_lists[c], *comps[c]) for c in range(len(comps))
        ]
        got = J._pack_entropy(*J._interleave_items(parts, pattern))
        assert got == expected, f"pattern {pattern} diverged"


def test_vectorized_entropy_fails_loudly_on_out_of_table_symbols():
    # Review finding (round 7): the scalar path raises KeyError on a
    # coefficient whose category is absent from the Huffman table; the
    # vectorized path must do the same, not silently drop the symbol and
    # emit a corrupt stream.
    from assemblagedb_spark.functions import jpeg as J

    dc = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    zz = np.zeros((1, 64), dtype=np.int64)
    zz[0, 5] = 1024  # |v| >= 1024 -> AC category 11, not in Annex K
    with pytest.raises(KeyError):
        J._component_items(zz, dc, ac)
    zz2 = np.zeros((1, 64), dtype=np.int64)
    zz2[0, 0] = 4096  # DC diff category 13, beyond the DC table
    with pytest.raises(KeyError):
        J._component_items(zz2, dc, ac)


def test_quality_scale_cache_is_shape_aware():
    from assemblagedb_spark.functions import jpeg as J

    flat = J.quality_scale(QUANT_LUMA, 50)
    square = J.quality_scale(np.asarray(QUANT_LUMA).reshape(8, 8), 50)
    assert flat.shape == (64,)
    assert square.shape == (8, 8)
    assert (square.ravel() == flat).all()
