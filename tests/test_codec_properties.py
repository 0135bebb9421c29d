"""Hypothesis property pins for the pure-stdlib codecs.

Each property is an algebraic identity the format guarantees, checked on
arbitrary inputs rather than chosen fixtures:
- LZW and the GIF/y4m containers are LOSSLESS: decode(encode(x)) == x.
- JPEG's progressive scan script re-sequences the SAME quantized
  coefficients, so progressive decode == baseline decode exactly.
- The flat-field closed form holds for every (value, quality) pair.
"""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from assemblagedb_spark.functions.gif import gif_decode, gif_encode, lzw_decode, lzw_encode
from assemblagedb_spark.functions.jpeg import jpeg_decode
from assemblagedb_spark.functions.y4m import y4m_decode, y4m_encode
from tests.conftest import flat_gray_at, jpeg_encoded

_settings = settings(
    max_examples=150, suppress_health_check=[HealthCheck.too_slow], deadline=None
)


@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda size: st.tuples(
            st.just(size),
            st.lists(
                st.integers(min_value=0, max_value=(1 << size) - 1),
                min_size=1,
                max_size=2000,
            ),
        )
    )
)
@_settings
def test_lzw_roundtrip_is_identity(size_and_seq):
    min_code, seq = size_and_seq
    assert lzw_decode(lzw_encode(seq, min_code), min_code, len(seq)) == seq


@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@_settings
def test_gif_animation_roundtrip_is_identity(t, h, w, seed):
    rng = np.random.RandomState(seed)
    frames = rng.randint(0, 256, size=(t, h, w), dtype=np.uint8)
    got, gw, gh, gt = gif_decode(gif_encode(frames))
    assert (gw, gh, gt) == (w, h, t)
    assert (got == frames[:, :, :, None]).all()


@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@_settings
def test_y4m_roundtrip_is_identity(t, h, w, seed):
    rng = np.random.RandomState(seed)
    frames = rng.randint(0, 256, size=(t, h, w), dtype=np.uint8)
    got, gw, gh, gt = y4m_decode(y4m_encode(frames))
    assert (gw, gh, gt) == (w, h, t)
    assert (got == frames).all()


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.booleans(),
    st.sampled_from([10, 25, 50, 75, 90, 95]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(
    max_examples=60, suppress_health_check=[HealthCheck.too_slow], deadline=None
)
def test_progressive_decode_equals_baseline_property(h, w, color, quality, seed):
    rng = np.random.RandomState(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    base = jpeg_decode(jpeg_encoded(img, quality))
    prog = jpeg_decode(jpeg_encoded(img, quality, progressive=True))
    assert (base == prog).all()


@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=100),
)
@_settings
def test_flat_field_closed_form_property(v, quality):
    img = np.full((8, 8), v, dtype=np.uint8)
    out = jpeg_decode(jpeg_encoded(img, quality))
    assert (out == flat_gray_at(v, quality)).all()


@given(
    st.sampled_from([(0,), (0, 1, 2), (0, 0, 0, 0, 1, 2)]),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@_settings
def test_vectorized_entropy_equals_scalar_property(pattern, nmcu, seed):
    # byte-level parity of the vectorized item/pack scan encoder against
    # the scalar encode_block/_BitWriter reference over random coefficient
    # structures (sparse/dense blocks, ZRL chains, EOB suppression at 63,
    # DC chains per component) for every interleave pattern
    from assemblagedb_spark.functions import jpeg as J

    rng = np.random.RandomState(seed)
    dc_l = J._build_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac_l = J._build_codes(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    dc_c = J._build_codes(J.DC_CHROMA_BITS, J.DC_CHROMA_VALS)
    ac_c = J._build_codes(J.AC_CHROMA_BITS, J.AC_CHROMA_VALS)
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    ncomp = max(pattern) + 1

    def random_zz(n):
        zz = np.zeros((n, 64), dtype=np.int64)
        for i in range(n):
            kind = rng.randint(4)
            if kind == 0:
                continue
            if kind == 1:
                zz[i, 1:] = rng.randint(-1023, 1024, 63)  # dense
            else:
                nnz = rng.randint(1, 12)
                pos = rng.choice(63, size=nnz, replace=False) + 1
                zz[i, pos] = rng.randint(-1023, 1024, size=nnz)
            zz[i, 0] = rng.randint(-1023, 1024)
        return zz

    zz_lists = [
        random_zz(nmcu * pattern.count(c)) for c in range(ncomp)
    ]
    w = J._BitWriter()
    prev = [0] * ncomp
    ptr = [0] * ncomp
    for _ in range(nmcu):
        for c in pattern:
            prev[c] = J.encode_block(
                w, zz_lists[c][ptr[c]], prev[c], *tables[c]
            )
            ptr[c] += 1
    expected = w.flush()
    parts = [
        J._component_items(zz_lists[c], *tables[c]) for c in range(ncomp)
    ]
    got = J._pack_entropy(*J._interleave_items(parts, list(pattern)))
    assert got == expected
