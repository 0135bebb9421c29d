"""Pure-stdlib PNG codec parity: roundtrips, every scanline filter,
palette expansion, refusal cases, and the nearest-neighbor resize map.
No Spark session needed — this is the kernel the multimodal pixel path
runs inside Arrow batches.
"""

from __future__ import annotations

import struct
import zlib
from binascii import crc32

import numpy as np
import pytest

from assemblagedb_spark.functions.png import (
    png_decode,
    png_encode,
    resize_nearest,
)


def _rng(seed):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_every_color_type(channels):
    a = _rng(channels).integers(0, 256, size=(13, 7, channels), dtype=np.uint8)
    out = png_decode(png_encode(a))
    assert out.shape == a.shape
    assert (out == a).all()


def test_roundtrip_2d_grayscale_and_edge_sizes():
    a = _rng(9).integers(0, 256, size=(1, 1), dtype=np.uint8)
    assert (png_decode(png_encode(a))[:, :, 0] == a).all()
    b = _rng(10).integers(0, 256, size=(1, 300, 3), dtype=np.uint8)
    assert (png_decode(png_encode(b)) == b).all()


def _chunk(kind, data):
    return (
        struct.pack(">I", len(data)) + kind + data
        + struct.pack(">I", crc32(kind + data) & 0xFFFFFFFF)
    )


def _manual_png(img, filters, color_type=2, plte=None):
    """Encode with CHOSEN per-row filter types (the encoder itself always
    emits 0; this builds the foreign payloads the decoder must handle)."""
    h, w, ch = img.shape
    rows = []
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int64)
        f = filters[y]
        enc = np.zeros(w * ch, dtype=np.int64)
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                enc[x] = cur[x]
            elif f == 1:
                enc[x] = cur[x] - a
            elif f == 2:
                enc[x] = cur[x] - b
            elif f == 3:
                enc[x] = cur[x] - (a + b) // 2
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = cur[x] - pred
        rows.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    body = _chunk(b"IHDR", ihdr)
    if plte is not None:
        body += _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    body += _chunk(b"IDAT", zlib.compress(b"".join(rows)))
    body += _chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


@pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
def test_decode_each_filter_type(f):
    img = _rng(f).integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    payload = _manual_png(img, [f] * 6)
    assert (png_decode(payload) == img).all()


def test_decode_mixed_filters_per_row():
    img = _rng(42).integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    payload = _manual_png(img, [0, 1, 2, 3, 4])
    assert (png_decode(payload) == img).all()


def test_decode_palette_expands_plte():
    plte = _rng(3).integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = _rng(4).integers(0, 16, size=(7, 9, 1), dtype=np.uint8)
    payload = _manual_png(idx, [0] * 7, color_type=3, plte=plte)
    out = png_decode(payload)
    assert out.shape == (7, 9, 3)
    assert (out == plte[idx[:, :, 0]]).all()


def test_decode_refusals():
    with pytest.raises(ValueError):
        png_decode(b"not a png")
    img = _rng(5).integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    # 16-bit depth refused
    bad = bytearray(png_encode(img))
    bad[24] = 16  # IHDR bit-depth byte
    with pytest.raises(ValueError):
        png_decode(bytes(bad))
    # Adam7 interlace refused
    bad = bytearray(png_encode(img))
    bad[28] = 1  # IHDR interlace byte
    with pytest.raises(ValueError):
        png_decode(bytes(bad))


def test_header_parser_agrees_with_pixel_decoder():
    # decode_image (header path) and png_decode must report the same
    # dimensions and band count on the same real payload
    from assemblagedb_spark.operators.multimodal import decode_image

    for ch in (1, 2, 3, 4):
        a = _rng(20 + ch).integers(0, 256, size=(11, 6, ch), dtype=np.uint8)
        payload = png_encode(a)
        w, h, c = decode_image(payload)
        assert (w, h, c) == (6, 11, ch)
        assert png_decode(payload).shape == (11, 6, ch)


def test_resize_nearest_integer_map():
    # out[y, x] = src[(y*H)//height, (x*W)//width] — exact integer map,
    # down- and up-scaling
    src = np.arange(5 * 3).reshape(5, 3, 1).astype(np.uint8)
    out = resize_nearest(src, width=6, height=2)
    assert out.shape == (2, 6, 1)
    for y in range(2):
        for x in range(6):
            assert out[y, x, 0] == src[(y * 5) // 2, (x * 3) // 6, 0]


def test_encode_resize_decode_pipeline():
    a = _rng(77).integers(0, 256, size=(20, 17, 3), dtype=np.uint8)
    resized = resize_nearest(png_decode(png_encode(a)), width=8, height=8)
    again = png_decode(png_encode(resized))
    assert (again == resized).all()
    assert again.shape == (8, 8, 3)


# ---------------------------------------------------------------------------
# WAV (stdlib wave module) — the audio leg of the real-codec paths
# ---------------------------------------------------------------------------


def test_wav_roundtrip_and_rates():
    from assemblagedb_spark.operators.multimodal import wav_decode, wav_encode

    for sr in (8000, 16000, 44100):
        samples = _rng(sr).integers(-32768, 32768, size=257, dtype=np.int64)
        payload = wav_encode(samples, sr)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        got_sr, ch, got = wav_decode(payload)
        assert (got_sr, ch) == (sr, 1)
        assert (got.astype(np.int64) == samples).all()


def test_wav_decode_refusals():
    import wave

    from assemblagedb_spark.operators.multimodal import wav_decode

    with pytest.raises(wave.Error):
        wav_decode(b"not audio at all")


def test_kernels_tolerate_null_and_garbage_payloads(spark):
    # every real-codec Arrow kernel must survive NULL and undecodable
    # payloads under its own contract (scan-time tolerance), never a dead
    # task: the stat readers emit NULL stats, resize keeps its fixed
    # columns, the frame samplers emit no frames
    from assemblagedb_spark.operators.multimodal import (
        audio_features,
        decode_image_features,
        jpeg_pixel_stats,
        pixel_sums,
        resize_images,
        sample_frames,
        sample_video_frames,
        wav_encode,
    )

    ok_png = png_encode(np.zeros((2, 2), dtype=np.uint8))
    ok_wav = wav_encode(np.zeros(4, dtype=np.int64), 8000)
    media = spark.createDataFrame(
        [(1, ok_png), (2, None), (3, b"garbage")],
        "media_id long, payload binary",
    )
    img = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert (img[1]["width"], img[1]["height"]) == (2, 2)
    assert img[2]["width"] is None and img[3]["width"] is None

    sums = {r["media_id"]: r["pixel_sum"] for r in pixel_sums(media).collect()}
    assert sums == {1: 0, 2: None, 3: None}

    rs = {r["media_id"]: r
          for r in resize_images(media, 4, 4, codec="png").collect()}
    assert rs[1]["payload"] is not None
    assert rs[2]["payload"] is None and rs[3]["payload"] is None
    for r in rs.values():
        assert (r["meta_mime"], r["width"], r["height"]) == ("image/png", 4, 4)

    jp = {r["media_id"]: r for r in jpeg_pixel_stats(media).collect()}
    assert set(jp) == {1, 2, 3}
    for mid in (2, 3):
        assert (jp[mid]["width"], jp[mid]["height"], jp[mid]["pixel_sum"]) == (
            None, None, None
        )

    # neither NULL nor garbage (nor a PNG) is a video container
    assert sample_video_frames(media).collect() == []

    empty = spark.createDataFrame(
        [(1, None), (2, b"")], "media_id long, payload binary"
    )
    frames = sample_frames(empty).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in frames] == [(2, 0)]

    audio = spark.createDataFrame(
        [(1, ok_wav), (2, None), (3, b"garbage")],
        "media_id long, payload binary",
    )
    au = {r["media_id"]: r for r in audio_features(audio).collect()}
    assert au[1]["n_samples"] == 4 and au[1]["abs_sum"] == 0
    assert au[2]["abs_sum"] is None and au[3]["abs_sum"] is None


def test_truncated_and_corrupt_streams_raise_value_error():
    # struct.error (short IHDR) and zlib.error (corrupt IDAT) must
    # normalize to the ValueError contract the Arrow kernels' NULL
    # pass-through handlers rely on — same bug class the GIF/JPEG
    # review fixed
    import pytest

    from assemblagedb_spark.functions.png import png_decode, png_encode

    truncated_ihdr = b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR" + b"\x00" * 5
    with pytest.raises(ValueError):
        png_decode(truncated_ihdr)
    full = png_encode(np.zeros((4, 4), dtype=np.uint8))
    # corrupt the IDAT body: zlib must fail, surfaced as ValueError
    idx = full.find(b"IDAT") + 4
    corrupt = full[:idx] + b"\x00\x00\x00\x00" + full[idx + 4 :]
    with pytest.raises(ValueError):
        png_decode(corrupt)
