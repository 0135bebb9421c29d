"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The 100 TB training-pipeline pattern: media lives in a BINARY column (or a
path column resolved lazily), typed metadata travels alongside in a struct,
and every transform is an Arrow-batched function over ``mapInPandas`` so
bytes stream through Python in columnar batches without JVM round-trips
per row.

Every kernel runs through one of two Arrow loops, so a worker-side rule
(a thread cap, a partition count) lands in one place: :func:`_build_media`
spreads the bare ``doc_id`` column and builds ``(media_id, payload)`` per
id — the five ``synthetic_*_media`` builders — and :func:`_map_payloads`
maps each payload to zero or more output rows — the seven readers. Each
public function keeps only its per-row codec call and its own NULL /
bad-payload contract.

Codec status: ``decode_image`` — the (width, height, channels) metadata
path every gate and feature extractor here uses — is REAL for PNG, GIF
and JPEG payloads via a pure-stdlib header parser (the same lazy-header
read PIL's ``Image.open`` performs for ``.width``/``.height``: pixels are
never decoded for dimension extraction). Pixel-level transforms are REAL
for PNG (functions/png.py: full encode/decode/resize), baseline JPEG
(functions/jpeg.py: pure-numpy FDCT/Huffman codec) and uncompressed
YUV4MPEG2 video (functions/y4m.py: container parse + per-frame luma) —
each gate-checked end to end against arithmetic DuckDB oracles. PIL /
ffmpeg, when the environment ships them, extend coverage to the
remaining compressed formats (12-bit/arithmetic JPEG, H.26x video).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_sha256 string"
# frame sampling: sample_video_frames takes every VIDEO_FRAME_STRIDE-th
# decoded frame, sample_frames one FRAME_WINDOW_BYTES window per frame;
# both stop at MAX_FRAMES per payload
VIDEO_FRAME_STRIDE = 2
FRAME_WINDOW_BYTES = 64
MAX_FRAMES = 8


try:  # optional wider-format codec, used when the environment provides it
    from PIL import Image as _PILImage  # type: ignore

    HAS_IMAGE_CODEC = True
except ImportError:  # this container ships no PIL; header parser still works
    _PILImage = None
    HAS_IMAGE_CODEC = False


def _build_media(docs: DataFrame, payload_of) -> DataFrame:
    """(media_id, payload) with ``payload_of(id) -> bytes`` per ``doc_id``
    — the Arrow loop of every payload builder.

    The bare id column is spread across the session's full parallelism
    first. Synthetic media corpora inherit the input file's split count —
    one split for a small parquet — which would serialize the codec work
    no matter how many cores exist; at 100 TB the same holds whenever
    per-row compute, not scan bytes, is the bottleneck. Only the id column
    (a long per row) crosses the exchange: payloads are built AFTER it, so
    payload bytes never cross the network
    (tests/test_plan_properties.py pins exactly this shape)."""

    def build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            yield pd.DataFrame({
                "media_id": ids.astype("int64"),
                "payload": [payload_of(int(mid)) for mid in ids],
            })

    sc = docs.sparkSession.sparkContext
    return (
        docs.select(F.col("doc_id"))
        .repartition(sc.defaultParallelism)
        .mapInPandas(build, "media_id long, payload binary")
    )


def _map_payloads(media: DataFrame, schema: str, rows_of) -> DataFrame:
    """``schema`` rows ``(media_id, *row)`` for every ``row`` that
    ``rows_of(payload)`` returns, with ``payload`` as ``bytes`` or
    ``None`` — the Arrow loop of every payload reader. ``rows_of`` owns
    the reader's NULL and bad-payload contract: a NULL-stats row, a row
    that keeps its fixed columns, or no row at all."""
    columns = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = [
                (media_id, *row)
                for media_id, payload in zip(pdf["media_id"], pdf["payload"])
                for row in rows_of(None if payload is None else bytes(payload))
            ]
            yield pd.DataFrame(rows, columns=columns)

    return media.select("media_id", "payload").mapInPandas(run, schema)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type -> band count, matching len(PIL.Image.getbands()):
# 0 gray 'L'=1, 2 truecolor 'RGB'=3, 3 palette 'P'=1, 4 'LA'=2, 6 'RGBA'=4
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG start-of-frame markers (baseline through lossless, arithmetic
# variants) — the segment carrying dimensions and component count
_JPEG_SOF = frozenset(
    range(0xC0, 0xCF + 1)
) - {0xC4, 0xC8, 0xCC}  # exclude DHT, JPG extension, DAC


def _header_decode(payload: bytes) -> tuple[int, int, int] | None:
    """Pure-stdlib (width, height, channels) from PNG/GIF/JPEG headers —
    exactly the metadata PIL's lazy ``Image.open`` reads for
    ``.width``/``.height``/``getbands()`` without ever decoding pixels
    (the cheap-dimension-extraction pattern production data pipelines
    use at scan time). Returns ``None`` for unrecognized or truncated
    payloads; band counts mirror PIL's mode mapping so answers are
    identical whichever path serves them."""
    import struct

    if payload[:8] == _PNG_MAGIC:
        if len(payload) < 26 or payload[12:16] != b"IHDR":
            return None
        w, h = struct.unpack(">II", payload[16:24])
        ch = _PNG_CHANNELS.get(payload[25])
        return (w, h, ch) if ch else None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            return None
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h, 1  # PIL opens GIF in palette mode 'P' — one band
    if payload[:2] == b"\xff\xd8":  # JPEG SOI
        i, n = 2, len(payload)
        while i + 3 < n:
            if payload[i] != 0xFF:
                return None  # marker desync: not a parseable JPEG
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                if i + 9 >= n:
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return w, h, payload[i + 9]  # components = bands
            i += 2 + seg_len
        return None
    return None


def decode_image(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) of an encoded image payload.

    The stdlib header parser decodes PNG/GIF/JPEG directly (no pixel
    decode — the same lazy read PIL performs for these fields); PIL, when
    importable (``HAS_IMAGE_CODEC``), covers any remaining container
    formats. Raises ``NotImplementedError`` only for payloads neither path
    recognizes."""
    dims = _header_decode(payload or b"")
    if dims is not None:
        return dims
    if HAS_IMAGE_CODEC:
        import io

        with _PILImage.open(io.BytesIO(payload)) as im:
            return im.width, im.height, len(im.getbands())
    raise NotImplementedError(
        "unrecognized image payload (not PNG/GIF/JPEG) and no wider codec "
        "in this environment — install PIL for other container formats"
    )


def png_media_table(docs: DataFrame) -> DataFrame:
    """(media_id, kind, payload): a media table whose payloads are REAL
    PNG signatures + IHDR chunks, constructed JVM-side from the row id
    (width = 16 + id % 240, height = 16 + (id * 7) % 240, color type
    cycling through the five PNG types). The bytes are genuinely parsed
    back by :func:`decode_image`'s header path — engine-built payloads
    in, parser-extracted dimensions out — so an oracle predicting the
    dimensions arithmetically pins the parser, not a stub. Pure binary
    concat/unhex projection: zero Python, zero shuffle."""
    cts = "element_at(array(0, 2, 3, 4, 6), CAST(pmod(doc_id, 5) AS INT) + 1)"
    payload = (
        "concat("
        "unhex('89504E470D0A1A0A'), "            # PNG signature
        "unhex('0000000D49484452'), "            # IHDR length + type
        "unhex(lpad(hex(16 + pmod(doc_id, 240)), 8, '0')), "
        "unhex(lpad(hex(16 + pmod(doc_id * 7, 240)), 8, '0')), "
        "unhex(concat('08', lpad(hex(" + cts + "), 2, '0'), '000000')), "
        "unhex('00000000'))"                     # CRC (not read by header)
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr(payload).alias("payload"),
    )


def decode_image_features(media: DataFrame) -> DataFrame:
    """REAL-decode feature extraction: (media_id, width, height,
    n_channels) via :func:`decode_image` — the header parser with its PIL
    fallback — over Arrow batches.
    Unrecognized payloads surface as NULL dims rather than failing the
    batch (scan-time tolerance a 100 TB ingest needs)."""

    def rows_of(payload):
        try:
            # OSError covers PIL.UnidentifiedImageError (its subclass)
            # when the wider-codec fallback is present; ValueError covers
            # malformed recognized formats
            return [decode_image(payload or b"")]
        except (NotImplementedError, ValueError, OSError):
            return [(None, None, None)]

    return _map_payloads(
        media, "media_id long, width int, height int, n_channels int", rows_of
    )


def wav_encode(samples, sample_rate: int) -> bytes:
    """Encode a mono int16 sample array as a RIFF/WAVE payload — the
    stdlib ``wave`` module writes the real container (PCM 16-bit), no
    third-party codec needed."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def wav_decode(payload: bytes):
    """(sample_rate, n_channels, samples int16 array) of a RIFF/WAVE
    payload via the stdlib ``wave`` reader — the REAL audio decode path
    (16-bit PCM; the reader raises ``wave.Error`` on non-WAV bytes)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"only 16-bit PCM supported, got width {w.getsampwidth()}"
            )
        frames = w.readframes(w.getnframes())
        return (
            w.getframerate(),
            w.getnchannels(),
            np.frombuffer(frames, dtype="<i2"),
        )


def synthetic_wav_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): REAL RIFF/WAVE payloads built per row in the
    Arrow kernel — n_samples = 64 + id % 129, sample_rate = 8000 +
    (id % 3)·4000, sample(t) = ((id·31 + t·7) mod 65536) − 32768 — an
    audio corpus whose waveform is a pure function of the id, so a SQL
    oracle can predict any sample statistic the decode path extracts."""
    import numpy as np

    def payload_of(mid: int) -> bytes:
        t = np.arange(64 + mid % 129, dtype=np.int64)
        samples = ((mid * 31 + t * 7) % 65536) - 32768
        return wav_encode(samples, 8000 + (mid % 3) * 4000)

    return _build_media(docs, payload_of)


def audio_features(media: DataFrame) -> DataFrame:
    """(media_id, sample_rate, n_channels, n_samples, abs_sum): the REAL
    audio decode path over Arrow batches — container parsed, PCM frames
    materialized, an exact integer waveform statistic emitted (abs_sum =
    Σ|sample|, the replayable stand-in for RMS energy, which a SQL
    oracle cannot compute exactly in floats)."""
    import wave

    def rows_of(payload):
        try:
            if payload is None:
                raise ValueError("NULL payload")
            sr, ch, samples = wav_decode(payload)
        except (wave.Error, ValueError, EOFError):
            # NULL or unparseable payload -> NULL stats, not a dead task
            # (the same scan-time tolerance as decode_image_features)
            return [(None, None, None, None)]
        return [(sr, ch, len(samples), int(abs(samples.astype("int64")).sum()))]

    return _map_payloads(
        media,
        "media_id long, sample_rate int, n_channels int, "
        "n_samples long, abs_sum long",
        rows_of,
    )


def media_table(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from a text corpus (payload = utf-8 bytes):
    the harness stand-in for an ingested image dataset — schema and byte
    handling identical to the real thing."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
            F.lit("synthetic").alias("source"),
        ).alias("meta"),
    )


def _pixel_codec(codec: str):
    """(decode, encode, mime) of a pixel codec :func:`resize_images`
    supports: lossless PNG (functions/png.py) or lossy baseline JPEG
    (functions/jpeg.py, quality 50 re-encode)."""
    if codec == "png":
        from assemblagedb_spark.functions.png import png_decode, png_encode

        return png_decode, png_encode, "image/png"
    if codec == "jpeg":
        from assemblagedb_spark.functions.jpeg import jpeg_decode, jpeg_encode

        return jpeg_decode, lambda arr: jpeg_encode(arr, quality=50), "image/jpeg"
    raise ValueError(f"unknown pixel codec {codec!r}")


def resize_images(media: DataFrame, width: int, height: int, codec: str) -> DataFrame:
    """Resize transform: payload -> payload. Each payload decodes with
    ``codec`` ("png" or "jpeg"), resizes by the exact nearest-neighbor
    integer map, and re-encodes — decode, transform, re-encode inside one
    Arrow batch loop, the shape every pixel-level training transform takes
    at scale."""
    from assemblagedb_spark.functions.png import resize_nearest

    decode, encode, mime = _pixel_codec(codec)

    def rows_of(payload):
        try:
            if payload is None:
                raise ValueError("NULL payload")
            resized = encode(
                resize_nearest(decode(payload), width=width, height=height)
            )
        except ValueError:
            # NULL or undecodable payload passes through as a NULL payload
            # row — schema kept, task alive
            resized = None
        return [(resized, mime, width, height)]

    return _map_payloads(
        media,
        "media_id long, payload binary, meta_mime string, width int, height int",
        rows_of,
    )


def synthetic_png_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): REAL grayscale PNG payloads built per row in
    the Arrow kernel — W = 8 + id % 9, H = 8 + (id·3) % 9, pixel(x, y) =
    (x + 7y + id) % 256 — i.e. an image corpus whose pixel content is a
    pure function of the id, so a SQL oracle can predict any pixel
    statistic downstream transforms produce. The payloads are genuine
    zlib-compressed PNGs (functions/png.py), not header shells."""
    import numpy as np

    from assemblagedb_spark.functions.png import png_encode

    def payload_of(mid: int) -> bytes:
        w, h = 8 + mid % 9, 8 + (mid * 3) % 9
        arr = (np.arange(w)[None, :] + 7 * np.arange(h)[:, None] + mid) % 256
        return png_encode(arr.astype(np.uint8))

    return _build_media(docs, payload_of)


def pixel_sums(media: DataFrame) -> DataFrame:
    """(media_id, pixel_sum): sum of all decoded pixel values per payload
    — the integer pixel statistic the resize gate compares against its
    arithmetic oracle (REAL decode path, no stub)."""
    from assemblagedb_spark.functions.png import png_decode

    def rows_of(payload):
        try:
            if payload is None:
                raise ValueError("NULL payload")
            return [(int(png_decode(payload).sum()),)]
        except ValueError:
            return [(None,)]  # NULL/undecodable -> NULL stat, task alive

    return _map_payloads(media, "media_id long, pixel_sum long", rows_of)


def synthetic_jpeg_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): REAL baseline JPEG payloads built per row in
    the Arrow kernel — block-flat images W = 8·(1 + id%3), H = 8·(1 +
    (id÷3)%3) whose 8×8 block at (bx, by) is the flat value
    (id + 13·bx + 29·by) mod 256. Each block is DC-only under the FDCT,
    so the decoded image is an exact closed-form function of the id
    (functions/jpeg.py determinism contract: DC = 8d snapped before
    rounding) while the stream still exercises DC differential coding,
    multi-category Huffman symbols, byte stuffing and block tiling —
    genuine entropy-coded T.81 streams, not header shells. Odd ids emit
    PROGRESSIVE (SOF2) streams, even ids baseline — both carry identical
    quantized coefficients, so one arithmetic oracle pins BOTH decode
    paths."""
    import numpy as np

    from assemblagedb_spark.functions.jpeg import (
        jpeg_encode,
        jpeg_encode_progressive,
    )

    ones = np.ones((8, 8), dtype=np.int64)

    def payload_of(mid: int) -> bytes:
        bw, bh = 1 + mid % 3, 1 + (mid // 3) % 3
        vals = (
            mid + 13 * np.arange(bw)[None, :] + 29 * np.arange(bh)[:, None]
        ) % 256
        enc = jpeg_encode_progressive if mid % 2 else jpeg_encode
        return enc(np.kron(vals, ones).astype(np.uint8), quality=50)

    return _build_media(docs, payload_of)


def jpeg_pixel_stats(media: DataFrame) -> DataFrame:
    """(media_id, width, height, pixel_sum) via the REAL baseline JPEG
    decoder (Huffman → dequant → IDCT, functions/jpeg.py) — the integer
    pixel statistics the lossy-codec gate compares against its
    arithmetic oracle. NULL/undecodable payloads yield NULL stats, task
    alive."""
    from assemblagedb_spark.functions.jpeg import jpeg_decode

    def rows_of(payload):
        try:
            if payload is None:
                raise ValueError("NULL payload")
            arr = jpeg_decode(payload)
        except ValueError:
            return [(None, None, None)]
        return [(int(arr.shape[1]), int(arr.shape[0]), int(arr.astype("int64").sum()))]

    return _map_payloads(
        media, "media_id long, width int, height int, pixel_sum long", rows_of
    )


def synthetic_y4m_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): genuine YUV4MPEG2 Cmono streams — T = 1+id%4
    frames of W = 8+id%5 × H = 8+(id·3)%5 with luma(x, y, t) =
    (x + 3y + 7t + id) mod 256 — a video corpus whose every pixel is a
    pure function of the id, so a SQL oracle can predict any per-frame
    statistic downstream sampling produces."""
    import numpy as np

    from assemblagedb_spark.functions.y4m import y4m_encode

    def payload_of(mid: int) -> bytes:
        t, w, h = 1 + mid % 4, 8 + mid % 5, 8 + (mid * 3) % 5
        frames = (
            np.arange(w)[None, None, :]
            + 3 * np.arange(h)[None, :, None]
            + 7 * np.arange(t)[:, None, None]
            + mid
        ) % 256
        return y4m_encode(frames.astype(np.uint8))

    return _build_media(docs, payload_of)


def sample_video_frames(media: DataFrame) -> DataFrame:
    """REAL animation/video frame sampling: sniff each payload's magic
    and parse it as a YUV4MPEG2 container (functions/y4m.py) or an
    animated GIF (functions/gif.py — LZW decode + disposal compositing),
    take every ``VIDEO_FRAME_STRIDE``-th frame up to ``MAX_FRAMES``, and emit
    (media_id, frame_idx, width, height, luma_sum) — the exploded
    (media, frame) shape a training pipeline feeds to a vision encoder,
    with frame boundaries from each container's own geometry rather than
    the byte-window stride of the :func:`sample_frames` stub. GIF luma is
    the BT.601 integer approximation (299R + 587G + 114B) ÷ 1000, which
    is exactly the gray value for grayscale palettes. NULL/unparseable
    payloads sample nothing (missing media has no frames); the task
    stays alive."""
    import numpy as np

    from assemblagedb_spark.functions.gif import gif_decode
    from assemblagedb_spark.functions.y4m import y4m_decode

    def rows_of(data):
        try:
            if data is None:
                return []
            if data[:9] == b"YUV4MPEG2":
                luma, w, h, t = y4m_decode(data)
            elif data[:4] == b"GIF8":
                rgb, w, h, t = gif_decode(data)
                rgb = rgb.astype(np.int64)
                luma = (
                    299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]
                ) // 1000
            else:
                return []
        except ValueError:
            return []
        return [
            (idx, w, h, int(luma[idx].astype("int64").sum()))
            for idx in range(0, t, VIDEO_FRAME_STRIDE)[:MAX_FRAMES]
        ]

    return _map_payloads(
        media,
        "media_id long, frame_idx int, width int, height int, luma_sum long",
        rows_of,
    )


def synthetic_gif_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): genuine animated GIF89a streams — T = 1+id%3
    full-canvas frames of W = 6+id%5 × H = 6+(id·7)%5 grayscale pixels
    luma(x, y, t) = (x + 5y + 11t + id) mod 256, LZW-compressed against
    the global 256-gray palette — an animation corpus whose every pixel
    is a pure function of the id, so a SQL oracle can predict any
    per-frame statistic downstream sampling produces."""
    import numpy as np

    from assemblagedb_spark.functions.gif import gif_encode

    def payload_of(mid: int) -> bytes:
        t, w, h = 1 + mid % 3, 6 + mid % 5, 6 + (mid * 7) % 5
        frames = (
            np.arange(w)[None, None, :]
            + 5 * np.arange(h)[None, :, None]
            + 11 * np.arange(t)[:, None, None]
            + mid
        ) % 256
        return gif_encode(frames.astype(np.uint8))

    return _build_media(docs, payload_of)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: emit one row per sampled frame —
    the (media_id, frame_idx) exploded shape downstream training pipelines
    expect. The stub samples ``FRAME_WINDOW_BYTES`` byte windows, at most
    ``MAX_FRAMES`` per payload; a real impl samples decoded frames at
    timestamps."""

    def rows_of(data):
        if data is None:
            # a MISSING payload samples nothing — unlike an empty payload,
            # which keeps its designed minimum one frame
            return []
        # fingerprint the LOWERCASE-HEX rendering of each window, not the
        # raw bytes: the portable exact form (an SQL oracle cannot slice
        # or sha256 BLOBs, and a byte window of UTF-8 text is not
        # generally a valid string)
        w = FRAME_WINDOW_BYTES
        return [
            (i, hashlib.sha256(data[i * w : (i + 1) * w].hex().encode()).hexdigest())
            for i in range(min(MAX_FRAMES, max(1, len(data) // w)))
        ]

    return _map_payloads(media, FRAME_SAMPLE_SCHEMA, rows_of)
