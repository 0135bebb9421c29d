"""Pure-stdlib YUV4MPEG2 (y4m) video container codec.

The container ships no ffmpeg, but y4m needs none: it is the standard
UNCOMPRESSED interchange format every video toolchain (mjpegtools,
ffmpeg's yuv4mpegpipe, x264's input layer) reads — an ASCII stream
header (``YUV4MPEG2 W<w> H<h> F<n>:<d> ... C<chroma>\\n``) followed by
``FRAME\\n`` + raw planar pixel data per frame. This upgrades the video
leg of the multimodal path (frame sampling) from a byte-window stub to a
real container parse: frame boundaries come from the format's own
geometry, not an arbitrary stride.

Supported chroma formats: ``Cmono`` (luma only — what the builder
emits), ``C420``/``C420jpeg``/``C420mpeg2``/``C420paldv`` (chroma planes
parsed and skipped; luma returned) and ``C444``. Anything else raises
``ValueError``. Compressed codecs (H.264 &c.) are NOT in scope — stated,
not hidden; this is the decode target a real pipeline transcodes INTO.

Scale shape: runs inside Arrow batches (mapInPandas); per-payload work
is header split + numpy frombuffer views, no per-pixel Python.
Pinned by tests/test_y4m_codec.py.
"""

from __future__ import annotations

# chroma tag -> bytes of chroma data per frame as a fraction (num, den)
# of the luma plane size
_CHROMA_FRACTION = {
    "mono": (0, 1),
    "420": (1, 2),
    "420jpeg": (1, 2),
    "420mpeg2": (1, 2),
    "420paldv": (1, 2),
    "444": (2, 1),
}

_FRAME_MAGIC = b"FRAME"


def y4m_encode(frames) -> bytes:
    """Encode a (T, H, W) uint8 luma array as a Cmono y4m stream at 25
    frames per second — genuine container bytes any y4m reader accepts."""
    import numpy as np

    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 3 or a.shape[0] == 0:
        raise ValueError(f"expected (T, H, W) frames, got shape {a.shape}")
    t, h, w = a.shape
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
    parts = [head]
    for i in range(t):
        parts.append(b"FRAME\n")
        parts.append(a[i].tobytes())
    return b"".join(parts)


def y4m_decode(payload: bytes):
    """Parse a y4m stream → (luma, width, height, n_frames) where luma is
    a (T, H, W) uint8 array. Chroma planes (420/444 variants) are parsed
    for their exact byte extent and skipped. Raises ``ValueError`` on a
    bad magic, unknown chroma tag, or truncated frame."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("y4m stream header without newline")
    width = height = None
    chroma = "420jpeg"  # the spec's default when C is absent
    for token in payload[9:nl].split(b" "):
        if not token:
            continue
        tag, val = chr(token[0]), token[1:].decode("ascii", "replace")
        if tag == "W":
            width = int(val)
        elif tag == "H":
            height = int(val)
        elif tag == "C":
            chroma = val
        # F (rate), I (interlace), A (aspect), X (comment): not needed for
        # frame extraction; parsed-and-ignored is spec-conformant
    if not width or not height:
        raise ValueError("y4m header missing W/H")
    frac = _CHROMA_FRACTION.get(chroma)
    if frac is None:
        raise ValueError(f"unsupported y4m chroma format C{chroma}")
    luma_size = width * height
    chroma_size = (luma_size * frac[0]) // frac[1]
    frame_size = luma_size + chroma_size

    frames = []
    pos = nl + 1
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 5] != _FRAME_MAGIC:
            raise ValueError(f"expected FRAME marker at offset {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("FRAME header without newline")
        data_start = fnl + 1
        if data_start + frame_size > n:
            raise ValueError("truncated y4m frame")
        luma = np.frombuffer(
            payload, dtype=np.uint8, count=luma_size, offset=data_start
        ).reshape(height, width)
        frames.append(luma)
        pos = data_start + frame_size
    if not frames:
        raise ValueError("y4m stream with zero frames")
    return np.stack(frames), width, height, len(frames)
