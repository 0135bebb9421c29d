"""Pure-stdlib GIF codec (LZW + numpy) — completes the real pixel paths
for the header-parser trio (PNG / JPEG / GIF).

GIF87a/89a is palette-indexed LZW-compressed raster data in length-
prefixed sub-blocks — no dependency beyond integer math. This module
implements:

- ``gif_encode``: grayscale frames → an animated GIF89a (global 256-gray
  palette, one full-canvas image per frame, LZW with dynamic code width
  and dictionary resets). Single-frame input yields a plain static GIF.
- ``gif_decode``: static and animated GIFs → composited (T, H, W, 3)
  RGB frames. Supports global and local color tables, interlace
  (four-pass row shuffle), transparency (GCE), disposal methods 0/1
  (draw over) and 2 (restore to background). Disposal 3 (restore
  previous) is refused explicitly — stated, not hidden.

LZW notes (the bits real decoders get wrong): code width starts at
``min_code_size + 1`` and grows when the dictionary reaches ``1 <<
width`` (capped at 12 bits until a CLEAR); the first code after CLEAR
must be a literal; the KwKwK case (code == next dictionary slot) emits
``prev + prev[0]``.

Scale shape: runs inside Arrow batches (mapInPandas). The LZW loops are
per-symbol Python bounded by payload size; palette resolution and
compositing are vectorized numpy. Pinned by tests/test_gif_codec.py
(lossless roundtrip, interlace, transparency/disposal compositing,
dictionary-growth torture strings, refusals).
"""

from __future__ import annotations

import struct


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def lzw_encode(indexes, min_code_size: int) -> bytes:
    """LZW-compress a sequence of palette indexes (GIF variant: CLEAR and
    EOI codes, MSB-last bit packing, 12-bit dictionary cap)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # dict: (prev_code << 8 | next_sym) -> code; sequences are represented
    # by their own code, so no per-pixel tuple is ever built (codes ≤ 4095
    # and palette indexes ≤ 255, so the packed int key is collision-free)
    try:
        import numpy as np

        if isinstance(indexes, np.ndarray):
            indexes = indexes.tolist()  # C-speed scalar extraction
    except ImportError:  # pragma: no cover - numpy is a hard dep elsewhere
        pass
    table: dict = {}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prev_code = -1
    for sym in indexes:
        sym = int(sym)
        if prev_code < 0:
            prev_code = sym
            continue
        key = (prev_code << 8) | sym
        cur = table.get(key)
        if cur is not None:
            prev_code = cur
            continue
        emit(prev_code, width)
        table[key] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= (1 << 12):
            emit(clear, width)
            table = {}
            next_code = eoi + 1
            width = min_code_size + 1
        prev_code = sym
    if prev_code >= 0:
        emit(prev_code, width)
        # account for the code consuming a dictionary slot boundary
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes, min_code_size: int, expected: int):
    """Inverse of :func:`lzw_encode`; returns a list of ``expected``
    palette indexes (extra trailing codes are ignored, a shortfall raises
    ``ValueError``)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0
    n = len(data)

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= n:
                return eoi  # truncated stream: surface as EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out: list[int] = []
    table: list[tuple] = [(i,) for i in range(clear)] + [(), ()]
    width = min_code_size + 1
    prev: tuple = ()
    while len(out) < expected:
        code = read(width)
        if code == eoi:
            break
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = ()
            continue
        if not prev:
            if code >= len(table):
                raise ValueError("LZW: first code after CLEAR not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):  # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond dictionary")
        out.extend(entry)
        if prev and len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) < expected:
        raise ValueError(
            f"LZW: stream ended at {len(out)} of {expected} pixels"
        )
    return out[:expected]


# --------------------------------------------------------------------------
# Container
# --------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate length-prefixed sub-blocks starting at pos; returns
    (data, position after the 0 terminator)."""
    chunks = []
    n = len(payload)
    while pos < n:
        size = payload[pos]
        pos += 1
        if size == 0:
            break
        chunks.append(payload[pos : pos + size])
        pos += size
    return b"".join(chunks), pos


def _block_split(data: bytes) -> bytes:
    """Split data into <=255-byte length-prefixed sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


GIF_DELAY_CS = 4  # gif_encode's frame delay, hundredths of a second


def gif_encode(frames) -> bytes:
    """Encode (H, W) or (T, H, W) uint8 GRAYSCALE frames as a GIF89a with
    a global 256-entry gray palette (index == luma — lossless for gray
    inputs). Multi-frame input becomes an animation of full-canvas
    frames at ``GIF_DELAY_CS`` hundredths of a second."""
    import numpy as np

    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim == 2:
        a = a[None]
    if a.ndim != 3 or a.shape[0] == 0:
        raise ValueError(f"expected (T, H, W) gray frames, got {a.shape}")
    t, h, w = a.shape
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8 bits/entry, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    gct = bytearray()
    for v in range(256):
        gct += bytes((v, v, v))
    out += gct
    if t > 1:
        # NETSCAPE2.0 loop-forever extension — the standard animation marker
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for i in range(t):
        if t > 1:
            # graphic control: disposal 1 (leave), no transparency
            out += b"\x21\xf9" + _block_split(
                struct.pack("<BHB", 0x04, GIF_DELAY_CS, 0)
            )
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # no LCT
        out.append(8)  # LZW min code size
        out += _block_split(lzw_encode(a[i].ravel(), 8))
    out += b"\x3b"  # trailer
    return bytes(out)


def gif_decode(payload: bytes):
    """Decode a GIF to composited RGB frames: returns (frames, width,
    height, n_frames) with frames a (T, H, W, 3) uint8 array. Raises
    ``ValueError`` on non-GIF bytes, truncated streams, missing color
    tables, or disposal method 3 (restore-previous)."""
    try:
        return _gif_decode(payload)
    except (struct.error, IndexError) as ex:
        # normalize truncation/malformed-stream errors to the ValueError
        # contract the Arrow kernels' pass-through handlers rely on
        raise ValueError(f"malformed GIF payload: {ex}") from ex


def _gif_decode(payload: bytes):
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height, flags, bg_index, _ar = struct.unpack(
        "<HHBBB", payload[6:13]
    )
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(
            payload[pos : pos + 3 * size], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * size

    frames = []
    # canvas starts as the background color (or black without a GCT)
    if gct is not None and bg_index < len(gct):
        background = np.tile(gct[bg_index], (height, width, 1))
    else:
        background = np.zeros((height, width, 3), dtype=np.uint8)
    canvas = background.copy()
    transparent = None
    disposal = 0
    n = len(payload)
    while pos < n:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:  # graphic control
                packed = data[0]
                disposal = (packed >> 2) & 0x07
                transparent = data[3] if packed & 0x01 else None
                if disposal == 3:
                    raise ValueError(
                        "GIF disposal method 3 (restore previous) not supported"
                    )
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block {block:#x} at {pos - 1}")
        left, top, w, h, iflags = struct.unpack(
            "<HHHHB", payload[pos : pos + 9]
        )
        pos += 9
        if iflags & 0x80:  # local color table
            size = 2 << (iflags & 0x07)
            palette = np.frombuffer(
                payload[pos : pos + 3 * size], dtype=np.uint8
            ).reshape(-1, 3)
            pos += 3 * size
        else:
            palette = gct
        if palette is None:
            raise ValueError("GIF image without any color table")
        min_code = payload[pos]
        pos += 1
        data, pos = _sub_blocks(payload, pos)
        idx = np.array(
            lzw_decode(data, min_code, w * h), dtype=np.int64
        ).reshape(h, w)
        if iflags & 0x40:  # interlaced: rows arrive in four passes
            rows = []
            for start, step in _INTERLACE_PASSES:
                rows.extend(range(start, h, step))
            deinterlaced = np.empty_like(idx)
            deinterlaced[rows] = idx
            idx = deinterlaced
        # Real-world GIFs sometimes declare a rect extending past the
        # logical screen; renderers clip, so clip here too (otherwise the
        # canvas slice is smaller than `colors` and broadcasting raises).
        eh = min(h, height - top)
        ew = min(w, width - left)
        if eh <= 0 or ew <= 0:
            frames.append(canvas.copy())
            transparent = None
            disposal = 0
            continue
        rect = canvas[top : top + eh, left : left + ew]
        colors = palette[np.clip(idx[:eh, :ew], 0, len(palette) - 1)]
        if transparent is not None:
            mask = (idx[:eh, :ew] != transparent)[:, :, None]
            rect[:] = np.where(mask, colors, rect)
        else:
            rect[:] = colors
        frames.append(canvas.copy())
        if disposal == 2:  # restore the frame's rect to the background
            canvas[top : top + h, left : left + w] = background[
                top : top + h, left : left + w
            ]
        # GIF89a GCE scope is exactly ONE image block: a frame without
        # its own GCE is opaque and leaves the canvas in place
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("GIF with zero image blocks")
    return np.stack(frames), width, height, len(frames)
