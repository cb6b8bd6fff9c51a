"""GIF decode/encode in pure stdlib + NumPy — no codec library.

GIF (87a/89a) is, like PNG, decodable from first principles: the only
"codec" work is the variable-width LZW entropy code (GIF's one
compression scheme), palette lookup, interlace row reordering, and
frame compositing — all expressible with stdlib + NumPy. The reference
repo has no image surface at all (its SURVEY §2.3 scope is two
similarity pyfunctions). This is a standalone library codec: no
operator dispatches to it, so GIF payloads are ``opaque`` in
``multimodal.decoded_asset_stats`` and undecodable for the dHash
family.

Scope: GIF87a and GIF89a, global/local color tables, interlace,
transparency, disposal methods 0-3, animation (multi-image with
graphic-control delays). :func:`decode_gif` returns COMPOSITED frames
— what a viewer shows — as RGB; "restore to background" fills with
the background color (the output carries no alpha channel; the choice
is documented here rather than silently approximated).

The encoder (:func:`encode_gif`) exists as the writing sink and the
test harness: ≤256-color exact-palette frames (quantization is out of
scope — more colors raise ValueError), optional interlace, animation
delays, loop count, and a transparent sentinel color. GIF is
lossless, so round-trip tests assert bit-exact pixels; the decoder
additionally has an in-the-wild fixture no code in this repo produced
(the canonical 1x1 transparent GIF, a public constant).

Cost note: per-asset work is O(pixels), with the only Python-level
loop being the LZW symbol walk (bounded by the compressed byte count).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_gif", "decode_gif_image", "encode_gif"]

_MAX_CODE = 4095  # LZW dictionary is capped at 12-bit codes


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable code width 3..12)


def _lzw_decode(data: bytes, mcs: int, n: int) -> np.ndarray:
    """Decode ``n`` palette indices from GIF-LZW ``data`` (sub-blocks
    already concatenated). ``mcs`` is the LZW minimum code size byte."""
    if not 2 <= mcs <= 8:
        raise ValueError(f"bad GIF LZW minimum code size {mcs}")
    clear, end = 1 << mcs, (1 << mcs) + 1
    base: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    acc = nbits = pos = 0
    prev: bytes | None = None
    out = bytearray()
    while len(out) < n:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"GIF LZW stream starts with code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"GIF LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) <= _MAX_CODE:
            table.append(prev + entry[:1])
            # decoder grows one entry behind the encoder, so the width
            # bump lands when the table FILLS the current width (the
            # next code may be exactly len(table): the KwKwK case)
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n:
        raise ValueError("GIF LZW data ended before the image was full")
    return np.frombuffer(bytes(out[:n]), dtype=np.uint8)


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-LZW encode palette ``indices``; emits an initial clear code
    and resets the dictionary when it would outgrow 12 bits."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0
    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    fresh = {bytes([i]): i for i in range(clear)}
    table = dict(fresh)
    next_code = end + 1
    emit(clear)
    w = b""
    for c in indices:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code <= _MAX_CODE:
            table[wc] = next_code
            # the NEXT emitted code can be the just-assigned entry, so
            # the width must cover it from here on (decoder mirror:
            # bump when len(table) reaches 1<<width, one entry behind)
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table = dict(fresh)
            width = mcs + 1
            next_code = end + 1
        w = bytes([c])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder


def _interlace_rows(h: int) -> np.ndarray:
    """Destination row for each stream row of an interlaced image
    (GIF89a appendix E: passes at strides 8/8/4/2)."""
    return np.concatenate(
        [
            np.arange(0, h, 8),
            np.arange(4, h, 8),
            np.arange(2, h, 4),
            np.arange(1, h, 2),
        ]
    ).astype(np.int64)


def _skip_subblocks(payload: bytes, pos: int) -> int:
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF sub-block chain")
        size = payload[pos]
        pos += 1
        if size == 0:
            return pos
        pos += size


def decode_gif(
    payload: bytes, max_pixels: int = 1 << 26
) -> tuple[list[np.ndarray], list[int]]:
    """REAL GIF decode — pure NumPy. Returns ``(frames, delays)``:
    COMPOSITED uint8 ``(h, w, 3)`` RGB frames at the logical-screen
    size (transparency shows the prior canvas through; disposal 2
    restores the background color, disposal 3 the previous canvas)
    plus per-frame delays in centiseconds (0 for still images).
    Raises ValueError on non-GIF or malformed streams.

    ``max_pixels`` (default 64M — a 8192x8192 canvas) is the
    decompression-bomb guard: the logical-screen dims come from two
    untrusted header shorts, and a 34-byte corrupt stream can claim a
    17217x50390 canvas that costs seconds of allocation+compositing
    before the truncation is even discovered (fuzz-found, round 8) —
    the same guard Pillow ships as ``MAX_IMAGE_PIXELS``. Raise it
    explicitly for genuinely huge assets."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (missing GIF87a/89a header)")
    w, h = struct.unpack_from("<HH", payload, 6)
    if w < 1 or h < 1:
        raise ValueError(f"bad GIF dimensions {w}x{h}")
    if w * h > max_pixels:
        raise ValueError(
            f"GIF logical screen {w}x{h} exceeds max_pixels={max_pixels} "
            "(decompression-bomb guard; pass a larger max_pixels to "
            "decode it anyway)"
        )
    packed, bg = payload[10], payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise ValueError("truncated GIF global color table")
        gct = (
            np.frombuffer(payload, np.uint8, 3 * n, pos)
            .reshape(n, 3)
            .copy()
        )
        pos += 3 * n
    bg_rgb = gct[bg] if gct is not None and bg < len(gct) else np.zeros(
        3, np.uint8
    )
    canvas = np.empty((h, w, 3), np.uint8)
    canvas[:] = bg_rgb
    frames: list[np.ndarray] = []
    delays: list[int] = []
    gce: tuple[int, int | None, int] | None = None  # (disposal, tidx, delay)
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and pos + 1 + payload[pos] <= len(payload):
                body = payload[pos + 1 : pos + 1 + payload[pos]]
                if len(body) >= 4:
                    flags = body[0]
                    (delay,) = struct.unpack_from("<H", body, 1)
                    tidx = body[3] if flags & 0x01 else None
                    gce = ((flags >> 2) & 0x07, tidx, delay)
            pos = _skip_subblocks(payload, pos)
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left, top, iw, ih = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                if pos + 3 * n > len(payload):
                    raise ValueError("truncated GIF local color table")
                lct = (
                    np.frombuffer(payload, np.uint8, 3 * n, pos)
                    .reshape(n, 3)
                    .copy()
                )
                pos += 3 * n
            if lct is None:
                raise ValueError("GIF image with no color table")
            if iw < 1 or ih < 1:
                raise ValueError(f"bad GIF frame dimensions {iw}x{ih}")
            if pos >= len(payload):
                raise ValueError("truncated GIF image data")
            mcs = payload[pos]
            pos += 1
            chunks = []
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF image data")
                size = payload[pos]
                pos += 1
                if size == 0:
                    break
                chunks.append(payload[pos : pos + size])
                pos += size
            grid = _lzw_decode(b"".join(chunks), mcs, iw * ih).reshape(
                ih, iw
            )
            if int(grid.max(initial=0)) >= len(lct):
                raise ValueError("GIF pixel index outside the color table")
            if ipacked & 0x40:  # interlaced: reorder stream rows
                img = np.empty_like(grid)
                img[_interlace_rows(ih)] = grid
                grid = img
            disposal, tidx, delay = gce if gce is not None else (0, None, 0)
            # clip the frame rect to the logical screen (wild files
            # overflow; clipping matches viewer behavior)
            ch, cw = min(ih, h - top), min(iw, w - left)
            if ch > 0 and cw > 0:
                prev = canvas.copy() if disposal == 3 else None
                region = canvas[top : top + ch, left : left + cw]
                colors = lct[grid[:ch, :cw]]
                if tidx is not None:
                    mask = grid[:ch, :cw] != tidx
                    region[mask] = colors[mask]
                else:
                    region[:] = colors
                frames.append(canvas.copy())
                if disposal == 2:
                    region[:] = bg_rgb
                elif disposal == 3 and prev is not None:
                    canvas = prev
            else:
                frames.append(canvas.copy())
            delays.append(delay)
            gce = None
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
    if not frames:
        raise ValueError("GIF with no image data")
    return frames, delays


def decode_gif_image(payload: bytes) -> np.ndarray:
    """First composited frame as uint8 ``(h, w, 3)`` RGB — the
    still-image view of a GIF for image consumers."""
    return decode_gif(payload)[0][0]


# ---------------------------------------------------------------------------
# encoder


def encode_gif(
    frames: np.ndarray | list[np.ndarray],
    delays_cs: list[int] | None = None,
    interlace: bool = False,
    loop: int = 0,
    transparent_color: tuple[int, int, int] | None = None,
) -> bytes:
    """GIF writing sink for uint8 RGB ``(h, w, 3)`` frames (one array
    or a list for animation). The palette is the EXACT set of colors
    used (plus the transparent sentinel); >256 distinct colors raise
    ValueError — quantization is out of scope, the encoder is a
    lossless sink. ``delays_cs`` gives per-frame delays in
    centiseconds (animation emits a NETSCAPE loop block with ``loop``
    iterations, 0 = forever). ``transparent_color`` pixels are encoded
    as transparent — in composited decode they show the previous
    frame through (frames keep disposal "do not dispose")."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    frames = [np.asarray(f) for f in frames]
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.dtype != np.uint8 or f.ndim != 3 or f.shape[2] != 3:
            raise ValueError("encode_gif wants uint8 (h, w, 3) frames")
        if f.shape[:2] != (h, w):
            raise ValueError("all GIF frames must share one size")
    if delays_cs is not None and len(delays_cs) != len(frames):
        raise ValueError("delays_cs must have one entry per frame")
    # palette: distinct int24 keys across every frame (+ the sentinel)
    keys = [
        (
            (f[..., 0].astype(np.int64) << 16)
            | (f[..., 1].astype(np.int64) << 8)
            | f[..., 2].astype(np.int64)
        ).ravel()
        for f in frames
    ]
    pal_keys = np.unique(np.concatenate(keys))
    tidx = None
    if transparent_color is not None:
        r, g, b = transparent_color
        tkey = (int(r) << 16) | (int(g) << 8) | int(b)
        if tkey not in pal_keys:
            pal_keys = np.unique(np.append(pal_keys, tkey))
        tidx = int(np.searchsorted(pal_keys, tkey))
    if len(pal_keys) > 256:
        raise ValueError(
            f"{len(pal_keys)} distinct colors exceed GIF's 256-entry "
            "palette (quantize upstream)"
        )
    bits = max(1, int(len(pal_keys) - 1).bit_length())
    entries = 1 << bits
    palette = np.zeros((entries, 3), np.uint8)
    palette[: len(pal_keys), 0] = (pal_keys >> 16) & 0xFF
    palette[: len(pal_keys), 1] = (pal_keys >> 8) & 0xFF
    palette[: len(pal_keys), 2] = pal_keys & 0xFF
    mcs = max(2, bits)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (7 << 4) | (bits - 1), 0, 0])
    out += palette.tobytes()
    animated = len(frames) > 1
    if animated:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop) + b"\x00"
    for fi, (f, fkeys) in enumerate(zip(frames, keys)):
        if animated or tidx is not None:
            delay = delays_cs[fi] if delays_cs is not None else 0
            flags = 1 << 2  # disposal: do not dispose
            if tidx is not None:
                flags |= 0x01
            out += bytes([0x21, 0xF9, 0x04, flags])
            out += struct.pack("<H", delay)
            out += bytes([tidx or 0, 0x00])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0x00])
        grid = np.searchsorted(pal_keys, fkeys).astype(np.uint8).reshape(
            h, w
        )
        if interlace:
            grid = grid[_interlace_rows(h)]
        out += bytes([mcs])
        data = _lzw_encode(grid.tobytes(), mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
