"""Real PNG decode (pure stdlib zlib + NumPy).

Oracle strategy — NOT just encoder/decoder roundtrip (same-author
circularity): `_spec_unfilter` below is a second, scalar transcription
of RFC 2083 §6 written directly from the filter equations, and the
randomized test drives BOTH implementations over random filtered
scanline streams. Hand-built chunk fixtures (palette, sub-byte
depths, bad CRC, Adam7) cover the container paths the encoder never
emits. The reference repo has no image surface (SURVEY §2.3 — its
`src/lib.rs` exposes two similarity pyfunctions); PNG is part of the
training-pipeline multimodal extension layer.
"""

import struct
import zlib

import numpy as np
import pytest

from polars_matmul_spark.operators.multimodal import (
    _png_unfilter,
    decode_png,
    encode_png,
)

SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png(w, h, bits, ct, raw_scanlines, plte=None, interlace=0) -> bytes:
    """Assemble a PNG container around pre-filtered scanline bytes."""
    ihdr = struct.pack(">IIBBBBB", w, h, bits, ct, 0, 0, interlace)
    out = SIG + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(raw_scanlines)) + _chunk(b"IEND", b"")


def _spec_unfilter(raw, h, stride, bpp):
    """Scalar RFC 2083 §6 reconstruction, written from the equations
    (independent of the vectorized production implementation)."""
    out = [[0] * stride for _ in range(h)]
    for y in range(h):
        f = raw[y * (1 + stride)]
        line = raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
        for x in range(stride):
            a = out[y][x - bpp] if x >= bpp else 0
            b = out[y - 1][x] if y >= 1 else 0
            c = out[y - 1][x - bpp] if (x >= bpp and y >= 1) else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[y][x] = (line[x] + pred) & 0xFF
    return np.array(out, dtype=np.uint8)


def test_unfilter_matches_spec_transcription():
    rng = np.random.default_rng(7)
    for bpp, stride, h in [(1, 7, 5), (3, 12, 4), (4, 16, 3), (2, 10, 6)]:
        lines = bytearray()
        for y in range(h):
            lines.append(int(rng.integers(0, 5)))  # random filter per row
            lines.extend(rng.integers(0, 256, stride, dtype=np.uint8).tobytes())
        got = _png_unfilter(bytes(lines), h, stride, bpp)
        want = _spec_unfilter(bytes(lines), h, stride, bpp)
        np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize(
    "shape,dtype",
    [
        ((5, 7), np.uint8),  # gray
        ((4, 6, 2), np.uint8),  # gray+alpha
        ((3, 5, 3), np.uint8),  # RGB
        ((4, 4, 4), np.uint8),  # RGBA
        ((3, 4), np.uint16),  # gray 16-bit
        ((2, 3, 3), np.uint16),  # RGB 16-bit
    ],
)
def test_roundtrip_every_filter_and_colortype(filter_type, shape, dtype):
    rng = np.random.default_rng(sum(shape) + filter_type)
    hi = 256 if dtype == np.uint8 else 65536
    img = rng.integers(0, hi, shape).astype(dtype)
    np.testing.assert_array_equal(decode_png(encode_png(img, filter_type)), img)


def test_palette_png_hand_built():
    # 3 colors, 4x2 palette image at 8-bit depth, filter 0 rows
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = np.array([[0, 1, 2, 1], [2, 2, 0, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    img = decode_png(_png(4, 2, 8, 3, raw, plte=plte))
    assert img.shape == (2, 4, 3)
    np.testing.assert_array_equal(
        img, np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)[idx]
    )


def test_sub_byte_gray_depths_scale_to_255():
    # 1-bit gray, w=10 (pads to 2 bytes/row): bit pattern 1100110011
    bits = [1, 1, 0, 0, 1, 1, 0, 0, 1, 1]
    # each row packs its own 10 bits into 2 bytes (rows are byte-padded)
    row_bytes = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
    raw = (b"\x00" + row_bytes) * 2
    img = decode_png(_png(10, 2, 1, 0, raw))
    assert img.shape == (2, 10) and img.dtype == np.uint8
    np.testing.assert_array_equal(img, np.array([bits, bits]) * 255)
    # 4-bit gray: values 0..15 scale by 17
    vals = np.arange(8, dtype=np.uint8).reshape(1, 8)
    packed4 = bytes(
        [(int(vals[0, i]) << 4) | int(vals[0, i + 1]) for i in range(0, 8, 2)]
    )
    img4 = decode_png(_png(8, 1, 4, 0, b"\x00" + packed4))
    np.testing.assert_array_equal(img4, vals * 17)


def test_sub_byte_palette():
    # 2-bit palette, w=5 (10 bits -> 2 bytes/row), 1 row
    plte = bytes([10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40])
    idx = [0, 3, 2, 1, 0]
    packed = np.packbits(
        np.array([[b >> 1 & 1, b & 1] for b in idx], dtype=np.uint8).reshape(-1)
    ).tobytes()
    img = decode_png(_png(5, 1, 2, 3, b"\x00" + packed, plte=plte))
    assert img.shape == (1, 5, 3)
    np.testing.assert_array_equal(img[0, :, 0], [10, 40, 30, 20, 10])


def test_multiple_idat_chunks_concatenate():
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(4))
    z = zlib.compress(raw)
    body = (
        SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", z[:7])
        + _chunk(b"IDAT", z[7:])
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(body), img)


@pytest.mark.parametrize(
    "mutate,match",
    [
        (lambda p: b"JUNK" + p[4:], "not a PNG"),
        (lambda p: p[:-1], "truncated|missing"),
        (lambda p: p[: 8 + 8 + 13] + bytes([p[8 + 8 + 13] ^ 1]) + p[8 + 8 + 14 :],
         "CRC mismatch"),
    ],
)
def test_malformed_raises_valueerror(mutate, match):
    good = encode_png(np.zeros((2, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match=match):
        decode_png(mutate(good))


def test_adam7_and_illegal_combos_rejected():
    raw = b"\x00\x00"
    with pytest.raises(ValueError, match="Adam7"):
        decode_png(_png(1, 1, 8, 0, raw, interlace=1))
    with pytest.raises(ValueError, match="illegal"):
        decode_png(_png(1, 1, 4, 2, raw))  # 4-bit RGB is not legal
    with pytest.raises(ValueError, match="filter type"):
        decode_png(_png(2, 1, 8, 0, b"\x09\x00\x00"))
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        bad = SIG + _chunk(
            b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        ) + _chunk(b"IDAT", b"not deflate") + _chunk(b"IEND", b"")
        decode_png(bad)
    with pytest.raises(ValueError, match="palette .* missing PLTE|missing PLTE"):
        decode_png(_png(1, 1, 8, 3, b"\x00\x00"))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(_png(1, 1, 8, 3, b"\x00\x05", plte=bytes(9)))
    with pytest.raises(ValueError, match="data length"):
        # IDAT inflates to the wrong number of scanline bytes
        decode_png(_png(2, 2, 8, 0, b"\x00\x00"))

