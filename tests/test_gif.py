"""GIF codec: LZW round trips, interlace, animation compositing,
transparency, disposal methods (hand-built streams), an in-the-wild
fixture no code in this repo produced, and the error surface. GIF is
lossless, so every round-trip assert is bit-exact."""

import base64
import struct

import numpy as np
import pytest

from polars_matmul_spark.operators.gif import (
    _interlace_rows,
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    decode_gif_image,
    encode_gif,
)

RNG = np.random.default_rng(0x61F)

#: the canonical 1x1 transparent GIF — a public constant that ships in
#: countless web pages; a decoder fixture this repo did not produce
WILD_1X1 = base64.b64decode(
    "R0lGODlhAQABAIAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw=="
)


# ---------------------------------------------------------------------------
# LZW


class TestLZW:
    def test_round_trip_small(self):
        data = bytes([0, 1, 0, 1, 2, 2, 2, 0, 1, 0, 1, 0])
        assert bytes(_lzw_decode(_lzw_encode(data, 2), 2, len(data))) == data

    def test_round_trip_width_growth(self):
        # 256 symbols + noise forces the code width through 9..12 bits
        data = bytes(RNG.integers(0, 256, 5000, dtype=np.uint8))
        assert bytes(_lzw_decode(_lzw_encode(data, 8), 8, len(data))) == data

    def test_round_trip_dictionary_reset(self):
        # enough noise to exceed 4096 dictionary entries -> clear codes
        data = bytes(RNG.integers(0, 256, 60_000, dtype=np.uint8))
        assert bytes(_lzw_decode(_lzw_encode(data, 8), 8, len(data))) == data

    def test_kwkwk_case(self):
        # "ababab..." drives the code == len(table) branch immediately
        data = bytes([0, 1] * 50)
        assert bytes(_lzw_decode(_lzw_encode(data, 2), 2, len(data))) == data

    def test_truncated_stream_raises(self):
        enc = _lzw_encode(bytes(100), 2)
        with pytest.raises(ValueError, match="truncated|ended"):
            _lzw_decode(enc[: len(enc) // 2], 2, 100)

    def test_bad_mcs_raises(self):
        with pytest.raises(ValueError, match="minimum code size"):
            _lzw_decode(b"\x00", 1, 1)


# ---------------------------------------------------------------------------
# round trips


def _random_image(h, w, n_colors, rng=RNG):
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    return pal[rng.integers(0, n_colors, (h, w))]


class TestRoundTrip:
    @pytest.mark.parametrize(
        "h,w,n_colors",
        [(1, 1, 1), (7, 5, 2), (16, 16, 3), (37, 53, 256), (64, 1, 17)],
    )
    def test_single_frame_exact(self, h, w, n_colors):
        img = _random_image(h, w, n_colors)
        frames, delays = decode_gif(encode_gif(img))
        assert len(frames) == 1 and delays == [0]
        assert frames[0].shape == (h, w, 3)
        assert (frames[0] == img).all()

    def test_dictionary_overflow_image(self):
        # 300x300 noise exceeds 4096 LZW entries -> mid-stream resets
        img = _random_image(300, 300, 256)
        assert (decode_gif_image(encode_gif(img)) == img).all()

    @pytest.mark.parametrize("h", [1, 2, 3, 4, 5, 8, 9, 19])
    def test_interlaced_exact(self, h):
        # every height class exercises a different pass split
        img = _random_image(h, 11, 7)
        assert (decode_gif_image(encode_gif(img, interlace=True)) == img).all()

    def test_interlace_rows_is_permutation(self):
        for h in range(1, 40):
            rows = _interlace_rows(h)
            assert sorted(rows.tolist()) == list(range(h))

    def test_animation_frames_and_delays(self):
        f1 = np.full((8, 6, 3), (255, 0, 0), np.uint8)
        f2 = np.full((8, 6, 3), (0, 0, 255), np.uint8)
        f3 = _random_image(8, 6, 5)
        frames, delays = decode_gif(
            encode_gif([f1, f2, f3], delays_cs=[10, 20, 30], loop=2)
        )
        assert delays == [10, 20, 30]
        for got, want in zip(frames, [f1, f2, f3]):
            assert (got == want).all()

    def test_transparency_composites_previous_frame(self):
        f1 = np.full((8, 8, 3), (255, 0, 0), np.uint8)
        f2 = np.full((8, 8, 3), (0, 0, 255), np.uint8)
        f2[2:5, 2:5] = (0, 255, 0)  # sentinel holes
        frames, _ = decode_gif(
            encode_gif([f1, f2], transparent_color=(0, 255, 0))
        )
        expect = np.full((8, 8, 3), (0, 0, 255), np.uint8)
        expect[2:5, 2:5] = (255, 0, 0)  # frame 1 shows through
        assert (frames[1] == expect).all()

    def test_exactly_256_colors(self):
        pal = np.array(
            [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)],
            np.uint8,
        )
        img = pal[RNG.integers(0, 256, (32, 32))]
        assert (decode_gif_image(encode_gif(img)) == img).all()


# ---------------------------------------------------------------------------
# hand-built streams: disposal methods the encoder never writes


def _hand_gif(frames_spec, w, h, gct, bg, mcs=None):
    """Assemble a GIF from (grid, gce_flags, tidx, left, top) tuples
    using only struct + the independently-verified _lzw_encode."""
    bits = max(1, (len(gct) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), np.uint8)
    pal[: len(gct)] = gct
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), bg, 0])
    out += pal.tobytes()
    for grid, flags, tidx, left, top in frames_spec:
        out += bytes([0x21, 0xF9, 0x04, flags, 0, 0, tidx, 0])
        gh, gw = grid.shape
        out += b"\x2c" + struct.pack("<HHHH", left, top, gw, gh) + b"\x00"
        eff_mcs = mcs if mcs is not None else max(2, bits)
        out += bytes([eff_mcs])
        data = _lzw_encode(grid.astype(np.uint8).tobytes(), eff_mcs)
        for i in range(0, len(data), 255):
            out += bytes([len(data[i : i + 255])]) + data[i : i + 255]
        out += b"\x00"
    return bytes(out + b"\x3b")


GCT = np.array(
    [(255, 0, 0), (0, 0, 255), (255, 255, 255), (0, 0, 0)], np.uint8
)


class TestDisposal:
    def test_restore_to_background(self):
        # frame 1: all red, disposal 2; frame 2: fully transparent
        # -> composited frame 2 is the background color (white, bg=2)
        full = np.zeros((4, 4), np.uint8)
        transparent = np.full((4, 4), 3, np.uint8)
        payload = _hand_gif(
            [(full, 2 << 2, 0, 0, 0), (transparent, 0x01, 3, 0, 0)],
            4, 4, GCT, bg=2,
        )
        frames, _ = decode_gif(payload)
        assert (frames[0] == (255, 0, 0)).all()
        assert (frames[1] == (255, 255, 255)).all()

    def test_restore_to_previous(self):
        # frame 1: red (no disposal); frame 2: blue, disposal 3;
        # frame 3: transparent -> shows frame 1's red canvas again
        red = np.zeros((4, 4), np.uint8)
        blue = np.ones((4, 4), np.uint8)
        transparent = np.full((4, 4), 3, np.uint8)
        payload = _hand_gif(
            [
                (red, 0, 0, 0, 0),
                (blue, (3 << 2) | 0, 0, 0, 0),
                (transparent, 0x01, 3, 0, 0),
            ],
            4, 4, GCT, bg=2,
        )
        frames, _ = decode_gif(payload)
        assert (frames[1] == (0, 0, 255)).all()
        assert (frames[2] == (255, 0, 0)).all()

    def test_subrectangle_frame(self):
        # frame 2 paints a 2x2 blue patch at (1, 1) over red
        red = np.zeros((4, 4), np.uint8)
        patch = np.ones((2, 2), np.uint8)
        payload = _hand_gif(
            [(red, 0, 0, 0, 0), (patch, 0, 0, 1, 1)], 4, 4, GCT, bg=2
        )
        frames, _ = decode_gif(payload)
        expect = np.full((4, 4, 3), (255, 0, 0), np.uint8)
        expect[1:3, 1:3] = (0, 0, 255)
        assert (frames[1] == expect).all()

    def test_overflowing_frame_rect_clips(self):
        # a 4x4 frame at (2, 2) on a 4x4 screen: clipped, not an error
        patch = np.ones((4, 4), np.uint8)
        red = np.zeros((4, 4), np.uint8)
        payload = _hand_gif(
            [(red, 0, 0, 0, 0), (patch, 0, 0, 2, 2)], 4, 4, GCT, bg=2
        )
        frames, _ = decode_gif(payload)
        expect = np.full((4, 4, 3), (255, 0, 0), np.uint8)
        expect[2:, 2:] = (0, 0, 255)
        assert (frames[1] == expect).all()


# ---------------------------------------------------------------------------
# wild fixture + error surface


class TestFixtureAndErrors:
    def test_wild_1x1_transparent(self):
        # single transparent pixel over a white background
        frames, delays = decode_gif(WILD_1X1)
        assert len(frames) == 1
        assert frames[0].shape == (1, 1, 3)
        assert (frames[0] == 255).all()

    @pytest.mark.parametrize(
        "payload",
        [b"", b"GIF89a", b"PNG not a gif", WILD_1X1[:20], WILD_1X1[:-5]],
    )
    def test_malformed_raises(self, payload):
        with pytest.raises(ValueError):
            decode_gif(payload)

    def test_pixel_index_outside_palette_raises(self):
        grid = np.full((2, 2), 7, np.uint8)  # GCT has 4 entries
        payload = _hand_gif([(grid, 0, 0, 0, 0)], 2, 2, GCT, bg=0, mcs=3)
        with pytest.raises(ValueError, match="outside the color table"):
            decode_gif(payload)

    def test_too_many_colors_raises(self):
        i = np.arange(400, dtype=np.int64)
        img = np.zeros((20, 20, 3), np.uint8)
        img[..., 0] = (i // 256).reshape(20, 20)
        img[..., 1] = (i % 256).reshape(20, 20)
        with pytest.raises(ValueError, match="256-entry palette"):
            encode_gif(img)

    def test_shape_validation(self):
        with pytest.raises(ValueError, match="uint8"):
            encode_gif(np.zeros((4, 4, 3), np.float64))
        with pytest.raises(ValueError, match="one size"):
            encode_gif(
                [np.zeros((4, 4, 3), np.uint8), np.zeros((5, 4, 3), np.uint8)]
            )
        with pytest.raises(ValueError, match="at least one frame"):
            encode_gif([])
        with pytest.raises(ValueError, match="one entry per frame"):
            encode_gif(np.zeros((2, 2, 3), np.uint8), delays_cs=[1, 2])


@pytest.mark.slow
def test_decompression_bomb_guard():
    # fuzz-found (round 8): a 34-byte stream claiming a 17217x50390
    # logical screen cost ~19s of allocation+compositing before the
    # truncation surfaced; the guard must reject it instantly
    import struct
    import time

    bomb = b"GIF89a" + struct.pack("<HH", 50000, 50000) + b"\x00" * 24
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="max_pixels"):
        decode_gif(bomb)
    assert time.perf_counter() - t0 < 0.1
    # and the cap is a parameter, not a hard wall
    with pytest.raises(ValueError, match="truncated|missing|bad GIF|block"):
        decode_gif(bomb, max_pixels=1 << 40)
