"""Property tests for the first-principles codecs (hypothesis).

Round trips are the codec layer's strongest invariant: GIF and FLAC
are lossless, so decode(encode(x)) must equal x bit-exactly.
Hypothesis explores the parameter corners the fixed-seed tests can't
enumerate — degenerate sizes, palette edges, block-size boundaries,
every stereo mode, dictionary growth points."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_matmul_spark.operators.flac import decode_flac, encode_flac
from polars_matmul_spark.operators.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
)

_SETTINGS = dict(max_examples=30, deadline=None)


@settings(**_SETTINGS)
@given(
    data=st.binary(min_size=1, max_size=4000).map(
        lambda b: bytes(x & 0x0F for x in b)  # 16-symbol alphabet
    ),
    mcs=st.integers(min_value=4, max_value=8),
)
def test_lzw_round_trip(data, mcs):
    assert bytes(_lzw_decode(_lzw_encode(data, mcs), mcs, len(data))) == data


@settings(**_SETTINGS)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    n_colors=st.integers(min_value=1, max_value=256),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_gif_round_trip(h, w, n_colors, interlace, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    img = pal[rng.integers(0, n_colors, (h, w))]
    frames, delays = decode_gif(encode_gif(img, interlace=interlace))
    assert len(frames) == 1
    assert (frames[0] == img).all()


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=3000),
    bps=st.sampled_from([8, 16, 24]),
    block_size=st.sampled_from([16, 192, 577, 4096]),
    smooth=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_flac_mono_round_trip(n, bps, block_size, smooth, seed):
    rng = np.random.default_rng(seed)
    lo, hi = -(1 << (bps - 1)), 1 << (bps - 1)
    if smooth:  # predictor-friendly signal
        x = (
            (hi // 2) * np.sin(np.arange(n) / max(1, n // 20))
        ).astype(np.int64)
    else:
        x = rng.integers(lo, hi, n)
    rate, s, b = decode_flac(encode_flac(x, 8000, bps=bps, block_size=block_size))
    assert b == bps
    np.testing.assert_array_equal(s[:, 0], x)


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=2000),
    mode=st.sampled_from(
        ["independent", "left_side", "right_side", "mid_side"]
    ),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_flac_stereo_round_trip(n, mode, seed):
    rng = np.random.default_rng(seed)
    st_samples = rng.integers(-32768, 32768, (n, 2))
    _rate, s, _b = decode_flac(
        encode_flac(st_samples, 44100, stereo_mode=mode)
    )
    np.testing.assert_array_equal(s, st_samples)
