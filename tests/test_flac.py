"""FLAC codec (pure stdlib + NumPy, operators/flac.py).

Oracle strategy for a lossless codec: (1) every round trip asserts
BIT-exact samples — losslessness leaves no tolerance to hide behind;
(2) the decoder verifies each stream's CRC-8/CRC-16 and the
STREAMINFO MD5 over the decoded output, so a passing decode is
cryptographically self-checked; (3) one stream is assembled BY HAND
at the bit level straight from the spec, with CRCs computed by an
independent in-test transcription — a fixture no codec code in this
repo produced."""

import hashlib
import struct

import numpy as np
import pytest

from polars_matmul_spark.operators.flac import (
    decode_flac,
    decode_flac_mono,
    encode_flac,
)

RNG = np.random.default_rng(0xF1AC)


# ---------------------------------------------------------------------------
# round trips — every assert is exact


class TestRoundTrip:
    @pytest.mark.parametrize("bps", [8, 16, 24])
    def test_mono_noise(self, bps):
        lo, hi = -(1 << (bps - 1)), 1 << (bps - 1)
        x = RNG.integers(lo, hi, 5000)
        r, s, b = decode_flac(encode_flac(x, 16000, bps=bps))
        assert (r, b) == (16000, bps)
        np.testing.assert_array_equal(s[:, 0], x)

    def test_mono_sine_compresses(self):
        t = np.arange(20000)
        sine = (12000 * np.sin(t / 30)).astype(np.int64)
        enc = encode_flac(sine, 44100)
        np.testing.assert_array_equal(decode_flac(enc)[1][:, 0], sine)
        # fixed predictors must actually predict: well under raw PCM
        assert len(enc) < 0.4 * (2 * len(sine))

    @pytest.mark.parametrize(
        "mode", ["independent", "left_side", "right_side", "mid_side"]
    )
    def test_stereo_decorrelation_modes(self, mode):
        t = np.arange(9000)
        left = (11000 * np.sin(t / 25)).astype(np.int64)
        right = (0.7 * left + RNG.integers(-50, 50, len(t))).astype(np.int64)
        st = np.stack([left, right], axis=1)
        r, s, b = decode_flac(encode_flac(st, 48000, stereo_mode=mode))
        np.testing.assert_array_equal(s, st)

    @pytest.mark.parametrize("bsz", [192, 256, 576, 4096])
    def test_block_sizes_and_partial_last(self, bsz):
        x = RNG.integers(-32768, 32768, 777)
        np.testing.assert_array_equal(
            decode_flac(encode_flac(x, 8000, block_size=bsz))[1][:, 0], x
        )

    def test_constant_verbatim_wasted(self):
        const = np.full(1000, -42)
        np.testing.assert_array_equal(
            decode_flac(encode_flac(const, 8000))[1][:, 0], const
        )
        x = RNG.integers(-32768, 32768, 1000)
        np.testing.assert_array_equal(
            decode_flac(encode_flac(x, 8000, force_verbatim=True))[1][:, 0],
            x,
        )
        shifted = (x[:500] // 256) * 256  # shared trailing zeros
        np.testing.assert_array_equal(
            decode_flac(encode_flac(shifted, 16000))[1][:, 0], shifted
        )

    def test_multichannel(self):
        x = RNG.integers(-1000, 1000, (2000, 5))
        np.testing.assert_array_equal(
            decode_flac(encode_flac(x, 16000))[1], x
        )

    def test_nonstandard_sample_rate(self):
        x = RNG.integers(-100, 100, 300)
        assert decode_flac(encode_flac(x, 12345))[0] == 12345

    def test_many_frames_coded_number(self):
        # >128 frames force multi-byte UTF-8-style frame numbers
        x = np.arange(200 * 192) % 251 - 125
        r, s, b = decode_flac(encode_flac(x, 8000, block_size=192))
        np.testing.assert_array_equal(s[:, 0], x)

    def test_coded_number_forms_are_utf8(self):
        from polars_matmul_spark.operators.flac import (
            _BitW,
            _Bits,
            _read_utf8_number,
            _write_utf8_number,
        )

        for val in [0, 127, 128, 2047, 2048, 65535, (1 << 36) - 1]:
            w = _BitW()
            _write_utf8_number(w, val)
            assert _read_utf8_number(_Bits(bytes(w.out))) == val
            if val <= 0x10FFFF and not 0xD800 <= val <= 0xDFFF:
                # below the Unicode ceiling the coding IS utf-8
                assert bytes(w.out) == chr(val).encode("utf-8")

    def test_mono_contract_matches_wav_normalization(self):
        t = np.arange(8000)
        sine = (16384 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int64)
        rate, mono = decode_flac_mono(encode_flac(sine, 8000))
        assert rate == 8000
        # half-amplitude sine: RMS = 0.5 / sqrt(2)
        assert float(np.sqrt(np.mean(mono**2))) == pytest.approx(
            0.5 / np.sqrt(2), abs=2e-3
        )


# ---------------------------------------------------------------------------
# hand-built stream: independent CRC transcriptions, no codec code


def _crc8_independent(data):
    # bit-serial long division by x^8+x^2+x+1, transcribed from the
    # polynomial definition (not from operators/flac.py)
    reg = 0
    for byte in data:
        for i in range(7, -1, -1):
            bit = (byte >> i) & 1
            top = (reg >> 7) & 1
            reg = ((reg << 1) & 0xFF) | bit
            if top:
                reg ^= 0x07
    for _ in range(8):  # flush
        top = (reg >> 7) & 1
        reg = (reg << 1) & 0xFF
        if top:
            reg ^= 0x07
    return reg


def _crc16_independent(data):
    reg = 0
    for byte in data:
        for i in range(7, -1, -1):
            bit = (byte >> i) & 1
            top = (reg >> 15) & 1
            reg = ((reg << 1) & 0xFFFF) | bit
            if top:
                reg ^= 0x8005
    for _ in range(16):
        top = (reg >> 15) & 1
        reg = (reg << 1) & 0xFFFF
        if top:
            reg ^= 0x8005
    return reg


def _hand_built_flac():
    """1 channel, 8-bit, 8 kHz, one 4-sample frame holding a verbatim
    subframe with samples [3, -2, 0, 7] — every field placed by hand
    from the spec."""
    samples = bytes([3, 0xFE, 0, 7])  # signed LE bytes for the MD5
    info = struct.pack(">HH", 4, 4) + b"\x00" * 6  # block/frame sizes
    # 20-bit rate | 3-bit ch-1 | 5-bit bps-1 | 36-bit total, big-endian
    info += struct.pack(">Q", (8000 << 44) | (0 << 41) | (7 << 36) | 4)
    info += hashlib.md5(samples).digest()
    out = b"fLaC" + bytes([0x80, 0, 0, 34]) + info
    # frame header: sync(14) 0 0 | bs_code=6 sr_code=4 | ch=0 ss=1(8bit) 0
    hdr = bytes([0xFF, 0xF8, 0x64, 0x02, 0x00, 0x03])  # +frame#0, bs-1=3
    hdr += bytes([_crc8_independent(hdr)])
    # subframe: pad(0) type=000001 (verbatim) wasted(0), then 4x8-bit
    frame = hdr + bytes([0x02, 0x03, 0xFE, 0x00, 0x07])
    frame += struct.pack(">H", _crc16_independent(frame))
    return out + frame


def test_hand_built_stream_decodes_exactly():
    rate, s, bps = decode_flac(_hand_built_flac())
    assert (rate, bps) == (8000, 8)
    np.testing.assert_array_equal(s[:, 0], [3, -2, 0, 7])


def test_crc_transcriptions_agree_with_module():
    from polars_matmul_spark.operators.flac import _crc8, _crc16

    for _ in range(20):
        data = bytes(RNG.integers(0, 256, int(RNG.integers(1, 40))))
        assert _crc8(data) == _crc8_independent(data)
        assert _crc16(data) == _crc16_independent(data)


# ---------------------------------------------------------------------------
# error surface


class TestErrors:
    def test_not_flac(self):
        for bad in [b"", b"fLa", b"RIFFxxxxWAVE", b"fLaC"]:
            with pytest.raises(ValueError):
                decode_flac(bad)

    def test_truncated(self):
        enc = encode_flac(RNG.integers(-100, 100, 500), 8000)
        with pytest.raises(ValueError):
            decode_flac(enc[: len(enc) // 2])

    def test_bit_corruption_caught_by_crc(self):
        enc = bytearray(encode_flac(RNG.integers(-32768, 32768, 2000), 16000))
        enc[-40] ^= 0x10
        with pytest.raises(ValueError, match="CRC"):
            decode_flac(bytes(enc))

    def test_md5_mismatch_caught_and_skippable(self):
        enc = bytearray(encode_flac(RNG.integers(-100, 100, 500), 8000))
        # STREAMINFO MD5 lives at bytes 26..42 (fLaC + 4 header + 18)
        enc[26] ^= 0xFF
        with pytest.raises(ValueError, match="MD5"):
            decode_flac(bytes(enc))
        rate, s, bps = decode_flac(bytes(enc), verify_md5=False)
        assert len(s) == 500

    def test_encoder_validation(self):
        x = np.zeros(100, np.int64)
        with pytest.raises(ValueError, match="bits-per-sample"):
            encode_flac(x, 8000, bps=13)
        with pytest.raises(ValueError, match="block size"):
            encode_flac(x, 8000, block_size=4)
        with pytest.raises(ValueError, match="sample rate"):
            encode_flac(x, 0)
        with pytest.raises(ValueError, match="range"):
            encode_flac(np.full(10, 1 << 20), 8000, bps=16)
        with pytest.raises(ValueError, match="stereo"):
            encode_flac(x, 8000, stereo_mode="mid_side")
        with pytest.raises(ValueError, match="stereo_mode"):
            encode_flac(
                np.zeros((10, 2), np.int64), 8000, stereo_mode="bogus"
            )
        with pytest.raises(ValueError, match="8 channels"):
            encode_flac(np.zeros((10, 9), np.int64), 8000)


# ---------------------------------------------------------------------------
# multimodal integration


class TestIntegration:
    def _sine_flac(self, n=8000, rate=8000):
        t = np.arange(n)
        sine = (16384 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int64)
        return encode_flac(sine, rate)

    def test_decoded_asset_stats_flac_row(self, spark):
        from polars_matmul_spark.operators.multimodal import (
            decoded_asset_stats,
        )

        df = spark.createDataFrame(
            [(1, self._sine_flac()), (2, b"not audio")],
            "asset_id long, payload binary",
        )
        rows = {r.asset_id: r for r in decoded_asset_stats(df).collect()}
        row = rows[1]
        assert row.container == "flac"
        assert row.sample_rate == 8000 and row.n_samples == 8000
        assert row.duration_s == pytest.approx(1.0)
        assert row.audio_rms == pytest.approx(0.5 / np.sqrt(2), abs=2e-3)
        assert rows[2].container == "opaque"

    def test_audio_rms_windows_real_decode(self, spark):
        from polars_matmul_spark.operators.multimodal import (
            audio_rms_windows,
        )

        df = spark.createDataFrame(
            [(1, self._sine_flac())], "asset_id long, payload binary"
        )
        got = audio_rms_windows(
            df, win=1024, hop=1024, real_decode=True
        ).collect()
        assert len(got) == 7  # floor((8000 - 1024) / 1024) + 1
        for r in got:  # every full window of a steady sine: same RMS
            assert r.rms == pytest.approx(0.5 / np.sqrt(2), abs=5e-3)
