"""Multimodal plumbing: fake decoders vs a local NumPy oracle, stub
gating, and batch-shape contracts. (The SQL-expressible multimodal
queries are covered by test_oracle_parity via the registry.)"""

import numpy as np
import pytest

from polars_matmul_spark.operators import multimodal as M
from polars_matmul_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    return M.asset_table(load_table(spark, "documents", sf_dir))


def _local_image(text: str, w=16):
    b = np.frombuffer(text.encode(), dtype=np.uint8)
    h = len(b) // w
    return b[: w * h].reshape(h, w)


def test_resize_fake_matches_numpy(spark, sf_dir, assets):
    docs = load_table(spark, "documents", sf_dir).filter("doc_id < 20")
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {
        r.asset_id: bytes(r.resized)
        for r in M.resize_fake(assets.filter("asset_id < 20"), 4, 4).collect()
    }
    assert len(got) == len(texts)
    for doc_id, text in texts.items():
        img = _local_image(text)
        h, w = img.shape
        ys = np.linspace(0, h - 1, 4).astype(int)
        xs = np.linspace(0, w - 1, 4).astype(int)
        want = img[np.ix_(ys, xs)].tobytes()
        assert got[doc_id] == want, doc_id
    # contract: every resized payload is exactly out_h*out_w bytes
    assert {len(v) for v in got.values()} == {16}


def test_byte_histogram_sums_to_one(spark, assets):
    rows = M.byte_histogram_features(assets.filter("asset_id < 10")).collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-12


def test_frame_sample_short_payload_empty(spark, assets):
    # payloads shorter than one frame must yield zero frames, not a
    # descending-sequence explosion
    from pyspark.sql import functions as F

    tiny = assets.withColumn("payload", F.substring(F.col("payload"), 1, 10))
    assert M.frame_sample(tiny, frame_bytes=64).count() == 0


def test_byte_histogram_non_divisor_bins(spark):
    # bins=10 does not divide 256: bytes >= 250 must clamp into the
    # last bin, not overflow into the next document's bin 0
    rows = [(1, bytes([255] * 4)), (2, bytes([0] * 4))]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r.asset_id: r.features for r in M.byte_histogram_features(df, bins=10).collect()}
    assert got[1][9] == 1.0 and sum(got[1]) == 1.0
    assert got[2][0] == 1.0 and sum(got[2]) == 1.0


def test_pixel_stats_short_payload_skipped(spark):
    # payload shorter than one image row: no decodable image, no crash
    rows = [(1, b"tiny", 16, 0), (2, bytes(range(32)), 16, 2)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary, width int, height int")
    got = M.pixel_stats(df).collect()
    assert [r.asset_id for r in got] == [2]
    assert got[0].n_pixels == 32


def test_pixel_stats_truncated_payload_clips_not_crashes(spark):
    # a caller-declared height larger than the payload supports must
    # clip to the full pixel rows present, never ValueError on reshape
    rows = [
        (1, bytes(range(40)), 16, 4),   # 40 bytes, claims 16x4=64 -> 2 full rows
        (2, bytes(range(64)), 16, 4),   # exactly 16x4
        (3, b"x", 16, 4),               # under one row -> dropped
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary, width int, height int")
    got = {r.asset_id: r for r in M.pixel_stats(df).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_pixels == 32 and got[1].max_px == 31
    assert got[2].n_pixels == 64 and got[2].max_px == 63


def test_resize_fake_truncated_payload_clips_not_crashes(spark):
    rows = [(1, bytes(range(40)), 16, 4), (2, b"x", 16, 4)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary, width int, height int")
    got = M.resize_fake(df, 2, 2).collect()
    assert [r.asset_id for r in got] == [1]
    # 2 effective rows: sample rows {0, 1}, cols {0, 15}
    assert bytes(got[0].resized) == bytes([0, 15, 16, 31])


class TestAudioRmsWindows:
    WIN, HOP = 64, 32

    def test_vs_naive_numpy(self, spark, sf_dir):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import (
            asset_table,
            audio_rms_windows,
        )
        from polars_matmul_spark.sources.tables import load_table

        assets = asset_table(load_table(spark, "documents", sf_dir)).filter(
            "kind = 'audio'"
        )
        got = (
            audio_rms_windows(assets, self.WIN, self.HOP)
            .toPandas()
            .sort_values(["asset_id", "window_idx"])
            .reset_index(drop=True)
        )
        src = assets.select("asset_id", "payload").orderBy("asset_id").toPandas()
        rows = []
        for _, r in src.iterrows():
            x = np.frombuffer(bytes(r["payload"]), dtype=np.uint8).astype(
                np.float64
            ) - 128.0
            i = 0
            w = 0
            while i + self.WIN <= len(x):
                seg = x[i : i + self.WIN]
                rows.append((r["asset_id"], w, float(np.sqrt(np.mean(seg * seg)))))
                i += self.HOP
                w += 1
        assert len(got) == len(rows) > 0
        for (aid, widx, rms), (_, g) in zip(rows, got.iterrows()):
            assert g["asset_id"] == aid and g["window_idx"] == widx
            assert abs(g["rms"] - rms) < 1e-12

    def test_short_payloads_yield_no_windows(self, spark):
        import pandas as pd

        from polars_matmul_spark.operators.multimodal import audio_rms_windows

        df = spark.createDataFrame(
            pd.DataFrame(
                {"asset_id": [1, 2], "payload": [b"x" * 10, b"y" * 100]}
            )
        )
        out = audio_rms_windows(df, win=64, hop=32).toPandas()
        assert set(out["asset_id"]) == {2}
        assert len(out) == (100 - 64) // 32 + 1

    def test_bad_params_raise(self, spark):
        import pandas as pd
        import pytest

        from polars_matmul_spark.operators.multimodal import audio_rms_windows

        df = spark.createDataFrame(
            pd.DataFrame({"asset_id": [1], "payload": [b"x" * 10]})
        )
        with pytest.raises(ValueError, match="positive"):
            audio_rms_windows(df, win=0)


class TestRealDecoders:
    """Pure-NumPy WAV-PCM / 24-bit-BMP decode (no codec library):
    stdlib-wave oracle for audio, hand-constructed bytes for BMP
    (padding, bottom-up rows, BGR order all exercised)."""

    @staticmethod
    def _wav_bytes(rate=8000, n=1000, n_ch=1, bits=16):
        import io
        import wave

        import numpy as np

        t = np.arange(n)
        sig = (np.sin(2 * np.pi * 440 * t / rate) * 0.5 * 32767).astype("<i2")
        if n_ch == 2:
            frames = np.column_stack([sig, (sig // 2)]).ravel()
        else:
            frames = sig
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(n_ch)
            w.setsampwidth(bits // 8)
            w.setframerate(rate)
            w.writeframes(frames.tobytes())
        return buf.getvalue(), frames

    def test_wav_matches_stdlib_oracle(self):
        import io
        import wave

        import numpy as np

        from polars_matmul_spark.operators.multimodal import decode_wav

        payload, frames = self._wav_bytes()
        rate, mono = decode_wav(payload)
        assert rate == 8000 and len(mono) == 1000
        with wave.open(io.BytesIO(payload), "rb") as w:
            raw = np.frombuffer(
                w.readframes(w.getnframes()), dtype="<i2"
            ).astype(np.float64) / 32768.0
        assert np.array_equal(mono, raw)

    def test_wav_stereo_mixdown(self):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import decode_wav

        payload, frames = self._wav_bytes(n_ch=2)
        rate, mono = decode_wav(payload)
        lr = frames.reshape(-1, 2).astype(np.float64) / 32768.0
        assert np.array_equal(mono, lr.mean(axis=1))

    @staticmethod
    def _raw_wav(fmt, bits, data, rate=8000, n_ch=1, extensible=False):
        """Hand-assemble a RIFF/WAVE container around raw sample
        bytes, optionally as WAVE_FORMAT_EXTENSIBLE wrapping `fmt`."""
        import struct

        if extensible:
            body = struct.pack(
                "<HHIIHHHHI", 0xFFFE, n_ch, rate, 0, 0, bits, 22, bits, 0
            ) + struct.pack("<H", fmt) + b"\x00" * 14
        else:
            body = struct.pack("<HHIIHH", fmt, n_ch, rate, 0, 0, bits)
        fmt_chunk = b"fmt " + struct.pack("<I", len(body)) + body
        data_chunk = b"data" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            data_chunk += b"\x00"
        riff = b"WAVE" + fmt_chunk + data_chunk
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    def test_wav_float_and_wide_pcm(self):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import decode_wav

        x = np.sin(np.linspace(0, 7, 200))
        # IEEE float32 / float64 pass through exactly
        for dt in ("<f4", "<f8"):
            bits = 32 if dt == "<f4" else 64
            rate, mono = decode_wav(self._raw_wav(3, bits, x.astype(dt).tobytes()))
            np.testing.assert_allclose(mono, x.astype(dt).astype(np.float64))
        # 32-bit PCM
        i32 = (x * (2**31 - 1)).astype("<i4")
        _, mono = decode_wav(self._raw_wav(1, 32, i32.tobytes()))
        np.testing.assert_array_equal(mono, i32.astype(np.float64) / 2**31)
        # 24-bit PCM: pack 3-byte little-endian by hand
        i24 = (x * (2**23 - 1)).astype(np.int64)
        raw = bytearray()
        for v in i24:
            raw += int(v & 0xFFFFFF).to_bytes(3, "little")
        _, mono = decode_wav(self._raw_wav(1, 24, bytes(raw)))
        np.testing.assert_array_equal(mono, i24.astype(np.float64) / 2**23)
        # EXTENSIBLE wrapper resolves through the SubFormat GUID
        _, mono = decode_wav(
            self._raw_wav(1, 32, i32.tobytes(), extensible=True)
        )
        np.testing.assert_array_equal(mono, i32.astype(np.float64) / 2**31)

    def test_wav_g711_matches_audioop(self):
        """stdlib audioop is an independent implementation of the
        G.711 expansion — require bit-identical output for all 256
        codes in both laws (audioop is deprecated-but-present on this
        Python; skip cleanly if it ever disappears)."""
        import numpy as np
        import pytest as _pytest

        audioop = _pytest.importorskip("audioop")
        from polars_matmul_spark.operators.multimodal import (
            _g711_expand,
            decode_wav,
        )

        codes = np.arange(256, dtype=np.uint8)
        ref_mu = np.frombuffer(
            audioop.ulaw2lin(bytes(codes), 2), dtype="<i2"
        ).astype(np.int64)
        ref_a = np.frombuffer(
            audioop.alaw2lin(bytes(codes), 2), dtype="<i2"
        ).astype(np.int64)
        np.testing.assert_array_equal(_g711_expand(codes, "mu"), ref_mu)
        np.testing.assert_array_equal(_g711_expand(codes, "a"), ref_a)
        # and end-to-end through the container (mu=7, a=6)
        _, mono = decode_wav(self._raw_wav(7, 8, bytes(codes)))
        np.testing.assert_array_equal(mono, ref_mu / 32768.0)
        _, mono = decode_wav(self._raw_wav(6, 8, bytes(codes)))
        np.testing.assert_array_equal(mono, ref_a / 32768.0)

    @staticmethod
    def _bmp_bytes(img):
        """Serialize an (h, w, 3) uint8 RGB array as a bottom-up
        24-bit BMP with 4-byte row padding."""
        import struct

        import numpy as np

        h, w, _ = img.shape
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        data = rows.tobytes()
        off = 14 + 40
        header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        return header + info + data

    def test_bmp_roundtrip_with_padding_and_flip(self):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import decode_bmp

        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # w=3 -> padded rows
        img[0, 0] = [255, 0, 0]  # top-left red: catches flip/BGR mistakes
        got = decode_bmp(self._bmp_bytes(img))
        assert np.array_equal(got, img)

    def test_spark_decoded_stats(self, spark):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import decoded_asset_stats

        wav, frames = self._wav_bytes(rate=4000, n=500)
        img = np.full((4, 6, 3), 7, dtype=np.uint8)
        img[..., 0] = 200  # mean_r distinct from g/b
        rows = [
            (1, bytearray(wav)),
            (2, bytearray(self._bmp_bytes(img))),
            (3, bytearray(b"not a known container")),
        ]
        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        out = {r.asset_id: r for r in decoded_asset_stats(df).collect()}
        assert out[1].container == "wav" and out[1].sample_rate == 4000
        assert out[1].n_samples == 500 and abs(out[1].duration_s - 0.125) < 1e-12
        mono = frames.astype(np.float64) / 32768.0
        assert abs(out[1].audio_rms - float(np.sqrt(np.mean(mono * mono)))) < 1e-12
        assert out[2].container == "bmp" and (out[2].width, out[2].height) == (6, 4)
        assert out[2].mean_r == 200.0 and out[2].mean_g == 7.0
        assert out[3].container == "opaque" and out[3].sample_rate is None

    def test_truncated_fmt_chunk_is_valueerror_not_structerror(self, spark):
        """r6 ADVICE regression: a RIFF payload whose 'fmt ' chunk body
        is too short for the 16-byte format struct used to escape as
        struct.error, crashing decoded_asset_stats' whole task instead
        of landing in the documented malformed->opaque path."""
        import struct

        import pytest as _pytest

        from polars_matmul_spark.operators.multimodal import (
            decode_wav,
            decoded_asset_stats,
        )

        bad = b"RIFF" + struct.pack("<I", 16) + b"WAVE" + b"fmt " + struct.pack("<I", 4) + b"\x00" * 4
        with _pytest.raises(ValueError, match="truncated WAV fmt"):
            decode_wav(bad)
        ok, _ = self._wav_bytes(n=32)
        df = spark.createDataFrame(
            [(1, bytearray(bad)), (2, bytearray(ok))],
            "asset_id long, payload binary",
        )
        out = {r.asset_id: r for r in decoded_asset_stats(df).collect()}
        assert out[1].container == "opaque"  # survived, not crashed
        assert out[2].container == "wav"

    def test_rms_windows_real_decode(self, spark):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import audio_rms_windows

        # half-amplitude sine: windowed RMS of the DECODED samples must
        # read ~0.5/sqrt(2); the byte-fake view of the same payload
        # (headers + int16 LE bytes re-centered at 128) reads wildly
        # differently — the assertion separates the two paths
        rate, n = 8000, 4096
        payload, _ = self._wav_bytes(rate=rate, n=n)
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "asset_id long, payload binary"
        )
        real = audio_rms_windows(df, win=512, hop=512, real_decode=True).collect()
        assert len(real) == n // 512
        for r in real:
            assert abs(r.rms - 0.5 / np.sqrt(2)) < 0.01
        fake = audio_rms_windows(df, win=512, hop=512).collect()
        assert all(abs(r.rms - 0.5 / np.sqrt(2)) > 0.05 for r in fake)

    def test_rms_windows_mixed_table(self, spark):
        from polars_matmul_spark.operators.multimodal import audio_rms_windows

        payload, _ = self._wav_bytes(n=2048)
        rows = [(1, bytearray(payload)), (2, bytearray(bytes(range(256)) * 8))]
        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        out = audio_rms_windows(df, win=256, hop=256, real_decode=True).collect()
        # both assets produce windows; the opaque one via the byte-fake
        ids = {r.asset_id for r in out}
        assert ids == {1, 2}

    def test_resize_bmp_real(self, spark):
        import numpy as np

        from polars_matmul_spark.operators.multimodal import resize_bmp_real

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
        rows = [
            (1, bytearray(self._bmp_bytes(img))),
            (2, bytearray(b"not an image at all")),
        ]
        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        out = {r.asset_id: r for r in resize_bmp_real(df, out_w=3, out_h=4).collect()}
        assert set(out) == {1}  # undecodable emits nothing
        r = out[1]
        assert (r.src_w, r.src_h) == (6, 8)
        got = np.frombuffer(bytes(r.resized), dtype=np.uint8).reshape(4, 3, 3)
        ys = np.linspace(0, 7, 4).astype(np.int64)
        xs = np.linspace(0, 5, 3).astype(np.int64)
        assert np.array_equal(got, img[ys[:, None], xs[None, :]])


#: one well-formed 1x1 image per container the package probes but does
#: not decode: PNG (RGB), baseline JPEG (gray), GIF89a, little-endian TIFF
UNDECODED_IMAGES = {
    "png": bytes.fromhex(
        "89504e470d0a1a0a0000000d4948445200000001000000010802000000907753"
        "de0000000c49444154789c6338a11105000306014b0d6034f10000000049454e"
        "44ae426082"
    ),
    "jpeg": bytes.fromhex(
        "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
        "0101010101010101010101010101010101010101010101010101010101010101"
        "01010101010101ffc0000b080001000101011100ffc400260001000000000000"
        "00000000000000000000100100000000000000000000000000000000ffda0008"
        "010100003f003fffd9"
    ),
    "gif": bytes.fromhex(
        "47494638396101000100f00000c8285a0000002c00000000010001000002024401003b"
    ),
    "tiff": bytes.fromhex(
        "49492a0008000000090000010400010000000100000001010400010000000100"
        "000002010300030000007a000000030103000100000001000000060103000100"
        "0000020000001101040001000000800000001501030001000000030000001601"
        "0400010000004000000017010400010000000300000000000000080008000800"
        "c8285a"
    ),
}


@pytest.mark.parametrize("container", sorted(UNDECODED_IMAGES))
def test_probed_image_containers_are_opaque_and_undecodable(spark, container):
    """Only 24-bit BMP decodes: a well-formed PNG/JPEG/GIF/TIFF is
    ``opaque`` with null stats, hashes to no dHash row, and still gets
    its container label from the header probe."""
    from polars_matmul_spark.operators.mediaprobe import probe_media_table

    df = spark.createDataFrame(
        [(1, bytearray(UNDECODED_IMAGES[container]))],
        "asset_id long, payload binary",
    )
    (stats,) = M.decoded_asset_stats(df).collect()
    assert stats.container == "opaque"
    nulls = {k: v for k, v in stats.asDict().items() if k not in ("asset_id", "container")}
    assert set(nulls.values()) == {None}
    assert M.image_dhash(df).collect() == []
    assert [r.container for r in probe_media_table(df).collect()] == [container]


def test_decoded_stats_row_survives_non_ascii_text(spark, tmp_path):
    # the registry row's encoder uses encode('ascii','replace') while
    # the DuckDB oracle reads codepoints — both sides now normalize
    # non-ASCII to '?' first, so the bit-exact comparison survives a
    # future SF with accented/emoji text (incl. surrogate pairs)
    import duckdb

    from polars_matmul_spark.registry import ALL_QUERIES

    fn, oracle = ALL_QUERIES["mm_decoded_stats"]
    rows = [
        (0, "héllo wörld " * 20),
        (1, "naïve café ü " * 30),
        (2, "plain ascii " * 25),
        (3, "emoji \U0001F600 mix " * 15),
        (4, "ascii again " * 40),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    s = fn(spark, str(tmp_path)).toPandas()
    d = con.sql(oracle).df()
    s = s.reindex(sorted(s.columns), axis=1).sort_values(
        sorted(s.columns)
    ).reset_index(drop=True)
    d = d.reindex(sorted(d.columns), axis=1).sort_values(
        sorted(d.columns)
    ).reset_index(drop=True)
    assert s.equals(d.astype(s.dtypes.to_dict()))


def test_triage_assets_unified_table(spark):
    """probe -> route -> decode composition: a mixed crawl batch (WAV,
    FLAC, MPEG-1 Layer I, MP4 fragment, opaque) triages into ONE table
    — probe metadata for everything, real decode stats where a decoder
    exists, Layer I payload-digest columns for MPEG audio."""
    import io
    import struct
    import wave

    import numpy as np

    from polars_matmul_spark.operators.flac import encode_flac
    from polars_matmul_spark.operators.mpegaudio import encode_layer1

    sig = ((np.arange(400) % 200) - 100) * 128
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(sig.astype("<i2").tobytes())
    wav = buf.getvalue()
    flac = encode_flac(sig, 8000, bps=16)
    alloc = [6] * 12 + [0] * 20
    codes = (np.arange(2 * 12 * 12) % 128).reshape(2, 12, 12)
    mp1 = encode_layer1(codes, alloc, [3] * 12, 448, 32000)
    mp4 = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    rows = [(1, wav), (2, flac), (3, mp1), (4, mp4), (5, b"\x00junk")]
    out = {
        r.asset_id: r
        for r in M.triage_assets(
            spark.createDataFrame(rows, "asset_id long, payload binary")
        ).collect()
    }
    assert len(out) == 5
    assert out[1].container == "wav" and out[1].dec_container == "wav"
    assert out[1].n_samples == 400 and out[1].audio_rms > 0
    assert out[2].container == "flac" and out[2].dec_container == "flac"
    assert out[2].audio_rms == out[1].audio_rms  # lossless: same signal
    assert out[3].container == "mp3" and out[3].codec == "mpeg1-layer1"
    assert out[3].l1_n_frames == 2 and out[3].l1_n_codes == 288
    flat = codes.ravel()
    assert out[3].l1_code_digest == int(
        (flat * (np.arange(flat.size) + 1)).sum()
    )
    assert out[3].dec_container == "opaque"  # stats op has no L1 branch
    assert out[4].container == "mp4" and out[4].l1_n_frames is None
    assert out[5].container == "opaque" and out[5].audio_rms is None
