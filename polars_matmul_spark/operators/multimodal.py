"""Multimodal (image/audio/video) column plumbing.

The reference has no multimodal surface (reference SURVEY §2.3 —
`src/lib.rs:57-62` exposes exactly two similarity pyfunctions); this is
the training-pipeline extension layer: treat media as opaque ``binary``
payloads with typed metadata, and run decode / feature-extract /
resize / frame-sample as Arrow-batched Python stages.

Three containers decode for REAL in pure NumPy: RIFF/WAVE PCM
(``decode_wav`` — stdlib-``wave``-validated), uncompressed 24-bit BMP
(``decode_bmp``), and FLAC (``operators.flac`` — Rice coding +
fixed/LPC prediction + stereo decorrelation, CRC-8/16 and
STREAMINFO-MD5 self-verified: losslessness makes the decode its own
cryptographic oracle). They are surfaced through
``decoded_asset_stats``, ``audio_rms_windows(real_decode=True)``,
``resize_bmp_real`` and the dHash family; every other payload is
``opaque`` (or, for the image operators, undecodable). MPEG-1 Layer I
frame payloads also decode for real (``operators.mpegaudio`` —
allocation/scalefactor/sample bit walk + the formula-exact mid-rise
requantizer, driver-gated through ``mpeg_layer1_decode``), and
``mediaprobe`` provides the header-probe pass a real triage runs
first. ``decode_png`` / ``encode_png`` remain as a standalone library
codec that no operator dispatches to (like ``operators.gif``), so PNG
payloads are ``opaque`` here too. Everything Spark-side is real and
tested either way: the binary schema, the mapInPandas batch shapes,
deterministic fake decoders (payload bytes ARE the samples —
documents are pure ASCII so byte == codepoint, which makes the fakes
DuckDB-oracle-checkable).

Scale notes: payloads stay in executor-side Arrow buffers end-to-end
(never collected); feature extraction is embarrassingly parallel per
partition; frame sampling is pure Catalyst (sequence + substring on
binary) so it whole-stage-codegens with no Python worker at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "asset_table",
    "byte_histogram_features",
    "pixel_stats",
    "frame_sample",
    "resize_fake",
    "audio_rms_windows",
    "decode_wav",
    "decode_bmp",
    "decode_png",
    "encode_png",
    "decoded_asset_stats",
    "resize_bmp_real",
    "triage_assets",
    "image_dhash",
    "image_dhash_variance",
    "neardup_images_dhash",
    "neardup_images_dhash_filtered",
    "image_neardup_new_vs_index",
]

#: fixed fake-image width; height is derived from the payload length
IMG_WIDTH = 16


def asset_table(docs: DataFrame) -> DataFrame:
    """documents -> multimodal asset table.

    Schema: (asset_id long, kind string, payload binary,
    width int, height int, sample_rate int, n_bytes long).
    ``kind`` cycles image/audio/video by id; payload is the utf-8 text
    bytes (the opaque-media stand-in).
    """
    payload = F.col("text").cast("binary")
    n_bytes = F.octet_length(payload).cast("long")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        payload.alias("payload"),
        F.lit(IMG_WIDTH).alias("width"),
        (n_bytes / IMG_WIDTH).cast("int").alias("height"),
        F.lit(8000).alias("sample_rate"),
        n_bytes.alias("n_bytes"),
    )


def byte_histogram_features(
    df: DataFrame, id_col: str = "asset_id", payload_col: str = "payload", bins: int = 16
) -> DataFrame:
    """Feature extraction over binary payloads: normalized ``bins``-bin
    histogram of byte values (bin width 256/bins), as array<double>.

    mapInPandas: one numpy pass per Arrow batch, no per-row Python.
    """
    width = 256 // bins
    schema = f"{id_col} long, features array<double>"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one vectorized pass per Arrow batch: concatenate payloads,
            # per-doc bincount via offset keys — no per-row Python loop
            bufs = [bytes(b) for b in pdf[payload_col]]
            lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
            if len(bufs) == 0 or lens.sum() == 0:
                yield pd.DataFrame({id_col: pdf[id_col], "features": [[0.0] * bins] * len(bufs)})
                continue
            arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            doc_idx = np.repeat(np.arange(len(bufs)), lens)
            # clamp: when bins does not divide 256, the top partial bin
            # absorbs the remainder (else byte 255 would overflow into
            # the NEXT document's bin 0)
            keys = doc_idx * bins + np.minimum(arr // width, bins - 1)
            counts = np.bincount(keys, minlength=len(bufs) * bins).reshape(len(bufs), bins)
            feats = counts / np.maximum(lens, 1)[:, None]
            yield pd.DataFrame({id_col: pdf[id_col], "features": list(feats)})

    return df.select(id_col, payload_col).mapInPandas(extract, schema)


def _batch_geometry(pdf: pd.DataFrame):
    """Shared per-batch decode geometry: concatenated payload bytes,
    byte offsets, and the effective (clipped) image height per row.

    A payload shorter than the declared width*height clips to the full
    pixel rows it actually contains (h_eff = min(h, len // w)) instead
    of crashing the task on reshape — the guard a real decoder needs for
    truncated files.
    """
    bufs = [bytes(b) for b in pdf["payload"]]
    nb = len(bufs)
    w = pdf["width"].to_numpy().astype(np.int64)
    h = pdf["height"].to_numpy().astype(np.int64)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=nb)
    h_eff = np.minimum(h, lens // np.maximum(w, 1))
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
    return arr, offsets, lens, w, h_eff


def pixel_stats(df: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """Fake image decode + per-image stats: interpret the first
    width*height payload bytes as a grayscale (height, width) uint8
    image, emit mean/min/max pixel. The decode itself is the fake; the
    batch plumbing (binary -> ndarray -> reduce) is exactly what a
    PIL-backed decoder would do.

    One vectorized pass per Arrow batch (offset-keys grouping +
    ``reduceat``), no per-row Python loop; undecodable rows (fewer
    payload bytes than one pixel row) are dropped, not crashed on.
    """
    schema = f"{id_col} long, n_pixels long, mean_px double, min_px int, max_px int"
    # payloads shorter than one image row have height 0 — no decodable
    # image (and the reduction over an empty array would crash the task)
    df = df.filter(F.col("height") >= 1)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb = len(pdf)
            if nb == 0:
                continue
            arr, _offsets, lens, w, h_eff = _batch_geometry(pdf)
            usable = w * h_eff
            keep = usable >= 1
            # used-byte mask: the first usable[i] bytes of each payload
            pos = np.arange(arr.size) - np.repeat(_offsets, lens)
            vals = arr[pos < np.repeat(usable, lens)]
            u_keep = usable[keep]
            if len(u_keep) == 0:
                continue
            starts = np.concatenate(([0], np.cumsum(u_keep)))[:-1]
            sums = np.add.reduceat(vals.astype(np.int64), starts)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "n_pixels": u_keep,
                    "mean_px": sums / u_keep,
                    "min_px": np.minimum.reduceat(vals, starts).astype(np.int32),
                    "max_px": np.maximum.reduceat(vals, starts).astype(np.int32),
                }
            )

    return df.select(id_col, "payload", "width", "height").mapInPandas(decode, schema)


def frame_sample(
    df: DataFrame,
    frame_bytes: int = 64,
    every: int = 2,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling, pure Catalyst: split the payload into
    ``frame_bytes`` blocks ("frames"), keep every ``every``-th, emit
    (asset_id, frame_no, frame_sha256). No Python worker — the whole
    operator whole-stage-codegens.
    """
    n_frames = f"octet_length({payload_col}) div {frame_bytes}"
    # explode the frame INDEX sequence, slice the payload with flat
    # (codegen-able) substring — a `transform` building the frame array
    # first would run as an interpreted lambda per element.
    # sequence(0, -1) would count DOWN; guard the short-payload case
    frame_nos = F.expr(
        f"CASE WHEN {n_frames} < 1 THEN array() ELSE sequence(0, {n_frames} - 1) END"
    )
    return (
        df.select(id_col, F.col(payload_col), F.explode(frame_nos).alias("frame_no"))
        .filter(F.col("frame_no") % every == 0)
        .select(
            F.col(id_col),
            F.col("frame_no").cast("long").alias("frame_no"),
            F.sha2(
                F.expr(f"substring({payload_col}, frame_no * {frame_bytes} + 1, {frame_bytes})"),
                256,
            ).alias("frame_sha256"),
        )
    )


def resize_fake(
    df: DataFrame, out_w: int = 4, out_h: int = 4, id_col: str = "asset_id"
) -> DataFrame:
    """Fake resize: nearest-neighbor stride subsample of the fake-decoded
    image down to (out_h, out_w), returned as a binary payload again.
    Real interpolation needs PIL (``resize_bmp_real`` is the real
    nearest-neighbor path for 24-bit BMP); the Spark-side contract —
    binary in, smaller binary out, schema stable — is real.
    """
    schema = f"{id_col} long, resized binary"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb = len(pdf)
            if nb == 0:
                continue
            arr, offsets, _lens, w, h_eff = _batch_geometry(pdf)
            keep = (h_eff >= 1) & (w >= 1)
            if not keep.any():
                continue
            wk, hk, ok = w[keep], h_eff[keep], offsets[keep]
            # one gather for the whole batch: np.linspace with array
            # endpoints runs the same arithmetic as the scalar call, so
            # the sample grid is bit-identical to the per-row form
            ys = np.linspace(0, hk - 1, out_h, axis=-1).astype(np.int64)
            xs = np.linspace(0, wk - 1, out_w, axis=-1).astype(np.int64)
            flat = ok[:, None, None] + ys[:, :, None] * wk[:, None, None] + xs[:, None, :]
            pix = arr[flat]  # (n_keep, out_h, out_w)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep], "resized": [p.tobytes() for p in pix]}
            )

    return df.select(id_col, "payload", "width", "height").mapInPandas(resize, schema)


def _g711_expand(codes: np.ndarray, law: str) -> np.ndarray:
    """G.711 companding expansion to 16-bit linear PCM — the standard
    segment/mantissa decode, vectorized over the whole byte stream;
    bit-identical to the stdlib ``audioop`` expansion (pinned in
    tests). ``law`` is 'mu' (format 7) or 'a' (format 6)."""
    c = codes.astype(np.int64)
    if law == "mu":
        c = ~c & 0xFF
        sign = np.where(c & 0x80, -1, 1)
        seg = (c >> 4) & 0x07
        mant = c & 0x0F
        # 14-bit magnitude scaled x4 to 16-bit (the audioop convention)
        mag = ((((mant << 1) | 0x21) << seg) - 0x21) << 2
        return (sign * mag).astype(np.int64)
    # A-law: even bits are inverted on the wire; sign bit SET = positive
    c ^= 0x55
    sign = np.where(c & 0x80, 1, -1)
    seg = (c >> 4) & 0x07
    mant = c & 0x0F
    mag = np.where(
        seg == 0, (mant << 4) | 0x08, (((mant << 4) | 0x108) << (seg - 1))
    )
    return (sign * mag).astype(np.int64)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL audio decode for RIFF/WAVE — pure NumPy, no codec library:
    parse the chunk list, accept linear PCM (format 1: 8/16/24/32
    bits), IEEE float (format 3: f32/f64), G.711 A-law / mu-law
    (formats 6/7 — :func:`_g711_expand`), and WAVE_FORMAT_EXTENSIBLE
    (0xFFFE, resolved through the SubFormat GUID). Mixes channels
    down to mono; returns (sample_rate, float64 samples in [-1, 1)).
    PCM-16 bit-validated against the stdlib ``wave`` reader; G.711
    validated against an independent scalar transcription of the
    companding equations. Raises ValueError on non-RIFF or
    unsupported format input.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, fmt_body, data = 12, None, b"", None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            try:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            except struct.error as exc:
                # a truncated 'fmt ' chunk must surface as the same
                # ValueError every other malformed-RIFF path raises, so
                # mixed-table callers (decoded_asset_stats) keep their
                # "malformed -> opaque" contract instead of crashing
                raise ValueError("truncated WAV fmt chunk") from exc
            fmt_body = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _brate, _align, bits = fmt
    if audio_fmt == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: GUID at offset 24
        if len(fmt_body) < 26:
            raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
        (audio_fmt,) = struct.unpack_from("<H", fmt_body, 24)
    if n_ch < 1:
        raise ValueError(f"unsupported WAV: {n_ch} channels")
    if audio_fmt == 1 and bits == 16:
        raw = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_fmt == 1 and bits == 8:
        raw = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 24:
        b = np.frombuffer(data, dtype=np.uint8)
        b = b[: (len(b) // 3) * 3].reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        raw = np.where(v >= 1 << 23, v - (1 << 24), v) / float(1 << 23)
    elif audio_fmt == 1 and bits == 32:
        raw = np.frombuffer(data, dtype="<i4").astype(np.float64) / float(1 << 31)
    elif audio_fmt == 3 and bits == 32:
        raw = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif audio_fmt == 3 and bits == 64:
        raw = np.frombuffer(data, dtype="<f8").astype(np.float64)
    elif audio_fmt in (6, 7) and bits == 8:
        law = "a" if audio_fmt == 6 else "mu"
        raw = _g711_expand(np.frombuffer(data, dtype=np.uint8), law) / 32768.0
    else:
        raise ValueError(f"unsupported WAV: format={audio_fmt} bits={bits}")
    n = (len(raw) // n_ch) * n_ch
    mono = raw[:n].reshape(-1, n_ch).mean(axis=1)
    return rate, mono


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL image decode for uncompressed 24-bit BMP — pure NumPy:
    parse BITMAPFILEHEADER + BITMAPINFOHEADER, un-pad the 4-byte-
    aligned bottom-up BGR rows, return an (h, w, 3) uint8 RGB array.
    Raises ValueError on non-BMP / compressed / non-24-bit input."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    flip = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    px = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = px.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


# PNG codec: a standalone decode/encode pair. No operator in this module
# dispatches to it; ``decoded_asset_stats`` and the dHash family decode
# 24-bit BMP only.
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (0 gray, 2 RGB, 3 palette, 4 gray+A, 6 RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG spec §11.2.2, table 11.1)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filtering (spec §9): ``raw`` is h scanlines of
    (1 filter byte + stride data bytes); returns (h, stride) uint8.

    None/Up are whole-row vectorized; Sub is a cumulative sum over
    bpp-strided byte chains (mod-256 survives int64 cumsum); Average
    and Paeth carry a left-pixel dependency so they fall back to a
    per-byte loop — encoders pick those rows adaptively, so the loop
    touches only the rows that used them.
    """
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG data length {len(raw)} != {h} rows of {1 + stride} bytes"
        )
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters, data = lines[:, 0], lines[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, row = int(filters[y]), data[y]
        if f == 0:  # None
            rec = row.copy()
        elif f == 1:  # Sub: rec[i] = row[i] + rec[i-bpp]
            rec = (
                np.cumsum(row.reshape(-1, bpp).astype(np.int64), axis=0) & 0xFF
            ).astype(np.uint8).reshape(stride) if stride % bpp == 0 else None
            if rec is None:  # sub-byte depths: bpp=1, always divisible
                raise ValueError("PNG stride not a multiple of bpp")
        elif f == 2:  # Up
            rec = row + prev
        elif f == 3:  # Average
            rec = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(rec[i - bpp]) if i >= bpp else 0
                rec[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = prev = rec
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """REAL image decode for PNG — pure stdlib ``zlib`` + NumPy, no
    codec library: PNG's only compression method is DEFLATE, so the
    whole format is decodable from first principles. Walks the chunk
    list (CRC-verified), inflates the concatenated IDAT stream, undoes
    the five scanline filters (:func:`_png_unfilter`), unpacks
    sub-byte depths, applies the PLTE palette, and returns the natural
    array for the color type: gray ``(h, w)``, RGB / palette
    ``(h, w, 3)``, gray+alpha ``(h, w, 2)``, RGBA ``(h, w, 4)`` —
    uint8, or uint16 for 16-bit channels.

    Raises ValueError on malformed input, CRC mismatch, or Adam7
    interlacing (legal but rare; not supported). Reference parity:
    the reference repo has no image surface at all (its SURVEY §2.3
    scope is the two similarity pyfunctions) — this is the
    training-pipeline extension layer's real-codec path.
    """
    import struct
    import zlib

    if len(payload) < len(_PNG_SIG) + 25 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (sz,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + sz]
        if len(body) != sz or pos + 12 + sz > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + sz)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + sz
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, bits, ct, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError(f"unknown PNG compression/filter method {comp}/{filt}")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG not supported")
    if ct not in _PNG_CHANNELS or bits not in _PNG_DEPTHS[ct]:
        raise ValueError(f"illegal PNG color-type/bit-depth {ct}/{bits}")
    if w < 1 or h < 1:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    ch = _PNG_CHANNELS[ct]
    stride = (w * ch * bits + 7) // 8
    bpp = max(1, (bits + 7) // 8 * ch)
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError("corrupt PNG IDAT stream") from exc
    rows = _png_unfilter(raw, h, stride, bpp)
    if bits < 8:  # sub-byte gray/palette: unpack MSB-first, drop row pad
        unpacked = np.unpackbits(rows, axis=1)[:, : w * bits].reshape(h, w, bits)
        weights = 1 << np.arange(bits - 1, -1, -1, dtype=np.uint8)
        vals = (unpacked * weights).sum(axis=2).astype(np.uint8)
    elif bits == 8:
        vals = rows.reshape(h, w, ch) if ch > 1 else rows.reshape(h, w)
    else:  # 16-bit channels, network byte order
        vals = rows.view(">u2").astype(np.uint16).reshape(h, w, ch)
        if ch == 1:
            vals = vals.reshape(h, w)
    if ct == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        if int(vals.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[vals]  # (h, w, 3) uint8
    if bits < 8:  # grayscale at sub-byte depth: scale to full 0..255
        return (vals * (255 // ((1 << bits) - 1))).astype(np.uint8)
    return vals


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """PNG writing sink for uint8/uint16 arrays — the inverse of
    :func:`decode_png` for the byte-aligned depths: gray ``(h, w)``,
    gray+alpha ``(h, w, 2)``, RGB ``(h, w, 3)``, RGBA ``(h, w, 4)``.
    ``filter_type`` (0-4) applies ONE spec filter to every scanline —
    fixed rather than adaptive so tests can exercise each decode path
    explicitly; compression ratio is not the point here.
    """
    import struct
    import zlib

    img = np.asarray(img)
    if img.dtype not in (np.uint8, np.uint16) or img.ndim not in (2, 3):
        raise ValueError("encode_png wants a uint8/uint16 (h,w[,c]) array")
    ch = 1 if img.ndim == 2 else img.shape[2]
    ct = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if ct is None:
        raise ValueError(f"unsupported channel count {ch}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    h, w = img.shape[:2]
    bits = 8 if img.dtype == np.uint8 else 16
    bpp = (bits // 8) * ch
    flat = (
        img.astype(">u2").view(np.uint8) if bits == 16 else img
    ).reshape(h, w * bpp)

    def _filt(row: np.ndarray, prev: np.ndarray) -> np.ndarray:
        left = np.zeros_like(row)
        left[bpp:] = row[:-bpp]
        if filter_type == 0:
            return row
        if filter_type == 1:
            return row - left
        if filter_type == 2:
            return row - prev
        if filter_type == 3:
            return row - (
                (left.astype(np.int64) + prev.astype(np.int64)) >> 1
            ).astype(np.uint8)
        upleft = np.zeros_like(prev)
        upleft[bpp:] = prev[:-bpp]
        a, b, c = (x.astype(np.int64) for x in (left, prev, upleft))
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        return row - pred.astype(np.uint8)

    prev = np.zeros(w * bpp, dtype=np.uint8)
    scan = bytearray()
    for y in range(h):
        scan.append(filter_type)
        scan.extend(_filt(flat[y], prev).tobytes())
        prev = flat[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bits, ct, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan), 6))
        + chunk(b"IEND", b"")
    )


def decoded_asset_stats(df: DataFrame, id_col: str = "asset_id") -> DataFrame:
    """REAL per-asset decode stats over a binary column: sniff each
    payload's container; WAV-PCM and FLAC rows emit (sample_rate,
    n_samples, duration_s, audio_rms — FLAC decoded losslessly and
    MD5-self-verified), 24-bit-BMP rows emit (width, height, mean_r,
    mean_g, mean_b); anything else (other image containers included)
    passes through as container='opaque' with null stats — decodable
    and opaque assets can share one table, exactly how a mixed crawl
    lands.

    mapInPandas batches; the per-row decode is header parsing + one
    vectorized NumPy pass per asset, and the operator never shuffles.
    """
    schema = (
        f"{id_col} long, container string, sample_rate long, n_samples long, "
        "duration_s double, audio_rms double, width long, height long, "
        "mean_r double, mean_g double, mean_b double"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf["payload"]):
                p = bytes(payload)
                base = {
                    id_col: aid, "container": "opaque", "sample_rate": None,
                    "n_samples": None, "duration_s": None, "audio_rms": None,
                    "width": None, "height": None, "mean_r": None,
                    "mean_g": None, "mean_b": None,
                }
                try:
                    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        rate, mono = decode_wav(p)
                        base.update(
                            container="wav", sample_rate=rate,
                            n_samples=len(mono),
                            duration_s=len(mono) / rate if rate else 0.0,
                            audio_rms=float(np.sqrt(np.mean(mono * mono)))
                            if len(mono) else 0.0,
                        )
                    elif p[:4] == b"fLaC":
                        from polars_matmul_spark.operators.flac import (
                            decode_flac_mono,
                        )

                        rate, mono = decode_flac_mono(p)
                        base.update(
                            container="flac", sample_rate=rate,
                            n_samples=len(mono),
                            duration_s=len(mono) / rate if rate else 0.0,
                            audio_rms=float(np.sqrt(np.mean(mono * mono)))
                            if len(mono) else 0.0,
                        )
                    elif p[:2] == b"BM":
                        img = decode_bmp(p)
                        base.update(
                            container="bmp", width=img.shape[1],
                            height=img.shape[0],
                            mean_r=float(img[..., 0].mean()),
                            mean_g=float(img[..., 1].mean()),
                            mean_b=float(img[..., 2].mean()),
                        )
                except ValueError:
                    pass  # malformed header: stays opaque
                rows.append(base)
            yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(stats, schema)


def audio_rms_windows(
    df: DataFrame,
    win: int = 256,
    hop: int = 128,
    id_col: str = "asset_id",
    real_decode: bool = False,
) -> DataFrame:
    """Framewise audio energy over binary payloads: the fake-decode
    treats each byte as one unsigned 8-bit PCM sample (centered at
    128), frames the signal into ``win``-sample windows every ``hop``
    samples (windows that would run past the end are dropped, the
    standard STFT frame rule), and emits per-window RMS.

    -> (asset_id, window_idx, rms double) — the framewise-feature
    shape a speech-quality or silence-trimming pipeline needs before
    any model sees the audio.

    Fully vectorized per Arrow batch: one concatenated sample buffer,
    window starts built from offset arithmetic, one fancy-index gather
    into a (total_windows, win) matrix, one rowwise reduction — no
    per-row Python over the samples.

    ``real_decode=True`` sniffs each payload and runs RIFF/WAVE-PCM
    assets through :func:`decode_wav` (FLAC through
    :func:`flac.decode_flac_mono`) first, so the windows frame the
    DECODED mono float samples (a 440 Hz half-amplitude sine reads
    RMS ~0.5/sqrt(2), pinned in tests); non-WAV payloads keep the
    byte-fake view, so mixed tables work in one call. The framing
    math downstream of the sample buffer is byte-for-byte the same
    code path either way.
    """
    if hop <= 0 or win <= 0:
        raise ValueError(f"win ({win}) and hop ({hop}) must be positive")
    schema = f"{id_col} long, window_idx long, rms double"

    def _samples(p: bytes) -> np.ndarray:
        if real_decode and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            try:
                return decode_wav(p)[1]
            except ValueError:
                pass  # malformed WAV header: fall through to byte-fake
        if real_decode and p[:4] == b"fLaC":
            from polars_matmul_spark.operators.flac import decode_flac_mono

            try:
                return decode_flac_mono(p)[1]
            except ValueError:
                pass  # malformed FLAC: fall through to byte-fake
        return np.frombuffer(p, dtype=np.uint8).astype(np.float64) - 128.0

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sams = [_samples(bytes(b)) for b in pdf["payload"]]
            nb = len(sams)
            lens = np.fromiter((len(s) for s in sams), dtype=np.int64, count=nb)
            n_win = np.where(lens >= win, (lens - win) // hop + 1, 0)
            total = int(n_win.sum())
            if total == 0:
                yield pd.DataFrame({id_col: [], "window_idx": [], "rms": []})
                continue
            arr = np.concatenate(sams)
            offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
            doc_of_win = np.repeat(np.arange(nb), n_win)
            # window_idx restarts at 0 within each doc
            first_win_of_doc = np.concatenate(([0], np.cumsum(n_win)))[:-1]
            widx = np.arange(total) - first_win_of_doc[doc_of_win]
            starts = offsets[doc_of_win] + widx * hop
            windows = arr[starts[:, None] + np.arange(win)[None, :]]
            rms = np.sqrt(np.mean(windows * windows, axis=1))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[doc_of_win],
                    "window_idx": widx,
                    "rms": rms,
                }
            )

    return df.select(id_col, "payload").mapInPandas(frames, schema)


def _decode_bmp_or_none(p: bytes) -> np.ndarray | None:
    """:func:`decode_bmp`, with None for any payload it rejects (not a
    24-bit BMP, or malformed) — the image operators' undecodable rule."""
    try:
        return decode_bmp(p)
    except ValueError:
        return None


def resize_bmp_real(
    df: DataFrame, out_w: int = 4, out_h: int = 4, id_col: str = "asset_id"
) -> DataFrame:
    """REAL image resize for 24-bit BMP payloads
    (:func:`_decode_bmp_or_none`): decode, nearest-neighbor
    sample a (out_h, out_w) RGB grid (the same np.linspace grid
    arithmetic as ``resize_fake``, so fake and real paths stay
    comparable), and return the pixels as a flat RGB byte payload plus
    the source geometry. Undecodable payloads are skipped (emit
    nothing) — run them through ``resize_fake``.

    -> (asset_id, src_w, src_h, resized binary[out_h*out_w*3 RGB]).
    mapInPandas, no shuffle; the only per-row Python is the container
    parse — the pixel gather is one vectorized fancy-index per asset.
    """
    schema = f"{id_col} long, src_w long, src_h long, resized binary"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf["payload"]):
                img = _decode_bmp_or_none(bytes(payload))
                if img is None:
                    continue
                h, w, _ = img.shape
                ys = np.linspace(0, h - 1, out_h).astype(np.int64)
                xs = np.linspace(0, w - 1, out_w).astype(np.int64)
                pix = img[ys[:, None], xs[None, :]]  # (out_h, out_w, 3)
                rows.append(
                    {id_col: aid, "src_w": w, "src_h": h,
                     "resized": pix.tobytes()}
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "src_w", "src_h", "resized"]
            )

    return df.select(id_col, "payload").mapInPandas(resize, schema)


def image_dhash(
    df: DataFrame, id_col: str = "asset_id", hash_size: int = 8
) -> DataFrame:
    """Perceptual difference-hash over REALLY DECODED pixels — the
    image-side analogue of the text fingerprints: two images that look
    alike hash to nearby bit strings.

    Recipe (the standard dHash): decode the 24-bit BMP payload
    (:func:`_decode_bmp_or_none`; any other container is
    undecodable), Rec.601 luma,
    nearest-neighbor sample to a (hash_size, hash_size+1) grid with
    the repo's ``np.linspace`` grid arithmetic, emit one bit per
    horizontal neighbor pair (left < right), pack row-major into a
    64-bit long (hash_size=8). Integer comparisons on deterministic
    float luma — partitioning-invariant, no RNG.

    -> (id_col, dhash long, src_w long, src_h long); undecodable
    payloads emit nothing. mapInPandas, no shuffle.

    Standard dHash caveat: constant-color (and any row-wise
    monotone-equal) images all hash to the same value — gradient bits
    carry no signal without luma variation. The caveat is ENFORCED as
    code by :func:`neardup_images_dhash_filtered` (luma-variance
    pre-filter in the same decode pass); use it whenever flat images
    can occur in the corpus.

    Shares ONE hash kernel (:func:`_dhash_row`) with
    :func:`image_dhash_variance` so the filtered and unfiltered
    near-dup paths cannot desync bit-for-bit; this unfiltered hot path
    skips the O(pixels) variance reduction entirely
    (``with_variance=False``) — only the filtered sibling pays for the
    signal it consumes.
    """
    return _dhash_frame(df, id_col, hash_size, with_variance=False)


def _dhash_row(payload: bytes, hash_size: int, with_variance: bool = True):
    """Decode one payload and compute the shared dHash kernel:
    -> (signed-64 dhash, src_w, src_h, luma population variance) or
    None if undecodable. The ONLY place the grid/bit-pack recipe
    lives — both :func:`image_dhash` and :func:`image_dhash_variance`
    (and through them every near-dup path) go through here.
    ``with_variance=False`` skips the full-plane variance reduction
    (the tuple's last slot is then None) — the hash bits are computed
    identically either way."""
    img = _decode_bmp_or_none(payload)
    if img is None:
        return None
    h, w, _ = img.shape
    luma = (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1]
        + 0.114 * img[:, :, 2]
    )
    ys = np.linspace(0, h - 1, hash_size).astype(np.int64)
    xs = np.linspace(0, w - 1, hash_size + 1).astype(np.int64)
    grid = luma[ys[:, None], xs[None, :]]
    bits = (grid[:, :-1] < grid[:, 1:]).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # interpret the packed bits as signed 64-bit (Spark long) — with
    # hash_size 8 the top bit can be set
    if val >= 1 << 63:
        val -= 1 << 64
    return val, w, h, (float(luma.var()) if with_variance else None)


def image_dhash_variance(
    df: DataFrame, id_col: str = "asset_id", hash_size: int = 8
) -> DataFrame:
    """:func:`image_dhash` plus the luma VARIANCE of the full decoded
    plane (population variance, f64) in the same decode pass — the
    signal the dHash flat-image caveat says to pre-filter on: a
    constant-color image has variance 0 and an (informationless)
    all-zero gradient hash.

    -> (id_col, dhash long, src_w long, src_h long, luma_var double).
    """
    return _dhash_frame(df, id_col, hash_size, with_variance=True)


def _dhash_frame(
    df: DataFrame, id_col: str, hash_size: int, with_variance: bool
) -> DataFrame:
    """Shared mapInPandas plan over :func:`_dhash_row` — one decode
    pass per image, the variance column present (and its reduction
    paid) only when the caller consumes it."""
    if hash_size < 1 or hash_size * hash_size > 64:
        raise ValueError("hash_size must be in 1..8 (bits must fit a long)")
    cols = [id_col, "dhash", "src_w", "src_h"] + (
        ["luma_var"] if with_variance else []
    )
    schema = f"{id_col} long, dhash long, src_w long, src_h long" + (
        ", luma_var double" if with_variance else ""
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf["payload"]):
                hit = _dhash_row(bytes(payload), hash_size, with_variance)
                if hit is None:
                    continue
                val, w, h, var = hit
                rec = {id_col: aid, "dhash": val, "src_w": w, "src_h": h}
                if with_variance:
                    rec["luma_var"] = var
                rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, "payload").mapInPandas(compute, schema)


def _neardup_pairs_from_hashes(
    hashes: DataFrame, bands: int, max_distance: int
) -> DataFrame:
    """Banded Hamming self-join over an (__id, dhash) table — the
    shared tail of :func:`neardup_images_dhash` and its
    variance-filtered sibling.

    The hash table is materialized ONCE (lazy localCheckpoint) before
    it fans out: it feeds both sides of the band self-join, and
    without the pin each side re-evaluates the upstream decode+dHash
    mapInPandas subtree — with the former bands-way union of
    projections that was up to ``2 * bands`` full decode passes of
    every image per pair search (the round-12 plan audit read 16
    Python-eval nodes in the driver row's plan where the data needs
    exactly one). Band keys now derive in ONE posexplode projection
    over the pinned slim (id, dhash) rows, so the plan carries a
    single decode node per query."""
    banded = _band_slices(
        hashes.localCheckpoint(eager=False), bands, "__id", "dhash"
    )
    right = banded.select(
        F.col("__id").alias("__id_b"),
        F.col("dhash").alias("__dhash_b"),
        "__band",
        "__key",
    )
    cand = (
        banded.join(right, ["__band", "__key"])
        .filter(F.col("__id") < F.col("__id_b"))
        .select("__id", "__id_b", "dhash", "__dhash_b")
        .distinct()
    )
    out = cand.select(
        F.col("__id").alias("id_a"),
        F.col("__id_b").alias("id_b"),
        F.bit_count(
            F.col("dhash").bitwiseXOR(F.col("__dhash_b"))
        ).cast("long").alias("distance"),
    )
    return out.filter(F.col("distance") <= max_distance)


def neardup_images_dhash_filtered(
    df: DataFrame,
    id_col: str = "asset_id",
    max_distance: int = 10,
    bands: int = 4,
    hash_size: int = 8,
    min_luma_variance: float = 1.0,
) -> DataFrame:
    """:func:`neardup_images_dhash` with the flat-image caveat ENFORCED
    (r9 verdict #7): images whose full-plane luma variance falls below
    ``min_luma_variance`` never enter the band join, so the
    constant-color / monotone-row degeneracy (every flat image hashes
    to the same value) cannot report unrelated blank images as
    duplicate pairs. The default threshold (1.0 luma-unit^2 on the
    0-255 scale) cuts solid fills and near-solid fills while leaving
    any real photographic or synthetic content (typical variance
    10^2-10^3) untouched. Same output shape as the unfiltered form;
    variance is computed in the ONE decode pass (no extra scan).
    """
    if bands < 1 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    hashes = (
        image_dhash_variance(df, id_col=id_col, hash_size=hash_size)
        .filter(F.col("luma_var") >= min_luma_variance)
        .select(F.col(id_col).alias("__id"), "dhash")
    )
    return _neardup_pairs_from_hashes(hashes, bands, max_distance)


def neardup_images_dhash(
    df: DataFrame,
    id_col: str = "asset_id",
    max_distance: int = 10,
    bands: int = 4,
    hash_size: int = 8,
) -> DataFrame:
    """Image near-duplicate pairs by banded Hamming join over dHashes
    — the MinHash-LSH shape applied to perceptual image bits.

    The 64-bit dhash splits into ``bands`` equal bit-slices (pure
    Catalyst shift/mask); a candidate pair shares at least one slice
    verbatim; the verify recomputes the exact Hamming distance with
    ``bit_count(a XOR b)`` and keeps pairs <= ``max_distance``. By
    pigeonhole the join is EXACT (recall 1.0) for pairs with distance
    < ``bands``; beyond that it is the standard LSH recall trade —
    raise ``bands`` for higher recall at more candidates.

    100 TB shape: hashes are one scan (the decode pass); the band join
    carries (band_idx, band_val, id) longs — never pixels; candidate
    verify is integer XOR on slim pairs. -> (id_a, id_b, distance),
    id_a < id_b, distinct.
    """
    if bands < 1 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    hashes = image_dhash(df, id_col=id_col, hash_size=hash_size).select(
        F.col(id_col).alias("__id"), "dhash"
    )
    return _neardup_pairs_from_hashes(hashes, bands, max_distance)


def _band_slices(hashes: DataFrame, bands: int, id_alias: str, hash_alias: str) -> DataFrame:
    """(id, dhash, __band, __key) — every band's bit-slice key in ONE
    posexplode projection (identical key arithmetic to the former
    bands-way union of projections, which evaluated the upstream plan
    once PER BAND: for hash tables fed by a decode mapInPandas that
    was ``bands`` decode passes of every image instead of one)."""
    width = 64 // bands
    mask = (1 << width) - 1
    h = F.col(hashes.columns[1])
    keys = F.array(
        *[
            # logical right shift: cast through unsigned arithmetic
            # via shiftrightunsigned (sign bit must not smear)
            F.shiftrightunsigned(h, b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    return hashes.select(
        F.col(hashes.columns[0]).alias(id_alias),
        h.alias(hash_alias),
        F.posexplode(keys).alias("__band", "__key"),
    )


def image_neardup_new_vs_index(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "asset_id",
    max_distance: int = 10,
    bands: int = 4,
    hash_size: int = 8,
    new_hashes: DataFrame | None = None,
) -> DataFrame:
    """Incremental image near-dup: an arriving batch of image payloads
    against a PERSISTED dhash catalog (the ``image_dhash`` output —
    (id, dhash) longs) — the incremental-family contract
    (minhash/winnow/gram/p-stable/IVF siblings): the index is only
    touched by an equi-join probe of the (small) new side's band keys
    and never shuffles; the result equals the full-corpus
    :func:`neardup_images_dhash` restricted to (new x index) pairs
    (pytest-pinned).

    -> (new_id, index_id, distance), distance <= max_distance.

    ``new_hashes`` short-circuits the decode when the caller already
    holds the batch's ``image_dhash`` output (the streaming loop hashes
    once and reuses it for both the within-batch and vs-history check).
    """
    if bands < 1 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if new_hashes is None:
        new_hashes = image_dhash(new_df, id_col=id_col, hash_size=hash_size)
    new_hashes = new_hashes.select(id_col, "dhash")
    nb = _band_slices(new_hashes, bands, "new_id", "__dhash_n")
    ib = _band_slices(
        index_df.select(id_col, "dhash"), bands, "index_id", "__dhash_i"
    )
    cand = (
        ib.join(F.broadcast(nb), ["__band", "__key"])
        .select("new_id", "index_id", "__dhash_n", "__dhash_i")
        .distinct()
    )
    out = cand.select(
        "new_id",
        "index_id",
        F.bit_count(
            F.col("__dhash_n").bitwiseXOR(F.col("__dhash_i"))
        ).cast("long").alias("distance"),
    )
    return out.filter(F.col("distance") <= max_distance)


def triage_assets(
    df: DataFrame, id_col: str = "asset_id", payload_col: str = "payload"
) -> DataFrame:
    """Probe -> route -> decode, one call (round 8): the composition a
    raw-crawl ASSET pipeline runs after archive expansion, packaged as
    an operator instead of example glue. Every payload is container-
    probed (``mediaprobe.probe_media_table`` — header-bounded), the
    really-decodable containers flow through ``decoded_asset_stats``
    (WAV/FLAC/BMP, lossless + self-verified), MPEG-1 Layer I
    streams additionally through ``mpegaudio.decode_layer1_table``
    (payload-bit decode: code counts + digest), and everything else
    keeps its probe row with null decode stats — one unified table, no
    asset dropped.

    -> probe columns (container/codec/duration/bitrate/dims/frames/
    tracks) + decode-stat columns (``decoded_*`` prefix collisions
    resolved in favor of the probe) + Layer I columns
    (l1_n_frames/l1_n_codes/l1_code_digest/l1_error).

    Scale: three mapInPandas stages over the same scan plus two
    id-keyed equi-joins of slim stat rows — payloads are never
    shuffled (joins carry only scalars), and each stage is
    embarrassingly parallel. At 100 TB route the decode stages at
    write time and persist this table as the asset catalog.
    """
    from polars_matmul_spark.operators.mediaprobe import probe_media_table
    from polars_matmul_spark.operators.mpegaudio import decode_layer1_table

    src = df.select(
        id_col, F.col(payload_col).alias("payload")
    ).localCheckpoint(eager=False)
    probe = probe_media_table(src, id_col, "payload")
    stats = decoded_asset_stats(src, id_col).select(
        id_col,
        F.col("container").alias("dec_container"),
        F.col("sample_rate").alias("dec_sample_rate"),
        "n_samples",
        F.col("duration_s").alias("dec_duration_s"),
        "audio_rms",
        F.col("width").alias("dec_width"),
        F.col("height").alias("dec_height"),
        "mean_r", "mean_g", "mean_b",
    )
    l1 = (
        probe.filter(
            (F.col("container") == "mp3")
            & (F.col("codec") == "mpeg1-layer1")
        )
        .select(id_col)
        .join(src, id_col)
    )
    l1_stats = decode_layer1_table(l1, id_col, "payload").select(
        id_col,
        F.col("n_frames").alias("l1_n_frames"),
        F.col("n_codes").alias("l1_n_codes"),
        F.col("code_digest").alias("l1_code_digest"),
        F.col("error").alias("l1_error"),
    )
    return probe.join(stats, id_col, "left").join(l1_stats, id_col, "left")
