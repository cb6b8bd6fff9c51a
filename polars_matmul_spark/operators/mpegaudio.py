"""MPEG-1 Audio Layer I frame-payload decode — from first principles.

Layer I sample data is REALLY decoded, not just header-probed.
Everything Layer I needs is formula-derived from ISO 11172-3 —
uniform 4-bit bit-allocation codes (nb = alloc + 1), 6-bit
scalefactor indices into the geometric
table sf(i) = 2 * 2^(-i/3), and the mid-rise requantization

    s'' = (2^nb / (2^nb - 1)) * (c / 2^(nb-1) - 1 + 2^(-nb)) * sf

(the mid-rise grid -1 + 2^(-nb) + k*2^(1-nb), normalized so its
extremes land exactly on +-1)

— so no spec DATA tables have to be transcribed. That is exactly why
the scope STOPS at Layer I payloads:

- Layer II bit allocation comes from ISO tables 3-B.2a-d (per
  bitrate/rate sblimit + per-subband quantization class lists) and
  Layer III from Huffman code tables — spec data this offline
  container does not carry, and guessed constants would corrupt
  audio silently. Those payloads stay header-probed only
  (``mediaprobe``), with the gap documented.
- PCM synthesis (subband -> time domain) needs the 512-tap window of
  ISO table 3-B.3 — also tabulated, not derivable. Decoding stops at
  requantized SUBBAND samples, which IS the frame payload; the
  filterbank is a fixed post-process on top.

The decoder is gated two ways: hand-assembled bit-level frame
fixtures in tests/test_mpegaudio.py (so it is not graded by its own
encoder), and the ``mpeg_layer1_decode`` driver row, where conformant
frames are synthesized from document bytes and DuckDB replays the
decoded integer code stream bit-for-bit (integer digests — exact at
any scale, no float accumulation order in play).

Scale note: decode runs inside mapInPandas batches per asset — no
shuffle, O(frame bits) per asset, header-bounded memory. The
bit-reader walks Python-level like the other first-principles codecs
(the honest caveat those modules carry too: a production 100 TB run
swaps the inner loop for a native codec while keeping this operator
surface and its oracles).

Reference parity note: the reference engine (polars-matmul) has no
audio scope; this module extends the multimodal ingest layer the
LLM-pipeline brief requires.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "encode_layer1",
    "decode_layer1",
    "requantize",
    "scalefactor",
    "decode_layer1_table",
]

_SAMPLE_RATES_V1 = [44100, 48000, 32000]
_BITRATES_L1 = [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448]


def scalefactor(idx: int) -> float:
    """ISO 11172-3 layer I/II scalefactor: 2 * 2^(-idx/3), idx 0..62.
    Indices that are multiples of 3 are exact powers of two."""
    if not 0 <= idx <= 62:
        raise ValueError(f"scalefactor index {idx} out of range (0..62)")
    return 2.0 * 2.0 ** (-idx / 3.0)


def requantize(c: int, nb: int, sf: float) -> float:
    """Mid-rise requantization of one layer-I code (ISO 11172-3
    2.4.3.3): code 0 is the most negative level, code 2^nb - 1 the
    most positive; the (2^nb)/(2^nb - 1) factor re-centres the grid."""
    half = 1 << (nb - 1)
    return ((c / half) - 1.0 + 1.0 / (1 << nb)) * ((1 << nb) / ((1 << nb) - 1.0)) * sf


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)

    def pad_to(self, total_bytes: int) -> bytes:
        if self.n:
            self.buf.append((self.acc << (8 - self.n)) & 0xFF)
            self.n = 0
        if len(self.buf) > total_bytes:
            raise ValueError(
                f"frame payload {len(self.buf)}B exceeds frame size {total_bytes}B"
            )
        return bytes(self.buf) + b"\x00" * (total_bytes - len(self.buf))


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, bits: int) -> int:
        end = self.pos + bits
        if end > len(self.data) * 8:
            raise ValueError("truncated layer-I frame payload")
        out = 0
        p = self.pos
        while bits:
            byte = self.data[p >> 3]
            avail = 8 - (p & 7)
            take = min(bits, avail)
            out = (out << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            p += take
            bits -= take
        self.pos = p
        return out


def _frame_bytes(bitrate_kbps: int, sample_rate: int, padding: int = 0) -> int:
    return (12 * bitrate_kbps * 1000 // sample_rate + padding) * 4


def encode_layer1(
    codes: np.ndarray,
    alloc: list[int],
    sf_idx: list,
    bitrate_kbps: int = 448,
    sample_rate: int = 32000,
    channels: int = 1,
    joint_bound: int | None = None,
) -> bytes:
    """Assemble conformant MPEG-1 Layer I frames from integer
    subband codes. ``codes`` has shape (n_frames, 12, n_active[, ch])
    where n_active = number of nonzero entries in ``alloc`` (32 per
    channel); ``sf_idx`` gives one scalefactor index per active
    subband — an int (both channels) or a (left, right) pair. Mono,
    dual-independent stereo, and joint (intensity) stereo with
    ``joint_bound`` in {4, 8, 12, 16}: active subbands at/above the
    bound must carry identical codes in both channel slots (they are
    written ONCE; scalefactors stay per-channel). The encoder exists
    as the test harness and gate material, not a production audio
    encoder. Protection bit is set (no CRC)."""
    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    if joint_bound is not None:
        if channels != 2:
            raise ValueError("joint_bound requires channels=2")
        if joint_bound not in (4, 8, 12, 16):
            raise ValueError("joint_bound must be one of 4, 8, 12, 16")
    bound = joint_bound if joint_bound is not None else 32
    if len(alloc) != 32:
        raise ValueError("alloc must list all 32 subbands")
    if bitrate_kbps not in _BITRATES_L1:
        raise ValueError(f"not a layer-I bitrate: {bitrate_kbps}")
    if sample_rate not in _SAMPLE_RATES_V1:
        raise ValueError(f"not an MPEG-1 sample rate: {sample_rate}")
    for a in alloc:
        if not 0 <= a <= 14:
            raise ValueError(f"bad allocation code {a} (0..14)")
    active = [sb for sb in range(32) if alloc[sb]]
    if len(sf_idx) != len(active):
        raise ValueError("one scalefactor index per active subband")
    sf_pairs = [
        (s, s) if isinstance(s, int) else (int(s[0]), int(s[1]))
        for s in sf_idx
    ]
    codes = np.asarray(codes)
    want = (codes.shape[0], 12, len(active)) + ((channels,) if channels == 2 else ())
    if codes.shape != want:
        raise ValueError(f"codes shape {codes.shape}, want {want}")
    if joint_bound is not None:
        for i, sb in enumerate(active):
            if sb >= bound and not np.array_equal(
                codes[:, :, i, 0], codes[:, :, i, 1]
            ):
                raise ValueError(
                    f"joint subband {sb} must carry identical codes in "
                    "both channels (one code is written per sample)"
                )

    br_idx = _BITRATES_L1.index(bitrate_kbps) + 1
    sr_idx = _SAMPLE_RATES_V1.index(sample_rate)
    if channels == 1:
        mode_byte = 0xC0  # single_channel
    elif joint_bound is not None:
        mode_byte = 0x40 | ((joint_bound // 4 - 1) << 4)  # joint_stereo
    else:
        mode_byte = 0x00  # stereo
    header = bytes(
        [
            0xFF,
            0xFF,  # MPEG-1, layer I, no CRC
            (br_idx << 4) | (sr_idx << 2),
            mode_byte,
        ]
    )
    size = _frame_bytes(bitrate_kbps, sample_rate)
    out = bytearray()
    for f in range(codes.shape[0]):
        w = _BitWriter()
        for sb in range(32):
            n_slots = 1 if (channels == 2 and sb >= bound) else channels
            for _ch in range(n_slots):
                w.write(alloc[sb], 4)
        for i, _sb in enumerate(active):
            for ch in range(channels):
                w.write(sf_pairs[i][ch], 6)
        for s in range(12):
            for i, sb in enumerate(active):
                nb = alloc[sb] + 1
                n_slots = 1 if (channels == 2 and sb >= bound) else channels
                for ch in range(n_slots):
                    c = codes[f, s, i, ch] if channels == 2 else codes[f, s, i]
                    c = int(c)
                    if not 0 <= c < (1 << nb):
                        raise ValueError(f"code {c} out of range for nb={nb}")
                    w.write(c, nb)
        out += header + w.pad_to(size - 4)
    return bytes(out)


def decode_layer1(payload: bytes) -> dict:
    """Decode every MPEG-1 Layer I frame in ``payload`` to its
    requantized subband samples. Returns a dict:

    - ``sample_rate``, ``bitrate_kbps``, ``channels``, ``n_frames``
    - ``bound``: the intensity-stereo bound (4/8/12/16) for joint
      frames, else None
    - ``alloc``: (n_frames, 32[, ch]) allocation codes
    - ``sf_idx``: scalefactor indices, -1 where unallocated
    - ``codes``: (n_frames, 12, 32[, ch]) raw integer codes (0 where
      unallocated) — the exact payload bit content
    - ``subbands``: same shape, requantized float64 samples

    Joint (intensity) stereo is the bound-dependent layout of ISO
    11172-3 2.4.1.6/2.4.2.3: subbands below ``bound = 4 *
    (mode_extension + 1)`` carry independent per-channel allocation
    and codes; at/above the bound one allocation and ONE sample code
    per (s, sb) are shared by both channels, which keep their own
    6-bit scalefactors (intensity = shared shape, per-channel level).
    Decoded arrays mirror the shared values into both channel slots,
    so downstream shapes never depend on the mode. Raises ValueError
    on bad sync, reserved allocation 15, scalefactor 63, or truncated
    payloads.
    """
    if len(payload) < 4:
        raise ValueError("payload shorter than one frame header")
    pos = 0
    frames = []
    meta = None
    while pos + 4 <= len(payload):
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost frame sync at byte {pos}")
        if (b1 >> 3) & 0x03 != 3 or (b1 >> 1) & 0x03 != 3:
            raise ValueError("not an MPEG-1 layer I frame")
        protection = b1 & 1
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("free-format/invalid layer I header")
        padding = (b2 >> 1) & 1
        mode = (b3 >> 6) & 0x03
        channels = 1 if mode == 3 else 2
        # intensity bound: below it channels are independent, at/above
        # it allocation + sample codes are shared (scalefactors stay
        # per-channel). Non-joint modes behave as bound = 32.
        bound = 4 * (((b3 >> 4) & 0x03) + 1) if mode == 1 else 32
        bitrate = _BITRATES_L1[br_idx - 1]
        rate = _SAMPLE_RATES_V1[sr_idx]
        size = _frame_bytes(bitrate, rate, padding)
        if pos + size > len(payload):
            raise ValueError("truncated final frame")
        if meta is None:
            meta = (bitrate, rate, channels, bound)
        elif meta != (bitrate, rate, channels, bound):
            raise ValueError("heterogeneous frame parameters in stream")
        body = payload[pos + 4 + (2 if protection == 0 else 0) : pos + size]
        r = _BitReader(body)
        alloc = np.zeros((32, channels), np.int64)
        for sb in range(32):
            shared = channels == 2 and sb >= bound
            for ch in range(1 if shared else channels):
                a = r.read(4)
                if a == 15:
                    raise ValueError("reserved layer-I allocation 15")
                alloc[sb, ch] = a
            if shared:
                alloc[sb, 1] = alloc[sb, 0]
        sf = np.full((32, channels), -1, np.int64)
        for sb in range(32):
            for ch in range(channels):
                if alloc[sb, ch]:
                    idx = r.read(6)
                    if idx == 63:
                        raise ValueError("reserved scalefactor index 63")
                    sf[sb, ch] = idx
        codes = np.zeros((12, 32, channels), np.int64)
        for s in range(12):
            for sb in range(32):
                shared = channels == 2 and sb >= bound
                for ch in range(1 if shared else channels):
                    if alloc[sb, ch]:
                        codes[s, sb, ch] = r.read(int(alloc[sb, ch]) + 1)
                if shared:
                    codes[s, sb, 1] = codes[s, sb, 0]
        frames.append((alloc, sf, codes))
        pos += size
    if pos != len(payload):
        raise ValueError("trailing bytes after final frame")
    if not frames:
        raise ValueError("no layer I frames")
    bitrate, rate, channels, bound = meta
    alloc = np.stack([f[0] for f in frames])
    sf = np.stack([f[1] for f in frames])
    codes = np.stack([f[2] for f in frames])
    sub = np.zeros(codes.shape, np.float64)
    for f in range(len(frames)):
        for sb in range(32):
            for ch in range(channels):
                a = int(alloc[f, sb, ch])
                if a:
                    s = scalefactor(int(sf[f, sb, ch]))
                    for t in range(12):
                        sub[f, t, sb, ch] = requantize(
                            int(codes[f, t, sb, ch]), a + 1, s
                        )
    if channels == 1:
        alloc, sf = alloc[..., 0], sf[..., 0]
        codes, sub = codes[..., 0], sub[..., 0]
    return {
        "sample_rate": rate,
        "bitrate_kbps": bitrate,
        "channels": channels,
        "bound": bound if channels == 2 and bound < 32 else None,
        "n_frames": len(frames),
        "alloc": alloc,
        "sf_idx": sf,
        "codes": codes,
        "subbands": sub,
    }


def decode_layer1_table(
    df: DataFrame, id_col: str = "asset_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode a table of Layer I streams to per-asset payload facts:
    frame count, stream parameters, total decoded code count, and an
    order-weighted integer digest of the full code stream
    (sum over flattened (frame, sample, active-subband) order of
    code * (position + 1)) — integer-exact at any scale, so an SQL
    oracle can replay it bit-for-bit. Undecodable payloads surface as
    rows with an ``error`` column (quarantine, never abort).

    -> (asset_id, sample_rate, bitrate_kbps, channels, n_frames,
    n_codes, code_digest, error). mapInPandas, no shuffle."""
    schema = (
        f"{id_col} long, sample_rate long, bitrate_kbps long, "
        "channels long, n_frames long, n_codes long, code_digest long, "
        "error string"
    )
    cols = [
        id_col, "sample_rate", "bitrate_kbps", "channels", "n_frames",
        "n_codes", "code_digest", "error",
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    d = decode_layer1(bytes(payload))
                    codes = d["codes"]
                    alloc = d["alloc"]
                    if d["channels"] == 1:
                        codes = codes[..., None]
                        alloc = alloc[..., None]
                    # flatten in (frame, sample, subband, ch) order,
                    # keeping only allocated slots — the payload's own
                    # bit order
                    mask = (alloc[:, None, :, :] > 0) & np.ones(
                        (1, 12, 1, 1), bool
                    )
                    flat = codes[mask]
                    digest = int(
                        (flat * (np.arange(flat.size, dtype=np.int64) + 1)).sum()
                    )
                    rows.append(
                        (aid, d["sample_rate"], d["bitrate_kbps"],
                         d["channels"], d["n_frames"], flat.size, digest,
                         None)
                    )
                except ValueError as exc:
                    rows.append(
                        (aid, None, None, None, None, None, None, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, payload_col).mapInPandas(run, schema)
