"""FLAC decode/encode in pure stdlib + NumPy — no codec library.

FLAC (the IETF RFC 9639 / xiph free lossless audio codec — the
distribution format of LibriSpeech and most public speech corpora) is
decodable from first principles: the only "codec" work is Rice
entropy coding, fixed/LPC linear prediction, stereo decorrelation and
two CRCs — all expressible with stdlib + NumPy. This closes the
compressed-audio branch of the multimodal layer's env-blocked stub
(the reference repo has no audio surface at all; this module is part
of the training-pipeline extension layer, used by
``decoded_asset_stats`` and ``audio_rms_windows`` in
``operators/multimodal.py``).

Decoder scope: STREAMINFO + skipped metadata blocks, fixed and
variable blocking, all four channel assignments (independent,
left/side, right/side, mid/side), constant / verbatim / fixed-order
0-4 / LPC subframes, wasted bits, 4- and 5-bit Rice partitions with
raw-escape, CRC-8 header and CRC-16 frame verification, and the
STREAMINFO MD5 check over the decoded samples — losslessness means
the decode verifies ITSELF cryptographically, the strongest oracle in
the whole multimodal layer.

The encoder (:func:`encode_flac`) exists as the writing sink and the
test harness: per-block best-of fixed predictors (orders 0-4) with
constant/verbatim fallbacks, per-partition optimal Rice parameters,
optional stereo decorrelation modes, and wasted-bits detection. FLAC
is lossless, so round-trip tests assert bit-exact samples; the
decoder additionally has a hand-assembled bit-level fixture in the
tests, so it is not graded by its own encoder alone.

Scale note: decoding happens inside mapInPandas batches per asset —
embarrassingly parallel, no shuffle; per-asset work is O(samples);
the Rice symbol walk is the only Python-level loop (bounded by the
compressed bit count), the predictors integrate vectorized.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = ["decode_flac", "decode_flac_mono", "encode_flac"]

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCK_SIZE_CODES = {
    192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
    8192: 13, 16384: 14, 32768: 15,
}
_SAMPLE_RATE_CODES = {
    88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
    24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
}
_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


def _crc_table(poly: int, width: int) -> list[int]:
    mask, top = (1 << width) - 1, 1 << (width - 1)
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8 over ``data``, poly x^8+x^2+x+1 (0x07), init 0 — the FLAC
    frame-header CRC (table-driven; the bit-serial transcription lives
    in the tests as the independent cross-check)."""
    crc = 0
    t = _CRC8_TABLE
    for b in data:
        crc = t[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16 over ``data``, poly 0x8005, init 0 — the FLAC frame CRC."""
    crc = 0
    t = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ t[(crc >> 8) ^ b]
    return crc


class _Bits:
    """MSB-first bit reader with byte position tracking (FLAC has no
    byte stuffing; frame CRCs need byte-aligned spans)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data, self.pos = data, pos
        self.acc, self.n = 0, 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC stream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        val = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return val

    def sread(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if nbits and v >= (1 << (nbits - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self):
        self.n = 0
        self.acc = 0


def _read_utf8_number(bits: _Bits) -> int:
    """FLAC's UTF-8-style coded frame/sample number (up to 36 bits)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError("bad FLAC coded number")
    val = b0 & (mask - 1)
    for _ in range(n):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded number continuation")
        val = (val << 6) | (c & 0x3F)
    return val


def _read_residual(bits: _Bits, block_size: int, order: int) -> list[int]:
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("bad FLAC partition order")
    out: list[int] = []
    for part in range(nparts):
        count = (block_size >> porder) - (order if part == 0 else 0)
        if count < 0:
            raise ValueError("bad FLAC partition order")
        param = bits.read(pbits)
        if param == escape:
            raw = bits.read(5)
            out.extend(bits.sread(raw) if raw else 0 for _ in range(count))
        else:
            for _ in range(count):
                q = bits.unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _predict_fixed(warmup: list[int], residual: list[int], order: int):
    """Invert order-``order`` fixed prediction: the residual is the
    ``order``-th finite difference, so reconstruction is ``order``
    exact integer integrations (np.cumsum), each seeded by the last
    value of the corresponding warmup difference level — vectorized
    and bit-identical to the per-sample recurrence (int64 is exact:
    |d^4| < 2^(bps+4+1) stays far inside 63 bits for every legal
    bps)."""
    if not residual:
        return list(warmup)
    if order == 0:
        return list(warmup) + list(residual)
    diffs = [np.asarray(warmup, np.int64)]
    for _ in range(order):
        diffs.append(np.diff(diffs[-1]))
    cur = np.asarray(residual, np.int64)
    for j in range(order, 0, -1):
        cur = int(diffs[j - 1][-1]) + np.cumsum(cur)
    return list(warmup) + cur.tolist()


def _decode_subframe(bits: _Bits, block_size: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if eff < 1:
        raise ValueError("FLAC wasted bits exceed sample size")
    if ftype == 0:  # constant
        v = bits.sread(eff)
        out = [v] * block_size
    elif ftype == 1:  # verbatim
        out = [bits.sread(eff) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # fixed predictor
        order = ftype - 8
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block size")
        warmup = [bits.sread(eff) for _ in range(order)]
        out = _predict_fixed(
            warmup, _read_residual(bits, block_size, order), order
        )
    elif ftype >= 32:  # LPC
        order = (ftype & 0x1F) + 1
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block size")
        warmup = [bits.sread(eff) for _ in range(order)]
        precision = bits.read(4) + 1
        if precision == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = bits.sread(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [bits.sread(precision) for _ in range(order)]
        residual = _read_residual(bits, block_size, order)
        x = list(warmup)
        for r in residual:
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * x[-1 - j]
            x.append(r + (acc >> shift))
        out = x
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(
    payload: bytes, verify_md5: bool = True
) -> tuple[int, np.ndarray, int]:
    """REAL FLAC decode — pure stdlib + NumPy. Returns
    ``(sample_rate, samples, bits_per_sample)`` with ``samples`` an
    int32 ``(n, channels)`` array of the EXACT original values (FLAC
    is lossless). Verifies the header CRC-8, every frame's CRC-16,
    and (``verify_md5``) the STREAMINFO MD5 over the decoded bytes —
    a cryptographic self-oracle. Raises ValueError on non-FLAC,
    malformed, or corrupt streams."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (missing fLaC magic)")
    pos = 4
    info = None
    while pos + 4 <= len(payload):
        head = payload[pos]
        last, btype = head & 0x80, head & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:  # STREAMINFO
            if blen != 34:
                raise ValueError("bad FLAC STREAMINFO length")
            b = _Bits(body)
            b.read(16)  # min block size
            b.read(16)  # max block size
            b.read(24)  # min frame size
            b.read(24)  # max frame size
            rate = b.read(20)
            nch = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
            md5 = body[18:34]
            info = (rate, nch, bps, total, md5)
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC stream has no STREAMINFO")
    rate, nch, bps, total, md5 = info
    if rate < 1:
        raise ValueError("bad FLAC sample rate")
    channels: list[list[int]] = [[] for _ in range(nch)]
    n_read = 0
    while pos < len(payload) and (total == 0 or n_read < total):
        frame_start = pos
        bits = _Bits(payload, pos)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("lost FLAC frame sync")
        if bits.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        ss_code = bits.read(3)
        if bits.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        _read_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        if bs_code == 1:
            block_size = 192
        elif bs_code <= 5:
            block_size = 576 << (bs_code - 2)
        elif bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        else:
            block_size = 256 << (bs_code - 8)
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        crc8_end = bits.pos
        if _crc8(payload[frame_start:crc8_end]) != bits.read(8):
            raise ValueError("FLAC frame header CRC mismatch")
        fbps = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
        if fbps is None:
            raise ValueError("reserved FLAC sample size code")
        if ch_code <= 7:
            subs = [
                _decode_subframe(bits, block_size, fbps)
                for _ in range(ch_code + 1)
            ]
            if ch_code + 1 != nch:
                raise ValueError("FLAC frame channel count mismatch")
            chans = subs
        elif ch_code in (8, 9, 10):
            if nch != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            side0 = ch_code == 9  # right/side stores side first
            a = _decode_subframe(
                bits, block_size, fbps + (1 if side0 else 0)
            )
            b = _decode_subframe(
                bits, block_size, fbps + (0 if side0 else 1)
            )
            if ch_code == 8:  # left/side
                chans = [a, [left - s for left, s in zip(a, b)]]
            elif ch_code == 9:  # side, right
                chans = [[r + s for s, r in zip(a, b)], b]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(a, b):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                chans = [left, right]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        bits.align()
        crc16_end = bits.pos
        if _crc16(payload[frame_start:crc16_end]) != bits.read(16):
            raise ValueError("FLAC frame CRC mismatch")
        pos = bits.pos
        keep = block_size
        if total and n_read + keep > total:
            keep = total - n_read  # final partial block padding guard
        for ci in range(nch):
            channels[ci].extend(chans[ci][:keep])
        n_read += keep
    if total and n_read < total:
        raise ValueError("FLAC stream ended before the declared samples")
    samples = np.array(channels, dtype=np.int64).T.reshape(-1, nch)
    if verify_md5 and md5 != b"\x00" * 16:
        if hashlib.md5(_sample_bytes(samples, bps)).digest() != md5:
            raise ValueError("FLAC MD5 signature mismatch")
    return rate, samples.astype(np.int32), bps


def decode_flac_mono(payload: bytes) -> tuple[int, np.ndarray]:
    """FLAC as the WAV contract: (sample_rate, float64 mono in
    [-1, 1)) — channels mixed down by mean, normalized by
    2^(bps-1). The shape ``decoded_asset_stats`` and
    ``audio_rms_windows`` consume."""
    rate, samples, bps = decode_flac(payload)
    mono = samples.astype(np.float64).mean(axis=1) / float(1 << (bps - 1))
    return rate, mono


def _sample_bytes(samples: np.ndarray, bps: int) -> bytes:
    """Interleaved little-endian signed sample bytes — the span the
    STREAMINFO MD5 covers. Whole bytes only (bps % 8 == 0)."""
    if bps % 8:
        raise ValueError("FLAC MD5 requires whole-byte sample sizes")
    flat = samples.astype(np.int64).reshape(-1)
    nbytes = bps // 8
    u = (flat & ((1 << bps) - 1)).astype(np.uint64)
    out = np.empty((len(flat), nbytes), dtype=np.uint8)
    for i in range(nbytes):
        out[:, i] = ((u >> np.uint64(8 * i)) & np.uint64(0xFF)).astype(
            np.uint8
        )
    return out.tobytes()


# ---------------------------------------------------------------------------
# encoder


class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.n = 0, 0

    def write(self, val: int, nbits: int):
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def write_bitarray(self, bits: np.ndarray):
        """Append an MSB-first uint8 0/1 bit array — the vectorized
        bulk path (np.packbits) the per-sample loops route through."""
        if self.n:  # fold the pending partial byte into the array
            head = (
                (self.acc >> np.arange(self.n - 1, -1, -1)) & 1
            ).astype(np.uint8)
            bits = np.concatenate([head, bits])
            self.acc = self.n = 0
        whole = (len(bits) // 8) * 8
        if whole:
            self.out += np.packbits(bits[:whole]).tobytes()
        for b in bits[whole:]:
            self.acc = (self.acc << 1) | int(b)
            self.n += 1

    def align(self):
        if self.n:
            self.write(0, 8 - self.n)


def _write_utf8_number(w: _BitW, val: int):
    if val < 0x80:
        w.write(val, 8)
        return
    chunks = []
    n = 0
    v = val
    while True:
        n += 1
        chunks.append(v & 0x3F)
        v >>= 6
        if v < (0x40 >> n) and n <= 6:
            break
        if n == 6:
            raise ValueError("FLAC frame number too large")
    # lead byte: (n+1) one-bits then a zero, then the top payload bits
    w.write(((0xFF << (7 - n)) & 0xFF) | v, 8)
    for c in reversed(chunks):
        w.write(0x80 | c, 8)


def _rice_cost(vals: np.ndarray, param: int) -> int:
    z = (np.abs(vals) << 1) - (vals < 0)  # zigzag magnitude
    return int(np.sum(z >> param)) + len(vals) * (param + 1)


def _fixed_width_bits(vals: np.ndarray, nbits: int) -> np.ndarray:
    """MSB-first bit matrix of ``nbits``-wide two's-complement values,
    flattened — the vectorized form of repeated ``w.write(v, nbits)``."""
    u = np.asarray(vals, np.int64) & ((1 << nbits) - 1)
    return (
        (u[:, None] >> np.arange(nbits - 1, -1, -1)) & 1
    ).astype(np.uint8).ravel()


def _write_residual(w: _BitW, res: np.ndarray, bps: int):
    """Single-partition Rice residual with the optimal parameter, or
    the 5-bit raw escape when Rice loses to plain binary. The
    bitstream is BUILT as one numpy bit array and packed in bulk —
    byte-identical to the per-sample writes it replaced (pinned by
    every round-trip and the hand-built fixture)."""
    res = np.asarray(res, dtype=np.int64)
    costs = [(_rice_cost(res, p), p) for p in range(15)]
    best_cost, best_p = min(costs)
    raw_bits = (
        max(
            int(np.abs(res).max()).bit_length() + 1 if len(res) else 1,
            1,
        )
        if len(res)
        else 1
    )
    w.write(0, 2)  # 4-bit Rice parameters
    w.write(0, 4)  # partition order 0
    if raw_bits * len(res) < best_cost and raw_bits <= 31:
        w.write(0x0F, 4)  # escape
        w.write(raw_bits, 5)
        w.write_bitarray(_fixed_width_bits(res, raw_bits))
        return
    w.write(best_p, 4)
    if not len(res):
        return
    z = (np.abs(res) << 1) - (res < 0)  # zigzag
    q = z >> best_p
    lengths = q + 1 + best_p
    ends = np.cumsum(lengths)
    bits = np.zeros(int(ends[-1]), np.uint8)
    starts = ends - lengths
    bits[starts + q] = 1  # unary terminators
    if best_p:
        rem = (
            (z[:, None] >> np.arange(best_p - 1, -1, -1)) & 1
        ).astype(np.uint8)
        idx = (starts + q + 1)[:, None] + np.arange(best_p)
        bits[idx.ravel()] = rem.ravel()
    w.write_bitarray(bits)


def _encode_subframe(
    w: _BitW, chan: np.ndarray, bps: int, force_verbatim: bool
):
    chan = np.asarray(chan, dtype=np.int64)
    n = len(chan)
    wasted = 0
    eff_chan = chan
    if not force_verbatim and n and (chan != 0).any():
        # wasted bits: shared trailing-zero count across the block
        nz = chan[chan != 0]
        wasted = min(
            int((v & -v).bit_length() - 1) for v in np.abs(nz).tolist()
        )
        wasted = min(wasted, bps - 1)
        if wasted:
            eff_chan = chan >> wasted
    eff = bps - wasted

    def header(ftype: int):
        w.write(0, 1)
        w.write(ftype, 6)
        if wasted:
            w.write(1, 1)
            w.unary(wasted - 1)
        else:
            w.write(0, 1)

    if not force_verbatim and n and (eff_chan == eff_chan[0]).all():
        header(0)  # constant
        w.write(int(eff_chan[0]), eff)
        return
    best = None
    if not force_verbatim:
        for order in range(min(4, n - 1) + 1):
            res = eff_chan.copy()
            for _ in range(order):
                res = np.diff(res)
            cost = (
                min(_rice_cost(res, p) for p in range(15)) if len(res) else 0
            )
            if best is None or cost < best[0]:
                best = (cost, order, res)
    if best is not None and best[0] < n * eff:
        _cost, order, res = best
        header(8 + order)
        if order:
            w.write_bitarray(_fixed_width_bits(eff_chan[:order], eff))
        _write_residual(w, res, eff)
        return
    header(1)  # verbatim
    w.write_bitarray(_fixed_width_bits(eff_chan, eff))


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    bps: int = 16,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    force_verbatim: bool = False,
) -> bytes:
    """FLAC writing sink for integer samples ``(n,)`` or ``(n, ch)``:
    STREAMINFO with the real MD5 self-check, fixed ``block_size``
    frames, best-of fixed predictors 0-4 with constant/verbatim
    fallbacks, optimal single-partition Rice parameters, wasted-bits
    detection, and optional stereo decorrelation (``stereo_mode`` in
    independent / left_side / right_side / mid_side — decode-path
    coverage for all four channel assignments). Lossless by
    construction; ``force_verbatim`` pins the entropy-free path."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.shape[0] < 1:
        raise ValueError("encode_flac wants (n,) or (n, channels) samples")
    n, nch = samples.shape
    if nch > 8:
        raise ValueError(f"FLAC supports at most 8 channels, got {nch}")
    if bps not in _SAMPLE_SIZE_CODES:
        raise ValueError(f"unsupported bits-per-sample {bps}")
    if not 16 <= block_size <= 65535:
        raise ValueError(f"bad block size {block_size}")
    if not 1 <= sample_rate < (1 << 20):
        raise ValueError(f"bad sample rate {sample_rate}")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    s64 = samples.astype(np.int64)
    if s64.min() < lo or s64.max() > hi:
        raise ValueError(f"samples exceed {bps}-bit range")
    if stereo_mode != "independent" and nch != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")

    out = bytearray(b"fLaC")
    info = _BitW()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(nch - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    body = bytes(info.out) + hashlib.md5(_sample_bytes(s64, bps)).digest()
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    ch_code = {
        "independent": nch - 1, "left_side": 8, "right_side": 9,
        "mid_side": 10,
    }.get(stereo_mode)
    if ch_code is None:
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    sr_code = _SAMPLE_RATE_CODES.get(sample_rate)
    if sr_code is None:
        sr_code = 13 if sample_rate < (1 << 16) else 14
    for fno, start in enumerate(range(0, n, block_size)):
        blk = s64[start : start + block_size]
        bs = len(blk)
        bs_code = _BLOCK_SIZE_CODES.get(bs, 7)
        w = _BitW()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        w.write(bs_code, 4)
        w.write(sr_code, 4)
        w.write(ch_code, 4)
        w.write(_SAMPLE_SIZE_CODES[bps], 3)
        w.write(0, 1)
        _write_utf8_number(w, fno)
        if bs_code == 6:
            w.write(bs - 1, 8)
        elif bs_code == 7:
            w.write(bs - 1, 16)
        if sr_code == 13:
            w.write(sample_rate, 16)
        elif sr_code == 14:
            w.write(sample_rate // 10, 16)
        w.write(_crc8(bytes(w.out)), 8)
        if ch_code <= 7:
            for ci in range(nch):
                _encode_subframe(w, blk[:, ci], bps, force_verbatim)
        else:
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            if ch_code == 8:
                _encode_subframe(w, left, bps, force_verbatim)
                _encode_subframe(w, side, bps + 1, force_verbatim)
            elif ch_code == 9:
                _encode_subframe(w, side, bps + 1, force_verbatim)
                _encode_subframe(w, right, bps, force_verbatim)
            else:
                mid = (left + right) >> 1
                _encode_subframe(w, mid, bps, force_verbatim)
                _encode_subframe(w, side, bps + 1, force_verbatim)
        w.align()
        w.write(_crc16(bytes(w.out)), 16)
        out += bytes(w.out)
    return bytes(out)
