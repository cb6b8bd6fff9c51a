"""Container metadata probing for MP3 and MP4 — the ffprobe shape.

Full MP3/MP4 SAMPLE decode needs codec libraries the package does
not depend on. But the container METADATA — duration,
bitrate, sample rate, channel mode, codec fourcc, dimensions, track
layout — is plain header parsing, fully in first-principles reach,
and it is what a 100 TB curation pipeline actually runs over raw
crawls: you probe everything and decode selectively. This module is
that probe: MP3 frame-header walking (with ID3v2/ID3v1 skip and
Xing/Info VBR headers) and the ISO-BMFF (MP4) box walk
(ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/stbl/stsd/stsz).

No entropy decoding happens here — the probe never claims more than
the headers state; :func:`probe_media_table` surfaces the results as
one row per asset next to the really-decodable containers.

Scale note: probing is header-bounded (KBs read per asset regardless
of payload size), runs inside mapInPandas batches, never shuffles.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["probe_mp3", "probe_mp4", "probe_media_table"]

# MPEG audio frame header tables (ISO 11172-3 / 13818-3)
_BITRATE_KBPS = {
    # (version_key, layer): index 1..14
    ("1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SAMPLE_RATES = {
    "1": [44100, 48000, 32000],
    "2": [22050, 24000, 16000],
    "2.5": [11025, 12000, 8000],
}


def _mp3_frame(payload: bytes, pos: int):
    """Parse one MPEG audio frame header at ``pos``. Returns
    (frame_bytes, samples_per_frame, info dict) or None."""
    if pos + 4 > len(payload):
        return None
    b0, b1, b2, b3 = payload[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = {0: "2.5", 2: "2", 3: "1"}.get((b1 >> 3) & 0x03)
    layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 0x03)  # coded inverted
    if version is None or layer is None:
        return None
    br_idx = (b2 >> 4) & 0x0F
    sr_idx = (b2 >> 2) & 0x03
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / invalid: not probeable
    vkey = "1" if version == "1" else "2"
    bitrate = _BITRATE_KBPS[(vkey, layer)][br_idx - 1] * 1000
    rate = _SAMPLE_RATES[version][sr_idx]
    padding = (b2 >> 1) & 0x01
    mode = (b3 >> 6) & 0x03
    channels = 1 if mode == 3 else 2
    if layer == 1:
        samples = 384
        size = (12 * bitrate // rate + padding) * 4
    elif layer == 2:
        samples = 1152
        size = 144 * bitrate // rate + padding
    else:  # layer III
        samples = 1152 if version == "1" else 576
        size = (144 if version == "1" else 72) * bitrate // rate + padding
    return size, samples, {
        "version": version,
        "layer": layer,
        "bitrate_kbps": bitrate // 1000,
        "sample_rate": rate,
        "channels": channels,
    }


def probe_mp3(payload: bytes) -> dict:
    """Probe an MPEG audio stream: skip ID3v2/ID3v1 tags, walk every
    frame header (no entropy decode), honor a Xing/Info VBR header's
    frame count when present. Returns version/layer/sample_rate/
    channels of the first frame, first-frame bitrate_kbps, ``vbr``
    (any bitrate change across frames), exact ``n_frames`` and
    ``duration_s`` (frames x samples-per-frame / rate). Raises
    ValueError when no MPEG frame sync is found (and for any malformed
    stream — the same parse-failure contract guard as
    :func:`probe_mp4`)."""
    try:
        return _probe_mp3(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed MPEG audio stream: {exc}") from exc


def _probe_mp3(payload: bytes) -> dict:
    start, end = 0, len(payload)
    if payload[:3] == b"ID3" and len(payload) >= 10:
        sz = 0
        for b in payload[6:10]:  # syncsafe 28-bit size
            sz = (sz << 7) | (b & 0x7F)
        start = 10 + sz
    if end - start >= 128 and payload[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    first = None
    pos = start
    # resync scan for the first valid header with a valid successor
    while pos + 4 <= end:
        parsed = _mp3_frame(payload, pos)
        if parsed is not None:
            size = parsed[0]
            nxt = pos + size
            if nxt >= end or _mp3_frame(payload, nxt) is not None:
                first = parsed
                break
        pos += 1
    if first is None:
        raise ValueError("no MPEG audio frame sync found")
    size, samples, info = first
    # Xing/Info header (VBR): frame count lives in the first frame's
    # side-info region; accept it wherever it appears inside frame 1.
    # LAYER III ONLY (round 9): the Xing/LAME convention is a Layer III
    # artifact — on Layer I/II streams the sample bits are arbitrary
    # payload data, so a coincidental 4-byte 'Xing'/'Info' match would
    # silently replace the walked frame count with garbage (~6e-7 per
    # frame of data-derived bits; real for crawl-scale corpora).
    xing_frames = None
    xing_vbr = False
    window = payload[pos : pos + size] if info["layer"] == 3 else b""
    for tag in (b"Xing", b"Info"):
        at = window.find(tag)
        if at >= 0 and at + 12 <= len(window):
            (flags,) = struct.unpack_from(">I", window, at + 4)
            if flags & 0x1:
                (xing_frames,) = struct.unpack_from(">I", window, at + 8)
            # LAME semantics: 'Xing' marks VBR, 'Info' marks CBR —
            # both carry the frame count, only Xing carries the flag.
            xing_vbr = tag == b"Xing"
            break
    n_frames = 0
    bitrates = set()
    while pos + 4 <= end:
        parsed = _mp3_frame(payload, pos)
        if parsed is None:
            break
        fsize, _samples, finfo = parsed
        bitrates.add(finfo["bitrate_kbps"])
        n_frames += 1
        pos += fsize
    if xing_frames is not None:
        n_frames = xing_frames
    return {
        **info,
        "vbr": len(bitrates) > 1 or xing_vbr,
        "n_frames": n_frames,
        "duration_s": n_frames * samples / info["sample_rate"],
    }


# ---------------------------------------------------------------------------
# ISO base media file format (MP4)


def _boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in a span."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("bad MP4 box size")
        yield btype, body, pos + size
        pos += size


def _first_box(payload, start, end, btype):
    for t, b, e in _boxes(payload, start, end):
        if t == btype:
            return b, e
    return None


def _parse_trak(payload: bytes, start: int, end: int) -> dict:
    track: dict = {
        "kind": None, "codec": None, "duration_s": None,
        "width": None, "height": None, "channels": None,
        "sample_rate": None, "n_samples": None,
    }
    tkhd = _first_box(payload, start, end, b"tkhd")
    if tkhd:
        b, e = tkhd
        # width/height: fixed-point 16.16 at the box tail
        if e - b >= 8:
            w, h = struct.unpack_from(">II", payload, e - 8)
            track["width"] = w >> 16 or None
            track["height"] = h >> 16 or None
    mdia = _first_box(payload, start, end, b"mdia")
    if not mdia:
        return track
    mb, me = mdia
    mdhd = _first_box(payload, mb, me, b"mdhd")
    if mdhd:
        b, e = mdhd
        ver = payload[b]
        if ver == 1:
            timescale, duration = struct.unpack_from(">IQ", payload, b + 20)
        else:
            timescale, duration = struct.unpack_from(">II", payload, b + 12)
        if timescale:
            track["duration_s"] = duration / timescale
    hdlr = _first_box(payload, mb, me, b"hdlr")
    if hdlr:
        b, e = hdlr
        handler = payload[b + 8 : b + 12]
        track["kind"] = {
            b"vide": "video", b"soun": "audio", b"text": "text",
            b"subt": "subtitle", b"meta": "metadata",
        }.get(handler, handler.decode("latin-1").strip() or None)
    minf = _first_box(payload, mb, me, b"minf")
    if not minf:
        return track
    stbl = _first_box(payload, minf[0], minf[1], b"stbl")
    if not stbl:
        return track
    sb, se = stbl
    stsd = _first_box(payload, sb, se, b"stsd")
    if stsd:
        b, e = stsd
        (n_entries,) = struct.unpack_from(">I", payload, b + 4)
        if n_entries >= 1 and b + 16 <= e:
            track["codec"] = (
                payload[b + 12 : b + 16].decode("latin-1").strip()
            )
            entry = b + 8  # first sample entry body
            if track["kind"] == "video" and entry + 86 <= e:
                w, h = struct.unpack_from(">HH", payload, entry + 32)
                track["width"], track["height"] = w, h
            elif track["kind"] == "audio" and entry + 36 <= e:
                (ch,) = struct.unpack_from(">H", payload, entry + 24)
                (sr,) = struct.unpack_from(">I", payload, entry + 32)
                track["channels"] = ch or None
                track["sample_rate"] = (sr >> 16) or None
    stsz = _first_box(payload, sb, se, b"stsz")
    if stsz:
        b, e = stsz
        (count,) = struct.unpack_from(">I", payload, b + 8)
        track["n_samples"] = count
    return track


def probe_mp4(payload: bytes) -> dict:
    """Probe an ISO-BMFF (MP4/MOV/M4A) container: the ftyp brand, the
    movie duration from mvhd, and per-track kind/codec/duration plus
    video dimensions (stsd sample entry, tkhd fallback), audio
    channels/sample-rate, and stsz sample counts. Pure box-walk — no
    codec work, no sample data touched. Raises ValueError on non-BMFF
    or malformed box trees — ALL parse failures, including truncated
    box bodies that would otherwise surface as struct.error or
    IndexError (fuzz-found, round 8: a correctly-sized mvhd/mdhd/stsd
    box with a short BODY escaped the ValueError contract and would
    kill a Spark task instead of quarantining the asset)."""
    try:
        return _probe_mp4(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed MP4 box body: {exc}") from exc


def _probe_mp4(payload: bytes) -> dict:
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (missing ftyp)")
    brand = payload[8:12].decode("latin-1").strip()
    out: dict = {"brand": brand, "duration_s": None, "tracks": []}
    moov = _first_box(payload, 0, len(payload), b"moov")
    if moov is None:
        return out  # streaming fragments: ftyp-only probe is honest
    mb, me = moov
    mvhd = _first_box(payload, mb, me, b"mvhd")
    if mvhd:
        b, e = mvhd
        ver = payload[b]
        if ver == 1:
            timescale, duration = struct.unpack_from(">IQ", payload, b + 20)
        else:
            timescale, duration = struct.unpack_from(">II", payload, b + 12)
        if timescale:
            out["duration_s"] = duration / timescale
    for t, b, e in _boxes(payload, mb, me):
        if t == b"trak":
            out["tracks"].append(_parse_trak(payload, b, e))
    return out


# ---------------------------------------------------------------------------
# the Spark surface


def probe_media_table(
    df: DataFrame, id_col: str = "asset_id", payload_col: str = "payload"
) -> DataFrame:
    """ffprobe-over-a-table: sniff every payload's container by magic
    bytes and emit one metadata row per asset — MP3 and MP4 through
    the deep probes above (duration, bitrate, codec, dimensions,
    track counts), WAV/FLAC/BMP and the PNG/JPEG/GIF/TIFF image
    containers tagged by magic without decoding (probing must stay
    header-bounded at 100 TB; of these only WAV/FLAC/BMP decode in
    ``multimodal``), anything else ``container='opaque'``.

    -> (asset_id, container, codec, duration_s, bitrate_kbps,
    sample_rate, channels, width, height, n_frames, n_tracks).
    mapInPandas, no shuffle, header-bounded per-asset work."""
    schema = (
        f"{id_col} long, container string, codec string, "
        "duration_s double, bitrate_kbps long, sample_rate long, "
        "channels long, width long, height long, n_frames long, "
        "n_tracks long"
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            id_col, "container", "codec", "duration_s", "bitrate_kbps",
            "sample_rate", "channels", "width", "height", "n_frames",
            "n_tracks",
        ]
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                p = bytes(payload)
                row = dict.fromkeys(cols)
                row[id_col] = aid
                row["container"] = "opaque"
                try:
                    if p[:3] == b"ID3" or (
                        len(p) > 1 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0
                    ):
                        info = probe_mp3(p)
                        row.update(
                            container="mp3",
                            codec=f"mpeg{info['version']}-layer{info['layer']}",
                            duration_s=info["duration_s"],
                            bitrate_kbps=info["bitrate_kbps"],
                            sample_rate=info["sample_rate"],
                            channels=info["channels"],
                            n_frames=info["n_frames"],
                        )
                    elif len(p) >= 12 and p[4:8] == b"ftyp":
                        info = probe_mp4(p)
                        video = next(
                            (t for t in info["tracks"] if t["kind"] == "video"),
                            None,
                        )
                        audio = next(
                            (t for t in info["tracks"] if t["kind"] == "audio"),
                            None,
                        )
                        primary = video or audio
                        row.update(
                            container="mp4",
                            codec=primary["codec"] if primary else None,
                            duration_s=info["duration_s"],
                            n_tracks=len(info["tracks"]),
                        )
                        if video:
                            row.update(
                                width=video["width"], height=video["height"],
                                n_frames=video["n_samples"],
                            )
                        if audio:
                            row.update(
                                sample_rate=audio["sample_rate"],
                                channels=audio["channels"],
                            )
                    elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        row["container"] = "wav"
                    elif p[:4] == b"fLaC":
                        row["container"] = "flac"
                    elif p[:8] == b"\x89PNG\r\n\x1a\n":
                        row["container"] = "png"
                    elif p[:2] == b"BM":
                        row["container"] = "bmp"
                    elif p[:3] == b"\xff\xd8\xff":
                        row["container"] = "jpeg"
                    elif p[:6] in (b"GIF87a", b"GIF89a"):
                        row["container"] = "gif"
                    elif p[:4] in (b"II*\x00", b"MM\x00*"):
                        row["container"] = "tiff"
                except ValueError:
                    row["container"] = "opaque"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, payload_col).mapInPandas(probe, schema)
