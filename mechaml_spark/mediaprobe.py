"""Container metadata probes (ffprobe-style, header-only, no decode).

At the 100-TB design point most fetched video/audio payloads cannot be
decoded in-cluster (codec licensing, CPU cost) — yet the pipeline must
still route, filter, and bucket media rows by container facts: duration,
dimensions, codec fourcc, bitrate, track layout.  These probes read ONLY
container structure with stdlib ``struct``: cost per row is bounded by
header size, independent of payload size, and the bytes never cross a
shuffle (probe inside ``mapInPandas``, project the struct, drop the
binary).

Implemented from the public specs:

* ISO/IEC 14496-12 (ISO Base Media File Format — MP4/MOV/M4A box
  structure): ``ftyp`` brand, ``mvhd`` movie duration (version 0 and 1),
  per-``trak`` ``tkhd`` dimensions, ``mdhd`` media timescale, ``hdlr``
  handler type, ``stsd`` sample-entry fourcc (visual width/height,
  audio samplerate).  64-bit ``largesize``, ``size==0`` (to EOF) and
  ``uuid`` boxes are handled.
* ISO/IEC 11172-3 / 13818-3 (MPEG-1/2 audio): frame-header walk for
  Layer III — version/layer/bitrate/samplerate/padding decode, ID3v2
  skip (syncsafe length), ID3v1 trailer skip, frame counting, CBR/VBR
  detection, sample-exact duration.

The reference engine stores fetched media opaquely (mechaml's
``save_image``, src/agent.ml) — probing is engine-side breadth for the
multimodal pipeline, same contract as :mod:`mechaml_spark.multimodal`:
per-row failure yields ``ok=false``, never a task kill; a genuinely
unknown container raises ``NotImplementedError`` behind a stable schema.

Deterministic fixture writers (``mp4_write`` / ``mp3_write``) exist so
tests and driver queries can synthesize closed-form-verifiable streams —
no external data, per the brief.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "mp4_write", "mp4_probe", "mp4_write_sampled", "mp4_samples",
    "mp3_write", "mp3_probe",
    "ogg_write", "ogg_probe", "flac_write", "flac_probe",
    "mkv_write", "mkv_probe", "probe_media", "PROBE_T",
]


# --------------------------------------------------------------------------
# ISO BMFF (MP4) writer
# --------------------------------------------------------------------------

def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + payload)


_UNITY_MATRIX = struct.pack(
    ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def _visual_entry(fourcc: bytes, w: int, h: int) -> bytes:
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)          # reserved + data_ref_idx
        + struct.pack(">HH", 0, 0) + b"\x00" * 12    # pre/rsvd/pre3
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)                        # frame_count
        + b"\x00" * 32                                # compressorname
        + struct.pack(">Hh", 24, -1)                  # depth, pre-defined
    )
    return _box(fourcc, body)


def _audio_entry(fourcc: bytes, sample_rate: int, channels: int) -> bytes:
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)
        + struct.pack(">II", 0, 0)
        + struct.pack(">HHHH", channels, 16, 0, 0)
        + struct.pack(">I", sample_rate << 16)
    )
    return _box(fourcc, body)


def _trak(
    track_id: int,
    movie_timescale: int,
    duration_mt: int,
    handler: bytes,
    entry: bytes,
    media_timescale: int,
    media_duration: int,
    w: int = 0,
    h: int = 0,
) -> bytes:
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, track_id, 0)
        + struct.pack(">I", duration_mt)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0x0100 if handler == b"soun" else 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, media_timescale, media_duration)
        + struct.pack(">HH", 0x55C4, 0),              # 'und' language
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + handler + b"\x00" * 12 + b"probe\x00",
    )
    mhd = (
        _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        if handler == b"vide"
        else _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    )
    dinf = _box(
        b"dinf",
        _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")),
    )
    stbl = _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        + _full(b"stts", 0, 0, struct.pack(">I", 0))
        + _full(b"stsc", 0, 0, struct.pack(">I", 0))
        + _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        + _full(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    minf = _box(b"minf", mhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def mp4_write(
    width: int,
    height: int,
    duration_ms: int,
    video_codec: bytes = b"avc1",
    audio: tuple[bytes, int] | None = None,
    brand: bytes = b"isom",
    mdat_bytes: int = 64,
    largesize_mdat: bool = False,
) -> bytes:
    """Deterministic ISO-BMFF fixture: one video trak (+ optional audio
    trak ``(fourcc, sample_rate)``), movie timescale 1000 so
    ``duration_ms`` is stored exactly.  ``largesize_mdat`` exercises the
    64-bit box-size path of the prober."""
    ts = 1000
    dur = duration_ms
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 512) + brand + b"iso2")
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, ts, dur)
        + struct.pack(">IH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 3),
    )
    traks = _trak(
        1, ts, dur, b"vide", _visual_entry(video_codec, width, height),
        30000, duration_ms * 30, w=width, h=height,
    )
    if audio is not None:
        fourcc, rate = audio
        traks += _trak(
            2, ts, dur, b"soun", _audio_entry(fourcc, rate, 2),
            rate, duration_ms * rate // 1000,
        )
    moov = _box(b"moov", mvhd + traks)
    fill = bytes(i & 0xFF for i in range(mdat_bytes))
    if largesize_mdat:
        mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(
            ">Q", 16 + mdat_bytes
        ) + fill
    else:
        mdat = _box(b"mdat", fill)
    return ftyp + moov + mdat


# --------------------------------------------------------------------------
# ISO BMFF (MP4) prober
# --------------------------------------------------------------------------

def _walk_boxes(data: bytes, start: int, end: int):
    """Yield ``(fourcc, payload_start, payload_end)`` for each box in
    ``data[start:end]`` — largesize, to-EOF, and uuid handled."""
    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", data, off)[0]
        tag = data[off + 4:off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", data, off + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - off
        if tag == b"uuid":
            hdr += 16
        if size < hdr or off + size > end:
            return  # truncated / corrupt: stop cleanly
        yield tag, off + hdr, off + size
        off += size


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _mp4_track(data: bytes, s: int, e: int) -> dict:
    out: dict = {"handler": None, "codec": None, "w": None, "h": None,
                 "rate": None}
    for tag, ps, pe in _walk_boxes(data, s, e):
        if tag in _CONTAINERS:
            sub = _mp4_track(data, ps, pe)
            for k, v in sub.items():
                if out.get(k) is None:
                    out[k] = v
        elif tag == b"hdlr":
            out["handler"] = data[ps + 8:ps + 12].decode("latin-1")
        elif tag == b"stsd" and pe - ps >= 16:
            ec = struct.unpack_from(">I", data, ps + 4)[0]
            if ec >= 1 and pe - ps >= 24:
                entry_fourcc = data[ps + 12:ps + 16]
                out["codec"] = entry_fourcc.decode("latin-1")
                body = ps + 16  # past entry size+fourcc
                if pe - body >= 70:
                    # visual sample entry: width/height at offset 24/26
                    out["w"] = struct.unpack_from(">H", data, body + 24)[0]
                    out["h"] = struct.unpack_from(">H", data, body + 26)[0]
                elif pe - body >= 28:
                    # audio sample entry: samplerate 16.16 at offset 24
                    out["rate"] = (
                        struct.unpack_from(">I", data, body + 24)[0] >> 16
                    )
    return out


def mp4_probe(data: bytes) -> dict | None:
    """Header-only ISO-BMFF probe: brand, movie duration, per-track
    handler/codec/dimensions/samplerate.  Returns None when the bytes
    are not a plausible BMFF stream (no ftyp/moov)."""
    brand = None
    mvhd_ts = mvhd_dur = None
    tracks: list[dict] = []
    for tag, ps, pe in _walk_boxes(data, 0, len(data)):
        if tag == b"ftyp" and pe - ps >= 4:
            brand = data[ps:ps + 4].decode("latin-1")
        elif tag == b"moov":
            for t2, s2, e2 in _walk_boxes(data, ps, pe):
                if t2 == b"mvhd":
                    ver = data[s2]
                    if ver == 1:
                        mvhd_ts, mvhd_dur = struct.unpack_from(
                            ">IQ", data, s2 + 4 + 16
                        )
                    else:
                        _, _, mvhd_ts, mvhd_dur = struct.unpack_from(
                            ">IIII", data, s2 + 4
                        )
                elif t2 == b"trak":
                    tracks.append(_mp4_track(data, s2, e2))
    if brand is None and mvhd_ts is None:
        return None
    video = next((t for t in tracks if t["handler"] == "vide"), None)
    sound = next((t for t in tracks if t["handler"] == "soun"), None)
    dur_ms = (
        mvhd_dur * 1000 // mvhd_ts if mvhd_ts else None
    )
    return {
        "container": "mp4",
        "brand": brand,
        "duration_ms": dur_ms,
        "n_tracks": len(tracks),
        "video_codec": video["codec"] if video else None,
        "width": video["w"] if video else None,
        "height": video["h"] if video else None,
        "audio_codec": sound["codec"] if sound else None,
        "audio_rate": sound["rate"] if sound else None,
        "bitrate_kbps": None,
        "n_frames": None,
        "cbr": None,
    }


# --------------------------------------------------------------------------
# MPEG audio (MP3) frame-header walk
# --------------------------------------------------------------------------

# ISO/IEC 11172-3 Table B.1 / 13818-3: Layer III bitrates (kbps)
_BR_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_BR_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_SR_V1 = (44100, 48000, 32000)
_SR_V2 = (22050, 24000, 16000)
_SR_V25 = (11025, 12000, 8000)


def _syncsafe(n: int) -> bytes:
    return bytes(
        ((n >> s) & 0x7F) for s in (21, 14, 7, 0)
    )


def mp3_write(
    n_frames: int,
    bitrate_idx: int = 9,
    sr_idx: int = 0,
    version: int = 1,
    id3v2_size: int = 0,
    id3v1: bool = False,
    pad_alternate: bool = True,
    vbr_step: int = 0,
) -> bytes:
    """Deterministic CBR (or, with ``vbr_step``, VBR) Layer-III stream:
    valid frame headers with zeroed payloads.  ``pad_alternate`` toggles
    the padding bit every other frame (exercises the variable frame
    length); ``id3v2_size`` prepends a real syncsafe-length ID3v2.3 tag;
    ``id3v1`` appends the fixed 128-byte trailer."""
    br_tab, sr_tab, ver_bits, coef = (
        (_BR_V1L3, _SR_V1, 0b11, 144) if version == 1
        else (_BR_V2L3, _SR_V2, 0b10, 72)
    )
    out = bytearray()
    if id3v2_size:
        out += b"ID3" + bytes((3, 0, 0)) + _syncsafe(id3v2_size)
        out += b"\x00" * id3v2_size
    sr = sr_tab[sr_idx]
    for i in range(n_frames):
        bi = bitrate_idx + (i % 3) * vbr_step
        bi = min(bi, 14)
        pad = (i % 2) if pad_alternate else 0
        flen = coef * br_tab[bi] * 1000 // sr + pad
        hdr = bytes((
            0xFF,
            0b111_00000 | (ver_bits << 3) | (0b01 << 1) | 1,  # L3, no CRC
            (bi << 4) | (sr_idx << 2) | (pad << 1),
            (0b01 << 6) | (1 << 2),                            # j-stereo
        ))
        out += hdr + b"\x00" * (flen - 4)
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


def mp3_frames(data: bytes) -> list[dict] | None:
    """Per-frame byte ranges from a Layer-III stream — the
    slice-without-decode contract (mp4_samples / webm_blocks twin)
    for MP3: each row {idx, offset, size, bitrate_kbps, samplerate,
    samples, padded} bounds one whole frame (header + payload), so a
    pipeline can route/split/transcode audio at frame granularity
    with zero codec touch.  Skips a leading ID3v2 block (syncsafe
    length) and the ID3v1 trailer exactly like :func:`mp3_probe`.
    Returns None when no valid Layer-III frame starts the stream.

    PCM decode stays a documented engine boundary: this sandbox has
    no reference MP3 decoder or encoder to pin a from-scratch
    Layer-III implementation against (the repo's codec bar is
    differential bit-exactness — vp8.py meets it via libwebp,
    jpeg.py via libjpeg; the Layer-III Huffman tables are normative
    data that cannot be independently verified here)."""
    off, end = 0, len(data)
    if data[:3] == b"ID3" and end >= 10:
        sz = 0
        for b in data[6:10]:
            sz = (sz << 7) | (b & 0x7F)
        off = 10 + sz + (10 if (data[5] & 0x10) else 0)
    if end - off >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128
    rows: list[dict] = []
    sr = None
    while off + 4 <= end:
        b0, b1, b2, _b3 = data[off:off + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        ver_bits = (b1 >> 3) & 0b11
        layer_bits = (b1 >> 1) & 0b11
        if layer_bits != 0b01 or ver_bits == 0b01:
            break
        bi = (b2 >> 4) & 0xF
        si = (b2 >> 2) & 0b11
        pad = (b2 >> 1) & 1
        if bi in (0, 15) or si == 3:
            break
        if ver_bits == 0b11:
            br, fsr, coef, spf = _BR_V1L3[bi], _SR_V1[si], 144, 1152
        elif ver_bits == 0b10:
            br, fsr, coef, spf = _BR_V2L3[bi], _SR_V2[si], 72, 576
        else:
            br, fsr, coef, spf = _BR_V2L3[bi], _SR_V25[si], 72, 576
        flen = coef * br * 1000 // fsr + pad
        if off + flen > end:
            break
        if sr is None:
            sr = fsr
        elif fsr != sr:
            break
        rows.append({
            "idx": len(rows), "offset": off, "size": flen,
            "bitrate_kbps": br, "samplerate": fsr, "samples": spf,
            "padded": bool(pad),
        })
        off += flen
    return rows if rows else None


def mp3_probe(data: bytes) -> dict | None:
    """Frame-header walk: skips ID3v2 (syncsafe length) and the ID3v1
    trailer, validates each sync, decodes version/layer/bitrate/
    samplerate/padding, and accumulates sample-exact duration.  Returns
    None when no valid Layer-III frame is found at the start."""
    rows = mp3_frames(data)
    if rows is None:
        return None
    n_frames = len(rows)
    samples = sum(r["samples"] for r in rows)
    total_bytes = sum(r["size"] for r in rows)
    sr = rows[0]["samplerate"]
    bitrates = {r["bitrate_kbps"] for r in rows}
    dur_ms = samples * 1000 // sr
    cbr = len(bitrates) == 1
    kbps = (
        next(iter(bitrates)) if cbr
        else int(total_bytes * 8 // max(dur_ms, 1))
    )
    return {
        "container": "mp3",
        "brand": None,
        "duration_ms": dur_ms,
        "n_tracks": 1,
        "video_codec": None,
        "width": None,
        "height": None,
        "audio_codec": "mp3",
        "audio_rate": sr,
        "bitrate_kbps": kbps,
        "n_frames": n_frames,
        "cbr": cbr,
    }


# --------------------------------------------------------------------------
# Ogg (RFC 3533) page walk + Vorbis I / Opus (RFC 7845) id headers
# --------------------------------------------------------------------------

def _ogg_crc_table() -> list[int]:
    tab = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if (r & 0x80000000) else (r << 1)
        tab.append(r & 0xFFFFFFFF)
    return tab


_OGG_CRC = _ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    """Ogg's page CRC: poly 0x04C11DB7, init 0, no reflection, no
    final xor (RFC 3533 §6)."""
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((r >> 24) & 0xFF) ^ b]
    return r


def _ogg_page(
    serial: int, seq: int, granule: int, packet: bytes, flags: int = 0
) -> bytes:
    lacing = bytes([255] * (len(packet) // 255) + [len(packet) % 255])
    head = (
        b"OggS" + bytes((0, flags))
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"          # crc placeholder
        + bytes((len(lacing),)) + lacing
    )
    page = head + packet
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def ogg_write(
    codec: str,
    rate: int,
    channels: int,
    granule_end: int,
    n_data_pages: int = 3,
    serial: int = 0x1234,
    preskip: int = 312,
) -> bytes:
    """Deterministic single-stream Ogg fixture: a BOS page carrying
    the codec id header (Vorbis I §4.2.2 or OpusHead RFC 7845 §5.1),
    ``n_data_pages`` filler pages with rising granules, and an EOS
    page at ``granule_end``.  Every page carries a real RFC 3533 CRC."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes((channels,))
            + struct.pack("<I", rate)
            + struct.pack("<iii", 0, 128000, 0)
            + bytes((0b0110_1000,))     # blocksizes 2^8 / 2^6
            + b"\x01"                   # framing bit
        )
    elif codec == "opus":
        ident = (
            b"OpusHead" + bytes((1, channels))
            + struct.pack("<H", preskip)
            + struct.pack("<I", rate)   # input sample rate (informational)
            + struct.pack("<h", 0) + bytes((0,))
        )
    else:
        raise ValueError(codec)
    out = _ogg_page(serial, 0, 0, ident, flags=0x02)        # BOS
    for i in range(n_data_pages):
        g = granule_end * (i + 1) // (n_data_pages + 1)
        out += _ogg_page(serial, i + 1, g, bytes(16 + i))
    out += _ogg_page(serial, n_data_pages + 1, granule_end, b"\x00",
                     flags=0x04)                             # EOS
    return out


def ogg_probe(data: bytes) -> dict | None:
    """CRC-validated Ogg page walk: id header from the BOS page
    (Vorbis channels/rate, OpusHead preskip), duration from the last
    page's granule position — PCM samples at ``rate`` for Vorbis,
    48 kHz minus preskip for Opus (RFC 7845 §4).  Multiple logical
    streams count as tracks; duration follows the first."""
    off, n = 0, len(data)
    streams: dict[int, dict] = {}
    order: list[int] = []
    while off + 27 <= n:
        if data[off:off + 4] != b"OggS" or data[off + 4] != 0:
            break
        nseg = data[off + 26]
        if off + 27 + nseg > n:
            break
        lacing = data[off + 27:off + 27 + nseg]
        body_len = sum(lacing)
        end = off + 27 + nseg + body_len
        if end > n:
            break
        page = bytearray(data[off:end])
        crc_stored = struct.unpack_from("<I", page, 22)[0]
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc_stored:
            break
        granule = struct.unpack_from("<q", data, off + 6)[0]
        serial = struct.unpack_from("<I", data, off + 14)[0]
        body = data[off + 27 + nseg:end]
        st = streams.get(serial)
        if st is None:
            st = streams[serial] = {
                "codec": None, "rate": None, "preskip": 0, "granule": 0,
            }
            order.append(serial)
            if body.startswith(b"\x01vorbis") and len(body) >= 16:
                st["codec"] = "vorbis"
                st["rate"] = struct.unpack_from("<I", body, 12)[0]
            elif body.startswith(b"OpusHead") and len(body) >= 16:
                st["codec"] = "opus"
                st["preskip"] = struct.unpack_from("<H", body, 10)[0]
                st["rate"] = 48000
        if granule >= 0:
            st["granule"] = max(st["granule"], granule)
        off = end
    known = [streams[s] for s in order if streams[s]["codec"]]
    if not known:
        return None
    first = known[0]
    if first["codec"] == "opus":
        samples = max(first["granule"] - first["preskip"], 0)
        dur_ms = samples * 1000 // 48000
    else:
        dur_ms = (
            first["granule"] * 1000 // first["rate"]
            if first["rate"] else None
        )
    return {
        "container": "ogg",
        "brand": None,
        "duration_ms": dur_ms,
        "n_tracks": len(known),
        "video_codec": None,
        "width": None,
        "height": None,
        "audio_codec": first["codec"],
        "audio_rate": first["rate"],
        "bitrate_kbps": None,
        "n_frames": None,
        "cbr": None,
    }


# --------------------------------------------------------------------------
# EBML / Matroska / WebM (RFC 8794 EBML + matroska.org element IDs)
# --------------------------------------------------------------------------

def _ebml_size(n: int) -> bytes:
    """EBML data-size varint, minimal width (RFC 8794 §4): leading
    1-bit marker in the first byte, 7 value bits per extra byte."""
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:  # all-ones is "unknown size"
            return ((1 << (7 * width)) | n).to_bytes(width, "big")
    raise ValueError("size too large")


def _el(eid: bytes, payload: bytes) -> bytes:
    return eid + _ebml_size(len(payload)) + payload


def _el_uint(eid: bytes, v: int) -> bytes:
    w = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(w, "big"))


def _el_float(eid: bytes, v: float) -> bytes:
    return _el(eid, struct.pack(">d", v))


def mkv_write(
    duration_ms: int,
    doctype: str = "webm",
    video: tuple[str, int, int] | None = ("V_VP9", 640, 360),
    audio: tuple[str, int, int] | None = None,
    timescale: int = 1_000_000,
) -> bytes:
    """Deterministic Matroska/WebM fixture: EBML header with
    ``DocType``, Segment > Info (TimecodeScale + float Duration) and
    Tracks (video dims / audio rate+channels per matroska.org IDs).
    ``timescale`` defaults to 1 ms ticks so integer durations store
    exactly in the float field."""
    header = _el(
        b"\x1a\x45\xdf\xa3",
        _el_uint(b"\x42\x86", 1)                       # EBMLVersion
        + _el_uint(b"\x42\xf7", 1)                     # EBMLReadVersion
        + _el(b"\x42\x82", doctype.encode("ascii"))    # DocType
        + _el_uint(b"\x42\x87", 4) + _el_uint(b"\x42\x85", 2),
    )
    info = _el(
        b"\x15\x49\xa9\x66",
        _el_uint(b"\x2a\xd7\xb1", timescale)
        + _el_float(b"\x44\x89", float(duration_ms)),
    )
    entries = b""
    tno = 1
    if video is not None:
        codec, w, h = video
        entries += _el(
            b"\xae",
            _el_uint(b"\xd7", tno) + _el_uint(b"\x83", 1)  # type video
            + _el(b"\x86", codec.encode("ascii"))
            + _el(b"\xe0", _el_uint(b"\xb0", w) + _el_uint(b"\xba", h)),
        )
        tno += 1
    if audio is not None:
        codec, rate, ch = audio
        entries += _el(
            b"\xae",
            _el_uint(b"\xd7", tno) + _el_uint(b"\x83", 2)  # type audio
            + _el(b"\x86", codec.encode("ascii"))
            + _el(b"\xe1", _el_float(b"\xb5", float(rate))
                  + _el_uint(b"\x9f", ch)),
        )
    tracks = _el(b"\x16\x54\xae\x6b", entries)
    segment = _el(b"\x18\x53\x80\x67", info + tracks)
    return header + segment


def _ebml_read_vint(data: bytes, off: int, keep_marker: bool
                    ) -> tuple[int, int] | None:
    if off >= len(data) or data[off] == 0:
        return None
    first = data[off]
    width = 1
    mask = 0x80
    while not (first & mask):
        width += 1
        mask >>= 1
    if off + width > len(data):
        return None
    v = int.from_bytes(data[off:off + width], "big")
    if not keep_marker:
        v &= (1 << (7 * width)) - 1
    return v, off + width


def _ebml_walk(data: bytes, start: int, end: int):
    """Yield ``(element_id, payload_start, payload_end)``; stops
    cleanly at truncation.  Unknown-size elements extend to ``end``."""
    off = start
    while off < end:
        r = _ebml_read_vint(data, off, keep_marker=True)
        if r is None:
            return
        eid, off = r
        r = _ebml_read_vint(data, off, keep_marker=False)
        if r is None:
            return
        size, off = r
        # detect the all-ones "unknown size" form: value == 2^(7w)-1
        w = 1
        while (1 << (7 * w)) - 1 < size:
            w += 1
        if size == (1 << (7 * w)) - 1:
            size = end - off
        if off + size > end:
            return
        yield eid, off, off + size
        off += size


_MKV_UINT = {0x2AD7B1, 0xB0, 0xBA, 0x83, 0x9F, 0xD7}


def mkv_probe(data: bytes) -> dict | None:
    """Matroska/WebM probe: DocType from the EBML header, duration
    from Segment>Info (TimecodeScale × float Duration), per-track
    codec/dims/rate from Segment>Tracks."""
    doctype = None
    timescale = 1_000_000
    duration_raw = None
    tracks: list[dict] = []

    def read_uint(s: int, e: int) -> int:
        return int.from_bytes(data[s:e], "big")

    def read_float(s: int, e: int) -> float:
        if e - s == 4:
            return struct.unpack(">f", data[s:e])[0]
        if e - s == 8:
            return struct.unpack(">d", data[s:e])[0]
        return 0.0

    saw_magic = False
    for eid, s, e in _ebml_walk(data, 0, len(data)):
        if eid == 0x1A45DFA3:
            saw_magic = True
            for i2, s2, e2 in _ebml_walk(data, s, e):
                if i2 == 0x4282:
                    doctype = data[s2:e2].decode("ascii", "replace")
        elif eid == 0x18538067:
            for i2, s2, e2 in _ebml_walk(data, s, e):
                if i2 == 0x1549A966:
                    for i3, s3, e3 in _ebml_walk(data, s2, e2):
                        if i3 == 0x2AD7B1:
                            timescale = read_uint(s3, e3)
                        elif i3 == 0x4489:
                            duration_raw = read_float(s3, e3)
                elif i2 == 0x1654AE6B:
                    for i3, s3, e3 in _ebml_walk(data, s2, e2):
                        if i3 != 0xAE:
                            continue
                        t = {"type": None, "codec": None, "w": None,
                             "h": None, "rate": None}
                        for i4, s4, e4 in _ebml_walk(data, s3, e3):
                            if i4 == 0x83:
                                t["type"] = read_uint(s4, e4)
                            elif i4 == 0x86:
                                t["codec"] = data[s4:e4].decode(
                                    "ascii", "replace"
                                )
                            elif i4 == 0xE0:
                                for i5, s5, e5 in _ebml_walk(data, s4, e4):
                                    if i5 == 0xB0:
                                        t["w"] = read_uint(s5, e5)
                                    elif i5 == 0xBA:
                                        t["h"] = read_uint(s5, e5)
                            elif i4 == 0xE1:
                                for i5, s5, e5 in _ebml_walk(data, s4, e4):
                                    if i5 == 0xB5:
                                        t["rate"] = int(read_float(s5, e5))
                        tracks.append(t)
    if not saw_magic:
        return None
    dur_ms = (
        int(duration_raw * timescale / 1e6) if duration_raw is not None
        else None
    )
    video = next((t for t in tracks if t["type"] == 1), None)
    sound = next((t for t in tracks if t["type"] == 2), None)
    return {
        "container": "mkv",
        "brand": doctype,
        "duration_ms": dur_ms,
        "n_tracks": len(tracks),
        "video_codec": video["codec"] if video else None,
        "width": video["w"] if video else None,
        "height": video["h"] if video else None,
        "audio_codec": sound["codec"] if sound else None,
        "audio_rate": sound["rate"] if sound else None,
        "bitrate_kbps": None,
        "n_frames": None,
        "cbr": None,
    }


# --------------------------------------------------------------------------
# Matroska/WebM Cluster expansion (the mp4_samples twin)
# --------------------------------------------------------------------------
#
# `mp4_samples` gives MP4 frames as exact (offset, size, keyframe)
# byte ranges with zero codec touch — the right 100-TB routing stage
# before any decode spend.  This extends the same slice-without-decode
# contract to WebM/Matroska: walk Segment > Cluster > SimpleBlock /
# BlockGroup (matroska.org element IDs over RFC 8794 EBML) down to
# per-frame byte ranges, timecodes (cluster timecode + signed 16-bit
# relative), keyframe flags (SimpleBlock bit 0x80; BlockGroup =
# no ReferenceBlock), and all three lacing modes (Xiph, fixed-size,
# EBML) with per-lace offsets.


def _ebml_lace_sizes(data: bytes, off: int, end: int, mode: int,
                     ) -> tuple[list[int], int] | None:
    """Frame sizes for a laced block starting at the lace header
    (RFC 9559 §10.3); returns (sizes, payload_start)."""
    if off >= end:
        return None
    n_frames = data[off] + 1
    off += 1
    if mode == 0x02:  # Xiph: u8 sums per frame, last implicit
        sizes = []
        for _ in range(n_frames - 1):
            v = 0
            while True:
                if off >= end:
                    return None
                b = data[off]
                off += 1
                v += b
                if b != 255:
                    break
            sizes.append(v)
    elif mode == 0x04:  # fixed-size: equal split, last implicit
        total = end - off
        if total % n_frames:
            return None
        sizes = [total // n_frames] * (n_frames - 1)
    else:  # 0x06 EBML: first absolute vint, rest signed vint deltas
        sizes = []
        if n_frames >= 2:
            # RFC 9559 §10.3.4: with ONE frame there are NO size
            # fields at all — the first vint exists only from 2 up
            r = _ebml_read_vint(data, off, keep_marker=False)
            if r is None:
                return None
            first, off = r
            sizes = [first]
            prev = first
            for _ in range(n_frames - 2):
                r = _ebml_read_vint(data, off, keep_marker=False)
                if r is None:
                    return None
                raw, noff = r
                width = noff - off
                off = noff
                # signed vint: subtract 2^(7w-1) - 1
                prev += raw - ((1 << (7 * width - 1)) - 1)
                sizes.append(prev)
    if any(s < 0 for s in sizes):  # corrupt deltas, not a valid lace
        return None
    remaining = (end - off) - sum(sizes)
    if remaining < 0:
        return None
    sizes.append(remaining)
    return sizes, off


def _mkv_one_block(data: bytes, s: int, e: int, cluster_tc: int,
                   keyframe: bool | None) -> list[dict]:
    """Decode one (Simple)Block payload into per-frame rows.
    ``keyframe=None`` reads the SimpleBlock keyframe flag bit."""
    r = _ebml_read_vint(data, s, keep_marker=False)
    if r is None:
        return []
    track, off = r
    if off + 3 > e:
        return []
    (rel_tc,) = struct.unpack_from(">h", data, off)
    flags = data[off + 2]
    off += 3
    if keyframe is None:
        keyframe = bool(flags & 0x80)
    lacing = flags & 0x06
    if lacing:
        lr = _ebml_lace_sizes(data, off, e, lacing)
        if lr is None:
            return []
        sizes, off = lr
    else:
        sizes = [e - off]
    rows = []
    for lace, sz in enumerate(sizes):
        rows.append({
            "track": track,
            "timecode": cluster_tc + rel_tc,
            "keyframe": bool(keyframe),
            "offset": off,
            "size": sz,
            "lace": lace,
        })
        off += sz
    return rows


def mkv_blocks(data: bytes) -> list[dict] | None:
    """Per-frame byte ranges from a Matroska/WebM stream; None when
    not EBML.  Each row: {track, timecode (cluster timecode + signed
    relative, in TimecodeScale ticks), keyframe, offset, size, lace}.
    A BlockGroup's Block is a keyframe iff the group carries no
    ReferenceBlock (RFC 9559 §10.3.8)."""
    if data[:4] != b"\x1a\x45\xdf\xa3":
        return None
    rows: list[dict] = []
    for eid, s, e in _ebml_walk(data, 0, len(data)):
        if eid != 0x18538067:  # Segment
            continue
        for i2, s2, e2 in _ebml_walk(data, s, e):
            if i2 != 0x1F43B675:  # Cluster
                continue
            cluster_tc = 0
            for i3, s3, e3 in _ebml_walk(data, s2, e2):
                if i3 == 0xE7:  # Timecode
                    cluster_tc = int.from_bytes(data[s3:e3], "big")
                elif i3 == 0xA3:  # SimpleBlock
                    rows.extend(
                        _mkv_one_block(data, s3, e3, cluster_tc, None)
                    )
                elif i3 == 0xA0:  # BlockGroup
                    block_span = None
                    has_ref = False
                    for i4, s4, e4 in _ebml_walk(data, s3, e3):
                        if i4 == 0xA1:  # Block
                            block_span = (s4, e4)
                        elif i4 == 0xFB:  # ReferenceBlock
                            has_ref = True
                    if block_span is not None:
                        rows.extend(
                            _mkv_one_block(
                                data, block_span[0], block_span[1],
                                cluster_tc, not has_ref,
                            )
                        )
    return rows


def mkv_write_clusters(
    clusters: list[tuple[int, list[dict]]],
    duration_ms: int = 4000,
    doctype: str = "webm",
    video: tuple[str, int, int] | None = ("V_VP9", 640, 360),
) -> bytes:
    """Matroska/WebM fixture with real Cluster payloads.  Each
    cluster is ``(timecode, blocks)``; each block dict:
    ``{track, rel_tc, keyframe, payload, group?: bool, lacing?:
    ('xiph'|'fixed'|'ebml', [payloads])}``.  ``group=True`` wraps a
    BlockGroup whose keyframe-ness rides on ReferenceBlock absence."""
    base = mkv_write(duration_ms, doctype=doctype, video=video)
    # re-open the Segment: mkv_write emits header + Segment(info+tracks)
    for eid, s, e in _ebml_walk(base, 0, len(base)):
        if eid == 0x18538067:
            header, seg_payload = base[:s - len(_ebml_size(e - s)) - 4], \
                base[s:e]
            break
    else:  # pragma: no cover
        raise ValueError("fixture base lost its Segment")

    out_clusters = b""
    for tc, blocks in clusters:
        body = _el_uint(b"\xe7", tc)
        for blk in blocks:
            track = blk.get("track", 1)
            flags = 0
            lacing = blk.get("lacing")
            if lacing is None:
                payload = blk["payload"]
            else:
                mode, parts = lacing
                flags |= {"xiph": 0x02, "fixed": 0x04, "ebml": 0x06}[mode]
                head = bytes([len(parts) - 1])
                if mode == "xiph":
                    for p in parts[:-1]:
                        n = len(p)
                        while n >= 255:
                            head += b"\xff"
                            n -= 255
                        head += bytes([n])
                elif mode == "ebml" and len(parts) >= 2:
                    # single-frame EBML lacing carries NO size fields
                    # (RFC 9559 §10.3.4)
                    head += _ebml_size(len(parts[0]))
                    prev = len(parts[0])
                    for p in parts[1:-1]:
                        delta = len(p) - prev
                        # signed vint, 2-byte form: value + (2^13 - 1);
                        # a delta outside the form's range would corrupt
                        # the marker bit silently — fail loudly instead
                        if not -0x1FFF <= delta <= 0x1FFF:
                            raise ValueError(
                                f"EBML lace delta {delta} exceeds the "
                                "2-byte signed-vint range"
                            )
                        head += (0x4000 | (delta + 0x1FFF)).to_bytes(
                            2, "big"
                        )
                        prev = len(p)
                payload = head + b"".join(parts)
            inner = (
                bytes([0x80 | track])
                + struct.pack(">h", blk.get("rel_tc", 0))
                + bytes([flags | (
                    0x80 if blk.get("keyframe") and not blk.get("group")
                    else 0
                )])
                + payload
            )
            if blk.get("group"):
                g = _el(b"\xa1", inner)
                if not blk.get("keyframe"):
                    g += _el(b"\xfb", b"\x01")
                body += _el(b"\xa0", g)
            else:
                body += _el(b"\xa3", inner)
        out_clusters += _el(b"\x1f\x43\xb6\x75", body)

    new_payload = seg_payload + out_clusters
    return header + b"\x18\x53\x80\x67" + _ebml_size(len(new_payload)) \
        + new_payload


# --------------------------------------------------------------------------
# FLAC STREAMINFO (xiph.org spec: the mandatory first metadata block)
# --------------------------------------------------------------------------

def flac_write(
    sample_rate: int,
    channels: int,
    total_samples: int,
    bits_per_sample: int = 16,
    n_padding: int = 0,
) -> bytes:
    """Deterministic FLAC header fixture: ``fLaC`` magic + STREAMINFO
    (+ optional PADDING block) and no audio frames — all a metadata
    probe reads.  The 20-bit rate / 3-bit channels / 5-bit bps /
    36-bit total-samples packing follows the format spec exactly."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    si = (
        struct.pack(">HH", 4096, 4096)       # min/max blocksize
        + b"\x00\x00\x00" * 2                 # min/max framesize unknown
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                        # md5 of unencoded audio
    )
    last = 0x80 if n_padding == 0 else 0x00
    out = b"fLaC" + bytes((last,)) + len(si).to_bytes(3, "big") + si
    if n_padding:
        out += bytes((0x81,)) + n_padding.to_bytes(3, "big") \
            + b"\x00" * n_padding
    return out


def flac_probe(data: bytes) -> dict | None:
    """STREAMINFO probe: magic check, metadata-block walk until the
    last-block flag, rate/channels/duration from the packed fields."""
    if data[:4] != b"fLaC":
        return None
    off, n = 4, len(data)
    info = None
    while off + 4 <= n:
        hdr = data[off]
        blen = int.from_bytes(data[off + 1:off + 4], "big")
        body = data[off + 4:off + 4 + blen]
        if len(body) != blen:
            return None
        if (hdr & 0x7F) == 0 and blen >= 34:
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "total": packed & ((1 << 36) - 1),
            }
        off += 4 + blen
        if hdr & 0x80:
            break
    if info is None or not info["rate"]:
        return None
    return {
        "container": "flac",
        "brand": None,
        "duration_ms": info["total"] * 1000 // info["rate"],
        "n_tracks": 1,
        "video_codec": None,
        "width": None,
        "height": None,
        "audio_codec": "flac",
        "audio_rate": info["rate"],
        "bitrate_kbps": None,
        "n_frames": None,
        "cbr": None,
    }


# --------------------------------------------------------------------------
# Spark stage
# --------------------------------------------------------------------------

PROBE_T = T.StructType([
    T.StructField("ok", T.BooleanType()),
    T.StructField("container", T.StringType()),
    T.StructField("brand", T.StringType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("video_codec", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("audio_codec", T.StringType()),
    T.StructField("audio_rate", T.IntegerType()),
    T.StructField("bitrate_kbps", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("cbr", T.BooleanType()),
])

_BAD = {f.name: None for f in PROBE_T.fields} | {"ok": False}

_PROBERS = {
    "mp4": mp4_probe, "mov": mp4_probe, "m4a": mp4_probe, "m4v": mp4_probe,
    "mp3": mp3_probe,
    "ogg": ogg_probe, "oga": ogg_probe, "opus": ogg_probe,
    "flac": flac_probe,
    "mkv": mkv_probe, "webm": mkv_probe,
    # image probes (defined in their own section at the end of the
    # module, added to this dict just below their definitions)
}


def _probe_row(data: bytes | None, fmt: str | None) -> dict:
    if fmt is None:
        return dict(_BAD)
    if fmt not in _PROBERS:
        raise NotImplementedError(
            f"no {fmt!r} container probe in-sandbox (ISO-BMFF mp4/mov/m4a, "
            "MPEG Layer-III, Ogg Vorbis/Opus, FLAC, and Matroska/WebM are "
            "real); extend mediaprobe and keep this stage's schema"
        )
    if data is None:
        return dict(_BAD)
    try:
        r = _PROBERS[fmt](bytes(data))
    except NotImplementedError:
        raise
    except Exception:
        return dict(_BAD)
    if r is None:
        return dict(_BAD)
    return {"ok": True} | r


def probe_media(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt"
) -> DataFrame:
    """Container-probe stage: appends a ``probe`` struct (container,
    brand, duration, tracks, codecs, dimensions, bitrate) per Arrow
    batch.  Header-only — bounded work per row, payload never decoded,
    bytes never shuffled (probe then project the struct and drop the
    binary).  Undecodable bytes and NULL fmt yield ``ok=false`` rows —
    per-row catch, never a task failure; an unknown container raises
    ``NotImplementedError`` (explicit stub contract, same as
    :func:`mechaml_spark.multimodal.decode_audio`)."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("probe", PROBE_T)]
    )
    cols = df.columns

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[cols].copy()
            out["probe"] = [
                _probe_row(b, f) for b, f in zip(pdf[bytes_col], pdf[fmt_col])
            ]
            yield out

    return df.mapInPandas(run, schema=out_schema)


# --------------------------------------------------------------------------
# Modern web IMAGE containers: AVIF (HEIF/ISO-BMFF), WebP (RIFF), JPEG XL
# --------------------------------------------------------------------------
# Same header-only contract as the A/V probes: a 100-TB image table
# routes/filters on (container, codec, dims) BEFORE spending decode
# CPU — and AVIF/lossy-WebP/JXL payloads have no in-sandbox decoder,
# so the probe IS the coverage for them (the repo's own codecs cover
# PNG/JPEG/GIF/VP8L/TIFF/QOI pixels).

def avif_write(w: int, h: int, brand: bytes = b"avif") -> bytes:
    """Minimal conformant AVIF still (ISO-BMFF: ftyp + meta/hdlr/pitm/
    iprp/ipco/ispe + stub mdat) — fixture writer for tests/queries."""
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    ispe = _full(b"ispe", 0, 0, struct.pack(">II", w, h))
    ipco = _box(b"ipco", ispe)
    iprp = _box(b"iprp", ipco)
    hdlr = _full(
        b"hdlr", 0, 0, struct.pack(">I", 0) + b"pict" + b"\x00" * 13
    )
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    meta = _full(b"meta", 0, 0, hdlr + pitm + iprp)
    return ftyp + meta + _box(b"mdat", b"\x00")


def avif_probe(data: bytes) -> dict | None:
    """AVIF/HEIF still-image probe: ftyp brand + ispe spatial extents
    (meta -> iprp -> ipco -> ispe walk).  Codec av01 by brand."""
    brand = None
    w = h = None
    for tag, ps, pe in _walk_boxes(data, 0, len(data)):
        if tag == b"ftyp" and pe - ps >= 4:
            brand = data[ps:ps + 4].decode("latin-1").strip()
        elif tag == b"meta":
            # FullBox: 4 bytes version/flags, then child boxes
            for t2, s2, e2 in _walk_boxes(data, ps + 4, pe):
                if t2 != b"iprp":
                    continue
                for t3, s3, e3 in _walk_boxes(data, s2, e2):
                    if t3 != b"ipco":
                        continue
                    for t4, s4, e4 in _walk_boxes(data, s3, e3):
                        if t4 == b"ispe" and e4 - s4 >= 12:
                            w, h = struct.unpack_from(">II", data, s4 + 4)
    if brand is None:
        return None
    base = dict(_BAD)
    del base["ok"]
    base.update({
        "container": "avif", "brand": brand, "n_tracks": 1,
        "video_codec": "av01" if brand in ("avif", "avis") else None,
        "width": w, "height": h,
    })
    return base


def webp_write_lossy(w: int, h: int) -> bytes:
    """Minimal RIFF/WEBP with a 'VP8 ' chunk: valid frame tag + sync
    code + 14-bit dims, stub payload (header-probe fixture)."""
    if not (0 < w < 1 << 14 and 0 < h < 1 << 14):
        raise ValueError("VP8 dims are 14-bit")
    # frame tag: key frame, version 0, show_frame, part size 0
    hdr = bytes([0x10, 0x00, 0x00]) + b"\x9d\x01\x2a"
    hdr += struct.pack("<HH", w, h)
    payload = hdr + b"\x00" * 6
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def webp_probe(data: bytes) -> dict | None:
    """WebP probe covering all three chunk layouts: 'VP8 ' (lossy
    frame header: sync 9D 01 2A + 14-bit dims), 'VP8L' (lossless:
    0x2F + 14-bit minus-one dims), 'VP8X' (extended: 24-bit minus-one
    canvas dims)."""
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    tag = data[12:16]
    ps = 20
    base = dict(_BAD)
    del base["ok"]
    base.update({"container": "webp", "n_tracks": 1})
    if tag == b"VP8 " and len(data) >= ps + 10:
        if data[ps + 3:ps + 6] != b"\x9d\x01\x2a":
            return None
        w = struct.unpack_from("<H", data, ps + 6)[0] & 0x3FFF
        h = struct.unpack_from("<H", data, ps + 8)[0] & 0x3FFF
        base.update({"video_codec": "vp8", "width": w, "height": h})
        return base
    if tag == b"VP8L" and len(data) >= ps + 5 and data[ps] == 0x2F:
        bits = struct.unpack_from("<I", data, ps + 1)[0]
        base.update({
            "video_codec": "vp8l",
            "width": (bits & 0x3FFF) + 1,
            "height": ((bits >> 14) & 0x3FFF) + 1,
        })
        return base
    if tag == b"VP8X" and len(data) >= ps + 10:
        wm1 = int.from_bytes(data[ps + 4:ps + 7], "little")
        hm1 = int.from_bytes(data[ps + 7:ps + 10], "little")
        base.update({
            "video_codec": "vp8x",
            "width": wm1 + 1, "height": hm1 + 1,
        })
        return base
    return None


def jxl_write(w: int, h: int) -> bytes:
    """Bare JPEG XL codestream header (FF 0A + SizeHeader) for SMALL
    images: both dims multiples of 8, <= 256 — the 'small' SizeHeader
    encoding (1 bit small=1, 5 bits ysize/8-1, 3 bits ratio=0,
    5 bits xsize/8-1), little-endian bit packing per the spec."""
    if not (0 < w <= 256 and 0 < h <= 256 and w % 8 == 0 and h % 8 == 0):
        raise ValueError("small SizeHeader needs dims %8==0 and <=256")
    acc = 0
    nbits = 0

    def put(v: int, n: int):
        nonlocal acc, nbits
        acc |= (v & ((1 << n) - 1)) << nbits
        nbits += n

    put(1, 1)             # small
    put(h // 8 - 1, 5)    # ysize
    put(0, 3)             # ratio: explicit xsize
    put(w // 8 - 1, 5)    # xsize (small form)
    body = acc.to_bytes((nbits + 7) // 8, "little")
    return b"\xff\x0a" + body + b"\x00" * 4


def jxl_probe(data: bytes) -> dict | None:
    """JPEG XL probe: bare codestream (FF 0A; small-form SizeHeader
    parsed for dims) or the ISO-BMFF container (JXL signature box ->
    brand, dims left NULL — parsing the embedded codestream is the
    documented extension)."""
    base = dict(_BAD)
    del base["ok"]
    if data[:2] == b"\xff\x0a" and len(data) >= 4:
        bits = int.from_bytes(data[2:6].ljust(4, b"\x00"), "little")
        small = bits & 1
        w = h = None
        if small:
            h = (((bits >> 1) & 0x1F) + 1) * 8
            ratio = (bits >> 6) & 0x7
            if ratio == 0:
                w = (((bits >> 9) & 0x1F) + 1) * 8
        base.update({
            "container": "jxl", "brand": "bare", "n_tracks": 1,
            "video_codec": "jxl", "width": w, "height": h,
        })
        return base
    if data[:12] == (b"\x00\x00\x00\x0c" + b"JXL " + b"\x0d\x0a\x87\x0a"):
        brand = None
        for tag, ps, pe in _walk_boxes(data, 12, len(data)):
            if tag == b"ftyp" and pe - ps >= 4:
                brand = data[ps:ps + 4].decode("latin-1").strip()
        base.update({
            "container": "jxl", "brand": brand, "n_tracks": 1,
            "video_codec": "jxl",
        })
        return base
    return None


_PROBERS.update({
    "avif": avif_probe, "heic": avif_probe,
    "webp": webp_probe, "jxl": jxl_probe,
})


# --------------------------------------------------------------------------
# MP4 sample tables: write + expand (frame locations WITHOUT decode)
# --------------------------------------------------------------------------

def _stbl_sampled(
    entry: bytes,
    deltas: list[int],
    sizes: list[int],
    chunk_spc: list[int],
    chunk_offsets: list[int],
    sync: list[int] | None,
) -> bytes:
    """stbl with REAL stts/stsc/stsz/stco[/stss] tables."""
    runs: list[tuple[int, int]] = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    stts = _full(
        b"stts", 0, 0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    stsc_entries: list[tuple[int, int]] = []
    for i, spc in enumerate(chunk_spc):
        if not stsc_entries or stsc_entries[-1][1] != spc:
            stsc_entries.append((i + 1, spc))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(
            struct.pack(">III", fc, spc, 1) for fc, spc in stsc_entries
        ),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stss = b""
    if sync is not None:
        stss = _full(
            b"stss", 0, 0,
            struct.pack(">I", len(sync))
            + b"".join(struct.pack(">I", s) for s in sync),
        )
    return _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        + stts + stsc + stsz + stco + stss,
    )


def mp4_write_sampled(
    width: int,
    height: int,
    deltas: list[int],
    sizes: list[int],
    chunk_spc: list[int],
    sync: list[int] | None = None,
    timescale: int = 30000,
    video_codec: bytes = b"avc1",
) -> bytes:
    """Deterministic BMFF fixture whose video track carries REAL
    sample tables: ``deltas``/``sizes`` per sample, ``chunk_spc``
    samples per chunk (must sum to len(sizes)), ``sync`` 1-based
    keyframe numbers (None = no stss, every sample a sync point).
    Chunks pack contiguously into one mdat, so sample n's file offset
    is ``mdat_payload_start + sum(sizes[:n])``.  Built twice: once
    with zero chunk offsets to learn the moov size, then for real."""
    if sum(chunk_spc) != len(sizes) or len(deltas) != len(sizes):
        raise ValueError("inconsistent sample tables")
    ts = 1000
    dur_ms = sum(deltas) * 1000 // timescale
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")

    def build(offsets: list[int]) -> bytes:
        mvhd = _full(
            b"mvhd", 0, 0,
            struct.pack(">IIII", 0, 0, ts, dur_ms)
            + struct.pack(">IH", 0x00010000, 0x0100)
            + b"\x00" * 10 + _UNITY_MATRIX + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        tkhd = _full(
            b"tkhd", 0, 7,
            struct.pack(">IIII", 0, 0, 1, 0)
            + struct.pack(">I", dur_ms) + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0) + _UNITY_MATRIX
            + struct.pack(">II", width << 16, height << 16),
        )
        mdhd = _full(
            b"mdhd", 0, 0,
            struct.pack(">IIII", 0, 0, timescale, sum(deltas))
            + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _full(
            b"hdlr", 0, 0,
            struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"probe\x00",
        )
        dinf = _box(
            b"dinf",
            _full(b"dref", 0, 0,
                  struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")),
        )
        stbl = _stbl_sampled(
            _visual_entry(video_codec, width, height),
            deltas, sizes, chunk_spc, offsets, sync,
        )
        minf = _box(
            b"minf",
            _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
            + dinf + stbl,
        )
        trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
        return _box(b"moov", mvhd + trak)

    moov0 = build([0] * len(chunk_spc))
    base = len(ftyp) + len(moov0) + 8  # + mdat header
    offsets, pos, si = [], base, 0
    for spc in chunk_spc:
        offsets.append(pos)
        pos += sum(sizes[si : si + spc])
        si += spc
    moov = build(offsets)
    assert len(moov) == len(moov0)
    payload = bytes(
        (7 * i + j) & 0xFF for i, s in enumerate(sizes) for j in range(s)
    )
    return ftyp + moov + _box(b"mdat", payload)


def mp4_samples(data: bytes) -> dict | None:
    """Expand the first video track's sample tables into per-sample
    ``(offset, size, dts_ticks, keyframe)`` — how a video pipeline
    locates frame byte-ranges and sync points WITHOUT touching a
    codec (the GPU decode stage downstream seeks straight to the
    keyframe samples).  Returns ``{"timescale": int, "samples":
    [...]}``, or None when the bytes are not a plausible BMFF stream.
    Sample offset = stco chunk base + cumulative sizes within the
    chunk (ISO 14496-12 §8.7); missing stss means every sample is a
    sync point (§8.6.2)."""
    probe_ok = False
    for tag, s, e in _walk_boxes(data, 0, len(data)):
        if tag == b"ftyp":
            probe_ok = True
        elif tag == b"moov" and probe_ok:
            for t2, s2, e2 in _walk_boxes(data, s, e):
                if t2 != b"trak":
                    continue
                got = _track_tables(data, s2, e2)
                if got is not None:
                    return got
    return None


def _track_tables(data: bytes, s: int, e: int) -> dict | None:
    handler = None
    timescale = None
    tbl: dict[bytes, tuple[int, int]] = {}

    def walk(a: int, b: int) -> None:
        nonlocal handler, timescale
        for tag, ps, pe in _walk_boxes(data, a, b):
            if tag in (b"mdia", b"minf", b"stbl"):
                walk(ps, pe)
            elif tag == b"hdlr":
                handler = data[ps + 8 : ps + 12]
            elif tag == b"mdhd":
                timescale = struct.unpack_from(">I", data, ps + 12)[0]
            elif tag in (b"stts", b"stsc", b"stsz", b"stco", b"stss"):
                tbl[tag] = (ps, pe)

    walk(s, e)
    if handler != b"vide" or not all(
        k in tbl for k in (b"stts", b"stsc", b"stsz", b"stco")
    ):
        return None

    def u32s(ps: int, skip: int, n: int) -> list[int]:
        return list(
            struct.unpack_from(f">{n}I", data, ps + skip)
        ) if n else []

    ps, _ = tbl[b"stts"]
    n_runs = struct.unpack_from(">I", data, ps + 4)[0]
    runs = u32s(ps, 8, 2 * n_runs)
    deltas: list[int] = []
    for i in range(n_runs):
        deltas += [runs[2 * i + 1]] * runs[2 * i]
    ps, _ = tbl[b"stsz"]
    fixed, n_samples = struct.unpack_from(">II", data, ps + 4)
    sizes = (
        [fixed] * n_samples if fixed else u32s(ps, 12, n_samples)
    )
    ps, _ = tbl[b"stco"]
    n_chunks = struct.unpack_from(">I", data, ps + 4)[0]
    chunk_off = u32s(ps, 8, n_chunks)
    ps, _ = tbl[b"stsc"]
    n_sc = struct.unpack_from(">I", data, ps + 4)[0]
    sc = u32s(ps, 8, 3 * n_sc)
    spc_by_chunk: list[int] = []
    for i in range(n_sc):
        first = sc[3 * i]
        spc = sc[3 * i + 1]
        last = sc[3 * (i + 1)] if i + 1 < n_sc else n_chunks + 1
        spc_by_chunk += [spc] * (last - first)
    sync = None
    if b"stss" in tbl:
        ps, _ = tbl[b"stss"]
        n_sync = struct.unpack_from(">I", data, ps + 4)[0]
        sync = set(u32s(ps, 8, n_sync))

    samples = []
    dts = 0
    si = 0
    for ci, spc in enumerate(spc_by_chunk):
        if ci >= len(chunk_off):
            break
        pos = chunk_off[ci]
        for _ in range(spc):
            if si >= n_samples:
                break
            samples.append(
                (
                    pos,
                    sizes[si],
                    dts,
                    sync is None or (si + 1) in sync,
                )
            )
            pos += sizes[si]
            dts += deltas[si] if si < len(deltas) else 0
            si += 1
    return {"timescale": timescale, "samples": samples}


# --------------------------------------------------------------------------
# animation probes — frame count / duration / loop WITHOUT pixel decode
# --------------------------------------------------------------------------

def gif_anim_probe(data: bytes) -> dict | None:
    """GIF89a animation metadata by block walk alone: image data
    sub-blocks are SKIPPED by their length bytes (no LZW touch), GCE
    delays sum in centiseconds, the NETSCAPE2.0 application
    extension yields the loop count.  None when the bytes are not a
    GIF."""
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    w, h = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    p = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
    frames = 0
    total_cs = 0
    loop = None
    pending_delay = 0
    n = len(data)
    while p < n:
        b = data[p]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[p + 1]
            p += 2
            if label == 0xF9 and data[p] >= 4:
                pending_delay = struct.unpack_from("<H", data, p + 2)[0]
            if label == 0xFF and data[p] == 11 and (
                data[p + 1 : p + 12] in (b"NETSCAPE2.0", b"ANIMEXTS1.0")
            ):
                q = p + 12
                if data[q] >= 3 and data[q + 1] == 1:
                    loop = struct.unpack_from("<H", data, q + 2)[0]
            while data[p]:  # skip sub-blocks
                p += 1 + data[p]
            p += 1
        elif b == 0x2C:  # image descriptor
            lflags = data[p + 9]
            p += 10 + (3 * (2 << (lflags & 7)) if lflags & 0x80 else 0)
            p += 1  # LZW min code size
            while data[p]:
                p += 1 + data[p]
            p += 1
            frames += 1
            total_cs += pending_delay
            pending_delay = 0
        else:
            return None  # corrupt stream: stop cleanly
    return {
        "w": int(w), "h": int(h), "n_frames": frames,
        "total_ms": total_cs * 10, "loop": loop,
    }


def apng_anim_probe(data: bytes) -> dict | None:
    """APNG metadata from the chunk walk: acTL frame/play counts,
    fcTL delays (num/den rationals, den 0 = 100 per spec) — IDAT and
    fdAT bytes never inflate.  Returns None for non-PNG bytes;
    a plain PNG reports one still frame."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    p = 8
    w = h = None
    n_frames = None
    loop = None
    total_ms = 0
    while p + 8 <= len(data):
        ln, tag = struct.unpack_from(">I4s", data, p)
        body = data[p + 8 : p + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack_from(">II", body, 0)
        elif tag == b"acTL":
            n_frames, loop = struct.unpack_from(">II", body, 0)
        elif tag == b"fcTL":
            num, den = struct.unpack_from(">HH", body, 20)
            total_ms += num * 1000 // (den or 100)
        elif tag == b"IEND":
            break
        p += 12 + ln
    return {
        "w": int(w), "h": int(h),
        "n_frames": int(n_frames) if n_frames is not None else 1,
        "total_ms": total_ms,
        "loop": int(loop) if n_frames is not None else None,
    }


def webp_anim_probe(data: bytes) -> dict | None:
    """Animated-WebP metadata from the RIFF walk: VP8X canvas, ANIM
    loop count, ANMF headers (durations summed, frame bytes never
    parsed).  None for non-WebP bytes; a still WebP reports one
    frame."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    p = 12
    w = h = None
    loop = None
    frames = 0
    total_ms = 0
    animated = False
    while p + 8 <= len(data):
        tag = data[p : p + 4]
        (ln,) = struct.unpack_from("<I", data, p + 4)
        body = data[p + 8 : p + 8 + ln]
        if tag == b"VP8X":
            animated = bool(body[0] & 0x02)
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
        elif tag == b"ANIM":
            loop = struct.unpack_from("<H", body, 4)[0]
        elif tag == b"ANMF":
            frames += 1
            total_ms += int.from_bytes(body[12:15], "little")
        elif tag == b"VP8L" and not animated and w is None:
            if body and body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")
                w = (bits & 0x3FFF) + 1
                h = ((bits >> 14) & 0x3FFF) + 1
        p += 8 + ln + (ln & 1)
    return {
        "w": int(w), "h": int(h),
        "n_frames": frames if animated else 1,
        "total_ms": total_ms,
        "loop": loop,
    }


# --------------------------------------------------------------------------
# Color-management probes (PNG ancillary chunks / JPEG APPn markers)
# --------------------------------------------------------------------------
#
# Training pipelines normalize color before anything touches pixels:
# an sRGB-tagged image, a gamma-only image, and an ICC-profiled image
# need different transforms, and the facts live in container metadata
# (PNG 1.2 gAMA/sRGB/iCCP chunks; ICC.1 "ICC_PROFILE" APP2 segments
# and the Adobe APP14 transform byte in JFIF streams).  Probing is a
# chunk/marker walk — no pixel decode, no profile parse beyond size.

def png_add_color_chunks(
    data: bytes,
    *,
    gamma_micro: int | None = None,
    srgb_intent: int | None = None,
    icc_name: str | None = None,
    icc_profile: bytes | None = None,
) -> bytes:
    """Splice gAMA / sRGB / iCCP chunks right after IHDR of an
    existing PNG (fixture writer; CRCs computed properly)."""
    import zlib as _z

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", _z.crc32(tag + payload)))

    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    ihdr_end = 8 + 8 + struct.unpack(">I", data[8:12])[0] + 4
    extra = b""
    if icc_name is not None:
        extra += chunk(
            b"iCCP",
            icc_name.encode("latin-1") + b"\x00\x00"
            + _z.compress(icc_profile or b""),
        )
    if srgb_intent is not None:
        extra += chunk(b"sRGB", bytes([srgb_intent]))
    if gamma_micro is not None:
        extra += chunk(b"gAMA", struct.pack(">I", gamma_micro))
    return data[:ihdr_end] + extra + data[ihdr_end:]


def png_color_probe(data: bytes) -> dict | None:
    """PNG chunk walk → color facts; None if not a PNG."""
    import zlib as _z

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    out = {"gamma_micro": None, "srgb_intent": None,
           "icc_name": None, "icc_size": None}
    p = 8
    while p + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[p:p + 4])
        tag = data[p + 4:p + 8]
        payload = data[p + 8:p + 8 + ln]
        if tag == b"gAMA" and ln == 4:
            out["gamma_micro"] = struct.unpack(">I", payload)[0]
        elif tag == b"sRGB" and ln == 1:
            out["srgb_intent"] = payload[0]
        elif tag == b"iCCP":
            z = payload.find(b"\x00")
            if z > 0 and len(payload) > z + 1:
                out["icc_name"] = payload[:z].decode(
                    "latin-1", errors="replace")
                try:
                    # bounded: report at most 16 MiB (real ICC profiles
                    # are <= a few MB; a zlib bomb stops at the cap)
                    out["icc_size"] = len(
                        _z.decompressobj().decompress(
                            payload[z + 2:], 1 << 24))
                except _z.error:
                    out["icc_size"] = None
        elif tag == b"IEND":
            break
        p += 8 + ln + 4
    return out


def jpeg_add_icc(
    data: bytes,
    profile: bytes | None,
    *,
    chunk_size: int = 65519 - 14,
    adobe_transform: int | None = None,
) -> bytes:
    """Splice ICC_PROFILE APP2 segment(s) (and optionally an Adobe
    APP14) right after SOI; multi-segment split per ICC.1 Annex B.
    ``profile=None`` writes no APP2 (Adobe-only streams exist)."""
    assert data[:2] == b"\xff\xd8"
    segs = b""
    if profile is not None:
        chunks = [profile[i:i + chunk_size]
                  for i in range(0, len(profile), chunk_size)] or [b""]
        for i, c in enumerate(chunks):
            payload = (b"ICC_PROFILE\x00"
                       + bytes([i + 1, len(chunks)]) + c)
            segs += b"\xff\xe2" + struct.pack(">H", len(payload) + 2) \
                + payload
    if adobe_transform is not None:
        payload = (b"Adobe" + b"\x00\x64\x00\x00\x00\x00"
                   + bytes([adobe_transform]))
        segs += b"\xff\xee" + struct.pack(">H", len(payload) + 2) \
            + payload
    return data[:2] + segs + data[2:]


def jpeg_color_probe(data: bytes) -> dict | None:
    """JPEG marker walk → ICC/Adobe color facts; None if not JPEG.
    Multi-segment ICC payloads are reassembled in sequence order."""
    if data[:2] != b"\xff\xd8":
        return None
    icc_parts: dict[int, bytes] = {}
    adobe = None
    p = 2
    while p + 4 <= len(data):
        if data[p] != 0xFF:
            break
        # ITU T.81 B.1.1.2: markers may be preceded by 0xFF fill bytes
        while p + 1 < len(data) and data[p + 1] == 0xFF:
            p += 1
        if p + 4 > len(data):  # fill run reached the buffer end
            break
        marker = data[p + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            p += 2
            continue
        if marker == 0xD9 or marker == 0xDA:
            break  # EOI / entropy-coded data starts
        (ln,) = struct.unpack(">H", data[p + 2:p + 4])
        payload = data[p + 4:p + 2 + ln]
        if marker == 0xE2 and payload[:12] == b"ICC_PROFILE\x00" \
                and len(payload) >= 14:
            icc_parts[payload[12]] = payload[14:]
        elif marker == 0xEE and payload[:5] == b"Adobe" \
                and len(payload) >= 12:
            adobe = payload[11]
        p += 2 + ln
    icc = b"".join(icc_parts[k] for k in sorted(icc_parts)) \
        if icc_parts else None
    return {
        "icc_size": len(icc) if icc is not None else None,
        "icc_segments": len(icc_parts) if icc_parts else None,
        "adobe_transform": adobe,
    }


# --------------------------------------------------------------------------
# Payload integrity verification (truncation / corruption gates)
# --------------------------------------------------------------------------
#
# Interrupted transfers and bit-rot make corrupt payloads a constant
# of crawl data; a pipeline must cheaply split "decodes cleanly" from
# "truncated" from "corrupt" BEFORE paying decode cost.  Each verifier
# checks container-level invariants only: PNG per-chunk CRC-32 +
# chunk-bounds + IEND, JPEG SOI→SOS marker walk + EOI trailer, GIF
# header + block walk to the 0x3B trailer.

def png_verify(data: bytes) -> dict:
    """PNG container integrity: per-chunk CRC, bounds, IEND."""
    import zlib as _z

    out = {"is_png": False, "truncated": False, "bad_crc": 0,
           "has_end": False}
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return out
    out["is_png"] = True
    p = 8
    while True:
        if p == len(data):
            break  # clean end (has_end says whether IEND was seen)
        if p + 8 > len(data):
            out["truncated"] = True
            break
        (ln,) = struct.unpack(">I", data[p:p + 4])
        tag = data[p + 4:p + 8]
        if p + 8 + ln + 4 > len(data):
            out["truncated"] = True
            break
        body = data[p + 8:p + 8 + ln]
        (crc,) = struct.unpack(">I", data[p + 8 + ln:p + 12 + ln])
        if _z.crc32(tag + body) != crc:
            out["bad_crc"] += 1
        if tag == b"IEND":
            out["has_end"] = True
            break
        p += 12 + ln
    return out


def jpeg_verify(data: bytes) -> dict:
    """JPEG stream integrity: SOI, marker walk to SOS, EOI trailer."""
    out = {"is_jpeg": False, "truncated": False, "has_end": False}
    if data[:2] != b"\xff\xd8":
        return out
    out["is_jpeg"] = True
    p = 2
    while p + 4 <= len(data):
        if data[p] != 0xFF:
            out["truncated"] = True
            return out
        # ITU T.81 B.1.1.2: markers may be preceded by 0xFF fill bytes
        while p + 1 < len(data) and data[p + 1] == 0xFF:
            p += 1
        if p + 4 > len(data):  # fill run reached the buffer end
            out["truncated"] = True
            return out
        marker = data[p + 1]
        if marker == 0xDA:  # SOS: entropy data until EOI
            out["has_end"] = data.rstrip(b"\x00")[-2:] == b"\xff\xd9"
            out["truncated"] = not out["has_end"]
            return out
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            p += 2
            continue
        (ln,) = struct.unpack(">H", data[p + 2:p + 4])
        if p + 2 + ln > len(data):
            out["truncated"] = True
            return out
        p += 2 + ln
    out["truncated"] = True
    return out


def gif_verify(data: bytes) -> dict:
    """GIF container integrity: header, block walk, 0x3B trailer."""
    out = {"is_gif": False, "truncated": False, "has_end": False}
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return out
    out["is_gif"] = True
    if len(data) < 13:
        out["truncated"] = True
        return out
    flags = data[10]
    p = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)

    def skip_subblocks(q: int) -> int | None:
        while True:
            if q >= len(data):
                return None
            sz = data[q]
            q += 1
            if sz == 0:
                return q
            q += sz

    while p < len(data):
        b = data[p]
        if b == 0x3B:
            out["has_end"] = True
            return out
        if b == 0x21:  # extension
            if p + 2 > len(data):
                break
            q = skip_subblocks(p + 2)
            if q is None:
                break
            p = q
        elif b == 0x2C:  # image descriptor
            if p + 10 > len(data):
                break
            lflags = data[p + 9]
            q = p + 10 + (3 * (2 << (lflags & 7))
                          if lflags & 0x80 else 0)
            if q + 1 > len(data):
                break
            q = skip_subblocks(q + 1)  # skip LZW min-code byte
            if q is None:
                break
            p = q
        else:
            out["truncated"] = True
            return out
    out["truncated"] = True
    return out


# --------------------------------------------------------------------------
# ID3v2 tag mining (the audio caption channel)
# --------------------------------------------------------------------------
#
# For crawled audio, the caption-grade text (title/artist/album) rides
# in the ID3v2 header that mp3_probe length-skips.  Implemented from
# the public id3v2.3/2.4 specs: syncsafe tag size, 10-byte frame
# headers (v2.4 frame sizes syncsafe, v2.3 plain big-endian), text
# frames ('T***') with the 4 published encodings (latin-1, UTF-16
# with BOM, UTF-16BE, UTF-8), NUL-terminator strip.

_ID3_TEXT = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])


def id3v2_write(tags: dict[str, str], *, version: int = 3,
                encoding: int = 3) -> bytes:
    """Deterministic ID3v2.3/2.4 tag block (prepend to an MP3).
    ``encoding`` picks the text-frame encoding byte; v2.3 streams
    use encoding 0/1 only (2/3 are v2.4 additions, enforced)."""
    if version == 3 and encoding not in (0, 1):
        raise ValueError("id3v2.3 allows encodings 0/1 only")
    frames = b""
    for fid, text in sorted(tags.items()):
        enc = _ID3_TEXT[encoding]
        payload = bytes([encoding]) + text.encode(enc) + (
            b"\x00\x00" if encoding in (1, 2) else b"\x00")
        size = (_syncsafe(len(payload)) if version == 4
                else struct.pack(">I", len(payload)))
        frames += fid.encode("latin-1") + size + b"\x00\x00" + payload
    return (b"ID3" + bytes([version, 0, 0]) + _syncsafe(len(frames))
            + frames)


def id3v2_tags(data: bytes) -> dict | None:
    """Text frames from a leading ID3v2 block; None when absent.
    Returns {frame_id: text} plus ``_version``."""
    if data[:3] != b"ID3" or len(data) < 10:
        return None
    version = data[3]
    if version not in (2, 3, 4):
        return None
    size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
    end = min(10 + size, len(data))
    out: dict = {"_version": version}
    p = 10
    # v2.2 frames use a 6-byte header (3-byte ID, 3-byte big-endian
    # size, no flags); v2.3/v2.4 use 10 bytes (4-byte ID, 4-byte
    # size — syncsafe only in v2.4 — 2 flag bytes).
    hdr = 6 if version == 2 else 10
    while p + hdr <= end:
        fid = data[p:p + (3 if version == 2 else 4)]
        if not fid.strip(b"\x00"):
            break  # padding
        if version == 2:
            fsize = int.from_bytes(data[p + 3:p + 6], "big")
        elif version == 4:
            fsize = ((data[p + 4] & 0x7F) << 21
                     | (data[p + 5] & 0x7F) << 14
                     | (data[p + 6] & 0x7F) << 7
                     | (data[p + 7] & 0x7F))
        else:
            (fsize,) = struct.unpack(">I", data[p + 4:p + 8])
        body = data[p + hdr:p + hdr + fsize]
        if fid[:1] == b"T" and body:
            enc = _ID3_TEXT.get(body[0])
            if enc is not None:
                try:
                    text = body[1:].decode(enc)
                except UnicodeDecodeError:
                    text = None
                if text is not None:
                    out[fid.decode("latin-1")] = text.rstrip("\x00")
        p += hdr + fsize
    return out


# --------------------------------------------------------------------------
# Vorbis/Opus comment mining (the Ogg caption channel)
# --------------------------------------------------------------------------
#
# Same role as ID3v2 for MP3: TITLE/ARTIST/ALBUM ride the second
# header packet — Vorbis I §5 comment header ("\x03vorbis") or RFC
# 7845 §5.2 OpusTags — as length-prefixed UTF-8 "KEY=value" strings
# with case-insensitive keys.

def ogg_write_tagged(
    codec: str,
    rate: int,
    channels: int,
    granule_end: int,
    comments: dict[str, str],
    *,
    vendor: str = "fixture",
    serial: int = 0x1234,
) -> bytes:
    """Like :func:`ogg_write` but with a real comment header on page
    1 (sorted keys for determinism)."""
    base = ogg_write(codec, rate, channels, granule_end, serial=serial)
    items = [f"{k}={v}".encode() for k, v in sorted(comments.items())]
    body = (struct.pack("<I", len(vendor)) + vendor.encode()
            + struct.pack("<I", len(items))
            + b"".join(struct.pack("<I", len(i)) + i for i in items))
    if codec == "vorbis":
        pkt = b"\x03vorbis" + body + b"\x01"  # framing bit
    elif codec == "opus":
        pkt = b"OpusTags" + body
    else:
        raise ValueError(codec)
    # splice as a new page seq 1, bumping later page sequence numbers
    pages = []
    off = 0
    while off + 27 <= len(base):
        nseg = base[off + 26]
        body_len = sum(base[off + 27:off + 27 + nseg])
        end = off + 27 + nseg + body_len
        pages.append(base[off:end])
        off = end
    out = pages[0] + _ogg_page(serial, 1, 0, pkt)
    for i, pg in enumerate(pages[1:], start=2):
        granule = struct.unpack_from("<q", pg, 6)[0]
        flags = pg[5]
        seg0 = 27 + pg[26]
        out += _ogg_page(serial, i, granule, pg[seg0:], flags=flags)
    return out


def ogg_comments(data: bytes) -> dict | None:
    """Comment header fields from an Ogg stream: walks CRC-validated
    pages for the "\\x03vorbis" / "OpusTags" packet and returns
    {vendor, comments: {UPPER_KEY: value}} (keys case-folded per the
    spec, first occurrence wins).  None when no comment header."""
    off, n = 0, len(data)
    while off + 27 <= n:
        if data[off:off + 4] != b"OggS":
            break
        nseg = data[off + 26]
        if off + 27 + nseg > n:
            break
        body_len = sum(data[off + 27:off + 27 + nseg])
        end = off + 27 + nseg + body_len
        if end > n:
            break
        body = data[off + 27 + nseg:end]
        hdr = None
        if body.startswith(b"\x03vorbis"):
            hdr = body[7:]
        elif body.startswith(b"OpusTags"):
            hdr = body[8:]
        if hdr is not None:
            try:
                (vlen,) = struct.unpack_from("<I", hdr, 0)
                vendor = hdr[4:4 + vlen].decode("utf-8")
                p = 4 + vlen
                (cnt,) = struct.unpack_from("<I", hdr, p)
                p += 4
                comments: dict[str, str] = {}
                for _ in range(cnt):
                    (ln,) = struct.unpack_from("<I", hdr, p)
                    p += 4
                    item = hdr[p:p + ln].decode("utf-8")
                    p += ln
                    if "=" in item:
                        k, v = item.split("=", 1)
                        comments.setdefault(k.upper(), v)
                return {"vendor": vendor, "comments": comments}
            except (struct.error, UnicodeDecodeError):
                return None
        off = end
    return None
