"""Container metadata probes: ISO-BMFF (MP4) box walk and MPEG
Layer-III frame walk — writer/prober round trips, malformed-stream
degradation, and the Spark stage contract."""

import pytest

from mechaml_spark import mediaprobe as mp


# --------------------------------------------------------------------------
# MP4
# --------------------------------------------------------------------------

def test_mp4_roundtrip_video_only():
    data = mp.mp4_write(640, 360, 12345, video_codec=b"hev1")
    r = mp.mp4_probe(data)
    assert r["brand"] == "isom"
    assert r["duration_ms"] == 12345
    assert r["n_tracks"] == 1
    assert r["video_codec"] == "hev1"
    assert (r["width"], r["height"]) == (640, 360)
    assert r["audio_codec"] is None and r["audio_rate"] is None


def test_mp4_roundtrip_with_audio_track():
    data = mp.mp4_write(1920, 1080, 60000, audio=(b"mp4a", 48000))
    r = mp.mp4_probe(data)
    assert r["n_tracks"] == 2
    assert (r["width"], r["height"]) == (1920, 1080)
    assert r["video_codec"] == "avc1"
    assert r["audio_codec"] == "mp4a"
    assert r["audio_rate"] == 48000


def test_mp4_largesize_and_uuid_boxes():
    import struct
    data = mp.mp4_write(320, 240, 777, largesize_mdat=True)
    # prepend a uuid box the walker must skip over
    uuid_box = struct.pack(">I", 8 + 16 + 4) + b"uuid" + b"\xAA" * 16 + b"junk"
    r = mp.mp4_probe(uuid_box + data)
    assert r["duration_ms"] == 777 and (r["width"], r["height"]) == (320, 240)


def test_mp4_truncated_and_garbage():
    data = mp.mp4_write(64, 64, 1000)
    assert mp.mp4_probe(data[:20]) is None            # moov cut off
    assert mp.mp4_probe(b"\x00" * 40) is None
    assert mp.mp4_probe(b"") is None


def test_mp4_mvhd_version1():
    # hand-build a v1 mvhd (64-bit duration) inside a minimal moov
    import struct
    mvhd_payload = (
        struct.pack(">I", 1 << 24)
        + struct.pack(">QQIQ", 0, 0, 90000, 90000 * 42)  # 42 s
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_payload)) + b"mvhd" + mvhd_payload
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    r = mp.mp4_probe(ftyp + moov)
    assert r["duration_ms"] == 42000 and r["n_tracks"] == 0


# --------------------------------------------------------------------------
# MP3
# --------------------------------------------------------------------------

def test_mp3_cbr_roundtrip():
    data = mp.mp3_write(100, bitrate_idx=9, sr_idx=0)   # 128 kbps, 44.1 kHz
    r = mp.mp3_probe(data)
    assert r["n_frames"] == 100
    assert r["audio_rate"] == 44100
    assert r["bitrate_kbps"] == 128 and r["cbr"] is True
    assert r["duration_ms"] == 100 * 1152 * 1000 // 44100


def test_mp3_id3v2_and_id3v1_skipped():
    data = mp.mp3_write(40, bitrate_idx=5, sr_idx=1,
                        id3v2_size=321, id3v1=True)
    r = mp.mp3_probe(data)
    assert r["n_frames"] == 40 and r["audio_rate"] == 48000
    assert r["bitrate_kbps"] == 64


def test_mp3_mpeg2_layer3():
    data = mp.mp3_write(30, bitrate_idx=4, sr_idx=2, version=2)
    r = mp.mp3_probe(data)  # MPEG-2: 16 kHz, 32 kbps, 576 samples/frame
    assert r["audio_rate"] == 16000
    assert r["bitrate_kbps"] == 32
    assert r["duration_ms"] == 30 * 576 * 1000 // 16000


def test_mp3_vbr_detection():
    data = mp.mp3_write(60, bitrate_idx=5, sr_idx=0, vbr_step=2)
    r = mp.mp3_probe(data)
    assert r["cbr"] is False
    assert r["n_frames"] == 60
    # average of the header rates, weighted by frame bytes
    assert 64 < r["bitrate_kbps"] < 160


def test_mp3_bad_sync_stops_cleanly():
    good = mp.mp3_write(10)
    r = mp.mp3_probe(good + b"\x00\x00\x00\x00" + mp.mp3_write(10))
    assert r["n_frames"] == 10                           # stops at junk
    assert mp.mp3_probe(b"\x12\x34" * 50) is None
    assert mp.mp3_probe(b"") is None


# --------------------------------------------------------------------------
# Spark stage
# --------------------------------------------------------------------------

def test_probe_media_stage(spark):
    rows = [
        (0, mp.mp4_write(640, 480, 5000), "mp4"),
        (1, mp.mp3_write(50, bitrate_idx=11, sr_idx=1), "mp3"),
        (2, None, "mp4"),
        (3, b"not a container", "mp3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, bytes binary, fmt string")
    out = {
        r["doc_id"]: r["probe"]
        for r in mp.probe_media(df).select("doc_id", "probe").collect()
    }
    assert out[0]["ok"] and out[0]["container"] == "mp4"
    assert out[0]["width"] == 640 and out[0]["duration_ms"] == 5000
    assert out[1]["ok"] and out[1]["bitrate_kbps"] == 192
    assert out[1]["audio_rate"] == 48000
    assert not out[2]["ok"] and not out[3]["ok"]


def test_probe_media_unknown_container_raises(spark):
    df = spark.createDataFrame(
        [(0, b"x", "rm")], "doc_id long, bytes binary, fmt string"
    )
    with pytest.raises(Exception, match="NotImplementedError|rm"):
        mp.probe_media(df).collect()


# --------------------------------------------------------------------------
# Ogg
# --------------------------------------------------------------------------

def test_ogg_vorbis_roundtrip():
    data = mp.ogg_write("vorbis", 44100, 2, granule_end=44100 * 7)
    r = mp.ogg_probe(data)
    assert r["audio_codec"] == "vorbis"
    assert r["audio_rate"] == 44100
    assert r["duration_ms"] == 7000
    assert r["n_tracks"] == 1


def test_ogg_opus_preskip_duration():
    # RFC 7845: granule is 48 kHz samples INCLUDING preskip
    data = mp.ogg_write("opus", 48000, 2,
                        granule_end=312 + 960 * 50, preskip=312)
    r = mp.ogg_probe(data)
    assert r["audio_codec"] == "opus"
    assert r["audio_rate"] == 48000
    assert r["duration_ms"] == 960 * 50 * 1000 // 48000  # 1000 ms


def test_ogg_crc_validated():
    data = bytearray(mp.ogg_write("vorbis", 8000, 1, granule_end=8000))
    # corrupt one payload byte of the SECOND page: walk stops there,
    # duration falls back to the granules seen so far (BOS = 0)
    first_end = 27 + data[26] + sum(data[27:27 + data[26]])
    data[first_end + 40] ^= 0xFF
    r = mp.ogg_probe(bytes(data))
    assert r is not None and r["duration_ms"] == 0
    assert mp.ogg_probe(b"OggR" + bytes(60)) is None


def test_ogg_multi_stream_track_count():
    a = mp.ogg_write("vorbis", 32000, 1, granule_end=32000, serial=1)
    b = mp.ogg_write("opus", 48000, 2, granule_end=9600, serial=2)
    r = mp.ogg_probe(a + b)
    assert r["n_tracks"] == 2
    assert r["audio_codec"] == "vorbis"      # first logical stream wins
    assert r["duration_ms"] == 1000


def test_probe_media_routes_ogg(spark):
    df = spark.createDataFrame(
        [(0, mp.ogg_write("opus", 48000, 2, granule_end=312 + 4800), "opus")],
        "doc_id long, bytes binary, fmt string",
    )
    [row] = mp.probe_media(df).select("probe").collect()
    assert row["probe"]["ok"] and row["probe"]["audio_codec"] == "opus"
    assert row["probe"]["duration_ms"] == 100


# --------------------------------------------------------------------------
# FLAC
# --------------------------------------------------------------------------

def test_flac_streaminfo_roundtrip():
    data = mp.flac_write(96000, 2, total_samples=96000 * 11 + 4800)
    r = mp.flac_probe(data)
    assert r["audio_codec"] == "flac" and r["audio_rate"] == 96000
    assert r["duration_ms"] == 11050
    data2 = mp.flac_write(44100, 1, total_samples=44100, n_padding=100)
    assert mp.flac_probe(data2)["duration_ms"] == 1000  # padding walked
    assert mp.flac_probe(b"fLaX" + bytes(40)) is None
    assert mp.flac_probe(data[:20]) is None             # truncated block


# --------------------------------------------------------------------------
# Matroska / WebM
# --------------------------------------------------------------------------

def test_mkv_roundtrip_video_and_audio():
    data = mp.mkv_write(
        90210, doctype="webm", video=("V_VP9", 1280, 720),
        audio=("A_OPUS", 48000, 2),
    )
    r = mp.mkv_probe(data)
    assert r["brand"] == "webm" and r["container"] == "mkv"
    assert r["duration_ms"] == 90210
    assert r["n_tracks"] == 2
    assert r["video_codec"] == "V_VP9"
    assert (r["width"], r["height"]) == (1280, 720)
    assert r["audio_codec"] == "A_OPUS" and r["audio_rate"] == 48000


def test_mkv_timecode_scale():
    # 1-us ticks: Duration value is in us; probe must rescale to ms
    data = mp.mkv_write(5000_000, doctype="matroska",
                        video=None, audio=("A_FLAC", 44100, 1),
                        timescale=1_000)
    r = mp.mkv_probe(data)
    assert r["duration_ms"] == 5000
    assert r["video_codec"] is None and r["audio_codec"] == "A_FLAC"


def test_mkv_garbage_and_truncation():
    assert mp.mkv_probe(b"\x00" * 30) is None
    good = mp.mkv_write(1000)
    assert mp.mkv_probe(good[:10]) is None  # header cut off -> no magic


def test_probe_media_routes_flac_and_webm(spark):
    rows = [
        (0, mp.flac_write(48000, 2, 48000 * 3), "flac"),
        (1, mp.mkv_write(7500, video=("V_AV1", 320, 180)), "webm"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, bytes binary, fmt string")
    out = {r["doc_id"]: r["probe"]
           for r in mp.probe_media(df).select("doc_id", "probe").collect()}
    assert out[0]["duration_ms"] == 3000 and out[0]["container"] == "flac"
    assert out[1]["video_codec"] == "V_AV1" and out[1]["brand"] == "webm"


# ------------------------------------------------- modern image containers

def test_avif_probe_roundtrip():
    from mechaml_spark import mediaprobe as mp

    r = mp.avif_probe(mp.avif_write(1920, 1080))
    assert (r["container"], r["brand"], r["video_codec"]) == (
        "avif", "avif", "av01"
    )
    assert (r["width"], r["height"]) == (1920, 1080)
    assert mp.avif_probe(b"\x00\x00\x00\x08free") is None  # no ftyp


def test_webp_probe_all_three_layouts():
    import numpy as np

    from mechaml_spark import mediaprobe as mp
    from mechaml_spark import webp

    lossy = mp.webp_probe(mp.webp_write_lossy(640, 480))
    assert (lossy["video_codec"], lossy["width"], lossy["height"]) == (
        "vp8", 640, 480
    )
    lossless = mp.webp_probe(webp.webp_encode(
        np.zeros((7, 5, 3), dtype=np.uint8)
    ))
    assert (lossless["video_codec"], lossless["width"],
            lossless["height"]) == ("vp8l", 5, 7)
    # VP8X extended header: 24-bit minus-one canvas dims
    vp8x = (b"RIFF" + (4 + 8 + 10).to_bytes(4, "little") + b"WEBP"
            + b"VP8X" + (10).to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + (15999).to_bytes(3, "little") + (8999).to_bytes(3, "little"))
    r = mp.webp_probe(vp8x)
    assert (r["video_codec"], r["width"], r["height"]) == (
        "vp8x", 16000, 9000
    )
    assert mp.webp_probe(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_jxl_probe_bare_and_container():
    from mechaml_spark import mediaprobe as mp

    r = mp.jxl_probe(mp.jxl_write(256, 64))
    assert (r["brand"], r["width"], r["height"]) == ("bare", 256, 64)
    sig = b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a"
    ftyp = (20).to_bytes(4, "big") + b"ftyp" + b"jxl " + b"\x00" * 4 + b"jxl "
    r = mp.jxl_probe(sig + ftyp)
    assert (r["container"], r["brand"], r["width"]) == ("jxl", "jxl", None)
    import pytest

    with pytest.raises(ValueError):
        mp.jxl_write(100, 8)  # not a multiple of 8


def test_anim_probes_no_decode():
    import numpy as np

    from mechaml_spark import imaging, webp
    from mechaml_spark import mediaprobe as mp

    frames = [np.full((6, 4, 3), v, np.uint8) for v in (10, 200, 90)]
    gif = imaging.gif_encode_animated(frames, [120, 80, 50])
    assert mp.gif_anim_probe(gif) == {
        "w": 4, "h": 6, "n_frames": 3, "total_ms": 250, "loop": None
    }
    # a still GIF is one zero-delay frame
    assert mp.gif_anim_probe(imaging.gif_encode(frames[0]))[
        "n_frames"
    ] == 1

    full = np.empty((4, 4, 4), np.uint8)
    full[..., :3] = 5
    full[..., 3] = 255
    apng = imaging.apng_encode_ext(4, 4, [
        {"x": 0, "y": 0, "px": full, "delay_ms": 100},
        {"x": 0, "y": 0, "px": full, "delay_ms": 250},
    ], num_plays=3)
    assert mp.apng_anim_probe(apng) == {
        "w": 4, "h": 4, "n_frames": 2, "total_ms": 350, "loop": 3
    }
    still = mp.apng_anim_probe(imaging.png_encode(frames[0]))
    assert still["n_frames"] == 1 and still["loop"] is None

    anim = webp.webp_encode_anim(
        [(120, 0, 0, np.full((4, 4, 3), 9, np.uint8), False, False),
         (80, 0, 0, np.full((4, 4, 3), 8, np.uint8), False, False)],
        canvas_wh=(4, 4), loop=5,
    )
    assert mp.webp_anim_probe(anim) == {
        "w": 4, "h": 4, "n_frames": 2, "total_ms": 200, "loop": 5
    }
    ws = mp.webp_anim_probe(
        webp.webp_encode(np.full((3, 7, 3), 1, np.uint8))
    )
    assert (ws["w"], ws["h"], ws["n_frames"]) == (7, 3, 1)

    for probe in (mp.gif_anim_probe, mp.apng_anim_probe,
                  mp.webp_anim_probe):
        assert probe(b"not media") is None


def test_png_color_chunks_roundtrip():
    import numpy as np

    from mechaml_spark import imaging
    from mechaml_spark import mediaprobe as mp

    png = imaging.png_encode(np.zeros((4, 6, 3), np.uint8))
    tagged = mp.png_add_color_chunks(
        png, gamma_micro=45455, srgb_intent=3,
        icc_name="nice profile", icc_profile=b"\x01" * 517)
    got = mp.png_color_probe(tagged)
    assert got == {"gamma_micro": 45455, "srgb_intent": 3,
                   "icc_name": "nice profile", "icc_size": 517}
    # spliced chunks keep the stream decodable
    assert imaging.png_decode(tagged).shape == (4, 6, 3)
    # untagged stream: all None
    assert mp.png_color_probe(png) == {
        "gamma_micro": None, "srgb_intent": None,
        "icc_name": None, "icc_size": None}
    assert mp.png_color_probe(b"notapng") is None


def test_jpeg_icc_multisegment_reassembly():
    import numpy as np

    from mechaml_spark import jpeg
    from mechaml_spark import mediaprobe as mp

    j = jpeg.jpeg_encode(np.zeros((8, 8, 3), np.uint8), 90)
    big = b"\x02" * 100000  # > 65505 -> 2 APP2 segments
    tagged = mp.jpeg_add_icc(j, big, adobe_transform=2)
    got = mp.jpeg_color_probe(tagged)
    assert got == {"icc_size": 100000, "icc_segments": 2,
                   "adobe_transform": 2}
    assert jpeg.jpeg_decode(tagged).shape == (8, 8, 3)
    # Adobe-only stream (profile=None): no APP2 at all
    adobe_only = mp.jpeg_add_icc(j, None, adobe_transform=1)
    assert mp.jpeg_color_probe(adobe_only) == {
        "icc_size": None, "icc_segments": None, "adobe_transform": 1}
    assert mp.jpeg_color_probe(j)["icc_size"] is None
    assert mp.jpeg_color_probe(b"\x00\x01") is None


def test_integrity_verifiers():
    import numpy as np

    from mechaml_spark import imaging, jpeg
    from mechaml_spark import mediaprobe as mp

    px = np.full((6, 8, 3), 77, np.uint8)
    png, j, g = (imaging.png_encode(px), jpeg.jpeg_encode(px, 90),
                 imaging.gif_encode(px))
    assert mp.png_verify(png) == {"is_png": True, "truncated": False,
                                  "bad_crc": 0, "has_end": True}
    assert mp.jpeg_verify(j) == {"is_jpeg": True, "truncated": False,
                                 "has_end": True}
    assert mp.gif_verify(g) == {"is_gif": True, "truncated": False,
                                "has_end": True}
    # tail truncation always detected
    for data, fn in ((png, mp.png_verify), (j, mp.jpeg_verify),
                     (g, mp.gif_verify)):
        got = fn(data[:-7])
        assert got["truncated"] is True and got["has_end"] is False
    # PNG: single flipped IDAT byte -> exactly one bad CRC, stream
    # still walks to IEND
    b = bytearray(png)
    b[45] ^= 0xFF
    got = mp.png_verify(bytes(b))
    assert got == {"is_png": True, "truncated": False, "bad_crc": 1,
                   "has_end": True}
    # JPEG: stripped EOI reads as truncation
    got = mp.jpeg_verify(j[:-2])
    assert got["truncated"] is True and got["has_end"] is False
    # non-members
    assert mp.png_verify(b"x")["is_png"] is False
    assert mp.jpeg_verify(b"x")["is_jpeg"] is False
    assert mp.gif_verify(b"x")["is_gif"] is False


def test_id3v2_versions_and_encodings():
    from mechaml_spark import mediaprobe as mp

    tags = {"TIT2": "Tïtle – 1", "TPE1": "Ärtist", "TALB": "Al–bum"}
    for ver, enc in ((3, 0), (3, 1), (4, 2), (4, 3)):
        if ver == 3 and enc == 0:
            use = {k: v.replace("–", "-") for k, v in tags.items()}
        else:
            use = tags
        blob = mp.id3v2_write(use, version=ver, encoding=enc)
        got = mp.id3v2_tags(blob + mp.mp3_write(4))
        assert got["_version"] == ver
        for k, v in use.items():
            assert got[k] == v
    # v2.3 rejects v2.4-only encodings
    import pytest

    with pytest.raises(ValueError):
        mp.id3v2_write({"TIT2": "x"}, version=3, encoding=3)
    # the stream behind the tag still probes
    pr = mp.mp3_probe(mp.id3v2_write({"TIT2": "x"}, version=4,
                                     encoding=3) + mp.mp3_write(4))
    assert pr["n_frames"] == 4
    assert mp.id3v2_tags(b"not mp3") is None
    assert mp.id3v2_tags(mp.mp3_write(2)) is None


def test_mkv_blocks_clusters_groups_and_lacing():
    """WebM Cluster expansion (the mp4_samples twin): SimpleBlock
    keyframe flags, BlockGroup keyframe-iff-no-ReferenceBlock, all
    three lacing modes with per-lace byte ranges, and cluster+relative
    timecode composition — every (offset, size) must slice exactly
    the written frame payload out of the file."""
    from mechaml_spark import mediaprobe as mp

    payloads = [b"A" * 20, b"B" * 33, b"C" * 15, b"D" * 40]
    clusters = [
        (0, [
            {"track": 1, "rel_tc": 0, "keyframe": True,
             "payload": payloads[0]},
            {"track": 1, "rel_tc": 40, "keyframe": False,
             "payload": payloads[1]},
            {"track": 1, "rel_tc": 80, "keyframe": False,
             "payload": payloads[2], "group": True},
        ]),
        (1000, [
            {"track": 1, "rel_tc": 0, "keyframe": True,
             "payload": payloads[3], "group": True},
            {"track": 2, "rel_tc": -8, "keyframe": False,
             "lacing": ("xiph", [b"x" * 7, b"y" * 300, b"z" * 5])},
            {"track": 2, "rel_tc": 12, "keyframe": False,
             "lacing": ("fixed", [b"p" * 9, b"q" * 9, b"r" * 9])},
            {"track": 2, "rel_tc": 20, "keyframe": False,
             "lacing": ("ebml", [b"k" * 30, b"l" * 12, b"m" * 44])},
        ]),
    ]
    data = mp.mkv_write_clusters(clusters)
    rows = mp.mkv_blocks(data)
    assert len(rows) == 4 + 9  # 4 plain/group + 3 lanes x 3 laced
    # every row slices its exact payload
    expected = (
        payloads
        + [b"x" * 7, b"y" * 300, b"z" * 5]
        + [b"p" * 9, b"q" * 9, b"r" * 9]
        + [b"k" * 30, b"l" * 12, b"m" * 44]
    )
    for r, exp in zip(rows, expected):
        assert data[r["offset"]:r["offset"] + r["size"]] == exp
    # keyframes: SimpleBlock flag for rows 0/1, group ref-absence
    # for rows 2/3; negative relative timecode composes signed
    assert [r["keyframe"] for r in rows[:4]] == [True, False, False, True]
    assert rows[4]["timecode"] == 992  # 1000 - 8
    assert {r["lace"] for r in rows[4:7]} == {0, 1, 2}
    # the probe still reads the same stream's metadata
    probe = mp.mkv_probe(data)
    assert probe["video_codec"] == "V_VP9"
    assert mp.mkv_blocks(b"not ebml") is None


def test_mp3_frames_byte_ranges():
    """Per-frame MP3 byte ranges: contiguous, header-sync'd, sized by
    the 144*br*1000//sr+pad formula, ID3v2/ID3v1 skipped; agrees with
    mp3_probe's frame count."""
    from mechaml_spark import mediaprobe as mp

    data = mp.mp3_write(5, bitrate_idx=9, sr_idx=1, id3v2_size=30,
                        vbr_step=1, id3v1=True)
    rows = mp.mp3_frames(data)
    assert len(rows) == 5 == mp.mp3_probe(data)["n_frames"]
    off = 40  # 10-byte ID3v2 header + 30 payload
    for i, r in enumerate(rows):
        assert r["offset"] == off
        assert data[r["offset"]] == 0xFF  # frame sync at every range
        bi = min(9 + (i % 3), 14)
        want = 144 * mp._BR_V1L3[bi] * 1000 // 48000 + (i % 2)
        assert r["size"] == want and r["padded"] == bool(i % 2)
        off += r["size"]
    assert mp.mp3_frames(b"junk") is None


def test_id3v22_six_byte_frames():
    """ID3v2.2 frames use 6-byte headers (3-byte IDs, 3-byte sizes);
    parsing them with the v2.3 10-byte layout silently drops every
    frame (the round-3 ADVICE finding)."""
    from mechaml_spark import mediaprobe as mp

    def frame22(fid: bytes, text: str) -> bytes:
        body = b"\x00" + text.encode("latin-1") + b"\x00"
        return fid + len(body).to_bytes(3, "big") + body

    frames = frame22(b"TT2", "My Title") + frame22(b"TP1", "Artist")
    size = len(frames)
    blob = (b"ID3" + bytes([2, 0, 0])
            + bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                     (size >> 7) & 0x7F, size & 0x7F]) + frames)
    got = mp.id3v2_tags(blob + mp.mp3_write(3))
    assert got == {"_version": 2, "TT2": "My Title", "TP1": "Artist"}
    # UCS-2 text (encoding 1, the only other v2.2 encoding)
    body = b"\x01" + "Tïtlé".encode("utf-16") + b"\x00\x00"
    f = b"TT2" + len(body).to_bytes(3, "big") + body
    blob = (b"ID3" + bytes([2, 0, 0])
            + bytes([0, 0, len(f) >> 7, len(f) & 0x7F]) + f)
    assert mp.id3v2_tags(blob)["TT2"] == "Tïtlé"


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 B.1.1.2 allows 0xFF fill bytes before any marker;
    padded-but-valid JPEGs must not read as truncated (ADVICE r3)."""
    import numpy as np

    from mechaml_spark import exif, jpeg
    from mechaml_spark import mediaprobe as mp

    j = jpeg.jpeg_encode(np.full((6, 8, 3), 99, np.uint8), 90)
    # inject two fill bytes before the first post-SOI marker
    padded = j[:2] + b"\xff\xff" + j[2:]
    assert mp.jpeg_verify(padded) == {
        "is_jpeg": True, "truncated": False, "has_end": True}
    assert mp.jpeg_color_probe(padded) == mp.jpeg_color_probe(j)
    # the EXIF segment walker takes the same padding in stride
    assert ([m for m, _, _ in exif._iter_jpeg_segments(padded)]
            == [m for m, _, _ in exif._iter_jpeg_segments(j)])


def test_ogg_comment_mining():
    from mechaml_spark import mediaprobe as mp

    for codec in ("vorbis", "opus"):
        data = mp.ogg_write_tagged(
            codec, 48000, 2, 96000,
            {"title": "Sönd", "Artist": "Bänd", "ALBUM": "LP",
             "weird": "a=b=c"})
        got = mp.ogg_comments(data)
        assert got["vendor"] == "fixture"
        # keys case-folded; value split only on the FIRST '='
        assert got["comments"] == {"TITLE": "Sönd", "ARTIST": "Bänd",
                                   "ALBUM": "LP", "WEIRD": "a=b=c"}
        # spliced comment page leaves the probe chain intact
        pr = mp.ogg_probe(data)
        assert pr["audio_codec"] == codec and pr["duration_ms"] > 0
    assert mp.ogg_comments(mp.ogg_write("vorbis", 44100, 1, 10)) is None
    assert mp.ogg_comments(b"zzz") is None


def test_fill_byte_truncation_classified_not_raised():
    """Corrupt streams ending inside a 0xFF fill run must CLASSIFY
    (truncated) in the verifiers and raise ExifError (not IndexError/
    struct.error) in the EXIF walker — review finding r4."""
    import pytest

    from mechaml_spark import exif
    from mechaml_spark import mediaprobe as mp

    for blob in (b"\xff\xd8" + b"\xff" * 5, b"\xff\xd8\xff\xff\xff\xdb"):
        got = mp.jpeg_verify(blob)
        assert got["is_jpeg"] and got["truncated"]
        mp.jpeg_color_probe(blob)  # must not raise
        with pytest.raises(exif.ExifError):
            list(exif._iter_jpeg_segments(blob))


def test_ebml_single_frame_lacing_has_no_size_fields():
    """RFC 9559 §10.3.4: one laced frame -> zero size fields; the
    walker must not consume payload bytes as a phantom size vint and
    must emit exactly one lace row — review finding r4."""
    from mechaml_spark import mediaprobe as mp

    data = mp.mkv_write_clusters([(0, [
        {"track": 1, "rel_tc": 0, "keyframe": True,
         "lacing": ("ebml", [b"Q" * 20])},
        {"track": 1, "rel_tc": 5, "keyframe": False,
         "lacing": ("xiph", [b"R" * 9])},
    ])])
    rows = mp.mkv_blocks(data)
    assert len(rows) == 2
    assert data[rows[0]["offset"]:rows[0]["offset"] + rows[0]["size"]] \
        == b"Q" * 20
    assert data[rows[1]["offset"]:rows[1]["offset"] + rows[1]["size"]] \
        == b"R" * 9


def test_ebml_lace_delta_out_of_range_raises_value_error():
    """The 2-byte signed-vint range guard is a ValueError, not an
    assert, so it still fires under ``python -O``."""
    with pytest.raises(ValueError, match="lace delta"):
        mp.mkv_write_clusters([(0, [
            {"track": 1, "rel_tc": 0, "keyframe": True,
             "lacing": ("ebml", [b"a", b"b" * 0x3000, b"c"])},
        ])])
