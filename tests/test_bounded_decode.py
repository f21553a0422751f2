"""Decompression-bomb and dimension-bomb gates (round-5 hardening).

A crawl decodes hostile bytes.  Two attack classes are pinned here:

* **deflate bombs** — a ~1 KB compressed stream claiming to inflate to
  hundreds of MB must be rejected loudly WITHOUT the allocation
  (``imaging.inflate_bounded`` caps at expected-size + 1 byte);
* **dimension bombs** — a 10^5 x 10^5 header would ask for a 30 GB
  canvas before reading a pixel; ``imaging.pixel_gate`` rejects any
  header whose w*h exceeds ``MAX_PIXELS`` before allocation.

Every rejection must land well under a second (the VERDICT bar is
100 ms for the two headline cases; we assert a loose 1 s so a loaded
CI box can't flake the suite while a multi-GB allocation — hundreds
of ms to seconds + OOM risk — still fails)."""

from __future__ import annotations

import struct
import time
import zlib

import numpy as np
import pytest

from mechaml_spark import imaging, pdfkit
from mechaml_spark.imaging import (
    MAX_PIXELS,
    inflate_bounded,
    pixel_gate,
    png_encode,
    tiff_encode,
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def _timed(fn):
    t0 = time.perf_counter()
    with pytest.raises(ValueError):
        fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- helpers


def test_inflate_bounded_exact_and_bomb():
    payload = b"spam and eggs " * 100
    z = zlib.compress(payload)
    assert inflate_bounded(z, len(payload)) == payload
    # 1 KB in, 50 MB claimed out: rejected, never allocated
    bomb = zlib.compress(b"\x00" * (50 << 20), 9)
    assert len(bomb) < 60_000
    with pytest.raises(ValueError, match="inflates beyond"):
        inflate_bounded(bomb, 1 << 16)


def test_pixel_gate_bounds():
    pixel_gate(8192, 8192)  # 2^26 exactly: allowed
    with pytest.raises(ValueError, match="pixel"):
        pixel_gate(100_000, 100_000)
    with pytest.raises(ValueError):
        pixel_gate(-1, 10)
    assert MAX_PIXELS == 1 << 26


# ---------------------------------------------------------------- PNG


def test_png_dimension_bomb_rejected_fast():
    ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + _chunk(b"IEND", b"")
    )
    took = _timed(lambda: imaging.png_decode(data))
    assert took < 1.0


def test_png_deflate_bomb_rejected():
    # legit 4x4 header, but the IDAT inflates to 32 MB
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (32 << 20), 9)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    took = _timed(lambda: imaging.png_decode(data))
    assert took < 1.0


def test_png_roundtrip_still_exact():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (23, 17, 3), np.uint8)
    assert np.array_equal(imaging.png_decode(png_encode(px)), px)


def test_apng_frame_deflate_bomb_rejected():
    # canvas 4x4, one fcTL frame whose fdAT inflates far beyond the
    # frame region
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    actl = struct.pack(">II", 1, 0)
    fctl = struct.pack(">IIIIIHHBB", 0, 4, 4, 0, 0, 1, 10, 0, 0)
    bomb = zlib.compress(b"\x00" * (16 << 20), 9)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"acTL", actl)
        + _chunk(b"fcTL", fctl)
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    took = _timed(lambda: imaging.apng_decode_frames(data))
    assert took < 1.0


# ---------------------------------------------------------------- GIF/QOI


def test_gif_dimension_bomb_rejected_fast():
    data = b"GIF89a" + struct.pack("<HHBBB", 65_535, 65_535, 0, 0, 0) + b";"
    took = _timed(lambda: imaging.gif_decode_frames(data))
    assert took < 1.0


def test_qoi_dimension_bomb_rejected_fast():
    data = (
        b"qoif"
        + struct.pack(">IIBB", 100_000, 100_000, 4, 0)
        + b"\x00" * 7
        + b"\x01"
    )
    took = _timed(lambda: imaging.qoi_decode(data))
    assert took < 1.0


# ---------------------------------------------------------------- TIFF


def test_tiff_deflate_bomb_strip_rejected():
    # take a valid 4x4 deflate TIFF (single strip, stored last) and
    # swap the strip for a bomb inflating to 32 MB; the per-strip cap
    # (RowsPerStrip * stride = 48 bytes) fires without allocating
    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    good = tiff_encode(px, compression=8)
    good_strip = zlib.compress(px.reshape(4, 12).tobytes(), 6)
    assert good.endswith(good_strip)
    bomb = zlib.compress(b"\x00" * (32 << 20), 9)
    data = bytearray(good[: -len(good_strip)] + bomb)
    # patch StripByteCounts (tag 279, LONG, count 1) to the bomb's size
    i = data.index(struct.pack("<HHI", 279, 4, 1))
    data[i + 8 : i + 12] = struct.pack("<I", len(bomb))
    took = _timed(lambda: imaging.tiff_decode(bytes(data)))
    assert took < 1.0


def test_tiff_rows_per_strip_clamped_to_height():
    # the same bomb strip, but RowsPerStrip declared as 0xFFFFFFFF: the
    # per-strip cap must come from the image height, not the tag
    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    good = tiff_encode(px, compression=8)
    good_strip = zlib.compress(px.reshape(4, 12).tobytes(), 6)
    bomb = zlib.compress(b"\x00" * (32 << 20), 9)
    data = bytearray(good[: -len(good_strip)] + bomb)
    for tag, val in ((279, len(bomb)), (278, 0xFFFFFFFF)):
        i = data.index(struct.pack("<HHI", tag, 4, 1))
        data[i + 8 : i + 12] = struct.pack("<I", val)
    took = _timed(lambda: imaging.tiff_decode(bytes(data)))
    assert took < 1.0


def test_tiff_dimension_bomb_rejected_fast():
    px = np.zeros((2, 2, 3), np.uint8)
    data = bytearray(tiff_encode(px))
    # patch ImageWidth(256)/ImageLength(257) LONG values to 50k x 50k
    for tag, val in ((256, 50_000), (257, 50_000)):
        i = data.index(struct.pack("<HHI", tag, 4, 1))
        data[i + 8 : i + 12] = struct.pack("<I", val)
    took = _timed(lambda: imaging.tiff_decode(bytes(data)))
    assert took < 1.0


def test_tiff_roundtrips_still_exact():
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (9, 7, 3), np.uint8)
    for comp in (1, 5, 8, 32773):
        assert np.array_equal(
            imaging.tiff_decode(tiff_encode(px, compression=comp)), px
        )


# ---------------------------------------------------------------- PDF


def test_pdf_content_stream_bomb_rejected():
    bomb = zlib.compress(b"\x00" * (80 << 20), 9)  # > 64 MiB cap
    head = b"<< /Filter /FlateDecode /Length %d >>" % len(bomb)
    took = _timed(lambda: pdfkit._content_bytes(head, bomb))
    assert took < 1.5


def test_pdf_image_bomb_becomes_null_payload():
    bomb = zlib.compress(b"\x00" * (80 << 20), 9)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Subtype /Image /Width 4 /Height 4 "
        b"/Filter /FlateDecode >>\nstream\n" + bomb + b"\nendstream\nendobj\n"
        b"%%EOF"
    )
    rows = pdfkit.pdf_extract_images(pdf)
    assert rows and rows[0][4] is None  # recorded, not crashed


def test_pdf_small_flate_still_decodes():
    body = zlib.compress(b"BT (hi) Tj ET")
    head = b"<< /Filter /FlateDecode >>"
    assert pdfkit._content_bytes(head, body) == b"BT (hi) Tj ET"
