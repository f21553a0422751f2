"""Stdlib image codecs (PNG / PPM / BMP / GIF / TIFF / ICO / QOI)
+ PSNR — no PIL in-sandbox; JPEG lives in jpeg.py, WebP (VP8L
lossless AND VP8 lossy) in webp.py / vp8.py.

The crawl's payload rows are ``(image_id, bytes, w, h, fmt, caption,
phash)`` (BASELINE.json input_hint).  The per-row invariant is
decoded-pixel fidelity: bit-exact for lossless formats, PSNR >= 40 dB
for lossy ones (JPEG corpus variants take the PSNR path; the lossy
VP8 variant's flat frames decode exactly).

PNG decode covers the full static-image spec surface a crawl sees:
all five color types (gray / truecolor / palette / gray+alpha /
RGBA), every legal bit depth (1/2/4-bit packed, 8-bit, 16-bit
truncated to the high byte), filter types 0-4, and Adam7 interlace;
alpha is dropped (features/dedup consume pixels, not compositing).
``png_encode`` emits the 8-bit RGB filter-0 subset; ``png_encode_ext``
writes the other variants for tests/corpus.  Public spec:
https://www.w3.org/TR/png/ .  BMP is uncompressed 24-bit.
GIF decode is real (variable-width LZW, global/local color tables,
interlace; first frame of animations, pure-Python bit reader — fine
for test/bench scale, swap a C codec for bulk decode); GIF encode
uses literal LZW codes with periodic CLEARs (valid for any reader,
bit-exact round-trip, <= 256 distinct colors).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: Pixel-allocation budget per decoded image (w*h).  A crawl decodes
#: hostile bytes; a 10^5 x 10^5 header would otherwise ask for a 30 GB
#: canvas before a single pixel is read.  2^26 = 67.1 M pixels covers
#: every real photograph (a 8192x8192 texture is 2^26 exactly) while
#: capping the canvas at ~256 MB RGBA.
MAX_PIXELS = 1 << 26


def pixel_gate(w: int, h: int, what: str = "image") -> None:
    """Reject dimension headers whose pixel product exceeds
    :data:`MAX_PIXELS` BEFORE any allocation happens (decompression /
    canvas bombs).  Loud by design — callers on the crawl path already
    convert decode errors to per-row nulls."""
    if w < 0 or h < 0 or w * h > MAX_PIXELS:
        raise ValueError(
            f"{what} dimensions {w}x{h} exceed the {MAX_PIXELS}-pixel "
            "decode budget"
        )


def inflate_bounded(data: bytes, cap: int, what: str = "deflate stream") -> bytes:
    """zlib-inflate at most ``cap`` bytes; raise loudly on streams that
    would produce more (decompression bombs) WITHOUT allocating them.
    Allocation is bounded at ``cap + 1`` bytes no matter what the
    stream claims (django's bomb-safe recipe: ``max_length`` +
    unconsumed-tail probe)."""
    d = zlib.decompressobj()
    out = d.decompress(bytes(data), cap + 1)
    if len(out) > cap or (
        d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1)
    ):
        raise ValueError(f"{what} inflates beyond the {cap}-byte cap")
    return out


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """8-bit RGB HxWx3 array -> PNG bytes (filter 0, single IDAT)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("png_encode expects uint8 HxWx3 RGB")
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y, 0]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ft == 0:
            out[y] = line.astype(np.uint8)
        elif ft == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need sequential scan
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {ft}")
    return out


# channels per PNG color type (0 gray, 2 RGB, 3 palette, 4 gray+A, 6 RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths per color type (PNG spec table 11.1)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_stride(w: int, bit_depth: int, channels: int) -> int:
    return (w * bit_depth * channels + 7) // 8


def _decode_subimage(
    raw: np.ndarray, off: int, w: int, h: int, bit_depth: int, channels: int
) -> tuple[np.ndarray, int]:
    """Unfilter + unpack one (sub)image's scanlines starting at byte
    ``off`` of the decompressed stream -> ((h, w, channels) uint8
    samples — 16-bit depths truncated to the high byte — and the next
    offset)."""
    stride = _png_stride(w, bit_depth, channels)
    bpp = max(1, (bit_depth * channels) // 8)
    end = off + h * (stride + 1)
    if end > raw.size:
        raise ValueError("PNG pixel data truncated")
    arr = raw[off:end].reshape(h, stride + 1)
    out = _unfilter(arr, h, stride, bpp)
    if bit_depth == 8:
        px = out[:, : w * channels].reshape(h, w, channels)
    elif bit_depth == 16:
        # network byte order: high byte first — truncate (libpng's
        # default 16->8 strip)
        px = out.reshape(h, -1)[:, 0 : w * channels * 2 : 2].reshape(
            h, w, channels
        )
    else:  # 1/2/4-bit packed samples, MSB first
        bits = np.unpackbits(out, axis=1)
        n = w * channels
        groups = bits[:, : n * bit_depth].reshape(h, n, bit_depth)
        weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.uint8)
        px = (groups * weights).sum(axis=2).astype(np.uint8).reshape(
            h, w, channels
        )
    return px, end


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 HxWx3 RGB.  All five color types (gray,
    truecolor, palette, gray+alpha, RGBA), every legal bit depth
    (sub-byte palettes/grays unpacked, 16-bit truncated to the high
    byte), and Adam7 interlace.  Alpha is dropped and tRNS ignored —
    the pipeline consumes pixels for features/dedup, not compositing.
    Gray at depth d scales by 255/(2^d - 1)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    bit_depth = color_type = interlace = 0
    palette = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            pixel_gate(w, h, "PNG")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if bit_depth not in _PNG_DEPTHS[color_type]:
                raise ValueError(
                    f"illegal PNG bit depth {bit_depth} for color type "
                    f"{color_type}"
                )
            if interlace not in (0, 1):
                raise ValueError("unsupported PNG interlace method")
        elif tag == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    channels = _PNG_CHANNELS[color_type]
    if interlace == 0:
        expected = h * (_png_stride(w, bit_depth, channels) + 1)
    else:
        expected = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(w - x0) // dx))
            ph = max(0, -(-(h - y0) // dy))
            if pw and ph:
                expected += ph * (_png_stride(pw, bit_depth, channels) + 1)
    raw = np.frombuffer(
        inflate_bounded(bytes(idat), expected, "PNG IDAT"), dtype=np.uint8
    )
    if interlace == 0:
        samples, _ = _decode_subimage(raw, 0, w, h, bit_depth, channels)
    else:
        samples = np.zeros((h, w, channels), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(w - x0) // dx))
            ph = max(0, -(-(h - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            sub, off = _decode_subimage(raw, off, pw, ph, bit_depth, channels)
            samples[y0::dy, x0::dx] = sub
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("PNG palette index out of range")
        return palette[idx]
    if color_type in (0, 4):
        g = samples[..., 0]
        if bit_depth in (1, 2, 4):  # scale to full range
            g = (
                g.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)
            ).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    return np.ascontiguousarray(samples[..., :3])


def _pack_scanlines(samples: np.ndarray, bit_depth: int) -> bytes:
    """(h, w, channels) uint8 samples -> filter-0 scanline bytes."""
    h, w, channels = samples.shape
    if bit_depth == 8:
        rows = samples.reshape(h, w * channels)
    else:  # sub-byte packing, MSB first
        n = w * channels
        weights = np.arange(bit_depth - 1, -1, -1)
        bits = (
            (samples.reshape(h, n, 1) >> weights) & 1
        ).astype(np.uint8).reshape(h, n * bit_depth)
        rows = np.packbits(bits, axis=1)
    out = np.empty((h, rows.shape[1] + 1), np.uint8)
    out[:, 0] = 0
    out[:, 1:] = rows
    return out.tobytes()


def png_encode_ext(
    samples: np.ndarray,
    color_type: int,
    bit_depth: int = 8,
    palette: np.ndarray | None = None,
    interlace: int = 0,
) -> bytes:
    """General PNG writer for the decoder's full surface (filter 0
    only): ``samples`` is (h, w, channels) uint8 — palette indices
    for color type 3, gray[, alpha] for 0/4, RGB[A] for 2/6.  Used by
    tests and the corpus generator to synthesize the palette / gray /
    alpha / interlaced streams real crawls contain."""
    if samples.ndim == 2:
        samples = samples[..., None]
    h, w, channels = samples.shape
    if channels != _PNG_CHANNELS[color_type]:
        raise ValueError("sample channels do not match color type")
    if bit_depth not in _PNG_DEPTHS[color_type] or bit_depth == 16:
        raise ValueError("unsupported encode bit depth")
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    if interlace == 0:
        body = _pack_scanlines(samples, bit_depth)
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.append(_pack_scanlines(sub, bit_depth))
        body = b"".join(parts)
    out = _PNG_SIG + _chunk(b"IHDR", ihdr)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette encode needs a palette")
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(body, 6)) + _chunk(b"IEND", b"")
    return out


# --------------------------------------------------------------- APNG


def _png_rgba(
    samples: np.ndarray,
    color_type: int,
    bit_depth: int,
    palette: np.ndarray | None,
    trns: bytes | None,
) -> np.ndarray:
    """Raw (h, w, channels) samples -> (h, w, 4) RGBA uint8 — the
    alpha-preserving sibling of png_decode's RGB flattening, needed
    for APNG OVER blending.  tRNS: alpha table for palette, color key
    for gray/RGB (16-bit keys compared on the high byte, matching the
    decoder's 16->8 strip)."""
    h, w = samples.shape[:2]
    out = np.empty((h, w, 4), np.uint8)
    out[..., 3] = 255
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("PNG palette index out of range")
        out[..., :3] = palette[idx]
        if trns:
            alpha = np.full(palette.shape[0], 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
            out[..., 3] = alpha[idx]
        return out
    if color_type in (0, 4):
        g = samples[..., 0]
        if bit_depth in (1, 2, 4):
            g = (g.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)).astype(
                np.uint8
            )
        out[..., 0] = out[..., 1] = out[..., 2] = g
        if color_type == 4:
            out[..., 3] = samples[..., 1]
        elif trns and len(trns) >= 2:
            key = trns[0] if bit_depth == 16 else trns[1]
            out[..., 3] = np.where(samples[..., 0] == key, 0, 255)
        return out
    out[..., : samples.shape[2]] = samples[..., :4]
    if color_type == 2 and trns and len(trns) >= 6:
        key = (
            np.frombuffer(trns, np.uint8)[0::2]
            if bit_depth == 16
            else np.frombuffer(trns, np.uint8)[1::2]
        )[:3]
        out[..., 3] = np.where((samples == key).all(axis=2), 0, 255)
    return out


def _blend_over(dst: np.ndarray, src: np.ndarray) -> np.ndarray:
    """APNG blend_op OVER (Porter-Duff source-over, straight alpha)
    in exact integer arithmetic, rounded to nearest — deterministic
    like every pixel op in the repo."""
    sa = src[..., 3].astype(np.int64)
    da = dst[..., 3].astype(np.int64)
    oa_num = sa * 255 + da * (255 - sa)  # out_alpha * 255^2
    num = (
        src[..., :3].astype(np.int64) * sa[..., None] * 255
        + dst[..., :3].astype(np.int64) * (da * (255 - sa))[..., None]
    )
    safe = np.maximum(oa_num, 1)
    out = np.empty_like(dst)
    out[..., :3] = ((num + safe[..., None] // 2) // safe[..., None]).astype(
        np.uint8
    )
    out[..., 3] = ((oa_num + 127) // 255).astype(np.uint8)
    return out


def apng_decode_frames(data: bytes) -> list[tuple[int, np.ndarray]]:
    """APNG bytes -> [(delay_ms, composited RGB canvas), ...] — the
    animated-PNG sibling of :func:`gif_decode_frames` (same contract
    for the video sampling stage).  Full spec compositing: per-frame
    regions, blend_op SOURCE/OVER (integer Porter-Duff), dispose_op
    NONE/BACKGROUND/PREVIOUS (PREVIOUS on frame 0 = BACKGROUND), the
    default image joining the animation only when the first fcTL
    precedes IDAT.  A plain PNG (no acTL) yields one 100 ms frame.
    Transparent canvas areas flatten to black on emit (the pipeline
    consumes RGB)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    bit_depth = color_type = interlace = 0
    palette = None
    trns: bytes | None = None
    has_actl = False
    idat = bytearray()
    frames_meta: list[tuple[dict, bytearray]] = []
    first_fctl_before_idat = False
    seen_idat = False
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            pixel_gate(w, h, "APNG canvas")
        elif tag == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = bytes(body)
        elif tag == b"acTL":
            has_actl = True
        elif tag == b"fcTL":
            (_seq, fw, fh, fx, fy, dnum, dden, dispose, blend) = struct.unpack(
                ">IIIIIHHBB", body
            )
            if not seen_idat and not frames_meta:
                first_fctl_before_idat = True
            frames_meta.append(
                (
                    {
                        "w": fw, "h": fh, "x": fx, "y": fy,
                        "delay_ms": (1000 * dnum + (dden or 100) // 2)
                        // (dden or 100),
                        "dispose": dispose, "blend": blend,
                    },
                    bytearray(),
                )
            )
        elif tag == b"IDAT":
            seen_idat = True
            idat.extend(body)
            if first_fctl_before_idat and frames_meta:
                frames_meta[0][1].extend(body)
        elif tag == b"fdAT":
            if not frames_meta:
                raise ValueError("APNG fdAT before any fcTL")
            frames_meta[-1][1].extend(body[4:])  # strip sequence number
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    if not has_actl or not frames_meta:
        return [(100, png_decode(data))]
    if interlace != 0:
        raise ValueError("interlaced APNG frames unsupported")
    channels = _PNG_CHANNELS[color_type]

    def region_rgba(raw_z: bytes, fw: int, fh: int) -> np.ndarray:
        expected = fh * (_png_stride(fw, bit_depth, channels) + 1)
        raw = np.frombuffer(
            inflate_bounded(raw_z, expected, "APNG frame fdAT"), np.uint8
        )
        samples, _ = _decode_subimage(raw, 0, fw, fh, bit_depth, channels)
        return _png_rgba(samples, color_type, bit_depth, palette, trns)

    canvas = np.zeros((h, w, 4), np.uint8)
    out: list[tuple[int, np.ndarray]] = []
    for i, (meta, raw_z) in enumerate(frames_meta):
        fw, fh, fx, fy = meta["w"], meta["h"], meta["x"], meta["y"]
        if fx + fw > w or fy + fh > h:
            raise ValueError("APNG frame region exceeds canvas")
        src = region_rgba(bytes(raw_z), fw, fh)
        view = canvas[fy : fy + fh, fx : fx + fw]
        saved = view.copy() if meta["dispose"] == 2 else None
        if meta["blend"] == 1 and i > 0:
            view[:] = _blend_over(view, src)
        else:  # SOURCE (and frame 0, where OVER == SOURCE)
            view[:] = src
        a = canvas[..., 3].astype(np.uint16)
        rgb = (
            (canvas[..., :3].astype(np.uint16) * a[..., None]) // 255
        ).astype(np.uint8)
        out.append((meta["delay_ms"], rgb))
        if meta["dispose"] == 1 or (meta["dispose"] == 2 and i == 0):
            view[:] = 0
        elif meta["dispose"] == 2:
            view[:] = saved
    return out


def apng_encode(
    frames: list[np.ndarray], delay_ms: int = 100, num_plays: int = 0
) -> bytes:
    """Full-canvas RGB(A) frames -> APNG bytes (color type 6, blend
    SOURCE, dispose NONE) — the fixture writer for the video stage."""
    return apng_encode_ext(
        frames[0].shape[1],
        frames[0].shape[0],
        [
            {"x": 0, "y": 0, "px": f, "delay_ms": delay_ms}
            for f in frames
        ],
        num_plays=num_plays,
    )


def apng_encode_ext(
    w: int, h: int, fcs: list[dict], num_plays: int = 0
) -> bytes:
    """APNG writer with per-frame control for decode tests: each
    entry is {x, y, px (hxwx3|4 uint8), delay_ms, dispose, blend}.
    Frame 0 must cover the canvas (APNG requirement)."""
    seq = 0
    out = _PNG_SIG + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    )
    out += _chunk(b"acTL", struct.pack(">II", len(fcs), num_plays))
    for i, fc in enumerate(fcs):
        px = fc["px"]
        if px.shape[2] == 3:
            px = np.dstack([px, np.full(px.shape[:2], 255, np.uint8)])
        fh, fw = px.shape[:2]
        if i == 0 and (fw, fh, fc.get("x", 0), fc.get("y", 0)) != (w, h, 0, 0):
            raise ValueError("APNG frame 0 must cover the canvas")
        out += _chunk(
            b"fcTL",
            struct.pack(
                ">IIIIIHHBB", seq, fw, fh, fc.get("x", 0), fc.get("y", 0),
                fc.get("delay_ms", 100), 1000,
                fc.get("dispose", 0), fc.get("blend", 0),
            ),
        )
        seq += 1
        body = zlib.compress(_pack_scanlines(px, 8), 6)
        if i == 0:
            out += _chunk(b"IDAT", body)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + body)
            seq += 1
    return out + _chunk(b"IEND", b"")


def ppm_encode(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def ppm_decode(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    parts = []
    pos = 2
    while len(parts) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        parts.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, _maxval = parts
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3).copy()


def bmp_encode(pixels: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up, BGR,
    4-byte row padding) — the third stdlib-only real format."""
    h, w, _ = pixels.shape
    pad = (-(w * 3)) % 4
    stride = w * 3 + pad
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip+BGR
    return header + rows.tobytes()


def bmp_decode(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP (got {bpp}bpp/{comp})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
    px = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[..., ::-1]
    return (px if top_down else px[::-1]).copy()


def _gif_lzw_decode(min_code_size: int, data: bytes) -> list[int]:
    """GIF-flavor LZW (variable code width, CLEAR/EOI codes) ->
    palette indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # bit reader: GIF packs codes LSB-first
    bitpos = 0
    nbits = len(data) * 8

    def read(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbits:
            return eoi  # truncated stream: treat as end
        v = 0
        for i in range(width):
            byte = data[(bitpos + i) >> 3]
            v |= ((byte >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        return v

    out: list[int] = []
    table: list[bytes] = []

    def reset() -> int:
        nonlocal table
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        return min_code_size + 1

    width = reset()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW stream")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) passes


def gif_decode_frames(data: bytes) -> list[tuple[int, np.ndarray]]:
    """GIF87a/89a -> list of ``(delay_ms, RGB canvas)`` frames.

    Real LZW, global/local color tables, interlace, frame rects
    composited onto the logical-screen canvas at their (x, y) offsets,
    transparent-index pixels leaving the prior canvas visible, and
    GCE disposal methods: 2 = restore the frame rect to the background
    color, 3 = restore it to the pre-frame canvas (draw-on-top
    otherwise).  ``delay_ms`` comes from each frame's Graphic Control
    Extension (0 when absent).  Malformed inputs (truncated blocks,
    frame rect exceeding the logical screen, out-of-palette indices)
    raise ValueError — never an untyped numpy crash."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _gif_decode_frames(data)
    except ValueError:
        raise
    except Exception as e:  # truncated/garbled: typed error for callers
        raise ValueError(f"malformed GIF: {e!r}") from e


def _gif_decode_frames(data: bytes) -> list[tuple[int, np.ndarray]]:
    sw, sh, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pixel_gate(sw, sh, "GIF logical screen")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg_rgb = gct[bg] if gct is not None and bg < len(gct) else np.zeros(3)
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[tuple[int, np.ndarray]] = []
    delay_ms = 0
    tidx = -1
    disposal = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                packed = data[pos + 1]
                delay_ms = struct.unpack_from("<H", data, pos + 2)[0] * 10
                tidx = data[pos + 4] if packed & 1 else -1
                disposal = (packed >> 2) & 7
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            x, y, w, h, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
            pos += 10
            if x + w > sw or y + h > sh:
                raise ValueError("GIF frame rect exceeds logical screen")
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                ct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image has no color table")
            min_code = data[pos]
            pos += 1
            chunks = []
            while data[pos]:
                ln = data[pos]
                chunks.append(data[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1  # block terminator
            idx = _gif_lzw_decode(min_code, b"".join(chunks))
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            rows = np.asarray(idx[: w * h], dtype=np.int32).reshape(h, w)
            if int(rows.max(initial=0)) >= len(ct):
                raise ValueError("GIF pixel index outside color table")
            if iflags & 0x40:  # interlaced: reorder rows
                ordered = np.empty_like(rows)
                src = 0
                for start, step in _GIF_INTERLACE:
                    for yy in range(start, h, step):
                        ordered[yy] = rows[src]
                        src += 1
                rows = ordered
            region = canvas[y : y + h, x : x + w]
            saved = region.copy() if disposal == 3 else None
            if tidx >= 0:
                mask = rows != tidx
                region[mask] = ct[rows[mask]]
            else:
                region[...] = ct[rows]
            frames.append((delay_ms, canvas.copy()))
            if disposal == 2:  # restore rect to background color
                region[...] = bg_rgb
            elif disposal == 3 and saved is not None:  # restore previous
                region[...] = saved
            delay_ms = 0
            tidx = -1
            disposal = 0
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF has no image data")
    return frames


def gif_decode(data: bytes) -> np.ndarray:
    """GIF87a/89a -> RGB array of the first frame's canvas (see
    :func:`gif_decode_frames` for the full animation)."""
    return gif_decode_frames(data)[0][1]


def _gif_palette(frames_flat: np.ndarray) -> tuple[np.ndarray, int]:
    palette = np.unique(frames_flat, axis=0)
    if len(palette) > 256:
        raise ValueError("gif encode: more than 256 distinct colors")
    depth = max(2, int(len(palette) - 1).bit_length())  # >=2 per spec
    pal = np.zeros((1 << depth, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    return pal, depth


def _gif_image_block(idx: np.ndarray, w: int, h: int, depth: int) -> bytes:
    """Image descriptor + literal-code LZW stream: each palette index
    emitted as its own code, with a CLEAR just before the decoder's
    table would outgrow the fixed code width — simple, valid for any
    reader, bit-exact."""
    out = bytearray(struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0))
    clear, eoi = 1 << depth, (1 << depth) + 1
    width = depth + 1
    bits = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear)
    full = (1 << width) - (1 << depth) - 2  # codes until table overflows
    budget = full
    for v in idx:
        if budget == 0:
            emit(clear)
            budget = full
        emit(int(v))
        budget -= 1
    emit(eoi)
    if nacc:
        bits.append(acc & 0xFF)
    out.append(depth)  # min code size
    for i in range(0, len(bits), 255):
        block = bits[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)  # block terminator
    return bytes(out)


def _pal_indices(pixels: np.ndarray, pal: np.ndarray) -> np.ndarray:
    key = (
        pal[:, 0].astype(np.int64) << 16
        | pal[:, 1].astype(np.int64) << 8
        | pal[:, 2].astype(np.int64)
    )
    px = (
        pixels[..., 0].astype(np.int64) << 16
        | pixels[..., 1].astype(np.int64) << 8
        | pixels[..., 2].astype(np.int64)
    )
    order = np.argsort(key)
    return order[np.searchsorted(key, px.ravel(), sorter=order)]


def gif_encode(pixels: np.ndarray) -> bytes:
    """RGB array -> single-frame GIF89a with a global palette of the
    image's distinct colors (<= 256, else ValueError — GIF is
    palettized); round-trips bit-exact through :func:`gif_decode`."""
    h, w, _ = pixels.shape
    pal, depth = _gif_palette(pixels.reshape(-1, 3))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += pal.tobytes()
    out += _gif_image_block(_pal_indices(pixels, pal), w, h, depth)
    out += b"\x3b"
    return bytes(out)


def gif_encode_animated(
    frames: list[np.ndarray], delays_ms: list[int]
) -> bytes:
    """Full-canvas RGB frames + per-frame delays -> animated GIF89a
    (one shared global palette across frames, a Graphic Control
    Extension per frame).  Round-trips bit-exact through
    :func:`gif_decode_frames`; delays are rounded down to the GIF's
    10 ms resolution."""
    if len(frames) != len(delays_ms) or not frames:
        raise ValueError("need equal nonzero frames and delays")
    if any(d < 0 or d // 10 > 0xFFFF for d in delays_ms):
        raise ValueError("GIF delays must be within [0, 655350] ms")
    h, w, _ = frames[0].shape
    pal, depth = _gif_palette(
        np.concatenate([f.reshape(-1, 3) for f in frames])
    )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += pal.tobytes()
    for f, d in zip(frames, delays_ms):
        if f.shape != (h, w, 3):
            raise ValueError("all frames must share the canvas shape")
        out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0, d // 10, 0, 0)
        out += _gif_image_block(_pal_indices(f, pal), w, h, depth)
    out += b"\x3b"
    return bytes(out)


# ------------------------------------------------------------------- TIFF
# Baseline uncompressed TIFF 6.0 (Compression=1, PlanarConfig=1,
# 8-bit grayscale or RGB, strip-based) — the shape scanners and bulk
# exports emit.  The IFD machinery is shared with the EXIF parser
# (mechaml_spark.exif), which is the same TIFF 6.0 structure embedded
# in a JPEG APP1.  LZW/PackBits/tiled TIFFs refuse loudly.


def _tiff_lzw_decode(data: bytes, cap: int | None = None) -> bytes:
    """TIFF 6.0 LZW (section 13): MSB-first code packing, 9->12 bit
    codes, Clear=256 / EOI=257, and the spec's EARLY-CHANGE width
    bump (one code earlier than GIF's LZW — the documented wart).
    ``cap`` bounds the output (strip size is known to the caller) so
    a hostile stream can't inflate unboundedly."""
    out = bytearray()
    pos = 0  # bit position
    nbits = len(data) * 8
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal pos
        if pos + width > nbits:
            return 257  # truncated stream: treat as EOI
        v = 0
        for _ in range(width):
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        return v

    while True:
        code = read_code()
        if code == 257:
            break
        if code == 256:
            table = table[:258]
            width = 9
            prev = None
            continue
        if prev is None:
            if code > 255:
                raise ValueError("TIFF LZW: bad first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW: code out of range")
        out += entry
        if cap is not None and len(out) > cap:
            raise ValueError(f"TIFF LZW strip inflates beyond {cap} bytes")
        if len(table) == (1 << width) - 1 and width < 12:  # early change
            width += 1
        prev = entry
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 LZW writer (real match-finding table), the mirror of
    :func:`_tiff_lzw_decode`'s early-change convention."""
    out = bytearray()
    acc = 0
    nacc = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    nxt = 258
    emit(256)  # Clear
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = nxt
        nxt += 1
        # early change, encoder side: the writer's next-code counter
        # leads the reader's table size by one, so the reader's
        # (1<<width)-1 bump lands here at (1<<width) — pinned against
        # real libtiff in tests/test_imaging.py
        if nxt == (1 << width) and width < 12:
            width += 1
        if nxt >= 4093:  # refresh before 12 bits overflow
            emit(256)
            table = fresh()
            nxt = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)  # EOI
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, cap: int | None = None) -> bytes:
    """TIFF PackBits (Apple RLE, TIFF 6.0 section 9).  ``cap`` bounds
    the output like :func:`_tiff_lzw_decode`'s."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # repeat next byte 257-c times
            out += data[i : i + 1] * (257 - c)
            i += 1
        # 128: no-op
        if cap is not None and len(out) > cap:
            raise ValueError(f"PackBits strip inflates beyond {cap} bytes")
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 1 < n and data[j] == data[j + 1])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def tiff_encode(
    pixels: np.ndarray, compression: int = 1, predictor: int = 1,
    rows_per_strip: int | None = None,
) -> bytes:
    """Little-endian TIFF (gray or RGB): uncompressed (1), LZW (5),
    Deflate (8), or PackBits (32773), optional horizontal predictor
    (317=2, the LZW/Deflate companion), optional multi-strip."""
    if pixels.ndim == 2:
        spp, photometric = 1, 1  # BlackIsZero
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        spp, photometric = 3, 2  # RGB
    else:
        raise ValueError("tiff_encode wants HxW or HxWx3 uint8")
    h, w = pixels.shape[:2]
    samples = np.ascontiguousarray(pixels, dtype=np.uint8).reshape(
        h, w * spp
    )
    if predictor == 2:  # horizontal differencing per sample channel
        s3 = samples.reshape(h, w, spp).astype(np.int16)
        s3[:, 1:, :] = s3[:, 1:, :] - s3[:, :-1, :]
        samples = (s3 & 0xFF).astype(np.uint8).reshape(h, w * spp)
    elif predictor != 1:
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rps = rows_per_strip or h
    packers = {
        1: lambda b: b,
        5: _tiff_lzw_encode,
        8: lambda b: zlib.compress(b, 6),
        # TIFF 6.0 section 9: PackBits must pack each ROW separately
        32773: None,
    }
    if compression not in packers:
        raise ValueError(f"unsupported TIFF compression {compression}")

    def pack_strip(rows: np.ndarray) -> bytes:
        if compression == 32773:
            return b"".join(_packbits_encode(r.tobytes()) for r in rows)
        return packers[compression](rows.tobytes())

    strips = [pack_strip(samples[y : y + rps]) for y in range(0, h, rps)]
    n_strips = len(strips)
    entries: list[tuple[int, int, object]] = [
        (256, 4, w),  # ImageWidth
        (257, 4, h),  # ImageLength
        (258, 3, [8] * spp),  # BitsPerSample
        (259, 3, compression),
        (262, 3, photometric),
        (277, 3, spp),  # SamplesPerPixel
        (278, 4, rps),  # RowsPerStrip
        (279, 4, [len(s) for s in strips] if n_strips > 1
         else len(strips[0])),
        (317, 3, predictor),
    ]
    # Strip data sits after header(8) + IFD (+ overflow); StripOffsets
    # needs the final layout, which only depends on entry count and
    # overflow sizes, so one sizing pass with placeholders resolves it.
    from mechaml_spark.exif import _build_ifd

    placeholder = (
        [0] * n_strips if n_strips > 1 else 0
    )
    probe, ov = _build_ifd("<", entries + [(273, 4, placeholder)], 8)
    data_off = 8 + len(probe) + len(ov)
    offsets: list[int] = []
    at = data_off
    for s in strips:
        offsets.append(at)
        at += len(s)
    body, ov = _build_ifd(
        "<",
        entries + [(273, 4, offsets if n_strips > 1 else offsets[0])],
        8,
    )
    return (
        b"II" + struct.pack("<HI", 42, 8) + body + ov + b"".join(strips)
    )


def tiff_decode(data: bytes) -> np.ndarray:
    """Decode baseline TIFF (both byte orders): uncompressed, LZW
    (5), Deflate (8 / legacy 32946), PackBits (32773), with the
    horizontal predictor (317=2); other compressions (JPEG-in-TIFF,
    CCITT fax) raise NotImplementedError."""
    from mechaml_spark.exif import ExifError, ifd_parse, tiff_byte_order

    try:
        e = tiff_byte_order(data)
        (ifd_off,) = struct.unpack_from(f"{e}I", data, 4)
        ifd, _ = ifd_parse(data, ifd_off, e)
    except ExifError as exc:
        raise ValueError(f"bad TIFF: {exc}") from exc
    comp = ifd.get(259, 1)
    unpackers = {
        1: lambda b, cap: b,
        5: _tiff_lzw_decode,
        8: lambda b, cap: inflate_bounded(b, cap, "TIFF deflate strip"),
        32946: lambda b, cap: inflate_bounded(b, cap, "TIFF deflate strip"),
        32773: _packbits_decode,
    }
    if comp not in unpackers:
        raise NotImplementedError(
            f"TIFF compression {comp} not supported (none/LZW/Deflate/"
            "PackBits are real)"
        )
    if ifd.get(284, 1) != 1:
        raise NotImplementedError("planar TIFF not supported")
    w, h = int(ifd[256]), int(ifd[257])
    pixel_gate(w, h, "TIFF")
    spp = int(ifd.get(277, 1))
    bits = ifd.get(258, 8)
    bits = bits if isinstance(bits, list) else [bits]
    if set(bits) != {8}:
        raise NotImplementedError(f"TIFF bit depths {bits} not supported")
    predictor = int(ifd.get(317, 1))
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    offs = ifd[273]
    cnts = ifd[279]
    offs = offs if isinstance(offs, list) else [offs]
    cnts = cnts if isinstance(cnts, list) else [cnts]
    # Per-strip inflation cap: RowsPerStrip * stride (padded last strip
    # allowed).  Bounds every unpacker's output so a 1-KB bomb strip
    # cannot allocate past the (already pixel-gated) image size; the
    # tag is clamped to the height (single-strip files often declare
    # 2^32-1).
    rps = min(int(ifd.get(278, h) or h), h)
    strip_cap = max(1, rps) * max(1, w * spp)
    raw = b"".join(
        unpackers[comp](data[o : o + c], strip_cap)
        for o, c in zip(offs, cnts)
    )
    if len(raw) < h * w * spp:
        raise ValueError("TIFF strip data truncated")
    if predictor == 2:  # undo horizontal differencing per channel
        rows = np.frombuffer(raw[: h * w * spp], np.uint8).reshape(
            h, w, spp
        )
        raw = (
            np.cumsum(rows.astype(np.uint32), axis=1, dtype=np.uint32)
            & 0xFF
        ).astype(np.uint8).tobytes()
    px = np.frombuffer(raw[: h * w * spp], dtype=np.uint8)
    if spp == 1:
        g = px.reshape(h, w)
        if ifd.get(262, 1) == 0:  # WhiteIsZero
            g = 255 - g
        return np.repeat(g[..., None], 3, axis=2)
    if spp >= 3:
        return px.reshape(h, w, spp)[..., :3].copy()
    raise NotImplementedError(f"TIFF SamplesPerPixel {spp}")


def ico_encode(pixels: np.ndarray, inner: str = "bmp") -> bytes:
    """Single-image Windows ICO (favicon — the one image format every
    crawl meets at /favicon.ico).  ``inner='bmp'`` embeds the classic
    24-bit DIB (BITMAPINFOHEADER with DOUBLED height covering the XOR
    pixels + an all-opaque 1-bit AND mask); ``inner='png'`` embeds a
    whole PNG stream (the Vista+ form).  Max 256x256 per the format's
    1-byte dimension fields (0 encodes 256)."""
    h, w, _ = pixels.shape
    if w > 256 or h > 256:
        raise ValueError("ICO images are at most 256x256")
    if inner == "png":
        img = png_encode(pixels)
        bpp = 24
    elif inner == "bmp":
        pad = (-(w * 3)) % 4
        stride = w * 3 + pad
        xor = np.zeros((h, stride), dtype=np.uint8)
        xor[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
        and_stride = ((w + 31) // 32) * 4
        and_mask = np.zeros((h, and_stride), dtype=np.uint8)  # 0 = opaque
        img = (
            struct.pack(
                "<IiiHHIIiiII", 40, w, h * 2, 1, 24, 0,
                stride * h + and_stride * h, 0, 0, 0, 0,
            )
            + xor.tobytes()
            + and_mask.tobytes()
        )
        bpp = 24
    else:
        raise ValueError(f"unknown ICO inner format {inner!r}")
    entry = struct.pack(
        "<BBBBHHII", w % 256, h % 256, 0, 0, 1, bpp, len(img), 6 + 16
    )
    return struct.pack("<HHH", 0, 1, 1) + entry + img


def ico_decode(data: bytes) -> np.ndarray:
    """Decode the first image of an ICO — PNG-compressed entries via
    the own PNG decoder, classic DIB entries via the doubled-height
    24-bit parse (AND mask skipped; the repo drops alpha everywhere).
    """
    if len(data) < 6 or data[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO")
    count = struct.unpack_from("<H", data, 4)[0]
    if count < 1:
        raise ValueError("empty ICO")
    size, off = struct.unpack_from("<II", data, 6 + 8)
    img = data[off : off + size]
    if img[: len(_PNG_SIG)] == _PNG_SIG:
        return png_decode(img)
    hdr_size, w, h2 = struct.unpack_from("<Iii", img, 0)
    bpp = struct.unpack_from("<H", img, 14)[0]
    comp = struct.unpack_from("<I", img, 16)[0]
    if hdr_size != 40 or comp != 0 or bpp not in (24, 32):
        raise ValueError(
            f"only uncompressed 24/32-bit DIB or PNG entries (got "
            f"hdr={hdr_size} {bpp}bpp comp={comp})"
        )
    h = h2 // 2  # XOR + AND mask share the doubled height
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(img, dtype=np.uint8, count=stride * h, offset=40)
    px = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    return px[::-1, :, 2::-1].copy()  # bottom-up BGR(A) -> RGB


def qoi_encode(pixels: np.ndarray) -> bytes:
    """QOI ("Quite OK Image", qoiformat.org spec, public domain
    format) encoder — full op set: RUN, INDEX, DIFF, LUMA, RGB, RGBA.
    Input is ``(h, w, 3)`` or ``(h, w, 4)`` uint8 (2-D grayscale is
    expanded to RGB); lossless.  Per-pixel sequential state (prev
    pixel + 64-slot index) makes this a Python loop, like the GIF LZW
    path — it runs inside mapInPandas over already-partitioned rows,
    never on the driver."""
    if pixels.ndim == 2:
        pixels = np.stack([pixels] * 3, axis=-1)
    h, w, channels = pixels.shape
    if channels not in (3, 4):
        raise ValueError(f"QOI stores 3 or 4 channels, got {channels}")
    out = bytearray(b"qoif")
    out += struct.pack(">IIBB", w, h, channels, 0)
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    flat = pixels.reshape(-1, channels).tolist()
    for p in flat:
        px = (p[0], p[1], p[2], p[3] if channels == 4 else 255)
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        slot = (px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64
        if index[slot] == px:
            out.append(slot)
        else:
            index[slot] = px
            if px[3] != prev[3]:
                out.append(0xFF)
                out.extend(px)
            else:
                # wraparound-signed channel diffs per the spec
                dr = ((px[0] - prev[0] + 128) & 0xFF) - 128
                dg = ((px[1] - prev[1] + 128) & 0xFF) - 128
                db = ((px[2] - prev[2] + 128) & 0xFF) - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31 and -8 <= dr - dg <= 7 and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out.append(0xFE)
                    out.extend(px[:3])
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def qoi_decode(data: bytes) -> np.ndarray:
    """QOI decoder (qoiformat.org spec).  Returns ``(h, w, 3)`` for
    3-channel files and ``(h, w, 4)`` for 4-channel files.  The index
    is updated exactly when a non-run op is read (reference decoder
    semantics), so streams from any conforming encoder decode."""
    if len(data) < 22 or data[:4] != b"qoif":
        raise ValueError("not a QOI stream")
    w, h, channels, _colorspace = struct.unpack_from(">IIBB", data, 4)
    pixel_gate(w, h, "QOI")
    if channels not in (3, 4):
        raise ValueError(f"QOI channels must be 3 or 4, got {channels}")
    if data[-8:] != b"\x00" * 7 + b"\x01":
        raise ValueError("missing QOI end marker")
    n = h * w
    out = np.empty((n, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    pos, i = 14, 0
    end = len(data) - 8
    while i < n:
        if pos >= end:
            raise ValueError("truncated QOI stream")
        b = data[pos]
        pos += 1
        if b == 0xFE:
            px = (data[pos], data[pos + 1], data[pos + 2], px[3])
            pos += 3
        elif b == 0xFF:
            px = (data[pos], data[pos + 1], data[pos + 2], data[pos + 3])
            pos += 4
        else:
            tag = b >> 6
            if tag == 0:
                px = index[b]
            elif tag == 1:
                px = (
                    (px[0] + ((b >> 4) & 3) - 2) & 0xFF,
                    (px[1] + ((b >> 2) & 3) - 2) & 0xFF,
                    (px[2] + (b & 3) - 2) & 0xFF,
                    px[3],
                )
            elif tag == 2:
                dg = (b & 0x3F) - 32
                b2 = data[pos]
                pos += 1
                px = (
                    (px[0] + dg + ((b2 >> 4) & 0xF) - 8) & 0xFF,
                    (px[1] + dg) & 0xFF,
                    (px[2] + dg + (b2 & 0xF) - 8) & 0xFF,
                    px[3],
                )
            else:
                run = (b & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overflows the pixel count")
                out[i : i + run] = px
                i += run
                continue
        index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
        out[i] = px
        i += 1
    return out.reshape(h, w, 4)[:, :, :channels].copy()


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "ppm":
        return ppm_decode(data)
    if fmt == "bmp":
        return bmp_decode(data)
    if fmt == "gif":
        return gif_decode(data)
    if fmt in ("tif", "tiff"):
        return tiff_decode(data)
    if fmt in ("jpg", "jpeg"):
        from mechaml_spark.jpeg import jpeg_decode

        return jpeg_decode(data)
    if fmt == "ico":
        return ico_decode(data)
    if fmt == "qoi":
        return qoi_decode(data)
    if fmt == "webp":
        from mechaml_spark.webp import webp_decode

        return webp_decode(data)
    raise NotImplementedError(
        f"decoder for {fmt!r} not available in-sandbox (no image libs); "
        "plug a real codec here on a full cluster image"
    )


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "ppm":
        return ppm_encode(pixels)
    if fmt == "bmp":
        return bmp_encode(pixels)
    if fmt == "gif":
        return gif_encode(pixels)
    if fmt in ("tif", "tiff"):
        return tiff_encode(pixels)
    if fmt in ("jpg", "jpeg"):
        from mechaml_spark.jpeg import jpeg_encode

        return jpeg_encode(pixels)
    if fmt == "ico":
        return ico_encode(pixels)
    if fmt == "qoi":
        return qoi_encode(pixels)
    if fmt == "webp":
        from mechaml_spark.webp import webp_encode

        return webp_encode(pixels)
    raise NotImplementedError(f"encoder for {fmt!r} not available in-sandbox")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def dhash64(pixels: np.ndarray) -> int:
    """Perceptual difference-hash (dHash) of an RGB image -> int64.

    Classic recipe: integer grayscale, block-mean downscale to 9x8,
    then bit ``b = y*8 + x`` is 1 iff ``gray[y, x] < gray[y, x+1]``.
    Everything is integer arithmetic (floor divisions), so the hash
    is bit-reproducible across platforms; re-encoding the same pixels
    in another lossless format cannot change it (unlike a content
    hash over the encoded bytes), and small pixel noise flips only
    the bits whose local gradient it crosses — which is what makes
    banded Hamming bucketing (see ``queries.q_image_neardup``) find
    re-encodes and light edits.  BASELINE.json input_hint's ``phash``
    column is this value."""
    h, w, _ = pixels.shape
    gray = (
        299 * pixels[..., 0].astype(np.int64)
        + 587 * pixels[..., 1].astype(np.int64)
        + 114 * pixels[..., 2].astype(np.int64)
    ) // 1000
    # block-mean to 9 cols x 8 rows with integer boundaries
    ye = (np.arange(9) * h) // 8
    xe = (np.arange(10) * w) // 9
    small = np.empty((8, 9), dtype=np.int64)
    for y in range(8):
        rows = gray[ye[y] : max(ye[y + 1], ye[y] + 1)]
        for x in range(9):
            blk = rows[:, xe[x] : max(xe[x + 1], xe[x] + 1)]
            small[y, x] = blk.sum() // blk.size
    bits = (small[:, :-1] < small[:, 1:]).astype(np.uint64).ravel()
    acc = np.uint64(0)
    for b, v in enumerate(bits):
        acc |= v << np.uint64(b)
    return int(acc.view(np.int64))  # reinterpret: bit 63 -> sign


LOSSLESS = frozenset({"png", "ppm", "bmp", "gif", "qoi", "webp"})


def payload_ok(data: bytes, fmt: str, reference_pixels: np.ndarray) -> bool:
    """Per-row invariant: lossless -> bit-exact; lossy -> PSNR >= 40."""
    try:
        got = decode(data, fmt)
    except Exception:
        return False
    if fmt in LOSSLESS:
        return got.shape == reference_pixels.shape and bool(
            np.array_equal(got, reference_pixels)
        )
    return psnr(got, reference_pixels) >= 40.0


def median_cut_palette(pixels: np.ndarray, k: int = 4) -> np.ndarray:
    """Median-cut color quantization (Heckbert 1982): split the color
    box with the widest channel range at the pixel median until ``k``
    boxes remain; the palette is each box's integer floor-mean color,
    returned sorted lexicographically (r, g, b).

    Fully deterministic so results are engine/partitioning-stable:
    widest-box selection tie-breaks on (range, channel, box index),
    the split sorts pixels with a stable key (r,g,b lexicographic on
    the split channel first) and cuts at ``n // 2``, and means use
    exact integer floor division.  ``k`` must be a power-of-two-ish
    target <= number of pixels; fewer distinct colors than ``k``
    simply yields duplicate palette rows from the equal splits."""
    px = pixels.reshape(-1, pixels.shape[-1])[:, :3].astype(np.int64)
    boxes = [px]
    while len(boxes) < k:
        best = None  # (range, channel, box idx)
        for bi, b in enumerate(boxes):
            if len(b) < 2:
                continue
            rng = b.max(axis=0) - b.min(axis=0)
            c = int(np.argmax(rng))  # first-widest channel wins ties
            cand = (int(rng[c]), -c, -bi)  # prefer low channel/box idx
            if best is None or cand > best[0]:
                best = (cand, bi, c)
        if best is None:
            break  # every box is a single pixel
        _, bi, c = best
        b = boxes.pop(bi)
        order = np.lexsort(
            (b[:, 2], b[:, 1], b[:, 0], b[:, c])  # split channel primary
        )
        b = b[order]
        mid = len(b) // 2
        boxes.insert(bi, b[mid:])
        boxes.insert(bi, b[:mid])
    pal = np.array(
        [b.sum(axis=0) // len(b) for b in boxes], dtype=np.int64
    )
    pal = pal[np.lexsort((pal[:, 2], pal[:, 1], pal[:, 0]))]
    return pal.astype(np.uint8)


def detect_crop(pixels: np.ndarray, thr: int = 24) -> tuple[int, int, int, int]:
    """Letterbox / pillarbox border detection, the ffmpeg ``cropdetect``
    shape: a border row/column is one whose MAX integer BT.601 luma
    ``(77R + 150G + 29B) >> 8`` is <= ``thr`` (default 24, ffmpeg's
    default limit); content is the bounding box of the bright rows and
    columns.  Returns ``(x, y, w, h)``; an all-dark frame yields
    ``(0, 0, 0, 0)``.  Exact integer arithmetic throughout, so the
    box is a closed form of any synthetic generator's parameters.

    The reference has no imaging ops (the agent stores raw bytes,
    src/agent.ml save_image); this is pipeline breadth for the
    image+caption corpus — cropping letterboxed thumbnails before
    feature extraction / CLIP scoring is a standard dataset stage."""
    px = pixels.astype(np.int64)
    luma = (77 * px[..., 0] + 150 * px[..., 1] + 29 * px[..., 2]) >> 8
    rows = np.where((luma > thr).any(axis=1))[0]
    cols = np.where((luma > thr).any(axis=0))[0]
    if len(rows) == 0 or len(cols) == 0:
        return (0, 0, 0, 0)
    y0, y1 = int(rows[0]), int(rows[-1])
    x0, x1 = int(cols[0]), int(cols[-1])
    return (x0, y0, x1 - x0 + 1, y1 - y0 + 1)


def edge_density_thirds(
    pixels: np.ndarray, thr: int = 32
) -> tuple[int, int, int]:
    """Horizontal-edge density per vertical third of the frame, in
    exact integer permille — the cheap "does this image bear rendered
    overlay text" signal image-curation pipelines gate on (caption
    banners / subtitles / watermark strips live in an otherwise-flat
    third, so a high bottom-third edge density with quiet upper
    thirds flags them, while uniformly busy photos don't).

    An edge is an adjacent-column pair whose integer BT.601 luma
    ``(77R + 150G + 29B) >> 8`` differs by more than ``thr``;
    each third scores ``(1000 * edges) // pairs`` (floor), so the
    triple is a closed form of any synthetic generator's parameters.
    Returns ``(top, mid, bottom)`` permille."""
    px = pixels.astype(np.int64)
    luma = (77 * px[..., 0] + 150 * px[..., 1] + 29 * px[..., 2]) >> 8
    h = luma.shape[0]
    edges = np.abs(np.diff(luma, axis=1)) > thr
    bounds = [0, h // 3, (2 * h) // 3, h]
    out = []
    for i in range(3):
        seg = edges[bounds[i] : bounds[i + 1]]
        out.append(int(1000 * int(seg.sum()) // max(1, seg.size)))
    return out[0], out[1], out[2]


def otsu_stats(pixels: np.ndarray) -> tuple[int, int, int]:
    """Otsu threshold + document-image statistics in exact integer
    arithmetic — the "is this a scanned page / rendered text image"
    gate a multimodal corpus runs before routing to OCR instead of
    captioning.

    Threshold: the classic between-class-variance maximizer over the
    256-bin integer BT.601 luma histogram, evaluated EXACTLY by
    cross-multiplying the rational objective
    ``(sum0*N1 - sum1*N0)^2 / (N0*N1)`` in arbitrary-precision ints
    (no float variance) with the LOWEST maximizing threshold kept
    (pinned tie-break, so a two-level histogram thresholds at the
    dark level).  Returns ``(threshold, ink_permille,
    transitions_permille)``: ink = pixels <= threshold; transitions =
    horizontal neighbor pairs crossing the threshold, permille of all
    pairs (floor) — text columns flip constantly, photos don't.  A
    single-level histogram degenerates to threshold = that level,
    ink = 1000, transitions = 0 (documented)."""
    px = pixels.astype(np.int64)
    luma = (77 * px[..., 0] + 150 * px[..., 1] + 29 * px[..., 2]) >> 8
    hist = np.bincount(luma.reshape(-1), minlength=256)
    n = int(luma.size)
    total = int((hist * np.arange(256)).sum())
    best_t, best_num, best_den = 0, -1, 1
    n0 = s0 = 0
    for t in range(256):
        n0 += int(hist[t])
        s0 += int(hist[t]) * t
        n1 = n - n0
        if n0 == 0 or n1 == 0:
            continue
        d = s0 * n1 - (total - s0) * n0
        num, den = d * d, n0 * n1
        # exact rational compare: num/den > best_num/best_den
        if num * best_den > best_num * den:
            best_t, best_num, best_den = t, num, den
    if best_num < 0:  # single-level histogram: no split exists
        best_t = int(luma.min()) if n else 0
    ink = luma <= best_t
    ink_pm = 1000 * int(ink.sum()) // n
    pairs = ink[:, 1:] != ink[:, :-1]
    trans_pm = (
        1000 * int(pairs.sum()) // pairs.size if pairs.size else 0
    )
    return best_t, ink_pm, trans_pm


def posterize_stats(pixels: np.ndarray, cap: int = 4096) -> tuple[int, int]:
    """Posterization probe — the screenshots/charts/renders-vs-photos
    signal an image-caption corpus mixes on (graphics are heavily
    quantized; photos occupy a dense color cloud).  Returns
    ``(distinct_colors, step)``: distinct RGB triples counted up to
    ``cap`` (reported as ``cap`` when exceeded — at web scale nobody
    needs the exact count of a 200k-color photo), and the greatest
    common divisor of all successive differences of the distinct
    VALUE levels across all channels (0 for a single-level image,
    1 for continuous-tone) — a uniform k-step quantizer shows
    ``step == k`` exactly."""
    h, w = pixels.shape[:2]
    flat = pixels.reshape(-1, pixels.shape[2])[:, :3].astype(np.int64)
    packed = (flat[:, 0] << 16) | (flat[:, 1] << 8) | flat[:, 2]
    colors = np.unique(packed)
    distinct = int(min(len(colors), cap))
    levels = np.unique(flat)
    if len(levels) < 2:
        step = 0
    else:
        step = int(np.gcd.reduce(np.diff(levels)))
    return distinct, step
