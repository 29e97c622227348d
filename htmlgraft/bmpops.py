"""Real BMP codec — Windows DIB (BITMAPINFOHEADER) reader/writer in pure
Python.  BMP needs no entropy codec, so unlike the JPEG/GIF tiers there is
no NotImplementedError boundary for the common forms: 8-bit paletted and
24-bit BGR BI_RGB bitmaps encode and decode for real, both bottom-up
(positive height, the classic layout) and top-down (negative height).

Format facts (public: the Windows BMP file-format documentation and the
BITMAPINFOHEADER structure layout are published by Microsoft; every field
below is from that public layout):

* BITMAPFILEHEADER: ``BM`` magic, u32 file size, 4 reserved bytes,
  u32 pixel-array offset — all little-endian.
* BITMAPINFOHEADER (40 bytes): u32 header size (40), i32 width,
  i32 height (NEGATIVE => top-down row order), u16 planes (1),
  u16 bit count, u32 compression (0 = BI_RGB, uncompressed),
  u32 image size, two i32 ppm resolutions, u32 colors used,
  u32 colors important.
* 8-bit files carry a palette of up to 256 BGRX quads between the info
  header and the pixel array; each pixel byte indexes it.
* Every pixel ROW is padded to a 4-byte boundary.

Decoded output is a GREYSCALE plane: palette entries / BGR triples are
luma-mapped with the integer BT.601-style transform
``(77*r + 150*g + 29*b + 128) >> 8`` (77+150+29 = 256, so an (i,i,i)
grey entry maps to exactly i) — the same closed-form contract the
relational oracles restate.

Hostile-input posture (the 10^12-blob rule shared by pngops/gifops/
jpegops): truncation, bad magic, short headers, palette-out-of-range
indexes, and inconsistent sizes raise ValueError; compressed BMPs
(BI_RLE8/BI_RLE4/BI_BITFIELDS) and other bit depths raise
NotImplementedError — loud per-row error lanes, never a silently wrong
plane.

This module also holds the size decisions every binary decoder shares:
``_plane`` checks a header-sized allocation before it is made, and
``_inflate`` is the one bounded DEFLATE/zlib/gzip inflate.  They live
here because this module imports nothing of the package, so every
decoder can import them without a cycle (``media`` imports pyspark).
"""

from __future__ import annotations

import struct
import zlib

# Bytes one decode may allocate on a header's word, or inflate from a
# stream that states no size: Pillow's decompression-bomb threshold,
# Image.MAX_IMAGE_PIXELS = 1024**3 // 4 // 3 = 89,478,485 px (it warns
# above that, refuses twice that), as an 8-bit RGB plane.
_DECODE_LIMIT = 256 << 20
_INFLATE_STEP = 1 << 16  # compressed bytes fed to the decompressor at once
_FRAMING = {15: "zlib", -15: "deflate", 31: "gzip"}  # wbits -> stream name


def _plane(w: int, h: int, unit: int = 1, avail: int | None = None,
           what: str = "pixel data") -> int:
    """Bytes of a ``w`` x ``h`` plane of ``unit``-byte cells, checked
    before it is allocated: positive dimensions, and within the ``avail``
    bytes an uncompressed blob holds for it, or else ``_DECODE_LIMIT``."""
    if w <= 0 or h <= 0:
        raise ValueError(f"bad {what} dimensions {w}x{h}")
    size = w * h * unit
    if avail is not None:
        if size > avail:
            raise ValueError(f"truncated {what}: {size} bytes, {avail} left")
    elif size > _DECODE_LIMIT:
        raise ValueError(f"{w}x{h} {what} of {size} bytes exceeds the limit")
    return size


def _inflate(data, wbits: int = 15, limit: int = _DECODE_LIMIT):
    """(output, bytes of ``data`` used) of the one ``wbits`` stream (15
    zlib, -15 raw, 31 gzip) at the start of ``data``, fed in slices of one
    memoryview.  Output past ``limit``, a truncated stream and any
    ``zlib.error`` raise ValueError."""
    view = memoryview(data)
    d = zlib.decompressobj(wbits)
    parts, size, pos = [], 0, 0
    try:
        while not d.eof and pos < len(view):
            part = d.decompress(view[pos:pos + _INFLATE_STEP],
                                limit + 1 - size)
            size += len(part)
            if size > limit:
                raise ValueError(f"inflated stream exceeds {limit} bytes")
            parts.append(part)
            pos = min(pos + _INFLATE_STEP, len(view))
    except zlib.error as exc:
        raise ValueError(f"bad {_FRAMING[wbits]} stream: {exc}") from None
    if not d.eof:
        raise ValueError(f"truncated {_FRAMING[wbits]} stream")
    return b"".join(parts), pos - len(d.unused_data)


_FILEHDR = struct.Struct("<2sIHHI")     # magic, size, res1, res2, offset
_INFOHDR = struct.Struct("<IiiHHIIiiII")


def _luma(r: int, g: int, b: int) -> int:
    return (77 * r + 150 * g + 29 * b + 128) >> 8


def _pad(row_bytes: int) -> int:
    return (-row_bytes) % 4


def encode_bmp(
    w: int,
    h: int,
    pixels: bytes,
    bits: int = 8,
    top_down: bool = False,
    palette: list[tuple[int, int, int]] | None = None,
) -> bytes:
    """Encode a plane as a real BMP.  ``bits=8``: ``pixels`` are palette
    indexes (default palette = greyscale identity); ``bits=24``:
    ``pixels`` are packed RGB triples (stored BGR on disk, per the
    format).  ``top_down`` stores rows first-row-first with a negative
    height."""
    if bits == 8:
        if len(pixels) != w * h:
            raise ValueError("pixel count mismatch")
        pal = palette if palette is not None else [(i, i, i) for i in range(256)]
        pal_blob = b"".join(bytes((b, g, r, 0)) for (r, g, b) in pal)
        rows = [pixels[y * w:(y + 1) * w] for y in range(h)]
        row_bytes = w
    elif bits == 24:
        if len(pixels) != 3 * w * h:
            raise ValueError("pixel count mismatch")
        if palette is not None:
            raise ValueError("24-bit BMPs carry no palette")
        pal_blob = b""
        rows = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                r, g, b = pixels[3 * (y * w + x):3 * (y * w + x) + 3]
                row += bytes((b, g, r))
            rows.append(bytes(row))
        row_bytes = 3 * w
    else:
        raise NotImplementedError(f"bit depth {bits}")
    pad = b"\x00" * _pad(row_bytes)
    order = rows if top_down else rows[::-1]
    arr = b"".join(r + pad for r in order)
    n_colors = len(pal_blob) // 4
    offset = _FILEHDR.size + _INFOHDR.size + len(pal_blob)
    info = _INFOHDR.pack(
        40, w, -h if top_down else h, 1, bits, 0, len(arr),
        2835, 2835, n_colors, 0,
    )
    fhdr = _FILEHDR.pack(b"BM", offset + len(arr), 0, 0, offset)
    return fhdr + info + pal_blob + arr


def decode_bmp_pixels(blob: bytes):
    """(width, height, 1, greyscale bytes) from a BMP blob — luma-mapped,
    row order normalized to top-down regardless of carrier layout."""
    if len(blob) < _FILEHDR.size + _INFOHDR.size:
        raise ValueError("truncated BMP header")
    magic, _fsize, _r1, _r2, offset = _FILEHDR.unpack_from(blob, 0)
    if magic != b"BM":
        raise ValueError("bad BMP magic")
    (hsize, w, h_raw, planes, bits, comp, _isize,
     _xppm, _yppm, n_colors, _imp) = _INFOHDR.unpack_from(blob, _FILEHDR.size)
    if hsize < 40:
        raise ValueError(f"unsupported DIB header size {hsize}")
    if planes != 1:
        raise ValueError(f"planes = {planes}")
    if comp != 0:
        raise NotImplementedError(f"BMP compression {comp} (not BI_RGB)")
    if bits not in (8, 24):
        raise NotImplementedError(f"bit depth {bits}")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    px, _ = dib_plane(blob, offset, _FILEHDR.size + hsize, w, h, bits,
                      n_colors, top_down)
    return w, h, 1, px


def dib_plane(blob: bytes, offset: int, pal_off: int, w: int, h: int,
              bits: int, n_colors: int, top_down: bool):
    """(greyscale plane, end of the pixel array) of an 8-bit paletted or
    24-bit BGR DIB pixel array at ``offset``: the palette of
    ``n_colors`` BGRX quads (0 means 256) at ``pal_off``, rows padded to
    4 bytes, bottom-up unless ``top_down``.  Raises ValueError on a
    truncated palette or pixel array and on a palette index out of range;
    the header checks stay with the callers (``decode_bmp_pixels`` and
    ``icoops.decode_dib_member``, which also bounds its AND mask)."""
    pal = []
    if bits == 8:
        n_colors = n_colors or 256
        if pal_off + 4 * n_colors > len(blob):
            raise ValueError("truncated palette")
        for p in range(pal_off, pal_off + 4 * n_colors, 4):
            b, g, r = blob[p:p + 3]
            pal.append(_luma(r, g, b))
    row_bytes = w if bits == 8 else 3 * w
    stride = row_bytes + _pad(row_bytes)
    end = offset + _plane(stride, h, 1, len(blob) - offset, "pixel array")
    out = bytearray(w * h)
    for y in range(h):
        src_y = y if top_down else h - 1 - y
        row = blob[offset + src_y * stride:offset + src_y * stride + row_bytes]
        if bits == 8:
            for x in range(w):
                idx = row[x]
                if idx >= len(pal):
                    raise ValueError(f"palette index {idx} out of range")
                out[y * w + x] = pal[idx]
        else:
            for x in range(w):
                b, g, r = row[3 * x:3 * x + 3]
                out[y * w + x] = _luma(r, g, b)
    return bytes(out), end


def nn_sample(w: int, h: int, bpp: int, px: bytes,
              new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resample of a decoded plane of ``bpp``-byte
    pixels: src = dst * src_dim div dst_dim, pure integer index math, so
    every codec's resize is restatable relationally by the oracle."""
    cols = [x * w // new_w * bpp for x in range(new_w)]
    out = bytearray()
    for y in range(new_h):
        row = y * h // new_h * w * bpp
        for c in cols:
            out += px[row + c:row + c + bpp]
    return bytes(out)


def resample_bmp(blob: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resample, re-encoded as an 8-bit greyscale
    bottom-up BMP (lossless carrier for the resampled luma plane)."""
    out = nn_sample(*decode_bmp_pixels(blob), new_w, new_h)
    return encode_bmp(new_w, new_h, out, bits=8)
