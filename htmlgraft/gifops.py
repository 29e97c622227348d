"""Real GIF codec: LZW encode/decode over an 8-bit greyscale palette.

GIF is the third major crawl-image format after JPEG and PNG, and — like
PNG — its pixel path needs nothing beyond pure Python: the container is a
fixed header walk (GIF89a signature, logical screen descriptor, colour
tables, extension blocks, image descriptor) and the pixel data is LZW
with GIF's variable code width (9..12 bits, LSB-first bit packing,
Clear/End-of-Information control codes, sub-block framing).  So the
"needs an image codec" stub closes honestly here too:

- ``encode_gif`` — real writer: GIF89a header, 256-entry greyscale global
  colour table, a graphic-control extension AND a multi-sub-block comment
  extension (so a decoder that cannot skip extensions cannot round-trip),
  image descriptor, real LZW compression with code-width growth and
  optional mid-stream Clear codes, trailer.
- ``decode_gif_pixels`` — real reader: signature check, LSD/GCT/LCT
  parsing, extension skipping, full LZW decode (variable width, Clear
  resets, the KwKwK code-not-yet-defined case), strict pixel-count and
  framing validation.  Interlaced images de-interlace for real (4-pass
  row order); truncated streams, missing terminators, and
  out-of-palette indices raise ``ValueError`` — loud error lanes, never a
  silently short or wrong plane.

Non-grey palette entries are mapped to integer luma
((299*r + 587*g + 114*b) div 1000) so arbitrary crawl GIFs still decode
to a deterministic greyscale plane.

The LZW code-width convention (grow when the next assignable code would
no longer fit, reset on Clear) is the interoperable one used by every
mainstream GIF reader; because encoder and decoder live in the same
module, the convention is additionally pinned by a FROZEN literal byte
vector in tests/test_gifops.py (a symmetric convention slip cannot
survive a fixed expected byte string).

Public spec: GIF89a (CompuServe, 1990; W3C mirror) — no reference-repo
counterpart (alwinb/html-parser contains no image code); this module
extends the training-data pixel tier (pixelops.py) to the formats a real
crawl actually carries.
"""

from __future__ import annotations

import struct

from htmlgraft.bmpops import _DECODE_LIMIT, _plane

_SIG87 = b"GIF87a"
_SIG89 = b"GIF89a"
_MIN_CODE = 8          # 256-entry palette -> 8-bit symbols, codes start at 9
_MAX_WIDTH = 12        # GIF caps LZW codes at 12 bits (4096 entries)


class _BitWriter:
    """LSB-first bit packer (GIF packs LZW codes little-endian)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


class _BitReader:
    """LSB-first bit reader; raises ValueError on exhaustion (truncated
    entropy data must be loud, never zero-padded)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("GIF LZW stream exhausted mid-code")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        code = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return code


def _lzw_encode(indices: bytes, min_code: int = _MIN_CODE,
                clear_every: int | None = None) -> bytes:
    """GIF-flavoured LZW: emits an initial Clear, grows the code width as
    the table fills, resets via Clear when the table would exceed 4096
    entries (or every ``clear_every`` emitted codes when set — used by
    tests to exercise the decoder's mid-stream reset path)."""
    clear = 1 << min_code
    eoi = clear + 1
    bw = _BitWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code + 1

    table, next_code, width = reset()
    bw.write(clear, width)
    emitted = 0
    w = b""
    for sym in indices:
        k = bytes([sym])
        wk = w + k
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        emitted += 1
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) and width < _MAX_WIDTH:
            width += 1
        w = k
        if (next_code >= (1 << _MAX_WIDTH)
                or (clear_every and emitted % clear_every == 0)):
            bw.write(clear, width)
            table, next_code, width = reset()
    if w:
        bw.write(table[w], width)
    bw.write(eoi, width)
    return bw.flush()


def _lzw_decode(data: bytes, min_code: int = _MIN_CODE,
                limit: int = _DECODE_LIMIT):
    """Returns (indices, max_width_reached).  Raises ValueError on any
    malformed stream: truncation, a code beyond the table, a first code
    that is not a literal, a missing End-of-Information, or more than
    ``limit`` indices (one 12-bit code can emit 4,093 of them)."""
    clear = 1 << min_code
    eoi = clear + 1
    br = _BitReader(data)
    out = bytearray()
    max_width = min_code + 1

    table: list[bytes] = []
    width = next_code = 0

    def reset():
        nonlocal table, next_code, width
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        next_code = eoi + 1
        width = min_code + 1

    reset()
    prev: bytes | None = None
    while True:
        code = br.read(width)
        if code == clear:
            reset()
            prev = None
            continue
        if code == eoi:
            return bytes(out), max_width
        if prev is None:
            if code >= clear:
                raise ValueError("GIF LZW first code after clear not literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]          # the KwKwK case
        else:
            raise ValueError("GIF LZW code beyond table")
        out += entry
        if len(out) > limit:
            raise ValueError(f"GIF LZW pixel count exceeds {limit}")
        if prev is not None and next_code < (1 << _MAX_WIDTH):
            table.append(prev + entry[:1])
            next_code += 1
            # The decoder's table lags the encoder's by exactly one entry
            # (it reconstructs each add one code later), so its width must
            # grow one code EARLY relative to its own counter to keep
            # reading the widths the encoder wrote (GIF's convention; the
            # frozen byte-vector test pins this against a literal stream).
            if next_code == (1 << width) - 1 and width < _MAX_WIDTH:
                width += 1
                max_width = max(max_width, width)
        prev = entry


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


_GREY_GCT = bytes(v for i in range(256) for v in (i, i, i))


def interlace_rows(h: int):
    """GIF 4-pass interlace row order (GIF89a spec appendix E): rows
    0,8,16.. then 4,12.. then 2,6,10.. then 1,3,5.."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def encode_gif(w: int, h: int, pixels: bytes,
               clear_every: int | None = None,
               interlace: bool = False) -> bytes:
    """Real GIF89a writer for an 8-bit greyscale plane (palette index ==
    grey value).  Includes a graphic-control extension and a comment
    extension so decoders must handle extension skipping.  ``interlace``
    sets the image-descriptor flag and emits rows in the 4-pass order."""
    if len(pixels) != w * h:
        raise ValueError("pixel buffer does not match dimensions")
    if interlace:
        pixels = b"".join(pixels[r * w:(r + 1) * w]
                          for r in interlace_rows(h))
    out = bytearray()
    out += _SIG89
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])               # GCT, 256 entries; bg 0; aspect 0
    out += _GREY_GCT
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"            # GCE, no transparency
    out += b"\x21\xfe" + _sub_blocks(b"htmlgraft synthetic greyscale")
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes(
        [0x40 if interlace else 0x00])
    out += bytes([_MIN_CODE])
    out += _sub_blocks(_lzw_encode(pixels, clear_every=clear_every))
    out += b"\x3b"
    return bytes(out)


def _read_sub_blocks(blob: bytes, pos: int):
    out = bytearray()
    while True:
        if pos >= len(blob):
            raise ValueError("GIF truncated inside sub-blocks")
        n = blob[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(blob):
            raise ValueError("GIF truncated inside sub-blocks")
        out += blob[pos:pos + n]
        pos += n


def _grey(palette: bytes, idx: int) -> int:
    if idx * 3 + 3 > len(palette):
        raise ValueError("GIF pixel index beyond palette")
    r, g, b = palette[idx * 3:idx * 3 + 3]
    if r == g == b:
        return r
    return (299 * r + 587 * g + 114 * b) // 1000


def _gif_screen(blob: bytes):
    """Header and logical screen descriptor: ``(width, height, global
    colour table, offset of the first block)``."""
    if blob[:6] not in (_SIG87, _SIG89):
        raise ValueError("not a GIF")
    if len(blob) < 13:
        raise ValueError("GIF truncated in logical screen descriptor")
    w, h = struct.unpack("<HH", blob[6:10])
    flags = blob[10]
    pos = 13
    gct = b""
    if flags & 0x80:
        n = 3 * (2 << (flags & 0x07))
        gct = blob[pos:pos + n]
        if len(gct) < n:
            raise ValueError("GIF truncated inside global colour table")
        pos += n
    return w, h, gct, pos


def _gif_blocks(blob: bytes, gct: bytes, pos: int, canvas=None):
    """Walk the block stream from ``pos`` (``_gif_screen``) up to the
    trailer, yielding ``("ext", label, data)`` per extension and
    ``("img", width, height, grey_plane)`` per image, in stream order.
    Each image's colour table, LZW data and interlace are decoded here,
    lazily (a consumer that stops early decodes nothing more).  Malformed
    framing raises ``ValueError``; with ``canvas=(w, h)``, an image whose
    geometry is not the full canvas raises ``NotImplementedError`` before
    any of its data is read."""
    while True:
        if pos >= len(blob):
            raise ValueError("GIF truncated before trailer")
        marker = blob[pos]
        pos += 1
        if marker == 0x3B:
            return
        if marker == 0x21:                   # extension: label + sub-blocks
            if pos >= len(blob):
                raise ValueError("GIF truncated inside extension")
            label = blob[pos]
            data, pos = _read_sub_blocks(blob, pos + 1)
            yield "ext", label, data
            continue
        if marker != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")
        if pos + 9 > len(blob):
            raise ValueError("GIF truncated in image descriptor")
        ix, iy, iw, ih = struct.unpack("<HHHH", blob[pos:pos + 8])
        iflags = blob[pos + 8]
        pos += 9
        if canvas is not None and (ix, iy, iw, ih) != (0, 0, *canvas):
            raise NotImplementedError(
                "sub-canvas GIF frame needs disposal compositing")
        palette = gct
        if iflags & 0x80:
            n = 3 * (2 << (iflags & 0x07))
            palette = blob[pos:pos + n]
            if len(palette) < n:
                raise ValueError("GIF truncated inside local colour table")
            pos += n
        if not palette:
            raise ValueError("GIF image has no colour table")
        if pos >= len(blob):
            raise ValueError("GIF truncated before LZW minimum code size")
        min_code = blob[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError("GIF LZW minimum code size out of range")
        data, pos = _read_sub_blocks(blob, pos)
        size = _plane(iw, ih)
        indices, _ = _lzw_decode(data, min_code, size)
        if len(indices) != size:
            raise ValueError(
                f"GIF LZW pixel count {len(indices)} != {iw}x{ih}")
        if iflags & 0x40:                    # de-interlace the 4-pass rows
            plane = bytearray(size)
            for seq, row in enumerate(interlace_rows(ih)):
                plane[row * iw:(row + 1) * iw] = indices[
                    seq * iw:(seq + 1) * iw]
            indices = bytes(plane)
        yield "img", iw, ih, bytes(_grey(palette, i) for i in indices)


def decode_gif_pixels(blob: bytes):
    """Decode the FIRST image frame of a GIF to a greyscale plane.

    Returns ``(width, height, 1, pixel_bytes)`` (same shape as
    ``pixelops.decode_png_pixels``).  Interlaced images (the 4-pass row
    order) are de-interlaced; every malformed-framing case raises
    ``ValueError``."""
    _, _, gct, pos = _gif_screen(blob)
    for block in _gif_blocks(blob, gct, pos):
        if block[0] == "img":
            _, iw, ih, plane = block
            return iw, ih, 1, plane
    raise ValueError("GIF has no image data")


# --- animation: multi-frame streams (GIF89a) ----------------------------------
#
# Animated GIFs are a large share of crawled GIF bytes.  Layout facts
# (public GIF89a spec + the de-facto NETSCAPE2.0 application extension):
# each frame is its own image descriptor (+ optional local colour table
# + LZW data), normally preceded by a graphic-control extension whose
# bytes 2-3 carry the frame delay in centiseconds; the loop count rides
# an application extension labelled 'NETSCAPE2.0' whose data sub-block
# is 01 <u16le loops> (0 = forever).
#
# Scope: full-canvas frames decode for real (delays, loop count, per-
# frame planes, interlace per frame); frames with a sub-canvas geometry
# would need disposal-method compositing, which raises a loud
# NotImplementedError rather than returning a wrongly-composed plane.


def encode_gif_anim(w: int, h: int, frames, delays_cs, loop: int = 0) -> bytes:
    """Real animated GIF89a: NETSCAPE2.0 loop extension, then per frame
    a GCE carrying its centisecond delay + a full-canvas image
    descriptor (odd frame indexes interlaced) + real LZW data."""
    if len(frames) != len(delays_cs) or not frames:
        raise ValueError("frames/delays mismatch")
    out = bytearray()
    out += _SIG89
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])
    out += _GREY_GCT
    out += (b"\x21\xff" + bytes([11]) + b"NETSCAPE2.0"
            + bytes([3, 1]) + struct.pack("<H", loop) + b"\x00")
    for k, (plane, delay) in enumerate(zip(frames, delays_cs)):
        if len(plane) != w * h:
            raise ValueError(f"frame {k} size mismatch")
        interlace = bool(k & 1)
        px = plane
        if interlace:
            px = b"".join(plane[r * w:(r + 1) * w]
                          for r in interlace_rows(h))
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes(
            [0x40 if interlace else 0x00])
        out += bytes([_MIN_CODE])
        out += _sub_blocks(_lzw_encode(px))
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(blob: bytes):
    """(width, height, loop, [(delay_cs, greyscale plane), ...]) for an
    animated (or single-frame) GIF; every frame's LZW stream decodes for
    real and interlaced frames de-interlace.  Malformed framing raises
    ValueError; sub-canvas frames raise NotImplementedError (compositing
    is out of scope, silence is not)."""
    w, h, gct, pos = _gif_screen(blob)
    loop = None
    delay = 0
    frames = []
    for block in _gif_blocks(blob, gct, pos, canvas=(w, h)):
        if block[0] == "img":
            frames.append((delay, block[3]))
            delay = 0
            continue
        _, label, data = block
        if label == 0xF9 and len(data) >= 4:
            delay = struct.unpack("<H", data[1:3])[0]
        elif label == 0xFF and data[:11] == b"NETSCAPE2.0" \
                and len(data) >= 14 and data[11] == 1:
            loop = struct.unpack("<H", data[12:14])[0]
    if not frames:
        raise ValueError("GIF has no image data")
    return w, h, loop if loop is not None else -1, frames
