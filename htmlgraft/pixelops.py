"""Real pixel tier: decode, resample and perceptual-hash dedup over real
image codecs, driven by one tier table.

The six perceptual-hash tiers are rows of ``_TIERS``: PNG (codec here),
baseline and progressive JPEG (jpegops.py), GIF (gifops.py), BMP
(bmpops.py) and TIFF (tiffops.py).  A row holds the tier's name and binary
column, its dims as ``(offset, mul, mod)`` data over ``b = doc_id % 7``
(every 7th document is an exact pixel duplicate), its pixel formula as
data (linear ``(mul_b, mul_x, mul_y, mod, offset)`` or a JPEG
coefficient-term table), its synthetic encoder ``doc_id -> bytes`` and its
real decoder ``bytes -> (w, h, bpp, px)``.  A formula is evaluated two
ways: on ints it gives the plane the codec must decode, on ``_Sql`` column
names it gives the oracle's SQL, so the Python twin and the SQL cannot
drift apart (the committed oracle digests in the tests pin both).

One of each builder sits on the table:

- ``_corpus`` — one synth row (``_one_row`` on ``job.map_rows``): a
  tier's real bytes per doc; the same per-doc map serves every map-only
  query;
- ``_hash_row`` — decode the ACTUAL bytes, grey-collapse, pixel sum,
  dHash; ``_keep_min`` — the min-doc_id keeper over the dHash group;
- ``_phash_pair`` / ``_resize_pair`` — a gated query and its DuckDB
  oracle; ``_dhash_ctes`` restates the dHash relationally and is reused
  by ``pixel_orient`` and ``pixel_neardup``;
- ``_jpeg_pixel`` — the fixed-point IDCT pixel of baseline, progressive
  and the near-dup perturbation;
- ``_frames_oracle_sql`` — frame sums of animated GIF and APNG;
- ``pixel_decode_audit`` — magic-byte dispatch over the table, with its
  oracle CTEs generated from the audit lane list.

The oracles never see image bytes: they recompute sums and the dHash
from the formulas, so any slip in deflate framing, CRC, filtering, LZW,
Huffman/IDCT, padding, strips, orientation or the hash bit order is a
value mismatch.  Encoder and decoder cannot conspire: the gate pins
decoded VALUES against an independent recompute, and pytest pins fixed
byte vectors.

PNG needs nothing beyond the standard library: zlib (RFC 1950/1951) over
five per-row predictive filters (PNG spec §6).  ``encode_png`` cycles the
row filter through all five types, so a decoder with any unfilter wrong
cannot round-trip; ``decode_png_pixels`` verifies CRCs, concatenates
IDATs, inflates, unfilters, de-interlaces Adam7 and expands PLTE, for 8-
and 16-bit grey / RGB / grey+alpha / RGBA plus 8-bit indexed (packed
1/2/4-bit depths raise ``NotImplementedError``).  ``resample_png`` is
nearest-neighbour (src = dst * src_dim div dst_dim, pure integer index
math the oracle can restate).  ``dhash_gray`` is the standard 64-bit
difference hash (9x8 nearest-neighbour grid, bit set where a pixel
outshines its right neighbour).

Scale shape: every query is Arrow-batched ``mapInPandas`` maps (binary
columns ride Arrow buffers) plus at most one hash-keyed shuffle; nothing
JVM-computable hides inside a UDF.  The 64-bit dHash travels as a
16-hex-char string built from eight row bytes — 32-bit-safe for DuckDB
(which range-checks ``1::bigint << 63``) and byte-order-explicit on
both engines.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window, functions as F

from htmlgraft import bmpops, gifops, icoops, jpegops, tiffops
from htmlgraft.bmpops import _inflate, _plane
from htmlgraft.job import map_rows

PHASH_BASES = 7


# --- formulas over ints or SQL -----------------------------------------------

class _Sql:
    """SQL text that composes under ``+ - * // %`` like the int it stands
    for.  Each formula here is written once: evaluated on ints it yields
    the pixel a codec must decode, on ``_Sql`` column names the oracle's
    SQL for it.  Every operation is parenthesized, so SQL precedence never
    matters; operands stay non-negative wherever ``//`` or ``%`` apply, so
    DuckDB's truncating and Python's flooring semantics agree."""

    def __init__(self, text: str):
        self.text = text

    def __str__(self) -> str:
        return self.text

    def _op(sym, swap=False):
        def op(a, c):
            return _Sql(f"({c} {sym} {a})" if swap else f"({a} {sym} {c})")
        return op

    __add__, __radd__ = _op("+"), _op("+", True)
    __sub__, __rsub__ = _op("-"), _op("-", True)
    __mul__, __rmul__ = _op("*"), _op("*", True)
    __floordiv__, __mod__ = _op("//"), _op("%")
    del _op


_BASE = _Sql(f"(doc_id % {PHASH_BASES})")
_B, _W, _H = _Sql("b"), _Sql("w"), _Sql("h")


def _dim(spec, b):
    """One image dimension of base ``b`` from ``(offset, mul, mod)``."""
    off, mul, mod = spec
    return off + b * mul % mod


def _lin(spec, b, x, y, k=0):
    """Linear pixel ``offset + (b*mul_b + x*mul_x + y*mul_y) % mod`` from
    ``(mul_b, mul_x, mul_y, mod, offset)``; an optional sixth entry
    ``mul_k`` adds the frame term ``k*mul_k`` inside the modulus."""
    mb, mx, my, mod, off, *mk = spec
    s = b * mb + x * mx + y * my
    if mk:
        s = s + k * mk[0]
    return off + s % mod


def _coef(term, b, nb):
    """Quantized coefficient ``(b*mul_b + nb*mul_nb) % mod - shift`` of
    block ``nb`` for one JPEG term."""
    _zz, mb, mn, mod, shift = term[:5]
    return (b * mb + nb * mn) % mod - shift


def _idct(u: int, r):
    """The jpegops fixed-point IDCT basis entry T[u][r]."""
    if isinstance(r, _Sql):
        return _Sql(f"({list(jpegops.IDCT_T[u])}[{r} + 1])")
    return jpegops.IDCT_T[u][r]


def _jpeg_pixel(terms, b, w, x, y, bump=None):
    """Decoded pixel at (x, y) of a JPEG coefficient-term table.  A term
    ``(zz, mul_b, mul_nb, mod, shift, q, ux, uy)`` puts ``_coef`` at
    zigzag ``zz`` of every block, dequantized by its Annex-K ``q``, with
    IDCT basis rows ``ux`` along x and ``uy`` along y; the sum runs
    through the jpegops fixed-point IDCT contract (descale by 2^22 with
    rounding, level shift, clamp).  ``bump`` (a SQL column) is the
    near-dup perturbation added to block 0's zigzag-9 coefficient."""
    nb = y // 8 * ((w + 7) // 8) + x // 8
    val = 0
    for term in terms:
        c = _coef(term, b, nb)
        if bump is not None and term[0] == _NEARDUP_ZZ:
            c = c + _Sql(f"(case when {nb} = 0 then {bump} else 0 end)")
        q, ux, uy = term[5:]
        val = val + c * q * _idct(ux, x % 8) * _idct(uy, y % 8)
    if isinstance(val, _Sql):
        # floor of a power-of-two float division is exact here
        # (|val| < 2^31 << 2^52) and matches the decoder's arithmetic
        # shift bit for bit
        return _Sql(f"greatest(0, least(255, cast(floor(({val} + 2097152)"
                    " / 4194304.0) as bigint) + 128))")
    return max(0, min(255, ((val + (1 << 21)) >> 22) + 128))


# --- real PNG codec (public spec, stdlib zlib only) --------------------------

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def _png_chunks(blob: bytes):
    """Walk the chunks after the signature, yielding (type, payload, end)
    with ``end`` the offset of the next chunk.  A chunk cut short (payload
    or trailing CRC) or with a bad CRC raises ValueError."""
    i, n = 8, len(blob)
    while i + 8 <= n:
        clen = struct.unpack(">I", blob[i:i + 4])[0]
        typ = blob[i + 4:i + 8]
        end = i + 12 + clen
        if end > n:
            raise ValueError(f"PNG chunk {typ!r} truncated")
        data = blob[i + 8:end - 4]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != struct.unpack(
                ">I", blob[end - 4:end])[0]:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        yield typ, data, end
        i = end


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    if ftype == 0:
        return row
    out = bytearray(len(row))
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        else:
            out[i] = (x - _paeth(a, b, c)) & 0xFF
    return bytes(out)


def _unfilter_row(ftype: int, row: bytearray, prev: bytes, bpp: int) -> None:
    if ftype == 0:
        return
    for i in range(len(row)):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            row[i] = (row[i] + a) & 0xFF
        elif ftype == 2:
            row[i] = (row[i] + b) & 0xFF
        elif ftype == 3:
            row[i] = (row[i] + (a + b) // 2) & 0xFF
        elif ftype == 4:
            row[i] = (row[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise NotImplementedError(f"unknown PNG filter type {ftype}")


# Adam7 pass grid (x0, y0, dx, dy) — PNG spec §8.2 (public W3C/ISO text).
# Each pass is an INDEPENDENT sub-image: its own row filters, its own
# zero prior row; a pass whose sub-image is empty contributes no bytes.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_image(rows: list[bytes], bpp: int) -> bytearray:
    """Serialize rows with the y % 5 filter cycle (prev restarts at the
    zero row — callers pass one pass's rows at a time)."""
    raw = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for y, row in enumerate(rows):
        ftype = y % 5
        raw.append(ftype)
        raw += _filter_row(ftype, row, prev, bpp)
        prev = row
    return raw


def encode_png(
    w: int,
    h: int,
    pixels: bytes,
    color_type: int = 0,
    interlace: bool = False,
    palette: list[tuple[int, int, int]] | None = None,
    depth: int = 8,
) -> bytes:
    """Write a real, spec-conformant PNG.  The row filter cycles
    y % 5 so every filter type appears in any image at least 9 rows tall —
    a decoder with any unfilter wrong cannot round-trip this output.
    ``interlace=True`` writes the seven Adam7 passes (each its own
    filter chain).  ``color_type=3`` writes a PLTE chunk from ``palette``
    and stores ``pixels`` as indexes.  ``depth=16`` stores ``pixels`` as
    big-endian 2-byte samples (filtering operates on bytes with the
    doubled pixel offset, per the spec)."""
    if depth not in (8, 16):
        raise ValueError(f"bit depth {depth}")
    if color_type == 3:
        if palette is None:
            raise ValueError("color_type 3 needs a palette")
        if depth != 8:
            raise ValueError("indexed PNGs here are 8-bit")
        bpp = 1
    else:
        if palette is not None:
            raise ValueError("palette only valid for color_type 3")
        bpp = _CHANNELS[color_type] * (depth // 8)
    stride = w * bpp
    if len(pixels) != stride * h:
        raise ValueError(f"need {stride * h} bytes, got {len(pixels)}")
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0,
                       1 if interlace else 0)
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            rows = []
            for y in range(y0, h, dy):
                row = bytearray()
                for x in range(x0, w, dx):
                    row += pixels[(y * w + x) * bpp:(y * w + x) * bpp + bpp]
                if row:
                    rows.append(bytes(row))
            raw += _filter_image(rows, bpp)
    else:
        rows = [pixels[y * stride:(y + 1) * stride] for y in range(h)]
        raw = _filter_image(rows, bpp)
    plte = b""
    if color_type == 3:
        plte = _chunk(b"PLTE", b"".join(bytes(rgb) for rgb in palette))
    return (_SIG + _chunk(b"IHDR", ihdr) + plte
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _chunk(b"IEND", b""))


def _png_image(data, w: int, h: int, bpp: int, interlace: int) -> bytes:
    """Inflate and unfilter the zlib stream of a ``w`` x ``h`` image of
    ``bpp``-byte pixels, each row scattered to its place on the grid (its
    Adam7 pass's when ``interlace``).  The header states the inflated
    size, so it is the inflate limit, and the stream must fill it."""
    passes = []
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph))
    want = sum(ph * (pw * bpp + 1) for *_, pw, ph in passes)
    raw, _ = _inflate(data, limit=want)
    if len(raw) != want:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(w * h * bpp)
    pos = 0
    for x0, y0, dx, dy, pw, ph in passes:
        stride = pw * bpp
        prev = bytes(stride)
        for py in range(ph):
            row = bytearray(raw[pos + 1:pos + 1 + stride])
            _unfilter_row(raw[pos], row, prev, bpp)
            pos += 1 + stride
            prev = row
            at = ((y0 + py * dy) * w + x0) * bpp
            for ch in range(bpp):
                out[at + ch:at + ch + stride * dx:dx * bpp] = row[ch::bpp]
    return bytes(out)


def decode_png_pixels(blob: bytes):
    """Full pixel decode: (width, height, channels, pixel bytes).

    Real chunk walk (CRCs verified — a corrupt chunk raises), IDAT
    concatenation across chunks, zlib inflate, per-row unfiltering,
    Adam7 de-interlacing (seven independent pass sub-images scattered
    back onto the full grid), and PLTE expansion for color type 3
    (indexed pixels decode to their RGB triples, so channels == 3).
    Scope: 8-bit depth, color types 0/2/3/4/6, interlace methods 0/1;
    16-bit raises ``NotImplementedError`` (absent codec tables, not
    silently wrong output)."""
    if blob[:8] != _SIG:
        raise ValueError("not a PNG")
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    plte = None
    for typ, data, _end in _png_chunks(blob):
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
        elif typ == b"PLTE":
            if len(data) % 3 or not data:
                raise ValueError("bad PLTE length")
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if ctype not in _CHANNELS and ctype != 3:
        raise NotImplementedError(f"PNG color_type={ctype}")
    if depth not in (8, 16) or (depth == 16 and ctype == 3):
        raise NotImplementedError(
            f"PNG depth={depth} color_type={ctype} (1/2/4-bit packed "
            "samples not implemented here)")
    if interlace not in (0, 1):
        raise ValueError(f"bad interlace method {interlace}")
    if ctype == 3 and plte is None:
        raise ValueError("color type 3 without PLTE")
    bpp = 1 if ctype == 3 else _CHANNELS[ctype] * (depth // 8)
    # indexed pixels expand to RGB triples: the largest plane made here
    _plane(w, h, 3 if ctype == 3 else bpp)
    out = _png_image(idat, w, h, bpp, interlace)
    if ctype == 3:
        n_pal = len(plte) // 3
        rgb = bytearray(3 * w * h)
        for j, idx in enumerate(out):
            if idx >= n_pal:
                raise ValueError(f"palette index {idx} out of range")
            rgb[3 * j:3 * j + 3] = plte[3 * idx:3 * idx + 3]
        return w, h, 3, bytes(rgb)
    if depth == 16:
        # reduce big-endian 16-bit samples to their high bytes — the
        # standard 16 -> 8 presentation, and EXACT for the v * 257
        # planes that 8-bit sources upscale to
        return w, h, bpp // 2, bytes(out)[0::2]
    return w, h, bpp, bytes(out)


def resample_png(blob: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resample of a real PNG through a real decode and
    re-encode.  src = dst * src_dim div dst_dim — pure integer index math,
    restatable relationally by the oracle."""
    return _resample_plane(*decode_png_pixels(blob), new_w, new_h)


def _resample_plane(w: int, h: int, bpp: int, px: bytes,
                    new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resample of a decoded plane, re-encoded as PNG."""
    ctype = {1: 0, 3: 2, 2: 4, 4: 6}[bpp]
    return encode_png(new_w, new_h,
                      bmpops.nn_sample(w, h, bpp, px, new_w, new_h), ctype)


def dhash_gray(w: int, h: int, px: bytes) -> str:
    """64-bit difference hash over a greyscale plane as 16 hex chars:
    sample a 9x8 nearest-neighbour grid, set bit j of row byte i when
    grid[i][j] > grid[i][j+1]; rows concatenate top-down, bit j carries
    weight 1 << j.  Requires w >= 9 (9 distinct sample columns need not
    be distinct source columns — NN sampling handles any w >= 1, but the
    synthetic corpus guarantees w >= 12)."""
    rows = []
    for i in range(8):
        sy = i * h // 8
        samples = [px[sy * w + (j * w // 9)] for j in range(9)]
        byte = 0
        for j in range(8):
            if samples[j] > samples[j + 1]:
                byte |= 1 << j
        rows.append(byte)
    return "".join(f"{b:02x}" for b in rows)


def grey_plane(bpp: int, px: bytes) -> bytes:
    """Collapse a decoded plane to greyscale: bpp 1 passes through; RGB
    maps through the shared integer luma transform (exact on the grey
    triples the palette carriers decode to); grey+alpha drops alpha."""
    if bpp == 1:
        return px
    if bpp == 2:
        return px[0::2]
    if bpp == 3:
        return bytes(bmpops._luma(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                     for j in range(len(px) // 3))
    raise NotImplementedError(f"grey collapse for {bpp} channels")


# --- tier encoders: real bytes of the formula plane --------------------------

# The permuted-palette pair: stored index = v * 3 mod 256, palette entry
# i = the grey triple (i*171 % 256, ...) — 171 * 3 = 513 ≡ 1 (mod 256),
# so PLTE lookup reconstructs v exactly.  The permutation makes the
# lookup LOAD-BEARING: an index-pass-through bug yields the permuted
# plane, not the formula plane, and fails the value oracle.
_PAL_PERM = [((i * 171) % 256,) * 3 for i in range(256)]


def synth_dims(doc_id: int):
    """(base, width, height) of the PNG/JPEG-tier image of doc_id."""
    base = doc_id % PHASH_BASES
    return (base, *_TIERS["png"].size(base))


def synth_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the PNG-tier image of doc_id."""
    return _TIERS["png"].plane(doc_id)


def synth_gif_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the GIF-tier image of doc_id."""
    return _TIERS["gif"].plane(doc_id)


def synth_bmp_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the BMP-tier image of doc_id."""
    return _TIERS["bmp"].plane(doc_id)


def synth_tiff_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the TIFF-tier image of
    doc_id."""
    return _TIERS["tiff"].plane(doc_id)


def synth_png(doc_id: int) -> bytes:
    """Real PNG bytes for the formula plane, sweeping the container axes
    the oracle is blind to: doc_id % 4 == 0 -> Adam7 interlaced grey,
    == 1 -> plain greyscale (the classic carrier), == 2 -> indexed
    (color type 3) through the permuted grey palette, == 3 -> 16-bit
    greyscale storing v * 257 (so the high-byte reduction is exact and a
    byte-offset slip in the 2-byte filter arithmetic shows up as a value
    mismatch)."""
    w, h, px = synth_pixels(doc_id)
    m = doc_id % 4
    if m == 0:
        return encode_png(w, h, px, interlace=True)
    if m == 2:
        idx = bytes((v * 3) % 256 for v in px)
        return encode_png(w, h, idx, color_type=3, palette=_PAL_PERM)
    if m == 3:
        px16 = b"".join(struct.pack(">H", v * 257) for v in px)
        return encode_png(w, h, px16, depth=16)
    return encode_png(w, h, px)


def _coeff_blocks(name: str, doc_id: int):
    """(w, h, zigzag-ordered quantized blocks) of a JPEG tier."""
    t = _TIERS[name]
    base = doc_id % PHASH_BASES
    w, h = t.size(base)
    blocks = []
    for nb in range(((w + 7) // 8) * ((h + 7) // 8)):
        zz = [0] * 64
        for term in t.pix:
            zz[term[0]] = _coef(term, base, nb)
        blocks.append(zz)
    return w, h, blocks


def synth_jpeg_coeffs(doc_id: int):
    """(w, h, zigzag-ordered quantized blocks) for the synthetic JPEG."""
    return _coeff_blocks("jpeg", doc_id)


def synth_prog_coeffs(doc_id: int):
    """(w, h, zigzag blocks) for the progressive-tier synthetic JPEG."""
    return _coeff_blocks("prog", doc_id)


def synth_jpeg(doc_id: int) -> bytes:
    return jpegops.encode_jpeg_gray_coeffs(*synth_jpeg_coeffs(doc_id))


def synth_prog_jpeg(doc_id: int) -> bytes:
    return jpegops.encode_jpeg_gray_coeffs_progressive(
        *synth_prog_coeffs(doc_id))


def jpeg_pixel(doc_id: int, x: int, y: int) -> int:
    """Closed-form decoded pixel of the baseline-JPEG tier (the Python
    twin of its oracle SQL)."""
    base, w, _h = synth_dims(doc_id)
    return _TIERS["jpeg"].px(base, w, x, y)


def prog_pixel(doc_id: int, x: int, y: int) -> int:
    """Closed-form decoded pixel of the progressive-JPEG tier."""
    base, w, _h = synth_dims(doc_id)
    return _TIERS["prog"].px(base, w, x, y)


def _synth_gif(doc_id: int) -> bytes:
    return gifops.encode_gif(*synth_gif_pixels(doc_id),
                             interlace=bool(doc_id & 1))


def synth_bmp(doc_id: int) -> bytes:
    """Real BMP bytes: odd doc_ids carry 24-bit BGR with the exact-luma
    channel split, even doc_ids the 8-bit greyscale palette; every third
    doc is stored top-down — all under one carrier-blind oracle."""
    w, h, lum = synth_bmp_pixels(doc_id)
    top_down = doc_id % 3 == 0
    if doc_id % 2:
        rgb = b"".join(bytes((v + 2, v, v - 4)) for v in lum)
        return bmpops.encode_bmp(w, h, rgb, bits=24, top_down=top_down)
    return bmpops.encode_bmp(w, h, lum, bits=8, top_down=top_down)


def synth_tiff(doc_id: int) -> bytes:
    """Real TIFF bytes sweeping the carrier axes: byte order by doc_id
    parity, sample layout by doc_id % 3 (RGB with the exact-luma channel
    split / grey BlackIsZero / grey WhiteIsZero inverted storage), and
    strip granularity by doc_id % 4 (1-row strips / 5-row strips /
    single strip) — all under one carrier-blind oracle."""
    w, h, lum = synth_tiff_pixels(doc_id)
    big_endian = doc_id % 2 == 1
    rps = {0: 1, 1: 5}.get(doc_id % 4)
    if doc_id % 3 == 0:
        rgb = b"".join(bytes((v + 2, v, v - 4)) for v in lum)
        return tiffops.encode_tiff(w, h, rgb, rgb=True, big_endian=big_endian,
                                   rows_per_strip=rps)
    return tiffops.encode_tiff(w, h, lum, big_endian=big_endian,
                               rows_per_strip=rps,
                               white_is_zero=doc_id % 3 == 2)


# --- the tier table ----------------------------------------------------------

class _Tier(NamedTuple):
    """One formula family: see the module docstring and ``_TIERS``."""

    name: str
    col: str                # binary column, and the decode audit's format
    magic: tuple            # leading bytes the decode audit sniffs
    dims: tuple             # (offset, mul, mod) of width, then of height
    pix: tuple              # linear spec, or a JPEG coefficient-term table
    encode: Callable[[int], bytes]
    decode: Callable[[bytes], tuple]

    def size(self, b):
        return _dim(self.dims[0], b), _dim(self.dims[1], b)

    def px(self, b, w, x, y, bump=None):
        if isinstance(self.pix[0], int):
            return _lin(self.pix, b, x, y)
        return _jpeg_pixel(self.pix, b, w, x, y, bump)

    def plane(self, doc_id: int):
        """(width, height, greyscale bytes) the decode must yield."""
        b = doc_id % PHASH_BASES
        w, h = self.size(b)
        return w, h, bytes(self.px(b, w, x, y)
                           for y in range(h) for x in range(w))

    def imgs_sql(self, extra: str = "") -> str:
        w, h = self.size(_BASE)
        return (f"select doc_id, {_BASE} as b, {w} as w, {h} as h{extra}"
                " from documents")


_JPEG_MAGIC = (b"\xff\xd8",)

# Formula constants differ per tier, so a copy-paste slip between tiers
# fails the oracle.  The first tier whose magic matches decodes a blob in
# the audit (progressive JPEG sniffs as jpeg).
_TIERS = {t.name: t for t in (
    # PNG: the carrier axes of ``synth_png`` (plain / Adam7 / permuted
    # palette / 16-bit) put the de-interlace scatter, the PLTE lookup and
    # the 2-byte filter arithmetic under the value gate; the modulus 251
    # (prime < 256) keeps the plane non-degenerate under the x/y ramp.
    _Tier("png", "png", (_SIG,), ((12, 7, 17), (9, 5, 13)),
          (37, 7, 13, 251, 0), synth_png, decode_png_pixels),
    # Baseline JPEG: DC plus ACs at zigzag 1, 2 and 9 — adjacent ACs, a
    # 6-zero run and cross-block DC deltas up to +-48, so the DPCM chain,
    # run/size coding and multi-length Huffman codes are all exercised.
    # Dims are the PNG tier's (never multiples of 8: MCU padding and edge
    # cropping are live); the luma fast path decodes (Huffman, DPCM,
    # dequant, integer IDCT, crop), identical to the full decode for grey.
    _Tier("jpeg", "jpeg", _JPEG_MAGIC, ((12, 7, 17), (9, 5, 13)), (
        (0, 5, 3, 33, 16, 16, 0, 0),
        (1, 1, 1, 7, 3, 11, 1, 0),
        (2, 2, 1, 5, 2, 12, 0, 1),
        (9, 3, 1, 5, 2, 14, 0, 3),
    ), synth_jpeg, jpegops.decode_jpeg_luma),
    # Progressive JPEG (SOF2), the dominant non-baseline variant in a
    # crawl, decoded for real (spectral selection + successive
    # approximation).  LARGER ACs than baseline so every scan kind of the
    # libjpeg-style default script carries content: first-pass AC at
    # Al=2, refinement correction bits, cross-block EOB runs, and ZRL
    # (the 30-gap between zigzag 9 and 40 inside the 6..63 band).
    _Tier("prog", "jpeg", _JPEG_MAGIC, ((12, 7, 17), (9, 5, 13)), (
        (0, 7, 5, 45, 22, 16, 0, 0),
        (1, 2, 3, 19, 9, 11, 1, 0),
        (2, 3, 1, 17, 8, 12, 0, 1),
        (9, 1, 2, 15, 7, 14, 0, 3),
        (40, 5, 1, 9, 4, 87, 5, 3),
    ), synth_prog_jpeg, jpegops.decode_jpeg_luma),
    # GIF: odd doc_ids carry the 4-pass INTERLACED row order; planes up
    # to 38x27 = 1026 px push the LZW dictionary past 512 entries, so
    # 10-bit code widths, sub-block framing and palette mapping are live.
    _Tier("gif", "gif", (b"GIF8",), ((16, 9, 23), (11, 7, 17)),
          (41, 11, 5, 247, 0), _synth_gif, gifops.decode_gif_pixels),
    # BMP: the container corners hostile crawls hit — 4-byte row padding
    # (widths 13..33 cover all four mod-4 classes), bottom-up vs top-down
    # rows, 8-bit palette vs 24-bit BGR.  The 24-bit channels (L+2, L,
    # L-4) are exact under the integer luma transform, but a BGR/RGB
    # channel-order slip shifts luma by 1, so byte order is value-pinned.
    _Tier("bmp", "bmp", (b"BM",), ((13, 5, 21), (9, 3, 13)),
          (43, 9, 3, 241, 4), synth_bmp, bmpops.decode_bmp_pixels),
    # TIFF: two byte orders for every header/IFD/value field, pixel data
    # split across strips whose offsets/counts live in external value
    # arrays, WhiteIsZero polarity, and RGB-vs-grey samples with the same
    # exact-luma channel split as BMP (an R/B slip shifts luma by 1).
    _Tier("tiff", "tiff", (b"II*\x00", b"MM\x00*"), ((11, 9, 23), (8, 5, 15)),
          (53, 11, 7, 233, 6), synth_tiff, tiffops.decode_tiff_pixels),
)}


# --- Spark stages ------------------------------------------------------------

_PHASH_DDL = "doc_id long, width long, height long, px_sum long, phash string"
_RESIZE_DDL = ("doc_id long, width long, height long, new_width long,"
               " new_height long, px_sum long")


def _stage(name: str, fn, *args):
    """``fn`` bound to ``args``, under the name Spark's plans show."""
    f = partial(fn, *args)
    f.__name__ = name
    return f


def _one_row(row, doc_id: int):
    """Per-doc map: ``row(doc_id)`` -> one output tuple."""
    return (row(doc_id),)


def _map_docs(spark, sf_dir: str, row, ddl: str) -> DataFrame:
    """Map-only per-doc stage over the documents' doc_ids."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return map_rows(docs, ["doc_id"], ddl,
                    _stage(row.__name__, _one_row, row))


def _encoded(encode, doc_id: int):
    return doc_id, encode(doc_id)


def _corpus(spark, sf_dir: str, encode, col: str) -> DataFrame:
    """Deterministic real-bytes corpus keyed by doc_id: pixels from the
    tier formula, container from the real encoder."""
    return _map_docs(spark, sf_dir, _stage(encode.__name__, _encoded, encode),
                     f"doc_id long, {col} binary")


def _hash_row(decode, doc_id: int, blob):
    """Decode the actual bytes -> grey plane -> dims, pixel sum, dHash."""
    w, h, bpp, px = decode(bytes(blob))
    px = grey_plane(bpp, px)
    return ((doc_id, w, h, sum(px), dhash_gray(w, h, px)),)


def _decode_dhash(corpus: DataFrame, decode, col: str) -> DataFrame:
    return map_rows(corpus, ["doc_id", col], _PHASH_DDL,
                    _stage(f"dhash_{decode.__name__}", _hash_row, decode))


def _keep_min(decoded: DataFrame) -> DataFrame:
    """Exact-dup keeper: min doc_id of each dHash group.  The only
    shuffle is this phash-keyed window (64-bit keys, balanced)."""
    return (
        decoded
        .withColumn("keeper",
                    F.min("doc_id").over(Window.partitionBy("phash")))
        .withColumn("dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def _resize_row(decode, doc_id: int, blob):
    """Decode -> NN resample to (2w div 3, 2h div 3) -> lossless PNG
    re-encode (a JPEG re-encode would re-quantize) -> decode AGAIN ->
    grey pixel sum of the final decode."""
    w, h, bpp, px = decode(bytes(blob))
    nw, nh = max(1, w * 2 // 3), max(1, h * 2 // 3)
    w2, h2, bpp2, px2 = decode_png_pixels(
        _resample_plane(w, h, bpp, px, nw, nh))
    assert (w2, h2) == (nw, nh)
    return ((doc_id, w, h, nw, nh, sum(grey_plane(bpp2, px2))),)


# --- oracle builders ---------------------------------------------------------

def _sum_cte(name: str, src: str, pix, w="w", h="h") -> str:
    """CTE ``name(doc_id, s)``: ``pix(x, y)`` summed over the w x h grid
    of each row of ``src``."""
    return f"""{name} as (
        select im.doc_id, sum({pix(_Sql("x"), _Sql("y"))}) as s
        from {src} im, unnest(range(0, {w})) as tx(x),
             unnest(range(0, {h})) as ty(y)
        group by im.doc_id
      )"""


def _dhash_ctes(pix) -> str:
    """CTEs ``bits(doc_id, row, rowbyte)`` and ``hashes(doc_id, phash)``:
    ``dhash_gray`` restated over ``imgs`` from the pixel formula."""
    gx, gy = _Sql("gx"), _Sql("gy")
    left = pix(gx * _W // 9, gy * _H // 8)
    right = pix((gx + 1) * _W // 9, gy * _H // 8)
    return f"""bits as (
        select im.doc_id, ti.gy as row,
               sum(case when {left} > {right}
                   then 1 << tj.gx else 0 end) as rowbyte
        from imgs im, unnest(range(0, 8)) as ti(gy),
             unnest(range(0, 8)) as tj(gx)
        group by im.doc_id, ti.gy
      ),
      hashes as (
        select doc_id,
               string_agg(printf('%02x', cast(rowbyte as int)),
                          '' order by row) as phash
        from bits group by doc_id
      )"""


def _phash_oracle_sql(imgs: str, pix, lead: str = "") -> str:
    """Pixel sum and dHash from the formula over the ``imgs`` select, and
    keeper = min doc_id of each dHash group."""
    return f"""
      with imgs as ({imgs}),
      {_sum_cte("sums", "imgs", pix)},
      {_dhash_ctes(pix)}
      select im.doc_id,{lead} cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.s as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(im.doc_id <> min(im.doc_id) over (partition by hh.phash)
                  as bigint) as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


# --- gated queries: one pair per tier ----------------------------------------

def _phash_pair(name: str):
    """(query, oracle_sql) for one tier: encode real bytes -> decode the
    actual bytes -> dHash -> hash-group keeper, against the formula."""
    t = _TIERS[name]

    def query(spark, sf_dir: str) -> DataFrame:
        return _keep_min(_decode_dhash(
            _corpus(spark, sf_dir, t.encode, t.col), t.decode, t.col))

    def oracle_sql() -> str:
        return _phash_oracle_sql(t.imgs_sql(), partial(t.px, _B, _W))

    return query, oracle_sql


def _resize_pair(name: str):
    """(query, oracle_sql) for one tier: decode -> NN resample -> PNG
    re-encode -> decode again, against the formula at the resample's
    source coordinates.  Map-only end to end."""
    t = _TIERS[name]

    def query(spark, sf_dir: str) -> DataFrame:
        return map_rows(
            _corpus(spark, sf_dir, t.encode, t.col), ["doc_id", t.col],
            _RESIZE_DDL,
            _stage(f"resize_{t.decode.__name__}", _resize_row, t.decode),
        ).orderBy("doc_id")

    def oracle_sql() -> str:
        w, h = t.size(_BASE)
        imgs = t.imgs_sql(f", greatest(1, ({w} * 2) // 3) as nw,"
                          f" greatest(1, ({h} * 2) // 3) as nh")
        nw, nh = _Sql("nw"), _Sql("nh")

        def pix(x, y):
            return t.px(_B, _W, x * _W // nw, y * _H // nh)

        return f"""
          with imgs as ({imgs}),
          {_sum_cte("sums", "imgs", pix, "nw", "nh")}
          select im.doc_id, cast(im.w as bigint) as width,
                 cast(im.h as bigint) as height,
                 cast(im.nw as bigint) as new_width,
                 cast(im.nh as bigint) as new_height,
                 cast(s.s as bigint) as px_sum
          from imgs im join sums s on s.doc_id = im.doc_id
          order by im.doc_id
        """

    return query, oracle_sql


pixel_phash, pixel_phash_oracle_sql = _phash_pair("png")
pixel_phash_jpeg, pixel_phash_jpeg_oracle_sql = _phash_pair("jpeg")
pixel_phash_prog, pixel_phash_prog_oracle_sql = _phash_pair("prog")
pixel_phash_gif, pixel_phash_gif_oracle_sql = _phash_pair("gif")
pixel_phash_bmp, pixel_phash_bmp_oracle_sql = _phash_pair("bmp")
pixel_phash_tiff, pixel_phash_tiff_oracle_sql = _phash_pair("tiff")
pixel_resize, pixel_resize_oracle_sql = _resize_pair("png")
pixel_resize_jpeg, pixel_resize_jpeg_oracle_sql = _resize_pair("jpeg")


# --- decode-audit: mixed-format dispatch + error lanes under one oracle ------

def _truncated_jpeg(doc_id: int) -> bytes:
    """A real synthetic JPEG cut 6 bytes into its entropy segment —
    every image here needs >= 4 blocks (~5 entropy bytes each), so the
    decoder must hit bit-reader exhaustion, never a silent short plane."""
    full = synth_jpeg(doc_id)
    pos = full.find(b"\xff\xda")
    ln = struct.unpack(">H", full[pos + 2:pos + 4])[0]
    return full[:pos + 2 + ln + 6]


def _truncated_gif(doc_id: int) -> bytes:
    """A real synthetic GIF with its last 10 bytes removed: the cut lands
    inside the final LZW sub-block (or its framing) and removes the block
    terminator + trailer, so the sub-block walker must raise — the
    original framing is intact up to the cut and the only 0x00 terminator
    was at the removed end."""
    return gifops.encode_gif(*synth_gif_pixels(doc_id))[:-10]


# doc_id % 12 -> (tier, synth): ``None`` lanes carry the tier's healthy
# bytes; the others are damaged and must decode to a loud error — a
# progressive stream cut mid-scan (raise inside entropy data or at the
# missing marker), a BMP cut inside its pixel array (the stride*height
# bound check), a TIFF cut through its trailing IFD (the IFD/value-array
# bound checks).  Lane 11 is junk bytes no magic matches.
_AUDIT_LANES = (
    ("png", None), ("jpeg", None), ("gif", None), ("prog", None),
    ("jpeg", _truncated_jpeg), ("gif", _truncated_gif),
    ("prog", lambda d: synth_prog_jpeg(d)[:-10]),
    ("bmp", None), ("bmp", lambda d: synth_bmp(d)[:-10]),
    ("tiff", None), ("tiff", lambda d: synth_tiff(d)[:-10]),
)
_AUDIT_MOD = len(_AUDIT_LANES) + 1


def _audit_synth(doc_id: int) -> bytes:
    m = doc_id % _AUDIT_MOD
    if m == len(_AUDIT_LANES):
        return b"JUNK" + str(doc_id).encode()
    name, synth = _AUDIT_LANES[m]
    return (synth or _TIERS[name].encode)(doc_id)


def _audit_row(doc_id: int):
    blob = _audit_synth(doc_id)
    t = next((u for u in _TIERS.values() if blob.startswith(u.magic)), None)
    if t is None:
        return doc_id, "unknown", 0, -1
    try:
        _w, _h, bpp, px = t.decode(blob)
        return doc_id, t.col, 1, sum(grey_plane(bpp, px))
    except (ValueError, NotImplementedError):
        return doc_id, t.col, 0, -1


def pixel_decode_audit(spark, sf_dir: str) -> DataFrame:
    """Gated query: the crawl-reality lane — a mixed corpus (PNG,
    baseline JPEG, GIF, PROGRESSIVE JPEG, truncated JPEG, truncated GIF,
    truncated-progressive, BMP, truncated BMP, TIFF, truncated TIFF,
    junk bytes — 12 lanes) through magic-byte dispatch and all five real
    decoders, reporting per-doc format/status/pixel-sum.  Pins that a
    corrupt member yields a loud per-row error status, never a silently
    wrong plane (the property that matters when 10^12 hostile documents
    flow through mapInPandas).  Map-only."""
    return _map_docs(spark, sf_dir, _audit_row,
                     "doc_id long, fmt string, ok long, px_sum long"
                     ).orderBy("doc_id")


def pixel_decode_audit_oracle_sql() -> str:
    """Every lane restated from ``_AUDIT_LANES``: healthy lanes sum their
    tier's formula, damaged and junk lanes are pinned to (0, -1)."""
    ok = [m for m, (_n, synth) in enumerate(_AUDIT_LANES) if synth is None]
    sums = []
    for m in ok:
        t = _TIERS[_AUDIT_LANES[m][0]]
        lane = f"({t.imgs_sql()} where doc_id % {_AUDIT_MOD} = {m})"
        sums.append(_sum_cte(f"s{m}", lane, partial(t.px, _B, _W)))
    sums = ",\n      ".join(sums)
    fmt = " ".join(f"when {m} then '{_TIERS[n].col}'"
                   for m, (n, _s) in enumerate(_AUDIT_LANES))
    return f"""
      with {sums}
      select d.doc_id,
             case d.doc_id % {_AUDIT_MOD} {fmt} else 'unknown' end as fmt,
             cast(d.doc_id % {_AUDIT_MOD} in ({", ".join(map(str, ok))})
                  as bigint) as ok,
             cast(coalesce({", ".join(f"s{m}.s" for m in ok)}, -1) as bigint)
               as px_sum
      from documents d
      {" ".join(f"left join s{m} on s{m}.doc_id = d.doc_id" for m in ok)}
      order by d.doc_id
    """


# --- perceptual NEAR-dup: hamming-banded LSH over the 64-bit dHash -----------
#
# pixel_phash groups EXACT hash equality; real perceptual dedup needs
# hamming-radius matching.  Pigeonhole banding makes it join-shaped: split
# the 64-bit dHash into 4 bands of 16 bits — any pair within hamming
# NEARDUP_HAM_MAX=3 differs in at most 3 bands, so it MUST agree on at
# least one, and an equi-join on (band, value) finds every such pair
# without an all-pairs comparison (same Broder-style banding argument the
# text MinHash/SimHash operators use; the exact hamming filter then runs
# JVM-side as bit_count over the candidates only).

NEARDUP_VARIANTS = 5      # doc_id % 5 selects the perturbation strength
NEARDUP_HAM_MAX = 3       # 4 bands of 16 bits guarantee recall at <= 3
_NEARDUP_ZZ = 9           # the perturbed coefficient: block 0's zigzag 9


def synth_jpeg_neardup_coeffs(doc_id: int):
    """Near-dup JPEG corpus: the exact-dup coefficients of
    ``synth_jpeg_coeffs`` with ONE perturbation — block 0's zigzag-9 AC
    gains ``doc_id % NEARDUP_VARIANTS``.  Measured offline (deterministic,
    pinned in tests): within a base class the variants' dHashes sit at
    hamming 0..5 from v=0, so the corpus contains exact dups, true
    near-dups (<= 3), band-candidates that the exact filter rejects
    (> 3), and singletons — every branch of the operator is live."""
    w, h, blocks = synth_jpeg_coeffs(doc_id)
    blocks[0][_NEARDUP_ZZ] += doc_id % NEARDUP_VARIANTS
    return w, h, blocks


def _neardup_jpeg(doc_id: int) -> bytes:
    return jpegops.encode_jpeg_gray_coeffs(*synth_jpeg_neardup_coeffs(doc_id))


def _band_val(i: int):
    """16-bit band i of the hex dHash as a bigint column (hex chars
    4i+1..4i+4; conv() handles the a-f digits)."""
    return F.conv(F.substring("phash", i * 4 + 1, 4), 16, 10).cast("long")


def pixel_neardup(spark, sf_dir: str) -> DataFrame:
    """Gated query: perceptual near-dup dedup over real JPEGs — decode ->
    dHash -> 4x16-bit band explode -> (band, value) equi-join for
    candidates -> exact hamming filter (bit_count of band XORs) at radius
    {NEARDUP_HAM_MAX} -> per-doc min-neighbor keeper.

    Scale shape: the decode+hash pass is materialized ONCE
    (localCheckpoint — three relational consumers would otherwise re-run
    the Python decode), candidates come only from shared band buckets
    (never all-pairs; the equi-join shuffle is O(memberships)), and the
    hamming filter runs JVM-side on candidates only.  Hot band buckets at
    crawl scale are exact-dup families — production would cap bucket size
    exactly like textops.SIMHASH_BUCKET_CAP's overflow lane; this corpus's
    buckets are bounded by construction (dup groups of ~n/35).

    Output (integers/strings only): doc_id, phash, n_band_cand (distinct
    docs sharing >= 1 band), n_near (within hamming radius), keeper (min
    doc_id among self + near neighbors — the standard non-transitive LSH
    dedup decision; connected-component closure is dedup_clusters'
    separately-gated job), dup."""
    hashes = (_decode_dhash(_corpus(spark, sf_dir, _neardup_jpeg, "jpeg"),
                            jpegops.decode_jpeg_luma, "jpeg")
              .select("doc_id", "phash")
              .localCheckpoint())
    bands = hashes.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), _band_val(i).alias("val"))
            for i in range(4)
        ])).alias("bv"),
    ).select("doc_id", F.col("bv.band").alias("band"),
             F.col("bv.val").alias("val"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), on=["band", "val"])
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("partner"))
        .distinct()
    )
    scored = (
        cand
        .join(hashes.withColumnRenamed("phash", "phash_a"), "doc_id")
        .join(hashes.select(F.col("doc_id").alias("partner"),
                            F.col("phash").alias("phash_b")), "partner")
        .withColumn("ham", F.expr(" + ".join(
            f"bit_count(cast(conv(substring(phash_a, {i*4+1}, 4), 16, 10)"
            f" as long) ^ cast(conv(substring(phash_b, {i*4+1}, 4), 16, 10)"
            " as long))"
            for i in range(4)
        )))
    )
    near = F.col("ham") <= NEARDUP_HAM_MAX
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_band_cand"),
        F.sum(near.cast("long")).alias("n_near"),
        F.min(F.when(near, F.col("partner"))).alias("min_near"),
    )
    return (
        hashes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "phash",
            F.coalesce("n_band_cand", F.lit(0)).alias("n_band_cand"),
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
            F.least("doc_id", F.coalesce("min_near", "doc_id"))
            .alias("keeper"),
        )
        .withColumn("dup",
                    (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_neardup_oracle_sql() -> str:
    """Everything restated relationally from the perturbed coefficient
    formulas: dHash row bytes from closed-form pixels, the same 4x16-bit
    banding, the same exact-hamming filter (xor + bit_count on row
    bytes), the same min-neighbor keeper — no JPEG bytes anywhere."""
    jpeg = _TIERS["jpeg"]
    imgs = jpeg.imgs_sql(f", doc_id % {NEARDUP_VARIANTS} as v")
    return f"""
      with imgs as ({imgs}),
      {_dhash_ctes(partial(jpeg.px, _B, _W, bump=_Sql("v")))},
      bands as (
        select doc_id, row // 2 as band,
               sum(rowbyte * case when row % 2 = 0 then 256 else 1 end)
                 as val
        from bits group by doc_id, row // 2
      ),
      cand as (
        select distinct a.doc_id, b.doc_id as partner
        from bands a join bands b using (band, val)
        where a.doc_id <> b.doc_id
      ),
      scored as (
        select c.doc_id, c.partner,
               sum(bit_count(xor(ba.rowbyte, bb.rowbyte))) as ham
        from cand c
        join bits ba on ba.doc_id = c.doc_id
        join bits bb on bb.doc_id = c.partner and bb.row = ba.row
        group by c.doc_id, c.partner
      ),
      per_doc as (
        select doc_id, count(*) as n_band_cand,
               sum(case when ham <= {NEARDUP_HAM_MAX} then 1 else 0 end)
                 as n_near,
               min(case when ham <= {NEARDUP_HAM_MAX} then partner end)
                 as min_near
        from scored group by doc_id
      )
      select h.doc_id, h.phash,
             cast(coalesce(p.n_band_cand, 0) as bigint) as n_band_cand,
             cast(coalesce(p.n_near, 0) as bigint) as n_near,
             least(h.doc_id, coalesce(p.min_near, h.doc_id)) as keeper,
             cast(case when h.doc_id <> least(h.doc_id,
                    coalesce(p.min_near, h.doc_id)) then 1 else 0 end
                  as bigint) as dup
      from hashes h
      left join per_doc p on p.doc_id = h.doc_id
      order by h.doc_id
    """


# --- EXIF/TIFF orientation-normalized perceptual dedup -----------------------
#
# Real crawls carry rotated duplicates: cameras store sensor-native
# planes and set Orientation (tag 274) instead of rotating pixels, so a
# pipeline that hashes un-normalized planes misses every rotated dup.
# This tier stores ONE canonical scene under all eight orientation
# codes (the stored plane is pre-permuted so that normalizing by the
# tag recovers the scene exactly — TIFF is lossless, so the recovery is
# byte-exact) and pins that the normalizer collapses all eight carriers
# of a scene into one dHash group.  px_sum alone is permutation-blind;
# the dHash grid and the (width, height) restatement are what make a
# wrong transform (or an ignored tag) a value mismatch.
# A DISTINCT formula (59/89/41 mod 227, +9) from every other tier;
# the large x/y coefficients wrap mod 227 INSIDE every row/column, so
# the plane is non-monotone and dHash is discriminative (a monotone
# gradient hashes to all-zero bits in every orientation).

# a formula family outside the phash table: its decode also reads the tag
_ORIENT = _Tier("orient", "tiff", (), ((10, 7, 19), (9, 4, 11)),
                (59, 89, 41, 227, 9), None, None)


def synth_orient_canonical(doc_id: int):
    """(width, height, canonical upright plane) for doc_id's scene —
    orientation-independent (the same for all 8 carriers of a base)."""
    return _ORIENT.plane(doc_id)


def synth_orient_tiff(doc_id: int) -> bytes:
    """A real TIFF whose stored plane is the canonical scene
    pre-permuted for orientation 1 + doc_id % 8, carrying that code in
    tag 274 — normalizing by the tag recovers the canonical plane
    exactly."""
    w, h, canon = synth_orient_canonical(doc_id)
    o = 1 + doc_id % 8
    sw, sh = (h, w) if o >= 5 else (w, h)
    stored = bytearray(sw * sh)
    for sy in range(sh):
        for sx in range(sw):
            cx, cy, cw, _ch = tiffops.orient_map(o, sw, sh, sx, sy)
            assert cw == w
            stored[sy * sw + sx] = canon[cy * w + cx]
    return tiffops.encode_tiff(sw, sh, bytes(stored), orientation=o,
                               big_endian=doc_id % 2 == 1)


def _orient_row(doc_id: int):
    blob = synth_orient_tiff(doc_id)
    sw, sh, _, stored = tiffops.decode_tiff_pixels(blob)
    o = tiffops.read_orientation(blob)
    w, h, px = tiffops.apply_orientation(sw, sh, stored, o)
    return doc_id, o, sw, sh, w, h, sum(px), dhash_gray(w, h, px)


def pixel_orient(spark, sf_dir: str) -> DataFrame:
    """Gated query: decode real TIFFs carrying all eight Orientation
    codes -> normalize by the tag -> dHash -> hash-group keeper.  All
    eight carriers of a scene MUST collapse into one group (the oracle
    keeps keeper/dup orientation-blind), and the canonical dims/dHash
    are restated from the formula — a wrong transform, a swapped axis,
    or an ignored tag mismatches.  Map-only + the bounded hash window."""
    return _keep_min(_map_docs(
        spark, sf_dir, _orient_row,
        "doc_id long, ori long, stored_w long, stored_h long, width long,"
        " height long, px_sum long, phash string"))


def pixel_orient_oracle_sql() -> str:
    """Canonical plane, dims, and dHash restated from the formula,
    orientation-blind; stored dims transpose for codes 5-8; keeper =
    min doc_id over the scene's dHash group."""
    return _phash_oracle_sql(
        _ORIENT.imgs_sql(", 1 + doc_id % 8 as ori"),
        partial(_ORIENT.px, _B, _W), lead="""
             cast(im.ori as bigint) as ori,
             cast(case when im.ori >= 5 then im.h else im.w end as bigint)
               as stored_w,
             cast(case when im.ori >= 5 then im.w else im.h end as bigint)
               as stored_h,""")


# --- animation tiers: animated GIF and APNG ----------------------------------
#
# A large share of crawled GIF bytes are animations; a pipeline that
# sees only frame 0 under-counts pixels and mis-keys perceptual dedup.
# Both corpora vary frame count, per-frame delays and the loop/play
# count over a per-frame formula distinct from every other tier; GIF's
# odd frame indexes are interlaced.  One oracle restates frame sums via
# a correlated triple unnest over (k, x, y), delays and loop/play count
# arithmetically — carrier-blind, so frame iteration, extension parsing
# and per-frame decode are value-pinned.

class _Anim(NamedTuple):
    dims: tuple         # (offset, mul, mod) of width, then of height
    pix: tuple          # linear spec with the frame term mul_k
    n_frames: Callable  # doc_id -> frame count (ints or _Sql)
    delay: Callable     # (doc_id, k) -> frame k's delay
    meta: Callable      # doc_id -> GIF loop count / APNG play count


_GIF_ANIM = _Anim(((9, 6, 17), (8, 3, 9)), (61, 17, 7, 223, 0, 29),
                  lambda d: 2 + d % 4, lambda d, k: 4 + (d + k) % 11,
                  lambda d: d % 3)
_APNG = _Anim(((8, 5, 13), (7, 2, 9)), (73, 29, 13, 199, 8, 37),
              lambda d: 2 + d % 3, lambda d, k: 2 + (d + k) % 9,
              lambda d: d % 4)


def _anim_frames(a: _Anim, doc_id: int):
    base = doc_id % PHASH_BASES
    w, h = _dim(a.dims[0], base), _dim(a.dims[1], base)
    nf = a.n_frames(doc_id)
    frames = [bytes(_lin(a.pix, base, x, y, k)
                    for y in range(h) for x in range(w)) for k in range(nf)]
    return (w, h, nf, [a.delay(doc_id, k) for k in range(nf)],
            a.meta(doc_id), frames)


def synth_gif_anim(doc_id: int):
    """(width, height, n_frames, delays, loop, frame planes) for the
    animated-GIF tier of doc_id."""
    return _anim_frames(_GIF_ANIM, doc_id)


def synth_apng_frames(doc_id: int):
    """(width, height, n_frames, (num, den) delays, plays, frame planes)
    for the APNG tier of doc_id."""
    w, h, nf, delays, plays, frames = _anim_frames(_APNG, doc_id)
    return w, h, nf, [(dn, 100) for dn in delays], plays, frames


def _frames_oracle_sql(a: _Anim, cols) -> str:
    """Frame sums, delay sum and loop/play count of an animation tier;
    ``cols`` maps output names to ``w``, ``h``, ``nf``, ``meta``,
    ``delays``, ``all`` or ``f0``."""
    k = _Sql("k")
    g = _lin(a.pix, _B, _Sql("x"), _Sql("y"), k)
    src = {"w": "im.w", "h": "im.h", "nf": "im.nf", "delays": "d.total",
           "meta": a.meta(_Sql("im.doc_id")), "all": "s.all_sum",
           "f0": "s.f0"}
    out = ",\n             ".join(f"cast({src[v]} as bigint) as {n}"
                                  for n, v in cols.items())
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_dim(a.dims[0], _BASE)} as w,
               {_dim(a.dims[1], _BASE)} as h,
               {a.n_frames(_Sql("doc_id"))} as nf
        from documents
      ),
      sums as (
        select im.doc_id,
               sum({g}) as all_sum,
               sum(case when k = 0 then {g} else 0 end) as f0
        from imgs im,
             unnest(range(0, nf)) as tk(k),
             unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      delays as (
        select im.doc_id, sum({a.delay(_Sql("im.doc_id"), k)}) as total
        from imgs im, unnest(range(0, nf)) as tk(k)
        group by im.doc_id
      )
      select im.doc_id,
             {out}
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join delays d on d.doc_id = im.doc_id
      order by im.doc_id
    """


def _gif_anim_row(doc_id: int):
    w, h, _nf, delays, loop, frames = synth_gif_anim(doc_id)
    ww, hh, got_loop, got = gifops.decode_gif_frames(
        gifops.encode_gif_anim(w, h, frames, delays, loop=loop))
    return (doc_id, ww, hh, len(got), got_loop, sum(dl for dl, _ in got),
            sum(sum(p) for _, p in got), sum(got[0][1]))


def pixel_gif_anim(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real animated GIFs (varying frame counts,
    per-frame delays, NETSCAPE loop counts, interlaced odd frames) ->
    decode every frame's actual LZW bytes -> per-doc frame count, loop
    count, total delay, all-frames pixel sum, first-frame sum.
    Map-only."""
    return _map_docs(spark, sf_dir, _gif_anim_row,
                     "doc_id long, width long, height long, n_frames long,"
                     " loop_cnt long, total_delay_cs long, px_sum long,"
                     " f0_sum long").orderBy("doc_id")


def pixel_gif_anim_oracle_sql() -> str:
    return _frames_oracle_sql(_GIF_ANIM, {
        "width": "w", "height": "h", "n_frames": "nf", "loop_cnt": "meta",
        "total_delay_cs": "delays", "px_sum": "all", "f0_sum": "f0"})


# --- APNG: animated PNG (acTL / fcTL / fdAT) ---------------------------------
#
# Chunk facts (public: the APNG specification, folded into the PNG
# third-edition spec): ``acTL`` (before the first IDAT) carries u32
# frame count + u32 play count; each frame is announced by an ``fcTL``
# (u32 sequence, u32 w, u32 h, u32 x, u32 y, u16 delay_num, u16
# delay_den, u8 dispose, u8 blend); frame 0's pixels ride the normal
# IDAT when its fcTL precedes IDAT, later frames ride ``fdAT`` chunks
# (u32 sequence + deflate data).  An IDAT before the first fcTL is the
# default image, not a frame: every frame then rides fdAT.  fcTL and
# fdAT share ONE sequence counter starting at 0 — a gap or reorder is
# hostile input.
#
# Scope mirrors the GIF-anim tier: full-canvas frames decode for real;
# sub-canvas frames (needing dispose/blend compositing) raise a loud
# NotImplementedError.


def encode_apng(w: int, h: int, frames, delays, plays: int = 0) -> bytes:
    """Real APNG: greyscale full-canvas frames; ``delays`` are
    (num, den) pairs.  Frame 0 rides IDAT, the rest ride fdAT; the
    shared fcTL/fdAT sequence counter is emitted per spec."""
    if len(frames) != len(delays) or not frames:
        raise ValueError("frames/delays mismatch")
    for k, f in enumerate(frames):
        if len(f) != w * h:
            raise ValueError(f"frame {k} size mismatch")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    out = bytearray(_SIG)
    out += _chunk(b"IHDR", ihdr)
    out += _chunk(b"acTL", struct.pack(">II", len(frames), plays))
    seq = 0
    for k, (plane, (dn, dd)) in enumerate(zip(frames, delays)):
        fctl = struct.pack(">IIIIIHHBB", seq, w, h, 0, 0, dn, dd, 0, 0)
        out += _chunk(b"fcTL", fctl)
        seq += 1
        raw = bytes(_filter_image(
            [plane[y * w:(y + 1) * w] for y in range(h)], 1))
        z = zlib.compress(raw, 6)
        if k == 0:
            out += _chunk(b"IDAT", z)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + z)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)


# fixed payload lengths of the APNG control chunks (fdAT is >= 4: its
# sequence number, then frame data)
_APNG_CHUNK_LEN = {b"IHDR": 13, b"acTL": 8, b"fcTL": 26}


def decode_apng(blob: bytes):
    """(width, height, plays, [((delay_num, delay_den), plane), ...]) —
    every frame's deflate stream inflates and unfilters for real; CRCs
    verified; sequence-number gaps, sub-canvas frames, frame-count
    mismatches, truncated chunks and control chunks of the wrong length
    are loud (ValueError, never struct.error)."""
    if blob[:8] != _SIG:
        raise ValueError("not a PNG")
    w = h = None
    n_frames = plays = None
    pending_fctl = None
    frames = []
    idat = bytearray()
    fdat = bytearray()
    expect_seq = 0
    idat_is_frame = None     # fixed at the first IDAT: did an fcTL precede?

    def _flush(data, fctl):
        sw, sh = fctl[1], fctl[2]
        if (fctl[3], fctl[4]) != (0, 0) or (sw, sh) != (w, h):
            raise NotImplementedError(
                "sub-canvas APNG frame needs dispose/blend compositing")
        _plane(sw, sh)
        frames.append(((fctl[5], fctl[6]), _png_image(data, sw, sh, 1, 0)))

    for typ, data, end in _png_chunks(blob):
        size = len(data)
        if (size != _APNG_CHUNK_LEN.get(typ, size)
                or typ == b"fdAT" and size < 4):
            raise ValueError(f"PNG chunk {typ!r} has bad length {size}")
        if typ == b"IHDR":
            w, h, depth, ctype, _c, _f, inter = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or ctype != 0 or inter != 0:
                raise NotImplementedError(
                    "APNG here covers 8-bit grey sequential streams")
        elif typ == b"acTL":
            n_frames, plays = struct.unpack(">II", data)
        elif typ == b"fcTL":
            seq = struct.unpack(">I", data[:4])[0]
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence gap: fcTL {seq} != {expect_seq}")
            expect_seq += 1
            if pending_fctl is not None:
                raise ValueError("fcTL without frame data")
            pending_fctl = struct.unpack(">IIIIIHHBB", data)
        elif typ == b"IDAT":
            if idat_is_frame is None:
                idat_is_frame = pending_fctl is not None
            idat += data
        elif typ == b"fdAT":
            seq = struct.unpack(">I", data[:4])[0]
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence gap: fdAT {seq} != {expect_seq}")
            expect_seq += 1
            fdat += data[4:]
        elif typ == b"IEND":
            break
        # frame boundary: the NEXT chunk being fcTL or IEND closes the
        # current frame's accumulated data (IDAT for frame 0, fdAT after)
        nxt = blob[end + 4:end + 8]
        if pending_fctl is not None and nxt in (b"fcTL", b"IEND"):
            if not frames and idat_is_frame and idat:
                _flush(idat, pending_fctl)
                idat = bytearray()
                pending_fctl = None
            elif fdat:
                _flush(fdat, pending_fctl)
                fdat = bytearray()
                pending_fctl = None
    if n_frames is None:
        raise ValueError("not an APNG (no acTL)")
    if len(frames) != n_frames:
        raise ValueError(
            f"APNG frame count {len(frames)} != acTL {n_frames}")
    return w, h, plays, frames

def _apng_row(doc_id: int):
    w, h, _nf, delays, plays, frames = synth_apng_frames(doc_id)
    ww, hh, got_plays, got = decode_apng(
        encode_apng(w, h, frames, delays, plays=plays))
    assert (ww, hh) == (w, h)
    return (doc_id, len(got), got_plays, sum(dn for (dn, _dd), _ in got),
            sum(sum(p) for _, p in got), sum(got[0][1]))


def pixel_apng(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real APNGs (acTL/fcTL/fdAT, varying frame
    counts, delays, play counts) -> decode every frame's actual deflate
    bytes -> per-doc frame count, plays, delay-numerator sum, all-frames
    and first-frame pixel sums — frame iteration, the shared fcTL/fdAT
    sequence counter, and the IDAT-is-frame-0 rule are value-pinned.
    Map-only."""
    return _map_docs(spark, sf_dir, _apng_row,
                     "doc_id long, n_frames long, plays long,"
                     " delay_num_sum long, px_sum long, f0_sum long"
                     ).orderBy("doc_id")


def pixel_apng_oracle_sql() -> str:
    return _frames_oracle_sql(_APNG, {
        "n_frames": "nf", "plays": "meta", "delay_num_sum": "delays",
        "px_sum": "all", "f0_sum": "f0"})


# --- ICO (favicon) tier ------------------------------------------------------
#
# Favicons are fetched for effectively every crawled host; the ICO
# container mixes PNG members with doubled-height DIB members (XOR plane
# + AND mask) in one file — icoops.py.  Distinct formulas per member
# kind so a member-dispatch slip mismatches.

# (kind, dims, pixel formula over ints or _Sql) per member
_ICO_MEMBERS = (
    ("dib", ((9, 5, 15), (7, 3, 11)),
     lambda b, x, y: (b * 67 + x * 19 + y * 11 + 5) % 229),
    ("png", ((10, 7, 13), (8, 5, 9)),
     lambda b, x, y: (b * 71 + x * 23 + y * 3 + 7) % 211),
)


def synth_ico(doc_id: int) -> bytes:
    """Real two-member ICO: one 8-bit DIB (doubled-height header, grey
    palette, bottom-up XOR plane, AND mask) + one PNG member."""
    b = doc_id % PHASH_BASES
    members = []
    for kind, (dw, dh), pix in _ICO_MEMBERS:
        w, h = _dim(dw, b), _dim(dh, b)
        members.append((w, h, kind, bytes(
            pix(b, x, y) for y in range(h) for x in range(w))))
    return icoops.encode_ico(members)


def _ico_row(doc_id: int):
    members = icoops.decode_ico(synth_ico(doc_id))
    kinds = {k: (w, h, sum(px)) for w, h, k, px in members}
    return (doc_id, len(members), *kinds["dib"], *kinds["png"])


def pixel_ico(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real two-member ICOs -> decode every member's
    actual bytes (doubled-height DIB with AND mask + embedded PNG) ->
    per-doc member dims and pixel sums.  The oracle restates both
    members from their formulas, so the directory walk, the 0-means-256
    rule, DIB height halving, bottom-up XOR rows, and the PNG-vs-DIB
    dispatch are value-pinned.  Map-only."""
    return _map_docs(spark, sf_dir, _ico_row,
                     "doc_id long, n_members long, dib_w long, dib_h long,"
                     " dib_sum long, png_w long, png_h long, png_sum long"
                     ).orderBy("doc_id")


def pixel_ico_oracle_sql() -> str:
    dims = "".join(f", {_dim(dw, _BASE)} as {k}_w, {_dim(dh, _BASE)} as {k}_h"
                   for k, (dw, dh), _p in _ICO_MEMBERS)
    sums = ",\n      ".join(
        _sum_cte(f"{k}_sums", "imgs", partial(pix, _B), f"{k}_w", f"{k}_h")
        for k, _d, pix in _ICO_MEMBERS)
    cols = "".join(f""",
             cast(im.{k}_w as bigint) as {k}_w,
             cast(im.{k}_h as bigint) as {k}_h,
             cast({k}_sums.s as bigint) as {k}_sum"""
                   for k, _d, _p in _ICO_MEMBERS)
    joins = " ".join(f"join {k}_sums on {k}_sums.doc_id = im.doc_id"
                     for k, _d, _p in _ICO_MEMBERS)
    return f"""
      with imgs as (select doc_id, {_BASE} as b{dims} from documents),
      {sums}
      select im.doc_id, cast({len(_ICO_MEMBERS)} as bigint) as n_members{cols}
      from imgs im {joins}
      order by im.doc_id
    """
