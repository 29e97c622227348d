"""Real pixel tier: decode, resample, and perceptual-hash dedup over the
three dominant crawl-image formats (PNG here; baseline JPEG via
jpegops.py; GIF via gifops.py — each a real pure-Python codec gated by a
closed-form value oracle).

PNG's pixel decode needs nothing beyond the standard library — the
container is zlib (RFC 1950/1951) over five per-row predictive filters
(PNG spec §6: None/Sub/Up/Average/Paeth) — so the "needs an image codec"
stub closes honestly here:

- ``encode_png`` — real writer: signature, IHDR, zlib-deflated IDAT with
  the row filter CYCLING through all five types (so a decoder that gets
  any unfilter wrong cannot round-trip), IEND, correct CRC32s throughout.
- ``decode_png_pixels`` — real reader: chunk walk with CRC verification,
  multi-IDAT concatenation, inflate, and the five unfilters, for 8- and
  16-bit greyscale / RGB / grey+alpha / RGBA plus 8-bit indexed (PLTE
  expansion), both sequential and Adam7-interlaced (seven independent
  pass sub-images, each with its own filter chain, scattered back onto
  the grid).  16-bit samples reduce to their high byte (exact for the
  v*257 planes 8-bit sources upscale to); packed 1/2/4-bit depths raise
  ``NotImplementedError`` (documented scope, not a fake).
- ``resample_png`` — nearest-neighbour resample (src = dst * src_dim div
  dst_dim, pure integer index math so the oracle can restate it) through
  a real decode -> sample -> re-encode chain.
- ``dhash_gray`` — the standard 64-bit difference hash (9x8 grid of
  nearest-neighbour samples, bit set where a pixel outshines its right
  neighbour), the workhorse perceptual near-dup key for image corpora.

Gated queries (full-value DuckDB oracles):

``pixel_phash`` — synthesize a deterministic greyscale image per document
(pixel(x, y) = (base*37 + x*7 + y*13) % 251 with base = doc_id % 7, so
every 7th document is an exact pixel dup), ENCODE it to a real PNG,
DECODE the actual bytes back, dHash the decoded pixels, and group by hash
for keeper selection.  The oracle never sees a PNG: it recomputes the
pixel sum and the dHash straight from the closed-form formula, so any bug
in deflate framing, CRC, filtering, unfiltering, or the hash bit order
shows up as a value mismatch.  Encoder and decoder cannot conspire: the
gate pins the decoded VALUES against an independent recompute, and the
filter cycling means a symmetric encode/decode slip still has to be exact
inverse arithmetic per filter type (plus pytest pins fixed byte vectors).

``pixel_resize`` — the same synthesized PNGs pushed through
decode -> nearest-neighbour resample to (2w div 3, 2h div 3) -> re-encode
-> DECODE AGAIN, gating the pixel sum of the final decode against the
oracle's formula-at-sampled-coordinates recompute.

Scale shape: both queries are two Arrow-batched ``mapInPandas`` maps (no
shuffle anywhere in the pixel path; binary columns ride Arrow buffers)
followed by one hash-keyed aggregation for keeper selection — the same
partition-parallel shape the WARC/media stages use.  Per the
fingerprint-placement rule, nothing JVM-computable hides inside the UDF:
the UDF stages are exactly the pixel codec work.

Hash strategy: the 64-bit dHash travels as a 16-hex-char STRING built
from eight row bytes — 32-bit-safe for DuckDB (which range-checks
``1::bigint << 63``, see CLAUDE.md) and byte-order-explicit on both
engines.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

# --- deterministic synthetic pixel corpus (mirrored by the oracles) ----------
#
# base = doc_id % 7 -> exact-duplicate groups; dims are functions of base so
# duplicates share geometry; the modulus 251 (prime < 256) keeps the pixel
# plane non-degenerate under the linear x/y ramp.

PHASH_BASES = 7
_BASE = f"(doc_id % {PHASH_BASES})"
_PW = f"(12 + ({_BASE} * 7) % 17)"    # 12..28
_PH = f"(9 + ({_BASE} * 5) % 13)"     # 9..21
_PIX = "(({b} * 37 + {x} * 7 + {y} * 13) % 251)"


def _pix(base: int, x: int, y: int) -> int:
    return (base * 37 + x * 7 + y * 13) % 251


def synth_dims(doc_id: int):
    base = doc_id % PHASH_BASES
    return base, 12 + (base * 7) % 17, 9 + (base * 5) % 13


def synth_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the synthetic image of doc_id."""
    base, w, h = synth_dims(doc_id)
    return w, h, bytes(_pix(base, x, y) for y in range(h) for x in range(w))


# --- real PNG codec (public spec, stdlib zlib only) ---------------------------

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


def _unfilter_image(raw: bytes, pos: int, pw: int, ph: int, bpp: int):
    """Unfilter one (sub-)image of ph rows of pw pixels starting at byte
    ``pos`` of the inflated stream; returns (rows bytes, next pos)."""
    stride = pw * bpp
    end = pos + ph * (stride + 1)
    if end > len(raw):
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * ph)
    prev = bytes(stride)
    for y in range(ph):
        ftype = raw[pos + y * (stride + 1)]
        row = bytearray(
            raw[pos + y * (stride + 1) + 1:pos + (y + 1) * (stride + 1)])
        _unfilter_row(ftype, row, prev, bpp)
        out[y * stride:(y + 1) * stride] = row
        prev = bytes(row)
    return bytes(out), end


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
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if interlace:
        out = bytearray(stride * h)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, pos = _unfilter_image(raw, pos, pw, ph, bpp)
            for py in range(ph):
                for px_i in range(pw):
                    dst = ((y0 + py * dy) * w + (x0 + px_i * dx)) * bpp
                    src = (py * pw + px_i) * bpp
                    out[dst:dst + bpp] = sub[src:src + bpp]
        if pos != len(raw):
            raise ValueError("PNG pixel data length mismatch")
        out = bytes(out)
    else:
        out, pos = _unfilter_image(raw, 0, w, h, bpp)
        if pos != len(raw):
            raise ValueError("PNG pixel data length mismatch")
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
    w, h, bpp, px = decode_png_pixels(blob)
    stride = w * bpp
    out = bytearray(new_w * new_h * bpp)
    for y2 in range(new_h):
        sy = y2 * h // new_h
        for x2 in range(new_w):
            sx = x2 * w // new_w
            src = sy * stride + sx * bpp
            dst = (y2 * new_w + x2) * bpp
            out[dst:dst + bpp] = px[src:src + bpp]
    ctype = {1: 0, 3: 2, 2: 4, 4: 6}[bpp]
    return encode_png(new_w, new_h, bytes(out), ctype)


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


# --- Spark stages -------------------------------------------------------------

_PNG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("png", BinaryType()),
])

_PHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("px_sum", LongType()),
    StructField("phash", StringType()),
])

_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("new_width", LongType()),
    StructField("new_height", LongType()),
    StructField("px_sum", LongType()),
])


# The permuted-palette pair: stored index = v * 3 mod 256, palette entry
# i = the grey triple (i*171 % 256, ...) — 171 * 3 = 513 ≡ 1 (mod 256),
# so PLTE lookup reconstructs v exactly.  The permutation makes the
# lookup LOAD-BEARING: an index-pass-through bug yields the permuted
# plane, not the formula plane, and fails the value oracle.
_PAL_PERM = [((i * 171) % 256,) * 3 for i in range(256)]


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


def grey_plane(bpp: int, px: bytes) -> bytes:
    """Collapse a decoded plane to greyscale: bpp 1 passes through; RGB
    maps through the shared integer luma transform (exact on the grey
    triples the palette carriers decode to); grey+alpha drops alpha."""
    if bpp == 1:
        return px
    if bpp == 2:
        return px[0::2]
    if bpp == 3:
        from htmlgraft.bmpops import _luma

        return bytes(_luma(px[3 * j], px[3 * j + 1], px[3 * j + 2])
                     for j in range(len(px) // 3))
    raise NotImplementedError(f"grey collapse for {bpp} channels")


def _synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "png": [synth_png(d) for d in ids],
        })


def png_corpus(spark, sf_dir: str) -> DataFrame:
    """Deterministic real-PNG corpus keyed by doc_id (pixels from the
    closed-form formula, container from the real encoder across the
    interlace/palette/plain carrier axes — see ``synth_png``)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_synth_batch, _PNG_SCHEMA)


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "px_sum", "phash")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["png"]):
            w, h, bpp, raw = decode_png_pixels(bytes(blob))
            px = grey_plane(bpp, raw)
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_phash(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode -> decode -> dHash -> hash-group keeper.  The
    corpus sweeps the carrier axes the oracle is blind to (plain grey /
    Adam7 interlaced / permuted-palette indexed / 16-bit upscaled —
    ``synth_png``), so the de-interlace scatter, the PLTE lookup, and
    the 2-byte filter arithmetic are value-pinned.  The
    only shuffle is the phash-keyed window (64-bit hash keys, balanced);
    everything upstream is map-only."""
    decoded = png_corpus(spark, sf_dir).mapInPandas(
        _phash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_oracle_sql(docs: str = "documents") -> str:
    """The pixel plane, its sum, and the dHash restated straight from the
    synthesis formula — no PNG anywhere, so the whole deflate/filter/CRC
    round trip is pinned by value."""
    g = "(b * 37 + {x} * 7 + {y} * 13) % 251"
    samp = g.format(x="(gx * w) // 9", y="(gy * h) // 8")
    samp1 = g.format(x="((gx + 1) * w) // 9", y="(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({g.format(x="x", y="y")}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "width", "height", "new_width", "new_height", "px_sum",
        )}
        for doc_id, blob in zip(pdf["doc_id"], pdf["png"]):
            raw = bytes(blob)
            w, h, _, _ = decode_png_pixels(raw)
            new_w, new_h = max(1, w * 2 // 3), max(1, h * 2 // 3)
            resized = resample_png(raw, new_w, new_h)
            w2, h2, bpp2, px2 = decode_png_pixels(resized)
            assert (w2, h2) == (new_w, new_h)
            # palette carriers decode to grey RGB triples and resample as
            # 3-channel; the grey collapse restores the formula plane
            px2 = grey_plane(bpp2, px2)
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["new_width"].append(new_w)
            out["new_height"].append(new_h)
            out["px_sum"].append(sum(px2))
        yield pd.DataFrame(out)


def pixel_resize(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode -> decode -> NN resample to (2w/3, 2h/3) ->
    re-encode -> decode AGAIN -> pixel sum of the final decode.  Map-only
    end to end."""
    return png_corpus(spark, sf_dir).mapInPandas(
        _resize_batch, _RESIZE_SCHEMA).orderBy("doc_id")


def pixel_resize_oracle_sql(docs: str = "documents") -> str:
    """Formula-at-sampled-coordinates recompute of the resized plane."""
    g = "(b * 37 + ((x2 * w) // nw) * 7 + ((y2 * h) // nh) * 13) % 251"
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h,
               greatest(1, ({_PW} * 2) // 3) as nw,
               greatest(1, ({_PH} * 2) // 3) as nh
        from {docs}
      )
      select doc_id, cast(w as bigint) as width, cast(h as bigint) as height,
             cast(nw as bigint) as new_width, cast(nh as bigint) as new_height,
             cast(sum({g}) as bigint) as px_sum
      from imgs, unnest(range(0, nw)) as tx(x2), unnest(range(0, nh)) as ty(y2)
      group by doc_id, w, h, nw, nh
      order by doc_id
    """


# --- JPEG tier (round 5): real baseline codec, exact coefficient-domain oracle

# Per-block quantized coefficients as pure functions of (base, block index):
# DC plus ACs at zigzag 1 (u=1,v=0), 2 (u=0,v=1... natural (1,0)) and 9
# (natural (3,0)) — adjacent ACs, a 6-zero run, and cross-block DC deltas up
# to +-48, so the DPCM chain, run/size coding, and multi-length Huffman
# codes are all genuinely exercised.  Dims reuse the PNG tier's 12..28 x
# 9..21 (NOT multiples of 8 — MCU padding and edge cropping are live).
_J_DC = "((({b} * 5 + {nb} * 3) % 33) - 16)"
_J_A1 = "((({b} + {nb}) % 7) - 3)"
_J_A2 = "((({b} * 2 + {nb}) % 5) - 2)"
_J_A9 = "((({b} * 3 + {nb}) % 5) - 2)"
_T1_SQL = "([1004, 851, 569, 200, -200, -569, -851, -1004])"
_T3_SQL = "([851, -200, -1004, -569, 569, 1004, 200, -851])"


def synth_jpeg_coeffs(doc_id: int):
    """(w, h, zigzag-ordered quantized blocks) for the synthetic JPEG."""
    base, w, h = synth_dims(doc_id)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    blocks = []
    for nb in range(bw * bh):
        zz = [0] * 64
        zz[0] = ((base * 5 + nb * 3) % 33) - 16
        zz[1] = ((base + nb) % 7) - 3
        zz[2] = ((base * 2 + nb) % 5) - 2
        zz[9] = ((base * 3 + nb) % 5) - 2
        blocks.append(zz)
    return w, h, blocks


def synth_jpeg(doc_id: int) -> bytes:
    from htmlgraft import jpegops

    w, h, blocks = synth_jpeg_coeffs(doc_id)
    return jpegops.encode_jpeg_gray_coeffs(w, h, blocks)


def jpeg_pixel(doc_id: int, x: int, y: int) -> int:
    """Closed-form decoded pixel (the Python twin of the SQL template):
    dequantize the four nonzero coefficients with Annex-K Q values
    (16/11/12/14 at their natural positions) and apply the jpegops
    fixed-point IDCT contract."""
    from htmlgraft.jpegops import IDCT_T

    base, w, h = synth_dims(doc_id)
    bw = (w + 7) // 8
    nb = (y // 8) * bw + (x // 8)
    xr, yr = x % 8, y % 8
    dcq = ((base * 5 + nb * 3) % 33) - 16
    a1 = ((base + nb) % 7) - 3
    a2 = ((base * 2 + nb) % 5) - 2
    a9 = ((base * 3 + nb) % 5) - 2
    val = (dcq * 16 * 724 * 724
           + a1 * 11 * IDCT_T[1][xr] * 724
           + a2 * 12 * 724 * IDCT_T[1][yr]
           + a9 * 14 * 724 * IDCT_T[3][yr])
    return max(0, min(255, ((val + (1 << 21)) >> 22) + 128))


def _jpix_sql(x: str, y: str) -> str:
    """SQL expression for the decoded JPEG pixel at integer coords
    (``x``, ``y``) — requires ``b`` and ``w`` in scope.  floor of a
    power-of-two float division is exact here (|val| < 2^31 << 2^52), and
    matches the decoder's arithmetic shift bit for bit."""
    nb = f"((({y}) // 8) * ((w + 7) // 8) + (({x}) // 8))"
    xr, yr = f"(({x}) % 8)", f"(({y}) % 8)"
    val = (
        f"({_J_DC.format(b='b', nb=nb)} * 8386816"
        f" + {_J_A1.format(b='b', nb=nb)} * 11 * ({_T1_SQL}[{xr} + 1]) * 724"
        f" + {_J_A2.format(b='b', nb=nb)} * 12 * 724 * ({_T1_SQL}[{yr} + 1])"
        f" + {_J_A9.format(b='b', nb=nb)} * 14 * 724 * ({_T3_SQL}[{yr} + 1])"
        ")"
    )
    return (f"greatest(0, least(255, cast(floor(({val} + 2097152)"
            " / 4194304.0) as bigint) + 128))")


def _jpeg_synth_batch(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "jpeg": [synth_jpeg(d) for d in ids],
        })


_JPEG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("jpeg", BinaryType()),
])


def jpeg_corpus(spark, sf_dir: str) -> DataFrame:
    """Deterministic real-JPEG corpus keyed by doc_id (coefficients from
    the closed-form formulas, container from the real entropy encoder)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_jpeg_synth_batch, _JPEG_SCHEMA)


def _jphash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.jpegops import decode_jpeg_luma

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "px_sum",
                               "phash")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["jpeg"]):
            w, h, bpp, px = decode_jpeg_luma(bytes(blob))
            assert bpp == 1
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_phash_jpeg(spark, sf_dir: str) -> DataFrame:
    """Gated query: real-JPEG encode -> FULL baseline decode (Huffman,
    DPCM, dequant, integer IDCT, crop) -> dHash -> hash-group keeper.
    Same map-only shape as pixel_phash; the decode runs the luma fast
    path (identical to the full decode for greyscale)."""
    decoded = jpeg_corpus(spark, sf_dir).mapInPandas(
        _jphash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_jpeg_oracle_sql(docs: str = "documents") -> str:
    """Decoded plane, sum, and dHash restated from the coefficient
    synthesis formulas + the fixed-point IDCT contract — no JPEG bytes
    anywhere, so the whole marker/Huffman/stuffing/dequant/IDCT/crop
    chain is pinned by value."""
    pix = _jpix_sql("x", "y")
    samp = _jpix_sql("(gx * w) // 9", "(gy * h) // 8")
    samp1 = _jpix_sql("((gx + 1) * w) // 9", "(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({pix}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


def _jresize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.jpegops import decode_jpeg_gray

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "width", "height", "new_width", "new_height", "px_sum",
        )}
        for doc_id, blob in zip(pdf["doc_id"], pdf["jpeg"]):
            w, h, _, px = decode_jpeg_gray(bytes(blob))
            new_w, new_h = max(1, w * 2 // 3), max(1, h * 2 // 3)
            res = bytearray(new_w * new_h)
            for y2 in range(new_h):
                sy = y2 * h // new_h
                for x2 in range(new_w):
                    res[y2 * new_w + x2] = px[sy * w + (x2 * w // new_w)]
            # lossless re-encode (PNG) so the second decode pins the
            # resample bytes exactly — a JPEG re-encode would re-quantize
            reenc = encode_png(new_w, new_h, bytes(res))
            w2, h2, bpp2, px2 = decode_png_pixels(reenc)
            assert (w2, h2, bpp2) == (new_w, new_h, 1)
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["new_width"].append(new_w)
            out["new_height"].append(new_h)
            out["px_sum"].append(sum(px2))
        yield pd.DataFrame(out)


def pixel_resize_jpeg(spark, sf_dir: str) -> DataFrame:
    """Gated query: real-JPEG decode -> NN resample to (2w/3, 2h/3) ->
    lossless PNG re-encode -> decode AGAIN -> pixel sum of the final
    decode.  Chains both codecs; map-only end to end."""
    return jpeg_corpus(spark, sf_dir).mapInPandas(
        _jresize_batch, _RESIZE_SCHEMA).orderBy("doc_id")


def pixel_resize_jpeg_oracle_sql(docs: str = "documents") -> str:
    """JPEG-pixel formula at the resample's source coordinates."""
    pix = _jpix_sql("(x2 * w) // nw", "(y2 * h) // nh")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h,
               greatest(1, ({_PW} * 2) // 3) as nw,
               greatest(1, ({_PH} * 2) // 3) as nh
        from {docs}
      )
      select doc_id, cast(w as bigint) as width, cast(h as bigint) as height,
             cast(nw as bigint) as new_width, cast(nh as bigint) as new_height,
             cast(sum({pix}) as bigint) as px_sum
      from imgs, unnest(range(0, nw)) as tx(x2), unnest(range(0, nh)) as ty(y2)
      group by doc_id, w, h, nw, nh
      order by doc_id
    """


# --- decode-audit: mixed-format dispatch + error lanes under one oracle -------

_AUDIT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("fmt", StringType()),
    StructField("ok", LongType()),
    StructField("px_sum", LongType()),
])


# --- GIF tier: real LZW codec (gifops.py), same gate pattern as PNG ----------
#
# A DISTINCT pixel formula and geometry from the PNG tier so a formula
# copy-paste slip in either oracle cannot hide; the larger planes (up to
# 38x27 = 1026 px) push the LZW dictionary past 512 entries, so 10-bit
# code widths are live in the gated corpus (pinned in tests).

_GW = f"(16 + ({_BASE} * 9) % 23)"    # 16..38
_GH = f"(11 + ({_BASE} * 7) % 17)"    # 11..27
_GPIX = "(({b} * 41 + {x} * 11 + {y} * 5) % 247)"


def _gpix(base: int, x: int, y: int) -> int:
    return (base * 41 + x * 11 + y * 5) % 247


def synth_gif_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the GIF-tier image of doc_id."""
    base = doc_id % PHASH_BASES
    w, h = 16 + (base * 9) % 23, 11 + (base * 7) % 17
    return w, h, bytes(_gpix(base, x, y) for y in range(h) for x in range(w))


_GIF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("gif", BinaryType()),
])


def _gif_synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.gifops import encode_gif

    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        # odd doc_ids carry the 4-pass INTERLACED row order (round 5):
        # the oracle restates pixels from the formula, carrier-blind, so
        # both row layouts sit under the same value gate
        yield pd.DataFrame({
            "doc_id": ids,
            "gif": [encode_gif(*synth_gif_pixels(d), interlace=bool(d & 1))
                    for d in ids],
        })


def gif_corpus(spark, sf_dir: str) -> DataFrame:
    """Deterministic real-GIF corpus keyed by doc_id (pixels from the
    closed-form formula, container + LZW from the real encoder)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_gif_synth_batch, _GIF_SCHEMA)


def _gphash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.gifops import decode_gif_pixels

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "px_sum", "phash")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["gif"]):
            w, h, bpp, px = decode_gif_pixels(bytes(blob))
            assert bpp == 1
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_phash_gif(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real GIFs (LZW, extensions, greyscale GCT) ->
    decode the actual bytes -> dHash -> hash-group keeper.  Same
    map-only-then-one-bounded-window shape as the PNG/JPEG tiers; the
    oracle recomputes pixels from the closed-form formula so any slip in
    LZW width growth, sub-block framing, palette mapping, or extension
    skipping shows up as a value mismatch."""
    decoded = gif_corpus(spark, sf_dir).mapInPandas(
        _gphash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_gif_oracle_sql(docs: str = "documents") -> str:
    """The GIF-tier pixel plane, sum, and dHash restated straight from
    the synthesis formula — no GIF bytes anywhere, so the whole
    LZW/framing/palette round trip is pinned by value."""
    g = "(b * 41 + {x} * 11 + {y} * 5) % 247"
    samp = g.format(x="(gx * w) // 9", y="(gy * h) // 8")
    samp1 = g.format(x="((gx + 1) * w) // 9", y="(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_GW} as w, {_GH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({g.format(x="x", y="y")}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


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
    from htmlgraft.gifops import encode_gif

    return encode_gif(*synth_gif_pixels(doc_id))[:-10]


def _audit_synth(doc_id: int) -> bytes:
    m = doc_id % 12
    if m == 0:
        return encode_png(*synth_pixels(doc_id))
    if m == 1:
        return synth_jpeg(doc_id)
    if m == 2:
        from htmlgraft.gifops import encode_gif

        return encode_gif(*synth_gif_pixels(doc_id))
    if m == 3:
        return synth_prog_jpeg(doc_id)
    if m == 4:
        return _truncated_jpeg(doc_id)
    if m == 5:
        return _truncated_gif(doc_id)
    if m == 6:
        # a progressive stream cut mid-scan: the multi-scan walker must
        # raise (either inside entropy data or at the missing marker)
        return synth_prog_jpeg(doc_id)[:-10]
    if m == 7:
        return synth_bmp(doc_id)
    if m == 8:
        # a BMP cut inside its pixel array: the stride*height bound check
        # must raise, never read past the blob or pad silently
        return synth_bmp(doc_id)[:-10]
    if m == 9:
        return synth_tiff(doc_id)
    if m == 10:
        # a TIFF cut at the tail removes (part of) the trailing IFD: the
        # IFD/value-array bound checks must raise, never guess geometry
        return synth_tiff(doc_id)[:-10]
    return b"JUNK" + str(doc_id).encode()


def _audit_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.bmpops import decode_bmp_pixels
    from htmlgraft.gifops import decode_gif_pixels
    from htmlgraft.jpegops import decode_jpeg_luma
    from htmlgraft.tiffops import decode_tiff_pixels

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "fmt", "ok", "px_sum")}
        for doc_id in pdf["doc_id"]:
            blob = _audit_synth(int(doc_id))
            if blob[:8] == _SIG:
                fmt = "png"
            elif blob[:2] == b"\xff\xd8":
                fmt = "jpeg"
            elif blob[:4] == b"GIF8":
                fmt = "gif"
            elif blob[:2] == b"BM":
                fmt = "bmp"
            elif blob[:4] in (b"II*\x00", b"MM\x00*"):
                fmt = "tiff"
            else:
                fmt = "unknown"
            ok, px_sum = 0, -1
            try:
                if fmt == "png":
                    w, h, _, px = decode_png_pixels(blob)
                    ok, px_sum = 1, sum(px)
                elif fmt == "jpeg":
                    w, h, _, px = decode_jpeg_luma(blob)
                    ok, px_sum = 1, sum(px)
                elif fmt == "gif":
                    w, h, _, px = decode_gif_pixels(blob)
                    ok, px_sum = 1, sum(px)
                elif fmt == "bmp":
                    w, h, _, px = decode_bmp_pixels(blob)
                    ok, px_sum = 1, sum(px)
                elif fmt == "tiff":
                    w, h, _, px = decode_tiff_pixels(blob)
                    ok, px_sum = 1, sum(px)
            except (ValueError, NotImplementedError):
                ok, px_sum = 0, -1
            out["doc_id"].append(int(doc_id))
            out["fmt"].append(fmt)
            out["ok"].append(ok)
            out["px_sum"].append(px_sum)
        yield pd.DataFrame(out)


def pixel_decode_audit(spark, sf_dir: str) -> DataFrame:
    """Gated query: the crawl-reality lane — a mixed corpus (PNG,
    baseline JPEG, GIF, PROGRESSIVE JPEG, truncated JPEG, truncated GIF,
    truncated-progressive, BMP, truncated BMP, TIFF, truncated TIFF,
    junk bytes — 12 lanes) through magic-byte dispatch and all five real
    decoders, reporting per-doc format/status/pixel-sum.  Pins that a
    corrupt member yields a loud per-row error status, never a silently
    wrong plane (the property that matters when 10^12 hostile documents
    flow through mapInPandas).  Map-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_audit_batch, _AUDIT_SCHEMA).orderBy("doc_id")


def pixel_decode_audit_oracle_sql(docs: str = "documents") -> str:
    """Every lane restated: PNG sums from the pixel formula, baseline
    JPEG sums from the coefficient/IDCT formula, GIF sums from the
    GIF-tier formula, progressive sums from the progressive-tier
    formulas, BMP sums from the BMP-tier formula, TIFF sums from the
    TIFF-tier formula, error lanes pinned to (0, -1)."""
    png_sum = "(b * 37 + x * 7 + y * 13) % 251"
    gif_sum = "(b * 41 + x * 11 + y * 5) % 247"
    bmp_sum = "(4 + (b * 43 + x * 9 + y * 3) % 241)"
    tif_sum = "(6 + (b * 53 + x * 11 + y * 7) % 233)"
    jpg_sum = _jpix_sql("x", "y")
    prg_sum = _ppix_sql("x", "y")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h,
               {_GW} as gw, {_GH} as gh, {_BMW} as bw, {_BMH} as bh,
               {_TFW} as tw, {_TFH} as th
        from {docs}
      ),
      psums as (
        select im.doc_id, sum({png_sum}) as s
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        where im.doc_id % 12 = 0
        group by im.doc_id
      ),
      jsums as (
        select im.doc_id, sum({jpg_sum}) as s
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        where im.doc_id % 12 = 1
        group by im.doc_id
      ),
      gsums as (
        select im.doc_id, sum({gif_sum}) as s
        from imgs im, unnest(range(0, gw)) as tx(x),
             unnest(range(0, gh)) as ty(y)
        where im.doc_id % 12 = 2
        group by im.doc_id
      ),
      rsums as (
        select im.doc_id, sum({prg_sum}) as s
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        where im.doc_id % 12 = 3
        group by im.doc_id
      ),
      bsums as (
        select im.doc_id, sum({bmp_sum}) as s
        from imgs im, unnest(range(0, bw)) as tx(x),
             unnest(range(0, bh)) as ty(y)
        where im.doc_id % 12 = 7
        group by im.doc_id
      ),
      tsums as (
        select im.doc_id, sum({tif_sum}) as s
        from imgs im, unnest(range(0, tw)) as tx(x),
             unnest(range(0, th)) as ty(y)
        where im.doc_id % 12 = 9
        group by im.doc_id
      )
      select im.doc_id,
             case when im.doc_id % 12 = 0 then 'png'
                  when im.doc_id % 12 in (1, 3, 4, 6) then 'jpeg'
                  when im.doc_id % 12 in (2, 5) then 'gif'
                  when im.doc_id % 12 in (7, 8) then 'bmp'
                  when im.doc_id % 12 in (9, 10) then 'tiff'
                  else 'unknown' end as fmt,
             cast(case when im.doc_id % 12 <= 3 or im.doc_id % 12 in (7, 9)
                  then 1 else 0 end as bigint) as ok,
             cast(coalesce(p.s, j.s, g.s, r.s, bm.s, tf.s, -1) as bigint)
               as px_sum
      from imgs im
      left join psums p on p.doc_id = im.doc_id
      left join jsums j on j.doc_id = im.doc_id
      left join gsums g on g.doc_id = im.doc_id
      left join rsums r on r.doc_id = im.doc_id
      left join bsums bm on bm.doc_id = im.doc_id
      left join tsums tf on tf.doc_id = im.doc_id
      order by im.doc_id
    """


# --- perceptual NEAR-dup: hamming-banded LSH over the 64-bit dHash ----------
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


def synth_jpeg_neardup_coeffs(doc_id: int):
    """Near-dup JPEG corpus: the exact-dup coefficients of
    ``synth_jpeg_coeffs`` with ONE perturbation — block 0's zigzag-9 AC
    gains ``doc_id % NEARDUP_VARIANTS``.  Measured offline (deterministic,
    pinned in tests): within a base class the variants' dHashes sit at
    hamming 0..5 from v=0, so the corpus contains exact dups, true
    near-dups (<= 3), band-candidates that the exact filter rejects
    (> 3), and singletons — every branch of the operator is live."""
    w, h, blocks = synth_jpeg_coeffs(doc_id)
    blocks[0][9] += doc_id % NEARDUP_VARIANTS
    return w, h, blocks


def _jneardup_synth_batch(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft import jpegops

    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "jpeg": [jpegops.encode_jpeg_gray_coeffs(
                *synth_jpeg_neardup_coeffs(d)) for d in ids],
        })


_NHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("phash", StringType()),
])


def _jnhash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.jpegops import decode_jpeg_luma

    for pdf in batches:
        out = {"doc_id": [], "phash": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["jpeg"]):
            w, h, _, px = decode_jpeg_luma(bytes(blob))
            out["doc_id"].append(int(doc_id))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def _band_val(i: int, col: str = "phash"):
    """16-bit band i of the hex dHash as a bigint column (hex chars
    4i+1..4i+4; conv() handles the a-f digits)."""
    return F.conv(F.substring(col, i * 4 + 1, 4), 16, 10).cast("long")


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
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    hashes = (docs.mapInPandas(_jneardup_synth_batch, _JPEG_SCHEMA)
              .mapInPandas(_jnhash_batch, _NHASH_SCHEMA)
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


def _jpix_neardup_sql(x: str, y: str) -> str:
    """The decoded-pixel formula of ``_jpix_sql`` with the near-dup
    perturbation: block 0's A9 coefficient gains ``v`` (requires ``b``,
    ``w``, ``v`` in scope)."""
    nb = f"((({y}) // 8) * ((w + 7) // 8) + (({x}) // 8))"
    xr, yr = f"(({x}) % 8)", f"(({y}) % 8)"
    a9 = (f"({_J_A9.format(b='b', nb=nb)}"
          f" + (case when {nb} = 0 then v else 0 end))")
    val = (
        f"({_J_DC.format(b='b', nb=nb)} * 8386816"
        f" + {_J_A1.format(b='b', nb=nb)} * 11 * ({_T1_SQL}[{xr} + 1]) * 724"
        f" + {_J_A2.format(b='b', nb=nb)} * 12 * 724 * ({_T1_SQL}[{yr} + 1])"
        f" + {a9} * 14 * 724 * ({_T3_SQL}[{yr} + 1])"
        ")"
    )
    return (f"greatest(0, least(255, cast(floor(({val} + 2097152)"
            " / 4194304.0) as bigint) + 128))")


def pixel_neardup_oracle_sql(docs: str = "documents") -> str:
    """Everything restated relationally from the perturbed coefficient
    formulas: dHash row bytes from closed-form pixels, the same 4x16-bit
    banding, the same exact-hamming filter (xor + bit_count on row
    bytes), the same min-neighbor keeper — no JPEG bytes anywhere."""
    samp = _jpix_neardup_sql("(gx * w) // 9", "(gy * h) // 8")
    samp1 = _jpix_neardup_sql("((gx + 1) * w) // 9", "(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h,
               doc_id % {NEARDUP_VARIANTS} as v
        from {docs}
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      ),
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


# --- progressive-JPEG tier (round 5): multi-scan SOF2 under the same gate -----
#
# Progressive is the dominant non-baseline JPEG variant in a real crawl;
# jpegops decodes it for real (spectral selection + successive
# approximation) as of round 5.  The gated corpus uses DISTINCT formula
# constants from the baseline-JPEG tier (anti-copy-paste, same convention
# as the PNG/GIF split) and LARGER AC magnitudes so every scan kind in
# the libjpeg-style default script carries content: first-pass AC at
# Al=2 (|a1| up to 9 -> nonzero), refinement correction bits, cross-block
# EOB runs (blocks whose band is empty at coarse precision), and ZRL (the
# 30-gap between zigzag 9 and 40 inside the 6..63 band).  The oracle
# restates pixels from the coefficient formulas + the IDCT contract — the
# same pixels regardless of carrier, so the whole multi-scan chain is
# pinned by value.

_P_DC = "((({b} * 7 + {nb} * 5) % 45) - 22)"
_P_A1 = "((({b} * 2 + {nb} * 3) % 19) - 9)"
_P_A2 = "((({b} * 3 + {nb}) % 17) - 8)"
_P_A9 = "((({b} + {nb} * 2) % 15) - 7)"
_P_A40 = "((({b} * 5 + {nb}) % 9) - 4)"
_T5_SQL = "([569, -1004, 200, 851, -851, -200, 1004, -569])"


def synth_prog_coeffs(doc_id: int):
    """(w, h, zigzag blocks) for the progressive-tier synthetic JPEG.
    Natural positions: zigzag 1 -> (0,1) Q=11, 2 -> (1,0) Q=12,
    9 -> (3,0) Q=14, 40 -> (3,5) Q=87."""
    base, w, h = synth_dims(doc_id)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    blocks = []
    for nb in range(bw * bh):
        zz = [0] * 64
        zz[0] = ((base * 7 + nb * 5) % 45) - 22
        zz[1] = ((base * 2 + nb * 3) % 19) - 9
        zz[2] = ((base * 3 + nb) % 17) - 8
        zz[9] = ((base + nb * 2) % 15) - 7
        zz[40] = ((base * 5 + nb) % 9) - 4
        blocks.append(zz)
    return w, h, blocks


def synth_prog_jpeg(doc_id: int) -> bytes:
    from htmlgraft import jpegops

    w, h, blocks = synth_prog_coeffs(doc_id)
    return jpegops.encode_jpeg_gray_coeffs_progressive(w, h, blocks)


def prog_pixel(doc_id: int, x: int, y: int) -> int:
    """Closed-form decoded pixel — the Python twin of ``_ppix_sql``."""
    from htmlgraft.jpegops import IDCT_T

    base, w, h = synth_dims(doc_id)
    bw = (w + 7) // 8
    nb = (y // 8) * bw + (x // 8)
    xr, yr = x % 8, y % 8
    dcq = ((base * 7 + nb * 5) % 45) - 22
    a1 = ((base * 2 + nb * 3) % 19) - 9
    a2 = ((base * 3 + nb) % 17) - 8
    a9 = ((base + nb * 2) % 15) - 7
    a40 = ((base * 5 + nb) % 9) - 4
    val = (dcq * 16 * 724 * 724
           + a1 * 11 * IDCT_T[1][xr] * 724
           + a2 * 12 * 724 * IDCT_T[1][yr]
           + a9 * 14 * 724 * IDCT_T[3][yr]
           + a40 * 87 * IDCT_T[5][xr] * IDCT_T[3][yr])
    return max(0, min(255, ((val + (1 << 21)) >> 22) + 128))


def _ppix_sql(x: str, y: str) -> str:
    """SQL for the progressive-tier decoded pixel (needs ``b``/``w``)."""
    nb = f"((({y}) // 8) * ((w + 7) // 8) + (({x}) // 8))"
    xr, yr = f"(({x}) % 8)", f"(({y}) % 8)"
    val = (
        f"({_P_DC.format(b='b', nb=nb)} * 8386816"
        f" + {_P_A1.format(b='b', nb=nb)} * 11 * ({_T1_SQL}[{xr} + 1]) * 724"
        f" + {_P_A2.format(b='b', nb=nb)} * 12 * 724 * ({_T1_SQL}[{yr} + 1])"
        f" + {_P_A9.format(b='b', nb=nb)} * 14 * 724 * ({_T3_SQL}[{yr} + 1])"
        f" + {_P_A40.format(b='b', nb=nb)} * 87 * ({_T5_SQL}[{xr} + 1])"
        f" * ({_T3_SQL}[{yr} + 1])"
        ")"
    )
    return (f"greatest(0, least(255, cast(floor(({val} + 2097152)"
            " / 4194304.0) as bigint) + 128))")


def _prog_synth_batch(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "jpeg": [synth_prog_jpeg(d) for d in ids],
        })


def prog_corpus(spark, sf_dir: str) -> DataFrame:
    """Deterministic real progressive-JPEG corpus keyed by doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_prog_synth_batch, _JPEG_SCHEMA)


def pixel_phash_prog(spark, sf_dir: str) -> DataFrame:
    """Gated query: progressive (SOF2) encode -> full multi-scan decode
    (DC first/refine, AC spectral bands, successive-approximation
    refinement, EOB runs, ZRL) -> dHash -> hash-group keeper.  Same
    map-only + bounded-window shape as the baseline-JPEG tier."""
    decoded = prog_corpus(spark, sf_dir).mapInPandas(
        _jphash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_prog_oracle_sql(docs: str = "documents") -> str:
    """Pixels restated from the progressive-tier coefficient formulas +
    the IDCT contract — no JPEG bytes in SQL; every scan of the
    progressive chain must reconstruct the exact coefficients to hash
    equal."""
    pix = _ppix_sql("x", "y")
    samp = _ppix_sql("(gx * w) // 9", "(gy * h) // 8")
    samp1 = _ppix_sql("((gx + 1) * w) // 9", "(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_PW} as w, {_PH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({pix}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


# --- BMP tier: real uncompressed DIB codec (bmpops.py), round 5 --------------
#
# BMP needs no entropy coding, so this tier's value is in the CONTAINER
# corners hostile crawls hit: 4-byte row padding (the width range covers
# all four mod-4 classes), bottom-up vs top-down row order (negative
# height), 8-bit palette vs 24-bit BGR carriers.  The 24-bit channels are
# (L+2, L, L-4) — exact under the integer luma transform, but a BGR/RGB
# channel-order slip shifts luma by 1, so byte order is value-pinned.
# A DISTINCT pixel formula (43/9/3 mod 241, +4 offset) from the other
# tiers so a formula copy-paste slip in any oracle mismatches.

_BMW = f"(13 + ({_BASE} * 5) % 21)"    # 13..33 (all mod-4 padding classes)
_BMH = f"(9 + ({_BASE} * 3) % 13)"     # 9..21
_BMPIX = "(4 + ({b} * 43 + {x} * 9 + {y} * 3) % 241)"


def _bpix(base: int, x: int, y: int) -> int:
    return 4 + (base * 43 + x * 9 + y * 3) % 241


def synth_bmp_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the BMP-tier image of doc_id."""
    base = doc_id % PHASH_BASES
    w, h = 13 + (base * 5) % 21, 9 + (base * 3) % 13
    return w, h, bytes(_bpix(base, x, y) for y in range(h) for x in range(w))


def synth_bmp(doc_id: int) -> bytes:
    """Real BMP bytes: odd doc_ids carry 24-bit BGR with the exact-luma
    channel split, even doc_ids the 8-bit greyscale palette; every third
    doc is stored top-down — all under one carrier-blind oracle."""
    from htmlgraft.bmpops import encode_bmp

    w, h, lum = synth_bmp_pixels(doc_id)
    top_down = doc_id % 3 == 0
    if doc_id % 2:
        rgb = b"".join(bytes((v + 2, v, v - 4)) for v in lum)
        return encode_bmp(w, h, rgb, bits=24, top_down=top_down)
    return encode_bmp(w, h, lum, bits=8, top_down=top_down)


_BMP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("bmp", BinaryType()),
])


def _bmp_synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "bmp": [synth_bmp(d) for d in ids],
        })


def bmp_corpus(spark, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_bmp_synth_batch, _BMP_SCHEMA)


def _bphash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.bmpops import decode_bmp_pixels

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "px_sum", "phash")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["bmp"]):
            w, h, bpp, px = decode_bmp_pixels(bytes(blob))
            assert bpp == 1
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_phash_bmp(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real BMPs (both bit depths, both row orders,
    live row padding) -> decode the actual bytes -> dHash -> hash-group
    keeper.  The oracle recomputes pixels from the closed-form formula,
    carrier-blind, so a slip in padding arithmetic, row-order
    normalization, palette lookup, or BGR channel order shows up as a
    value mismatch."""
    decoded = bmp_corpus(spark, sf_dir).mapInPandas(
        _bphash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_bmp_oracle_sql(docs: str = "documents") -> str:
    """The BMP-tier pixel plane, sum, and dHash restated straight from
    the synthesis formula — no BMP bytes anywhere, so padding / row
    order / palette / channel order are pinned by value."""
    g = "(4 + (b * 43 + {x} * 9 + {y} * 3) % 241)"
    samp = g.format(x="(gx * w) // 9", y="(gy * h) // 8")
    samp1 = g.format(x="((gx + 1) * w) // 9", y="(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_BMW} as w, {_BMH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({g.format(x="x", y="y")}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


# --- TIFF tier: real baseline TIFF 6.0 codec (tiffops.py), round 5 -----------
#
# TIFF's hostile-crawl corners differ from BMP's: TWO byte orders for
# every header/IFD/value field ('II' vs 'MM'), pixel data split across
# STRIPS whose offsets/counts live in external value arrays, and a
# photometric POLARITY axis (WhiteIsZero stores the inverted plane).
# The synthetic carriers sweep all three axes plus RGB-vs-grey sample
# layout under one carrier-blind oracle; the RGB channels are
# (L+2, L, L-4) — exact under the integer luma transform, but an
# R/B channel-order slip shifts luma by 1, so sample order is
# value-pinned.  A DISTINCT pixel formula (53/11/7 mod 233, +6 offset)
# from every other tier so a formula copy-paste slip in any oracle
# mismatches.

_TFW = f"(11 + ({_BASE} * 9) % 23)"    # 11..33
_TFH = f"(8 + ({_BASE} * 5) % 15)"     # 8..22
_TFPIX = "(6 + ({b} * 53 + {x} * 11 + {y} * 7) % 233)"


def _tpix(base: int, x: int, y: int) -> int:
    return 6 + (base * 53 + x * 11 + y * 7) % 233


def synth_tiff_pixels(doc_id: int):
    """(width, height, greyscale bytes) for the TIFF-tier image of
    doc_id."""
    base = doc_id % PHASH_BASES
    w, h = 11 + (base * 9) % 23, 8 + (base * 5) % 15
    return w, h, bytes(_tpix(base, x, y) for y in range(h) for x in range(w))


def synth_tiff(doc_id: int) -> bytes:
    """Real TIFF bytes sweeping the carrier axes: byte order by doc_id
    parity, sample layout by doc_id % 3 (RGB with the exact-luma channel
    split / grey BlackIsZero / grey WhiteIsZero inverted storage), and
    strip granularity by doc_id % 4 (1-row strips / 5-row strips /
    single strip) — all under one carrier-blind oracle."""
    from htmlgraft.tiffops import encode_tiff

    w, h, lum = synth_tiff_pixels(doc_id)
    big_endian = doc_id % 2 == 1
    rps = {0: 1, 1: 5}.get(doc_id % 4)
    if doc_id % 3 == 0:
        rgb = b"".join(bytes((v + 2, v, v - 4)) for v in lum)
        return encode_tiff(w, h, rgb, rgb=True, big_endian=big_endian,
                           rows_per_strip=rps)
    return encode_tiff(w, h, lum, big_endian=big_endian, rows_per_strip=rps,
                       white_is_zero=doc_id % 3 == 2)


_TIFF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("tiff", BinaryType()),
])


def _tiff_synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = [int(d) for d in pdf["doc_id"]]
        yield pd.DataFrame({
            "doc_id": ids,
            "tiff": [synth_tiff(d) for d in ids],
        })


def tiff_corpus(spark, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_tiff_synth_batch, _TIFF_SCHEMA)


def _tphash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.tiffops import decode_tiff_pixels

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "px_sum", "phash")}
        for doc_id, blob in zip(pdf["doc_id"], pdf["tiff"]):
            w, h, bpp, px = decode_tiff_pixels(bytes(blob))
            assert bpp == 1
            out["doc_id"].append(int(doc_id))
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_phash_tiff(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real TIFFs (both byte orders, three strip
    granularities, RGB + both greyscale polarities) -> decode the actual
    bytes -> dHash -> hash-group keeper.  The oracle recomputes pixels
    from the closed-form formula, carrier-blind, so a slip in the IFD
    walk, external value arrays, strip reassembly, endianness handling,
    WhiteIsZero inversion, or RGB sample order shows up as a value
    mismatch."""
    decoded = tiff_corpus(spark, sf_dir).mapInPandas(
        _tphash_batch, _PHASH_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_phash_tiff_oracle_sql(docs: str = "documents") -> str:
    """The TIFF-tier pixel plane, sum, and dHash restated straight from
    the synthesis formula — no TIFF bytes anywhere, so endianness /
    strips / polarity / sample order are pinned by value."""
    g = "(6 + (b * 53 + {x} * 11 + {y} * 7) % 233)"
    samp = g.format(x="(gx * w) // 9", y="(gy * h) // 8")
    samp1 = g.format(x="((gx + 1) * w) // 9", y="(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_TFW} as w, {_TFH} as h from {docs}
      ),
      sums as (
        select im.doc_id, sum({g.format(x="x", y="y")}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


# --- EXIF/TIFF orientation-normalized perceptual dedup (round 5) --------------
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

_ORW = f"(10 + ({_BASE} * 7) % 19)"    # 10..28
_ORH = f"(9 + ({_BASE} * 4) % 11)"     # 9..19


def _opix(base: int, x: int, y: int) -> int:
    return 9 + (base * 59 + x * 89 + y * 41) % 227


def synth_orient_canonical(doc_id: int):
    """(width, height, canonical upright plane) for doc_id's scene —
    orientation-independent (the same for all 8 carriers of a base)."""
    base = doc_id % PHASH_BASES
    w, h = 10 + (base * 7) % 19, 9 + (base * 4) % 11
    return w, h, bytes(_opix(base, x, y) for y in range(h) for x in range(w))


def synth_orient_tiff(doc_id: int) -> bytes:
    """A real TIFF whose stored plane is the canonical scene
    pre-permuted for orientation 1 + doc_id % 8, carrying that code in
    tag 274 — normalizing by the tag recovers the canonical plane
    exactly."""
    from htmlgraft.tiffops import encode_tiff, orient_map

    w, h, canon = synth_orient_canonical(doc_id)
    o = 1 + doc_id % 8
    sw, sh = (h, w) if o >= 5 else (w, h)
    stored = bytearray(sw * sh)
    for sy in range(sh):
        for sx in range(sw):
            cx, cy, cw, _ch = orient_map(o, sw, sh, sx, sy)
            assert cw == w
            stored[sy * sw + sx] = canon[cy * w + cx]
    return encode_tiff(sw, sh, bytes(stored), orientation=o,
                       big_endian=doc_id % 2 == 1)


_ORIENT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ori", LongType()),
    StructField("stored_w", LongType()),
    StructField("stored_h", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("px_sum", LongType()),
    StructField("phash", StringType()),
])


def _orient_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.tiffops import (
        apply_orientation,
        decode_tiff_pixels,
        read_orientation,
    )

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "ori", "stored_w", "stored_h",
                               "width", "height", "px_sum", "phash")}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            blob = synth_orient_tiff(d)
            sw, sh, _, stored = decode_tiff_pixels(blob)
            o = read_orientation(blob)
            w, h, px = apply_orientation(sw, sh, stored, o)
            out["doc_id"].append(d)
            out["ori"].append(o)
            out["stored_w"].append(sw)
            out["stored_h"].append(sh)
            out["width"].append(w)
            out["height"].append(h)
            out["px_sum"].append(sum(px))
            out["phash"].append(dhash_gray(w, h, px))
        yield pd.DataFrame(out)


def pixel_orient(spark, sf_dir: str) -> DataFrame:
    """Gated query: decode real TIFFs carrying all eight Orientation
    codes -> normalize by the tag -> dHash -> hash-group keeper.  All
    eight carriers of a scene MUST collapse into one group (the oracle
    keeps keeper/dup orientation-blind), and the canonical dims/dHash
    are restated from the formula — a wrong transform, a swapped axis,
    or an ignored tag mismatches.  Map-only + the bounded hash window."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    decoded = docs.mapInPandas(_orient_batch, _ORIENT_SCHEMA)
    grp = Window.partitionBy("phash")
    return (
        decoded
        .withColumn("keeper", F.min("doc_id").over(grp))
        .withColumn(
            "dup", (F.col("doc_id") != F.col("keeper")).cast("long"))
        .orderBy("doc_id")
    )


def pixel_orient_oracle_sql(docs: str = "documents") -> str:
    """Canonical plane, dims, and dHash restated from the formula,
    orientation-blind; stored dims transpose for codes 5-8; keeper =
    min doc_id over the scene's dHash group."""
    g = "(9 + (b * 59 + {x} * 89 + {y} * 41) % 227)"
    samp = g.format(x="(gx * w) // 9", y="(gy * h) // 8")
    samp1 = g.format(x="((gx + 1) * w) // 9", y="(gy * h) // 8")
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_ORW} as w, {_ORH} as h,
               1 + doc_id % 8 as ori
        from {docs}
      ),
      sums as (
        select im.doc_id, sum({g.format(x="x", y="y")}) as px_sum
        from imgs im, unnest(range(0, w)) as tx(x),
             unnest(range(0, h)) as ty(y)
        group by im.doc_id
      ),
      bits as (
        select im.doc_id, ti.gy as row,
               sum(case when ({samp}) > ({samp1})
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
      )
      select im.doc_id, cast(im.ori as bigint) as ori,
             cast(case when im.ori >= 5 then im.h else im.w end as bigint)
               as stored_w,
             cast(case when im.ori >= 5 then im.w else im.h end as bigint)
               as stored_h,
             cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(s.px_sum as bigint) as px_sum, hh.phash,
             cast(min(im.doc_id) over (partition by hh.phash) as bigint)
               as keeper,
             cast(case when im.doc_id <> min(im.doc_id)
                    over (partition by hh.phash) then 1 else 0 end as bigint)
               as dup
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join hashes hh on hh.doc_id = im.doc_id
      order by im.doc_id
    """


# --- animated GIF tier (round 5): multi-frame decode --------------------------
#
# A large share of crawled GIF bytes are animations; a pipeline that
# sees only frame 0 under-counts pixels and mis-keys perceptual dedup.
# The corpus varies frame count (2..5), per-frame centisecond delays,
# and the NETSCAPE loop count, with odd frame indexes interlaced —
# carrier-blind oracle over the per-frame formula
# (b*61 + x*17 + y*7 + k*29) % 223 (distinct from every other tier).

_AGW = f"(9 + ({_BASE} * 6) % 17)"     # 9..25
_AGH = f"(8 + ({_BASE} * 3) % 9)"      # 8..16


def _agpix(base: int, k: int, x: int, y: int) -> int:
    return (base * 61 + x * 17 + y * 7 + k * 29) % 223


def synth_gif_anim(doc_id: int):
    """(width, height, n_frames, delays, loop, frame planes) for the
    animated-GIF tier of doc_id."""
    base = doc_id % PHASH_BASES
    w, h = 9 + (base * 6) % 17, 8 + (base * 3) % 9
    nf = 2 + doc_id % 4
    delays = [4 + (doc_id + k) % 11 for k in range(nf)]
    loop = doc_id % 3
    frames = [
        bytes(_agpix(base, k, x, y) for y in range(h) for x in range(w))
        for k in range(nf)
    ]
    return w, h, nf, delays, loop, frames


_ANIM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_frames", LongType()),
    StructField("loop_cnt", LongType()),
    StructField("total_delay_cs", LongType()),
    StructField("px_sum", LongType()),
    StructField("f0_sum", LongType()),
])


def _anim_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.gifops import decode_gif_frames, encode_gif_anim

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "n_frames",
                               "loop_cnt", "total_delay_cs", "px_sum",
                               "f0_sum")}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h, nf, delays, loop, frames = synth_gif_anim(d)
            blob = encode_gif_anim(w, h, frames, delays, loop=loop)
            ww, hh, got_loop, got = decode_gif_frames(blob)
            out["doc_id"].append(d)
            out["width"].append(ww)
            out["height"].append(hh)
            out["n_frames"].append(len(got))
            out["loop_cnt"].append(got_loop)
            out["total_delay_cs"].append(sum(dl for dl, _ in got))
            out["px_sum"].append(sum(sum(p) for _, p in got))
            out["f0_sum"].append(sum(got[0][1]))
        yield pd.DataFrame(out)


def pixel_gif_anim(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real animated GIFs (varying frame counts,
    per-frame delays, NETSCAPE loop counts, interlaced odd frames) ->
    decode every frame's actual LZW bytes -> per-doc frame count, loop
    count, total delay, all-frames pixel sum, first-frame sum.  The
    oracle restates all of it from the per-frame formula, so frame
    iteration, extension parsing, and per-frame de-interlace are
    value-pinned.  Map-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_anim_batch, _ANIM_SCHEMA).orderBy("doc_id")


def pixel_gif_anim_oracle_sql(docs: str = "documents") -> str:
    """Frame sums via a correlated triple unnest over (k, x, y); delays
    and loop restated arithmetically."""
    g = "((b * 61 + x * 17 + y * 7 + k * 29) % 223)"
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_AGW} as w, {_AGH} as h,
               2 + doc_id % 4 as nf
        from {docs}
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
        select im.doc_id, sum(4 + (im.doc_id + k) % 11) as total
        from imgs im, unnest(range(0, nf)) as tk(k)
        group by im.doc_id
      )
      select im.doc_id, cast(im.w as bigint) as width,
             cast(im.h as bigint) as height,
             cast(im.nf as bigint) as n_frames,
             cast(im.doc_id % 3 as bigint) as loop_cnt,
             cast(d.total as bigint) as total_delay_cs,
             cast(s.all_sum as bigint) as px_sum,
             cast(s.f0 as bigint) as f0_sum
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join delays d on d.doc_id = im.doc_id
      order by im.doc_id
    """


# --- ICO (favicon) tier (round 5) ---------------------------------------------
#
# Favicons are fetched for effectively every crawled host; the ICO
# container mixes PNG members with doubled-height DIB members (XOR plane
# + AND mask) in one file — icoops.py.  Distinct formulas per member
# kind (67/19/11 mod 229 + 5 for the DIB, 71/23/3 mod 211 + 7 for the
# PNG) so a member-dispatch slip mismatches.

_ICW1 = f"(9 + ({_BASE} * 5) % 15)"    # DIB member dims 9..23
_ICH1 = f"(7 + ({_BASE} * 3) % 11)"
_ICW2 = f"(10 + ({_BASE} * 7) % 13)"   # PNG member dims 10..22
_ICH2 = f"(8 + ({_BASE} * 5) % 9)"


def synth_ico(doc_id: int) -> bytes:
    """Real two-member ICO: one 8-bit DIB (doubled-height header, grey
    palette, bottom-up XOR plane, AND mask) + one PNG member."""
    from htmlgraft.icoops import encode_ico

    b = doc_id % PHASH_BASES
    w1, h1 = 9 + (b * 5) % 15, 7 + (b * 3) % 11
    w2, h2 = 10 + (b * 7) % 13, 8 + (b * 5) % 9
    p1 = bytes((b * 67 + x * 19 + y * 11 + 5) % 229
               for y in range(h1) for x in range(w1))
    p2 = bytes((b * 71 + x * 23 + y * 3 + 7) % 211
               for y in range(h2) for x in range(w2))
    return encode_ico([(w1, h1, "dib", p1), (w2, h2, "png", p2)])


_ICO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_members", LongType()),
    StructField("dib_w", LongType()),
    StructField("dib_h", LongType()),
    StructField("dib_sum", LongType()),
    StructField("png_w", LongType()),
    StructField("png_h", LongType()),
    StructField("png_sum", LongType()),
])


def _ico_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from htmlgraft.icoops import decode_ico

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_members", "dib_w", "dib_h",
                               "dib_sum", "png_w", "png_h", "png_sum")}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            members = decode_ico(synth_ico(d))
            kinds = {k: (w, h, sum(px)) for w, h, k, px in members}
            out["doc_id"].append(d)
            out["n_members"].append(len(members))
            out["dib_w"].append(kinds["dib"][0])
            out["dib_h"].append(kinds["dib"][1])
            out["dib_sum"].append(kinds["dib"][2])
            out["png_w"].append(kinds["png"][0])
            out["png_h"].append(kinds["png"][1])
            out["png_sum"].append(kinds["png"][2])
        yield pd.DataFrame(out)


def pixel_ico(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real two-member ICOs -> decode every member's
    actual bytes (doubled-height DIB with AND mask + embedded PNG) ->
    per-doc member dims and pixel sums.  The oracle restates both
    members from their formulas, so the directory walk, the 0-means-256
    rule, DIB height halving, bottom-up XOR rows, and the PNG-vs-DIB
    dispatch are value-pinned.  Map-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_ico_batch, _ICO_SCHEMA).orderBy("doc_id")


def pixel_ico_oracle_sql(docs: str = "documents") -> str:
    d = "((b * 67 + x * 19 + y * 11 + 5) % 229)"
    p = "((b * 71 + x * 23 + y * 3 + 7) % 211)"
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_ICW1} as w1, {_ICH1} as h1,
               {_ICW2} as w2, {_ICH2} as h2
        from {docs}
      ),
      dsums as (
        select im.doc_id, sum({d}) as s
        from imgs im, unnest(range(0, w1)) as tx(x),
             unnest(range(0, h1)) as ty(y)
        group by im.doc_id
      ),
      psums as (
        select im.doc_id, sum({p}) as s
        from imgs im, unnest(range(0, w2)) as tx(x),
             unnest(range(0, h2)) as ty(y)
        group by im.doc_id
      )
      select im.doc_id, cast(2 as bigint) as n_members,
             cast(im.w1 as bigint) as dib_w, cast(im.h1 as bigint) as dib_h,
             cast(ds.s as bigint) as dib_sum,
             cast(im.w2 as bigint) as png_w, cast(im.h2 as bigint) as png_h,
             cast(ps.s as bigint) as png_sum
      from imgs im
      join dsums ds on ds.doc_id = im.doc_id
      join psums ps on ps.doc_id = im.doc_id
      order by im.doc_id
    """


# --- APNG: animated PNG (acTL / fcTL / fdAT) ----------------------------------
#
# Chunk facts (public: the APNG specification, folded into the PNG
# third-edition spec): ``acTL`` (before the first IDAT) carries u32
# frame count + u32 play count; each frame is announced by an ``fcTL``
# (u32 sequence, u32 w, u32 h, u32 x, u32 y, u16 delay_num, u16
# delay_den, u8 dispose, u8 blend); frame 0's pixels ride the normal
# IDAT when its fcTL precedes IDAT, later frames ride ``fdAT`` chunks
# (u32 sequence + deflate data).  fcTL and fdAT share ONE sequence
# counter starting at 0 — a gap or reorder is hostile input.
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

    def _flush(data, fctl):
        sw, sh = fctl[1], fctl[2]
        if (fctl[3], fctl[4]) != (0, 0) or (sw, sh) != (w, h):
            raise NotImplementedError(
                "sub-canvas APNG frame needs dispose/blend compositing")
        raw = zlib.decompress(bytes(data))
        plane, pos = _unfilter_image(raw, 0, sw, sh, 1)
        if pos != len(raw):
            raise ValueError("APNG frame data length mismatch")
        frames.append(((fctl[5], fctl[6]), plane))

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
            if not frames and idat:
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


# APNG tier corpus: distinct formula (73/29/13/37 mod 199, +8).

_APW = f"(8 + ({_BASE} * 5) % 13)"     # 8..20
_APH = f"(7 + ({_BASE} * 2) % 9)"      # 7..15


def synth_apng_frames(doc_id: int):
    base = doc_id % PHASH_BASES
    w, h = 8 + (base * 5) % 13, 7 + (base * 2) % 9
    nf = 2 + doc_id % 3
    delays = [(2 + (doc_id + k) % 9, 100) for k in range(nf)]
    frames = [
        bytes(8 + (base * 73 + x * 29 + y * 13 + k * 37) % 199
              for y in range(h) for x in range(w))
        for k in range(nf)
    ]
    return w, h, nf, delays, doc_id % 4, frames


_APNG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_frames", LongType()),
    StructField("plays", LongType()),
    StructField("delay_num_sum", LongType()),
    StructField("px_sum", LongType()),
    StructField("f0_sum", LongType()),
])


def _apng_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_frames", "plays",
                               "delay_num_sum", "px_sum", "f0_sum")}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h, nf, delays, plays, frames = synth_apng_frames(d)
            blob = encode_apng(w, h, frames, delays, plays=plays)
            ww, hh, got_plays, got = decode_apng(blob)
            assert (ww, hh) == (w, h)
            out["doc_id"].append(d)
            out["n_frames"].append(len(got))
            out["plays"].append(got_plays)
            out["delay_num_sum"].append(sum(dn for (dn, _dd), _ in got))
            out["px_sum"].append(sum(sum(p) for _, p in got))
            out["f0_sum"].append(sum(got[0][1]))
        yield pd.DataFrame(out)


def pixel_apng(spark, sf_dir: str) -> DataFrame:
    """Gated query: encode real APNGs (acTL/fcTL/fdAT, varying frame
    counts, delays, play counts) -> decode every frame's actual deflate
    bytes -> per-doc frame count, plays, delay-numerator sum, all-frames
    and first-frame pixel sums — frame iteration, the shared fcTL/fdAT
    sequence counter, and the IDAT-is-frame-0 rule are value-pinned.
    Map-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(_apng_batch, _APNG_SCHEMA).orderBy("doc_id")


def pixel_apng_oracle_sql(docs: str = "documents") -> str:
    g = "(8 + (b * 73 + x * 29 + y * 13 + k * 37) % 199)"
    return f"""
      with imgs as (
        select doc_id, {_BASE} as b, {_APW} as w, {_APH} as h,
               2 + doc_id % 3 as nf
        from {docs}
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
        select im.doc_id, sum(2 + (im.doc_id + k) % 9) as total
        from imgs im, unnest(range(0, nf)) as tk(k)
        group by im.doc_id
      )
      select im.doc_id, cast(im.nf as bigint) as n_frames,
             cast(im.doc_id % 4 as bigint) as plays,
             cast(d.total as bigint) as delay_num_sum,
             cast(s.all_sum as bigint) as px_sum,
             cast(s.f0 as bigint) as f0_sum
      from imgs im
      join sums s on s.doc_id = im.doc_id
      join delays d on d.doc_id = im.doc_id
      order by im.doc_id
    """
