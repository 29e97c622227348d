"""Real TIFF codec — baseline TIFF 6.0 reader/writer for uncompressed
strip-organized images in pure Python.  Like the BMP tier (bmpops.py),
TIFF's common baseline forms need no entropy codec, so there is no
NotImplementedError boundary for them: 8-bit greyscale (both
PhotometricInterpretation polarities) and 8-bit-per-sample RGB encode and
decode for real, in BOTH byte orders, across any strip layout.

Format facts (public: the Adobe TIFF 6.0 specification, 1992):

* Header: 2-byte order mark (``II`` little-endian / ``MM`` big-endian),
  u16 magic 42, u32 offset of IFD0.
* An IFD is a u16 entry count, then 12-byte entries (u16 tag, u16 type,
  u32 count, 4 value bytes), then a u32 next-IFD offset.  Entries are
  sorted by ascending tag.  A value wider than 4 bytes lives at the
  offset the value field carries.
* Baseline tags used here: ImageWidth 256, ImageLength 257,
  BitsPerSample 258, Compression 259 (1 = none), Photometric 262
  (0 = WhiteIsZero, 1 = BlackIsZero, 2 = RGB), StripOffsets 273,
  SamplesPerPixel 277, RowsPerStrip 278 (default = all rows in one
  strip), StripByteCounts 279, PlanarConfiguration 284 (1 = chunky).
* Pixel data is split into strips of RowsPerStrip rows each; strip i
  holds rows [i*rps, min(h, (i+1)*rps)).  Uncompressed strips carry
  exactly rows_in_strip * width * samples bytes — no row padding
  (unlike BMP).

Decoded output is a GREYSCALE plane under the same integer luma
contract as the BMP tier: RGB triples map through
``(77*r + 150*g + 29*b + 128) >> 8`` (exact on (i,i,i) grey);
WhiteIsZero greyscale inverts (``255 - v``) so both polarities decode
to the same logical plane — the polarity flag is value-detectable, not
cosmetic.

Hostile-input posture (the 10^12-blob rule shared by the other pixel
tiers): truncation anywhere (header, IFD, value arrays, strips), bad
magic, strip byte counts that disagree with the uncompressed geometry,
and missing required tags raise ValueError; compression, tiling
(TileWidth present), planar layouts, and non-8-bit depths raise
NotImplementedError — loud per-row error lanes, never a silently wrong
plane.
"""

from __future__ import annotations

import struct

from htmlgraft.bmpops import _luma, _plane, nn_sample

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}  # BYTE, ASCII, SHORT, LONG


def byte_order(blob: bytes) -> str:
    """Struct byte order of a TIFF stream: ``"<"`` for ``II``, ``">"`` for
    ``MM``.  Raises ValueError on a short header, an unknown mark or a
    magic other than 42; ``media._tiff_ifd`` turns that into None."""
    if len(blob) < 8:
        raise ValueError("truncated TIFF header")
    fmt = {b"II": "<", b"MM": ">"}.get(blob[:2])
    if fmt is None:
        raise ValueError("bad TIFF byte-order mark")
    if struct.unpack_from(fmt + "H", blob, 2)[0] != 42:
        raise ValueError("bad TIFF magic")
    return fmt


def ifd_entries(blob: bytes, fmt: str, off: int):
    """([(tag, type, count, entry_off)], ifd_end) for the IFD at ``off``,
    in stored order; ``ifd_end`` is the offset just past the next-IFD
    pointer.  Raises ValueError when the IFD is cut short; the callers
    keep their own policy: ``_read_ifd_values`` passes it on (the pixel
    decode and ``read_orientation`` raise), ``media._tiff_ifd`` returns
    None and ``media.scrub_exif_gps`` reports "GPS present, unscrubbed"."""
    if off + 2 > len(blob):
        raise ValueError("truncated IFD offset")
    (n,) = struct.unpack_from(fmt + "H", blob, off)
    end = off + 2 + 12 * n + 4
    if end > len(blob):
        raise ValueError("truncated IFD")
    return [(*struct.unpack_from(fmt + "HHI", blob, e), e)
            for e in range(off + 2, end - 4, 12)], end


def _read_ifd_values(blob: bytes) -> dict[int, list[int]]:
    """IFD0 walk: {tag: [values]} for BYTE/SHORT/LONG entries; entries of
    other types are recorded with an empty list (present, unreadable as
    ints).  Raises ValueError on a bad header or any truncation."""
    fmt = byte_order(blob)
    (off,) = struct.unpack_from(fmt + "I", blob, 4)
    entries, _ = ifd_entries(blob, fmt, off)
    out: dict[int, list[int]] = {}
    for tag, typ, count, e in entries:
        vpos = e + 8
        if typ not in _TYPE_SIZE:
            out[tag] = []
            continue
        size = _TYPE_SIZE[typ] * count
        if size > 4:
            (vpos,) = struct.unpack_from(fmt + "I", blob, vpos)
            if vpos + size > len(blob):
                raise ValueError(f"truncated value array for tag {tag}")
        ch = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        out[tag] = list(struct.unpack_from(fmt + str(count) + ch, blob, vpos))
    return out


def _first(tags: dict[int, list[int]], tag: int, default: int) -> int:
    """First value of an optional tag: ``default`` when absent,
    ValueError when present but not an integer type."""
    vals = tags.get(tag, [default])
    if not vals:
        raise ValueError(f"tag {tag} has no integer value")
    return vals[0]


def decode_tiff_pixels(blob: bytes):
    """(width, height, 1, greyscale bytes) from a baseline TIFF blob —
    luma-mapped, WhiteIsZero polarity normalized, strips reassembled in
    row order regardless of their byte positions in the file."""
    tags = _read_ifd_values(blob)
    if 322 in tags or 324 in tags:
        raise NotImplementedError("tiled TIFF")
    comp = tags.get(259, [1])
    if comp and comp[0] != 1:
        raise NotImplementedError(f"TIFF compression {comp[0]}")
    planar = tags.get(284, [1])
    if planar and planar[0] != 1:
        raise NotImplementedError(f"planar configuration {planar[0]}")
    for req in (256, 257, 262, 273, 279):
        if req not in tags or not tags[req]:
            raise ValueError(f"missing required tag {req}")
    w, h = tags[256][0], tags[257][0]
    photo = tags[262][0]
    spp = _first(tags, 277, 1)
    bits = tags.get(258, [1])
    if photo == 2:
        if spp != 3:
            raise NotImplementedError(f"RGB with {spp} samples")
    elif photo in (0, 1):
        if spp != 1:
            raise NotImplementedError(f"greyscale with {spp} samples")
    else:
        raise NotImplementedError(f"photometric interpretation {photo}")
    if any(b != 8 for b in bits) or len(bits) not in (1, spp):
        raise NotImplementedError(f"bits per sample {bits}")
    # the plane and every strip are checked against the blob before the
    # plane is allocated, so the header cannot ask for more memory than
    # the blob holds (overlapping strips could repeat its bytes)
    _plane(w, h, spp, len(blob), "strips")
    rps = _first(tags, 278, h) or h
    rps = min(rps, h)
    n_strips = (h + rps - 1) // rps
    offs, cnts = tags[273], tags[279]
    if len(offs) != n_strips or len(cnts) != n_strips:
        raise ValueError(
            f"{len(offs)}/{len(cnts)} strips for {n_strips}-strip geometry")
    for s in range(n_strips):
        want = min(rps, h - s * rps) * w * spp
        if cnts[s] != want:
            raise ValueError(
                f"strip {s} byte count {cnts[s]} != uncompressed {want}")
        if offs[s] + want > len(blob):
            raise ValueError(f"truncated strip {s}")
    out = bytearray(w * h)
    row = 0
    for s in range(n_strips):
        rows_here = min(rps, h - row)
        data = blob[offs[s]:offs[s] + cnts[s]]
        if photo == 2:
            for i in range(rows_here * w):
                r, g, b = data[3 * i:3 * i + 3]
                out[row * w + i] = _luma(r, g, b)
        elif photo == 1:
            out[row * w:(row + rows_here) * w] = data
        else:  # WhiteIsZero
            out[row * w:(row + rows_here) * w] = bytes(
                255 - v for v in data)
        row += rows_here
    return w, h, 1, bytes(out)


def encode_tiff(
    w: int,
    h: int,
    pixels: bytes,
    rgb: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    white_is_zero: bool = False,
    orientation: int | None = None,
) -> bytes:
    """Encode a plane as a real baseline TIFF.  ``rgb=False``: ``pixels``
    are w*h greyscale bytes (``white_is_zero`` stores the inverted plane
    under Photometric 0); ``rgb=True``: packed RGB triples.  Strips are
    written contiguously after the 8-byte header, value arrays and IFD0
    at the end (explicit offsets, per the spec)."""
    spp = 3 if rgb else 1
    if len(pixels) != spp * w * h:
        raise ValueError("pixel count mismatch")
    if rgb and white_is_zero:
        raise ValueError("WhiteIsZero is a greyscale polarity")
    fmt = ">" if big_endian else "<"
    rps = min(rows_per_strip or h, h)
    n_strips = (h + rps - 1) // rps
    strips, offs, cnts = [], [], []
    pos = 8
    for s in range(n_strips):
        r0 = s * rps
        rows_here = min(rps, h - r0)
        data = pixels[r0 * w * spp:(r0 + rows_here) * w * spp]
        if white_is_zero:
            data = bytes(255 - v for v in data)
        strips.append(data)
        offs.append(pos)
        cnts.append(len(data))
        pos += len(data)
    # external value arrays (anything wider than 4 bytes)
    extra = bytearray()

    def _val(typ: int, vals: list[int]) -> bytes:
        ch = {3: "H", 4: "I"}[typ]
        size = _TYPE_SIZE[typ] * len(vals)
        raw = struct.pack(fmt + str(len(vals)) + ch, *vals)
        if size <= 4:
            return raw + b"\x00" * (4 - size)
        nonlocal_pos = pos + len(extra)
        extra.extend(raw)
        return struct.pack(fmt + "I", nonlocal_pos)

    entries = [
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8] * spp),
        (259, 3, [1]),
        (262, 3, [2 if rgb else (0 if white_is_zero else 1)]),
        (273, 4, offs),
        (277, 3, [spp]),
        (278, 4, [rps]),
        (279, 4, cnts),
    ]
    if orientation is not None:
        if not 1 <= orientation <= 8:
            raise ValueError(f"orientation {orientation}")
        # keep entries sorted by tag: 274 sits between 273 and 277
        entries.insert(6, (274, 3, [orientation]))
    packed = []
    for tag, typ, vals in entries:
        packed.append(
            struct.pack(fmt + "HHI", tag, typ, len(vals)) + _val(typ, vals))
    ifd_off = pos + len(extra)
    ifd = struct.pack(fmt + "H", len(packed)) + b"".join(packed) + b"\x00" * 4
    head = (b"MM" if big_endian else b"II") + struct.pack(fmt + "HI", 42, ifd_off)
    return head + b"".join(strips) + bytes(extra) + ifd


def resample_tiff(blob: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resample, re-encoded as a single-strip
    little-endian greyscale TIFF (lossless carrier for the resampled
    luma plane)."""
    out = nn_sample(*decode_tiff_pixels(blob), new_w, new_h)
    return encode_tiff(new_w, new_h, out)


def read_orientation(blob: bytes) -> int:
    """TIFF Orientation (tag 274); 1 (top-left, the identity) when
    absent, per the spec default."""
    tags = _read_ifd_values(blob)
    o = tags.get(274, [1])
    if not o or not 1 <= o[0] <= 8:
        raise ValueError(f"bad orientation {o}")
    return o[0]


# EXIF/TIFF orientation semantics (tag 274, public TIFF 6 / EXIF spec):
# the value names WHERE the stored row-0/column-0 sit in the scene.  The
# normalizer maps a stored plane back to orientation 1 (row 0 = visual
# top, column 0 = visual left).  For each stored coordinate (sx, sy) on
# a sw x sh plane the table gives the canonical coordinate (cx, cy) on
# the (possibly transposed) cw x ch output.
def orient_map(o: int, sw: int, sh: int, sx: int, sy: int):
    """(cx, cy, cw, ch): canonical position of stored pixel (sx, sy)."""
    if o == 1:
        return sx, sy, sw, sh
    if o == 2:                      # mirrored horizontally
        return sw - 1 - sx, sy, sw, sh
    if o == 3:                      # rotated 180
        return sw - 1 - sx, sh - 1 - sy, sw, sh
    if o == 4:                      # mirrored vertically
        return sx, sh - 1 - sy, sw, sh
    if o == 5:                      # transposed (mirror along TL-BR)
        return sy, sx, sh, sw
    if o == 6:                      # stored = scene rotated 90 CW
        return sh - 1 - sy, sx, sh, sw
    if o == 7:                      # anti-transposed
        return sh - 1 - sy, sw - 1 - sx, sh, sw
    if o == 8:                      # stored = scene rotated 90 CCW
        return sy, sw - 1 - sx, sh, sw
    raise ValueError(f"orientation {o}")


def apply_orientation(w: int, h: int, px: bytes, o: int):
    """Normalize a greyscale plane to orientation 1; returns
    (width, height, pixels) of the upright scene."""
    _, _, cw, ch = orient_map(o, w, h, 0, 0)
    out = bytearray(cw * ch)
    for sy in range(h):
        for sx in range(w):
            cx, cy, _, _ = orient_map(o, w, h, sx, sy)
            out[cy * cw + cx] = px[sy * w + sx]
    return cw, ch, bytes(out)
