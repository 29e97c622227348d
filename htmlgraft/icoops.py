"""Real ICO (favicon) container codec in pure Python.  Favicons are
fetched for effectively every crawled host, and the ICO container has a
corner that generic image code gets wrong: a DIB member stores
``biHeight`` DOUBLED (XOR colour plane + 1-bit AND transparency mask)
and carries NO BITMAPFILEHEADER, while a PNG member is just a whole PNG
stream — both can sit in one file.

Format facts (public: the Microsoft ICO/CUR resource-format
documentation):

* ICONDIR: u16 reserved (0), u16 type (1 = icon), u16 member count —
  all little-endian.
* ICONDIRENTRY (16 bytes each): u8 width, u8 height (0 means 256),
  u8 colour count, u8 reserved, u16 planes, u16 bit count,
  u32 member byte size, u32 member file offset.
* A member is EITHER a complete PNG stream OR a BITMAPINFOHEADER DIB
  whose height field is 2x the visual height: the bottom-up XOR plane
  (pixel rows, 4-byte padded) followed by the bottom-up 1-bit AND mask
  (rows padded to 32 bits).

Decoded members are greyscale planes under the shared integer luma
contract (bmpops._luma); the AND mask is validated for size (a short
mask is truncation) but does not alter luma — transparency handling is
a compositing concern, not a decode concern.

Hostile-input posture (shared 10^12-blob rule): bad magic, entry counts
that overrun the directory, members outside the file, bad DIB geometry,
palette overruns, and short masks all raise ValueError; compressed or
non-8/24-bit DIB members raise NotImplementedError.
"""

from __future__ import annotations

import struct

from htmlgraft.bmpops import _pad, dib_plane

_ENTRY = struct.Struct("<BBBBHHII")


def decode_dib_member(blob: bytes):
    """(width, height, greyscale bytes) for one ICO DIB member — the
    doubled-height BITMAPINFOHEADER form (XOR plane + AND mask)."""
    if len(blob) < 40:
        raise ValueError("truncated DIB header")
    (hsize, w, h2, planes, bits, comp, _isize,
     _x, _y, n_colors, _imp) = struct.unpack_from("<IiiHHIIiiII", blob, 0)
    if hsize != 40:
        raise ValueError(f"unsupported DIB header size {hsize}")
    if comp != 0:
        raise NotImplementedError(f"ICO DIB compression {comp}")
    if bits not in (8, 24):
        raise NotImplementedError(f"ICO DIB bit depth {bits}")
    if planes != 1:
        raise ValueError(f"planes = {planes}")
    if h2 <= 0 or h2 % 2 or w <= 0:
        raise ValueError(f"bad ICO DIB geometry {w}x{h2} (height not doubled?)")
    h = h2 // 2
    # the XOR plane follows the palette, bottom-up; the AND mask follows it
    pos = 40 + 4 * (n_colors or 256) if bits == 8 else 40
    px, end = dib_plane(blob, pos, 40, w, h, bits, n_colors, False)
    if end + ((w + 31) // 32) * 4 * h > len(blob):
        raise ValueError("truncated ICO AND mask")
    return w, h, px


def decode_ico(blob: bytes):
    """[(width, height, kind, greyscale bytes), ...] for every member of
    an ICO, in directory order; kind is 'png' or 'dib'.  The directory
    dims (with the 0-means-256 rule) must agree with the member's own
    header — a mismatch is hostile input, not a preference."""
    if len(blob) < 6:
        raise ValueError("truncated ICONDIR")
    res, typ, count = struct.unpack_from("<HHH", blob, 0)
    if res != 0 or typ != 1:
        raise ValueError("not an ICO")
    if count == 0:
        raise ValueError("ICO with no members")
    if 6 + 16 * count > len(blob):
        raise ValueError("truncated ICONDIRENTRY table")
    out = []
    for i in range(count):
        (bw, bh, _cc, _res, _planes, _bits, size, off) = _ENTRY.unpack_from(
            blob, 6 + 16 * i)
        ew, eh = bw or 256, bh or 256
        if off + size > len(blob):
            raise ValueError(f"ICO member {i} overruns file")
        member = blob[off:off + size]
        if member[:8] == b"\x89PNG\r\n\x1a\n":
            from htmlgraft.pixelops import decode_png_pixels, grey_plane

            w, h, bpp, px = decode_png_pixels(member)
            out.append((w, h, "png", grey_plane(bpp, px)))
        else:
            w, h, px = decode_dib_member(member)
            out.append((w, h, "dib", px))
        if (out[-1][0], out[-1][1]) != (ew, eh):
            raise ValueError(
                f"ICO member {i} dims {out[-1][0]}x{out[-1][1]} "
                f"!= directory {ew}x{eh}")
    return out


def encode_ico(members) -> bytes:
    """Real ICO bytes from [(w, h, kind, plane), ...]: PNG members embed
    a real PNG stream, DIB members the doubled-height header + grey
    palette + bottom-up XOR plane + all-opaque AND mask."""
    blobs = []
    for w, h, kind, plane in members:
        if len(plane) != w * h:
            raise ValueError("member plane size mismatch")
        if kind == "png":
            from htmlgraft.pixelops import encode_png

            blobs.append(encode_png(w, h, plane))
        elif kind == "dib":
            if not (w <= 256 and h <= 256):
                raise ValueError("DIB ICO members cap at 256")
            stride = w + _pad(w)
            mask_stride = ((w + 31) // 32) * 4
            hdr = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 8, 0,
                              stride * h + mask_stride * h, 0, 0, 256, 0)
            pal = b"".join(bytes((i, i, i, 0)) for i in range(256))
            rows = [plane[y * w:(y + 1) * w] + b"\x00" * _pad(w)
                    for y in range(h)]
            xor = b"".join(rows[::-1])
            mask = b"\x00" * (mask_stride * h)
            blobs.append(hdr + pal + xor + mask)
        else:
            raise ValueError(f"member kind {kind!r}")
    off = 6 + 16 * len(members)
    head = struct.pack("<HHH", 0, 1, len(members))
    entries = bytearray()
    for (w, h, _k, _p), blob in zip(members, blobs):
        entries += _ENTRY.pack(w % 256, h % 256, 0, 0, 1, 8, len(blob), off)
        off += len(blob)
    return head + bytes(entries) + b"".join(blobs)
