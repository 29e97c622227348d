"""Unit pins for the real TIFF codec (htmlgraft/tiffops.py): round trips
across byte orders / strip layouts / photometric polarities / sample
layouts, the shared integer luma contract, a frozen literal byte vector
(so a symmetric encoder/decoder convention slip cannot survive), and the
hostile-input error lanes."""

import struct

import pytest

from htmlgraft.bmpops import _luma
from htmlgraft.tiffops import (
    decode_tiff_pixels,
    encode_tiff,
    read_orientation,
    resample_tiff,
)


def _plane(w, h):
    return bytes((x * 11 + y * 7 + 6) % 233 for y in range(h) for x in range(w))


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("rps", [None, 1, 3, 5, 100])
def test_roundtrip_grey_all_strip_layouts(big_endian, rps):
    w, h = 9, 7
    px = _plane(w, h)
    blob = encode_tiff(w, h, px, big_endian=big_endian, rows_per_strip=rps)
    assert decode_tiff_pixels(blob) == (w, h, 1, px)


@pytest.mark.parametrize("big_endian", [False, True])
def test_roundtrip_white_is_zero_polarity(big_endian):
    w, h = 6, 4
    px = _plane(w, h)
    blob = encode_tiff(w, h, px, big_endian=big_endian, white_is_zero=True)
    # the stored strip bytes are INVERTED (first strip starts at offset 8)
    assert blob[8] == 255 - px[0]
    # ... and the decoder normalizes the polarity back
    assert decode_tiff_pixels(blob) == (w, h, 1, px)
    # flipping Photometric 0 -> 1 in place yields the inverted plane:
    # the polarity tag is load-bearing, not cosmetic
    doctored = bytearray(blob)
    hit = 0
    n = struct.unpack_from("<H" if not big_endian else ">H", blob,
                           struct.unpack_from(
                               "<I" if not big_endian else ">I", blob, 4)[0])[0]
    ifd = struct.unpack_from("<I" if not big_endian else ">I", blob, 4)[0]
    f = "<" if not big_endian else ">"
    for i in range(n):
        tag = struct.unpack_from(f + "H", blob, ifd + 2 + 12 * i)[0]
        if tag == 262:
            struct.pack_into(f + "H", doctored, ifd + 2 + 12 * i + 8, 1)
            hit = 1
    assert hit
    got = decode_tiff_pixels(bytes(doctored))[3]
    assert got == bytes(255 - v for v in px)


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("rps", [None, 2])
def test_roundtrip_rgb_exact_luma_channels(big_endian, rps):
    w, h = 5, 6
    lum = _plane(w, h)
    rgb = b"".join(bytes((v + 2, v, v - 4)) for v in lum)
    blob = encode_tiff(w, h, rgb, rgb=True, big_endian=big_endian,
                       rows_per_strip=rps)
    assert decode_tiff_pixels(blob) == (w, h, 1, lum)


def test_rgb_channel_order_is_value_detectable():
    # TIFF stores RGB in R,G,B order (no BGR flip like BMP); swapping the
    # channels of the (L+2, L, L-4) split shifts luma by 1
    for L in (6, 120, 233):
        assert _luma(L + 2, L, L - 4) == L
        assert _luma(L - 4, L, L + 2) == L - 1
    w, h = 4, 2
    lum = _plane(w, h)
    bgr = b"".join(bytes((v - 4, v, v + 2)) for v in lum)
    blob = encode_tiff(w, h, bgr, rgb=True)
    assert decode_tiff_pixels(blob)[3] == bytes(v - 1 for v in lum)


def test_frozen_byte_vector():
    """A 3x2 grey little-endian single-strip TIFF pinned field by field
    AND by literal byte slices: header, the contiguous strip at offset 8,
    and every IFD entry."""
    blob = encode_tiff(3, 2, bytes([1, 2, 3, 4, 5, 6]))
    assert blob[:8] == b"II" + struct.pack("<HI", 42, 14)
    assert blob[8:14] == bytes([1, 2, 3, 4, 5, 6])  # strip: NO row padding
    n = struct.unpack_from("<H", blob, 14)[0]
    assert n == 9
    got = {}
    for i in range(n):
        tag, typ, cnt, val = struct.unpack_from("<HHII", blob, 16 + 12 * i)
        got[tag] = (typ, cnt, val)
    assert got[256] == (4, 1, 3)          # ImageWidth
    assert got[257] == (4, 1, 2)          # ImageLength
    assert got[258] == (3, 1, 8)          # BitsPerSample
    assert got[259] == (3, 1, 1)          # Compression = none
    assert got[262] == (3, 1, 1)          # BlackIsZero
    assert got[273] == (4, 1, 8)          # StripOffsets
    assert got[277] == (3, 1, 1)          # SamplesPerPixel
    assert got[278] == (4, 1, 2)          # RowsPerStrip
    assert got[279] == (4, 1, 6)          # StripByteCounts
    # next-IFD pointer = 0, and that's the end of the file
    assert blob[16 + 12 * n:] == b"\x00" * 4
    assert decode_tiff_pixels(blob) == (3, 2, 1, bytes([1, 2, 3, 4, 5, 6]))


def test_multistrip_offsets_live_in_external_array():
    # 4 strips -> the LONG offset/count arrays are 16 bytes each, wider
    # than the 4-byte value field, so they must live at explicit offsets
    w, h = 3, 4
    px = _plane(w, h)
    blob = encode_tiff(w, h, px, rows_per_strip=1)
    w2, h2, _, got = decode_tiff_pixels(blob)
    assert (w2, h2, got) == (w, h, px)
    # scrambling one external strip offset is caught loudly
    ifd = struct.unpack_from("<I", blob, 4)[0]
    n = struct.unpack_from("<H", blob, ifd)[0]
    for i in range(n):
        tag, _typ, cnt, val = struct.unpack_from("<HHII", blob, ifd + 2 + 12 * i)
        if tag == 273:
            assert cnt == 4
            doctored = bytearray(blob)
            struct.pack_into("<I", doctored, val, len(blob) + 50)
            with pytest.raises(ValueError, match="truncated strip"):
                decode_tiff_pixels(bytes(doctored))


def test_error_lanes():
    good = encode_tiff(5, 4, _plane(5, 4))
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff_pixels(b"XX" + good[2:])
    with pytest.raises(ValueError, match="magic"):
        decode_tiff_pixels(good[:2] + b"\x2b\x00" + good[4:])
    with pytest.raises(ValueError, match="magic"):  # the same header check
        read_orientation(good[:2] + b"\x2b\x00" + good[4:])
    with pytest.raises(ValueError, match="truncated TIFF header"):
        decode_tiff_pixels(good[:6])
    with pytest.raises(ValueError, match="truncated IFD"):
        decode_tiff_pixels(good[:-8])
    trunc = bytearray(good[:20])  # cuts inside the single strip
    with pytest.raises(ValueError):
        decode_tiff_pixels(bytes(trunc))

    def _patch_tag(blob, tag, newval, field="value"):
        ifd = struct.unpack_from("<I", blob, 4)[0]
        n = struct.unpack_from("<H", blob, ifd)[0]
        out = bytearray(blob)
        for i in range(n):
            t = struct.unpack_from("<H", blob, ifd + 2 + 12 * i)[0]
            if t == tag:
                off = ifd + 2 + 12 * i + (8 if field == "value" else 4)
                struct.pack_into("<I" if field == "value" else "<H",
                                 out, off, newval)
        return bytes(out)

    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff_pixels(_patch_tag(good, 259, 5))
    with pytest.raises(NotImplementedError, match="bits per sample"):
        decode_tiff_pixels(_patch_tag(good, 258, 16))
    with pytest.raises(NotImplementedError, match="photometric"):
        decode_tiff_pixels(_patch_tag(good, 262, 3))
    with pytest.raises(ValueError, match="byte count"):
        decode_tiff_pixels(_patch_tag(good, 279, 7))
    with pytest.raises(ValueError, match="pixel count"):
        encode_tiff(3, 3, b"\x00" * 8)
    with pytest.raises(ValueError, match="polarity"):
        encode_tiff(1, 1, b"\x00" * 3, rgb=True, white_is_zero=True)


def test_resample_tiff_nn_exact():
    w, h = 8, 6
    px = _plane(w, h)
    out = resample_tiff(encode_tiff(w, h, px, rows_per_strip=2,
                                    big_endian=True), 4, 3)
    nw, nh, _, rpx = decode_tiff_pixels(out)
    assert (nw, nh) == (4, 3)
    want = bytes(px[((y * h) // 3) * w + (x * w) // 4]
                 for y in range(3) for x in range(4))
    assert rpx == want


def test_synth_carrier_axes_live():
    """The gated corpus must exercise both byte orders, all three sample
    layouts (RGB / BlackIsZero / WhiteIsZero), and all three strip
    granularities — and every carrier decodes to the formula plane."""
    import struct as _s

    from htmlgraft.pixelops import synth_tiff, synth_tiff_pixels

    orders, layouts, strips = set(), set(), set()
    for d in range(36):
        blob = synth_tiff(d)
        orders.add(blob[:2])
        f = "<" if blob[:2] == b"II" else ">"
        ifd = _s.unpack_from(f + "I", blob, 4)[0]
        n = _s.unpack_from(f + "H", blob, ifd)[0]
        tags = {}
        for i in range(n):
            tag, typ, cnt, = _s.unpack_from(f + "HHI", blob, ifd + 2 + 12 * i)
            tags[tag] = (typ, cnt)
        layouts.add(d % 3)
        strips.add(tags[273][1])  # strip count = StripOffsets entry count
        w, h, _, px = decode_tiff_pixels(blob)
        ww, hh, want = synth_tiff_pixels(d)
        assert (w, h, px) == (ww, hh, want), d
    assert orders == {b"II", b"MM"}
    assert layouts == {0, 1, 2}
    assert 1 in strips and max(strips) > 2  # single- and many-strip carriers


# --- orientation (tag 274) ----------------------------------------------------

def test_orientation_known_answers():
    """All eight codes pinned on the 3x2 plane [1 2 3 / 4 5 6] —
    hand-derived from the TIFF/EXIF 'where do stored row 0 / column 0
    sit in the scene' semantics."""
    from htmlgraft.tiffops import apply_orientation

    px = bytes([1, 2, 3, 4, 5, 6])
    want = {
        1: (3, 2, bytes([1, 2, 3, 4, 5, 6])),
        2: (3, 2, bytes([3, 2, 1, 6, 5, 4])),    # mirrored horizontally
        3: (3, 2, bytes([6, 5, 4, 3, 2, 1])),    # rotated 180
        4: (3, 2, bytes([4, 5, 6, 1, 2, 3])),    # mirrored vertically
        5: (2, 3, bytes([1, 4, 2, 5, 3, 6])),    # transposed
        6: (2, 3, bytes([4, 1, 5, 2, 6, 3])),    # stored = scene rot 90 CW
        7: (2, 3, bytes([6, 3, 5, 2, 4, 1])),    # anti-transposed
        8: (2, 3, bytes([3, 6, 2, 5, 1, 4])),    # stored = scene rot 90 CCW
    }
    for o, exp in want.items():
        assert apply_orientation(3, 2, px, o) == exp, o


def test_orientation_tag_roundtrip_and_default():
    from htmlgraft.tiffops import encode_tiff, read_orientation

    px = _plane(4, 3)
    assert read_orientation(encode_tiff(4, 3, px)) == 1   # spec default
    for o in range(1, 9):
        blob = encode_tiff(4, 3, px, orientation=o, big_endian=o % 2 == 0)
        assert read_orientation(blob) == o
        assert decode_tiff_pixels(blob)[3] == px  # tag does not touch pixels
    with pytest.raises(ValueError, match="orientation"):
        encode_tiff(4, 3, px, orientation=9)


def test_orient_corpus_collapses_all_eight_codes():
    """Every carrier normalizes to its base's canonical plane, all eight
    codes occur, and the UN-normalized plane of a rotated carrier hashes
    DIFFERENTLY — the tag is load-bearing for dedup."""
    from htmlgraft.pixelops import (
        dhash_gray,
        synth_orient_canonical,
        synth_orient_tiff,
    )
    from htmlgraft.tiffops import (
        apply_orientation,
        decode_tiff_pixels,
        read_orientation,
    )

    seen = set()
    for d in range(24):
        blob = synth_orient_tiff(d)
        sw, sh, _, stored = decode_tiff_pixels(blob)
        o = read_orientation(blob)
        seen.add(o)
        w, h, px = apply_orientation(sw, sh, stored, o)
        cw, ch, canon = synth_orient_canonical(d)
        assert (w, h, px) == (cw, ch, canon), d
        if o >= 5:
            # ignoring the tag keeps the transposed plane: different hash
            assert dhash_gray(sw, sh, stored) != dhash_gray(w, h, px), d
    assert seen == set(range(1, 9))


def _set_entry(blob, tag, typ=None, value=None):
    """Copy of a little-endian single-IFD TIFF with entry ``tag``'s type
    and/or inline u32 value field replaced."""
    ifd = struct.unpack_from("<I", blob, 4)[0]
    out = bytearray(blob)
    for i in range(struct.unpack_from("<H", blob, ifd)[0]):
        e = ifd + 2 + 12 * i
        if struct.unpack_from("<H", blob, e)[0] == tag:
            if typ is not None:
                struct.pack_into("<H", out, e + 2, typ)
            if value is not None:
                struct.pack_into("<I", out, e + 8, value)
    return bytes(out)


@pytest.mark.parametrize("tag", [277, 278])
def test_non_integer_samples_or_rows_per_strip_is_value_error(tag):
    # type 5 (RATIONAL) is present but unreadable as an integer
    bad = _set_entry(encode_tiff(5, 4, _plane(5, 4)), tag, typ=5)
    with pytest.raises(ValueError, match=f"tag {tag}"):
        decode_tiff_pixels(bad)


# decode one blob in a child process that caps its own address space; the
# child prints the outcome's type name
_CAPPED_CHILD = r"""
import resource, sys
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
from htmlgraft.tiffops import decode_tiff_pixels
try:
    decode_tiff_pixels(sys.stdin.buffer.read())
    print("ok")
except Exception as exc:
    print(type(exc).__name__)
"""


def test_huge_width_is_rejected_before_the_plane_is_allocated():
    """A small TIFF whose ImageWidth reads 3,959,422,979 would ask for a
    ~16 GB plane; its one strip's byte count disagrees with that geometry,
    which must be found before any allocation (the child runs under a
    1 GiB address-space limit)."""
    import pathlib
    import subprocess
    import sys

    blob = _set_entry(encode_tiff(5, 4, _plane(5, 4)), 256, value=3_959_422_979)
    assert len(blob) < 200
    root = pathlib.Path(__file__).resolve().parents[1]
    out = subprocess.run([sys.executable, "-c", _CAPPED_CHILD], input=blob,
                         capture_output=True, cwd=root, timeout=120, check=True)
    assert out.stdout.decode().strip() == "ValueError"


def test_overlapping_strips_cannot_outgrow_the_file():
    """Strips that all point at the same bytes pass every per-strip check;
    their total must still fit in the file, or a 2 KB blob decodes to a
    plane of 40 KB (and a 4 MB one to terabytes)."""
    n = w = 200
    data_off, offs_off = 8, 8 + w
    cnts_off = offs_off + 4 * n
    ifd_off = cnts_off + 4 * n
    entries = [(256, 4, 1, w), (257, 4, 1, n), (258, 3, 1, 8), (259, 3, 1, 1),
               (262, 3, 1, 1), (273, 4, n, offs_off), (277, 3, 1, 1),
               (278, 4, 1, 1), (279, 4, n, cnts_off)]
    blob = (b"II" + struct.pack("<HI", 42, ifd_off) + bytes(w)
            + struct.pack(f"<{n}I", *[data_off] * n)
            + struct.pack(f"<{n}I", *[w] * n)
            + struct.pack("<H", len(entries))
            + b"".join(struct.pack("<HHII", *e) for e in entries) + bytes(4))
    assert len(blob) < n * w
    with pytest.raises(ValueError, match="truncated strips"):
        decode_tiff_pixels(blob)
