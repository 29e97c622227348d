"""Pixel-tier pins: the PNG codec against fixed byte vectors and known
answers (so encoder and decoder cannot validate each other circularly),
filter coverage, resample index semantics, dHash bit order, and the
phash-dedup group contract on the driver corpus."""

import struct
import zlib

import pytest

from htmlgraft import pixelops as P
from htmlgraft.media import resample_pixels


def _chunk(typ, data):
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def _png(w, h, ctype, scanlines):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(scanlines))
            + _chunk(b"IEND", b""))


# --- decoder known-answer vectors (hand-built, independent of encode_png) ----

def test_decode_filter0_known_answer():
    # 2x2 grey, both rows filter 0: pixels are the raw bytes
    blob = _png(2, 2, 0, bytes([0, 10, 20, 0, 30, 40]))
    assert P.decode_png_pixels(blob) == (2, 2, 1, bytes([10, 20, 30, 40]))


def test_decode_each_filter_known_answer():
    # 3 px/row grey; one row per filter type, unfiltered values hand-derived
    lines = bytearray()
    lines += bytes([0, 5, 10, 15])        # row0 none      -> 5 10 15
    lines += bytes([1, 7, 7, 7])          # row1 sub       -> 7 14 21
    lines += bytes([2, 1, 2, 3])          # row2 up        -> 8 16 24
    lines += bytes([3, 10, 10, 10])       # row3 average:
    #   a=0,b=8 -> 14; a=14,b=16 -> 25; a=25,b=24 -> 34
    lines += bytes([4, 1, 1, 1])          # row4 paeth:
    #   a=0,b=14,c=0 -> pred 14 -> 15; a=15,b=25,c=14 -> pred 25 -> 26;
    #   a=26,b=34,c=25 -> pred 34 -> 35
    blob = _png(3, 5, 0, bytes(lines))
    assert P.decode_png_pixels(blob)[3] == bytes(
        [5, 10, 15, 7, 14, 21, 8, 16, 24, 14, 25, 34, 15, 26, 35])


def test_decode_multi_idat_and_crc_guard():
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    idat = zlib.compress(bytes([0, 9, 9]))
    blob = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", idat[:4]) + _chunk(b"IDAT", idat[4:])
            + _chunk(b"IEND", b""))
    assert P.decode_png_pixels(blob)[3] == bytes([9, 9])
    bad = bytearray(blob)
    bad[-5] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        P.decode_png_pixels(bytes(bad))


def test_decode_rejects_out_of_scope_shapes():
    # color type 3 WITHOUT its PLTE is invalid data, not scope
    with pytest.raises(ValueError, match="PLTE"):
        P.decode_png_pixels(_png(1, 1, 3, bytes([0, 0])))
    # packed sub-byte depths are the remaining scope boundary (16-bit is
    # real as of round 5)
    ihdr = struct.pack(">IIBBBBB", 8, 1, 1, 0, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes([0, 0])))
            + _chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        P.decode_png_pixels(blob)
    with pytest.raises(ValueError):
        P.decode_png_pixels(b"GIF89a")


@pytest.mark.parametrize("ctype,bpp", [(0, 1), (2, 3), (4, 2), (6, 4)])
@pytest.mark.parametrize("dims", [(1, 1), (3, 2), (7, 5), (8, 8), (9, 10),
                                  (5, 1), (1, 9), (28, 21)])
def test_adam7_roundtrip_all_shapes(ctype, bpp, dims):
    """Adam7 across dims that leave some passes EMPTY (w or h < the pass
    origin) and dims spanning multiple 8x8 tiles."""
    w, h = dims
    px = bytes((i * 37 + 11) % 251 for i in range(w * h * bpp))
    blob = P.encode_png(w, h, px, ctype, interlace=True)
    assert P.decode_png_pixels(blob) == (w, h, bpp, px)


def test_adam7_interlace_flag_is_load_bearing():
    """The interlaced stream is NOT sequential data under another flag:
    pass-ordered framing has a different byte count (more filter bytes —
    one per pass-row) and different filter-byte positions, so clearing
    the IHDR interlace bit on an interlaced stream must fail LOUDLY
    (length mismatch or an out-of-range filter type), never decode to a
    silently permuted plane."""
    w = h = 8
    px = bytes((i * 29 + 5) % 251 for i in range(w * h))
    blob = bytearray(P.encode_png(w, h, px, interlace=True))
    assert P.decode_png_pixels(bytes(blob))[3] == px
    ihdr_at = blob.index(b"IHDR")
    assert blob[ihdr_at + 16] == 1
    blob[ihdr_at + 16] = 0
    import zlib as _z
    blob[ihdr_at + 17:ihdr_at + 21] = struct.pack(
        ">I", _z.crc32(blob[ihdr_at:ihdr_at + 17]) & 0xFFFFFFFF)
    with pytest.raises((ValueError, NotImplementedError)):
        P.decode_png_pixels(bytes(blob))
    # ... and the two encodings of the same plane genuinely differ
    assert bytes(blob) != P.encode_png(w, h, px)


def test_palette_roundtrip_and_permutation_load_bearing():
    w, h = 12, 9
    lum = bytes((x * 7 + y * 13) % 251 for y in range(h) for x in range(w))
    idx = bytes((v * 3) % 256 for v in lum)
    blob = P.encode_png(w, h, idx, color_type=3, palette=P._PAL_PERM)
    ww, hh, c, px = P.decode_png_pixels(blob)
    assert (ww, hh, c) == (w, h, 3)
    assert P.grey_plane(c, px) == lum
    # an index-pass-through bug would yield the PERMUTED plane
    assert idx != lum
    # out-of-range index against a short palette raises
    short = P.encode_png(1, 1, bytes([1]), color_type=3,
                         palette=[(0, 0, 0)] * 256)
    trimmed = P.encode_png(1, 1, bytes([3]), color_type=3,
                           palette=[(9, 9, 9)] * 2)
    assert P.decode_png_pixels(short)[3] == bytes([0, 0, 0])
    with pytest.raises(ValueError, match="palette index"):
        P.decode_png_pixels(trimmed)


def test_synth_png_carrier_axes_live():
    """The gated PNG corpus sweeps plain / Adam7 / permuted-palette /
    16-bit carriers, and every carrier decodes (after grey collapse) to
    the formula plane."""
    seen = set()
    for d in range(28):
        blob = P.synth_png(d)
        ihdr_at = blob.index(b"IHDR")
        depth, ctype, il = (blob[ihdr_at + 12], blob[ihdr_at + 13],
                            blob[ihdr_at + 16])
        seen.add((depth, ctype, il))
        w, h, bpp, px = P.decode_png_pixels(blob)
        ww, hh, want = P.synth_pixels(d)
        assert (w, h, P.grey_plane(bpp, px)) == (ww, hh, want), d
    assert seen == {(8, 0, 1), (8, 0, 0), (8, 3, 0), (16, 0, 0)}


@pytest.mark.parametrize("ctype,bpp", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_roundtrip_all_color_types(ctype, bpp):
    w, h = 13, 11  # h > 5 -> every filter type appears (y % 5 cycling)
    px = bytes((i * 17 + 3) % 256 for i in range(w * h * bpp))
    assert P.decode_png_pixels(P.encode_png(w, h, px, ctype)) == (
        w, h, bpp, px)


def test_encoder_emits_all_five_filters():
    w, h = 4, 10
    px = bytes((i * 31) % 256 for i in range(w * h))
    blob = P.encode_png(w, h, px)
    assert blob[12:16] == b"IHDR"
    idat_len = struct.unpack(">I", blob[33:37])[0]
    raw = zlib.decompress(blob[41:41 + idat_len])
    assert [raw[y * (w + 1)] for y in range(h)] == [y % 5 for y in range(h)]


def test_resample_nearest_neighbour_indices():
    # 4x2 grid downsampled to 2x1: picks (0,0) and (2,0)
    px = bytes([1, 2, 3, 4, 5, 6, 7, 8])
    small = P.resample_png(P.encode_png(4, 2, px), 2, 1)
    assert P.decode_png_pixels(small) == (2, 1, 1, bytes([1, 3]))
    # upsample 2x1 -> 4x2 replicates
    big = P.resample_png(P.encode_png(2, 1, bytes([9, 200])), 4, 2)
    assert P.decode_png_pixels(big)[3] == bytes([9, 9, 200, 200] * 2)


def test_media_resample_pixels_dispatch():
    w, h, px = P.synth_pixels(3)
    blob = P.encode_png(w, h, px)
    out = resample_pixels(blob, 5, 4)
    assert P.decode_png_pixels(out)[:2] == (5, 4)
    # greyscale JPEG resample is REAL now (decode -> NN -> re-encode);
    # re-decoding the lossy re-encode recovers the requested geometry
    from htmlgraft import jpegops as J

    jout = resample_pixels(P.synth_jpeg(3), 5, 4)
    assert J.decode_jpeg_gray(jout)[:2] == (5, 4)
    # a bare marker prefix is a TRUNCATED stream, not a scope boundary
    with pytest.raises(ValueError):
        resample_pixels(b"\xff\xd8\xff\xc0", 5, 4)


def test_dhash_bit_order_known_answer():
    # 9x8 image == the sample grid itself; row y: pixels strictly
    # increasing left-to-right -> no bit set except where we spike col 0
    px = bytearray(x + 10 * y for y in range(8) for x in range(9))
    assert P.dhash_gray(9, 8, bytes(px)) == "00" * 8
    px[0] = 255  # row 0: sample[0] > sample[1] -> bit 0 of first byte
    assert P.dhash_gray(9, 8, bytes(px)) == "01" + "00" * 7
    px[9 * 3 + 4] = 255  # row 3, col 4 spike -> bit 4 (0x10); col 3 < col 4
    assert P.dhash_gray(9, 8, bytes(px)) == "01" + "00" * 2 + "10" + "00" * 4


def test_dhash_invariant_under_exact_duplicate_and_scale():
    # same scene at 2x resolution (pixel-replicated) has the same dHash
    w, h, px = P.synth_pixels(4)
    big = P.resample_png(P.encode_png(w, h, px), w * 2, h * 2)
    w2, h2, _, px2 = P.decode_png_pixels(big)
    assert P.dhash_gray(w, h, px) == P.dhash_gray(w2, h2, px2)


def test_pixel_phash_groups(spark, sf_dir):
    df = P.pixel_phash(spark, sf_dir).toPandas()
    # exact-dup groups are doc_id mod 7: same base -> same phash
    base_hash = {}
    for r in df.itertuples():
        base_hash.setdefault(r.doc_id % P.PHASH_BASES, set()).add(r.phash)
    assert all(len(s) == 1 for s in base_hash.values())
    # the 7 bases yield 7 distinct hashes; keeper is the min doc_id of each
    assert df.phash.nunique() == P.PHASH_BASES
    for b in range(P.PHASH_BASES):
        grp = df[df.doc_id % P.PHASH_BASES == b]
        assert (grp.keeper == grp.doc_id.min()).all()
        assert (grp.dup == (grp.doc_id != grp.doc_id.min())).all()
    # px_sum matches an independent pure-Python recompute
    for r in df.head(14).itertuples():
        w, h, px = P.synth_pixels(r.doc_id)
        assert (r.width, r.height, r.px_sum) == (w, h, sum(px))


# --- progressive-JPEG tier ----------------------------------------------------

def test_prog_corpus_twin_matches_decode():
    """Every pixel of every base: multi-scan decode of the real
    progressive bytes == the closed-form twin the oracle restates."""
    from htmlgraft.jpegops import decode_jpeg_gray

    for d in range(P.PHASH_BASES):
        w, h, _ = P.synth_prog_coeffs(d)
        px = decode_jpeg_gray(P.synth_prog_jpeg(d))[3]
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == P.prog_pixel(d, x, y), (d, x, y)


def test_prog_corpus_exercises_every_scan_feature():
    """The gated corpus must make each progressive mechanism live, not
    vacuously pass: (a) some block's 1..5 band carries a coefficient at
    the coarse Al=2 precision (first-pass content), (b) some block's
    bands are EMPTY at Al=2 while others aren't (cross-block EOB runs),
    (c) some coefficient is odd at a refined precision (correction
    bits), (d) the deep zigzag-40 coefficient is nonzero somewhere with
    zigzag 9 zero (a >16 zero run -> ZRL)."""
    coarse_content = eob_mix_empty = eob_mix_full = corr = zrl = 0
    for d in range(P.PHASH_BASES):
        _, _, blocks = P.synth_prog_coeffs(d)
        for zz in blocks:
            if any(abs(v) >> 2 for v in zz[1:6]):
                coarse_content += 1
            band = [abs(v) >> 2 for v in zz[1:]]
            if any(band):
                eob_mix_full += 1
            else:
                eob_mix_empty += 1
            if any(abs(v) & 1 for v in zz[1:] if v):
                corr += 1
            if zz[40] and not zz[9]:
                zrl += 1
    assert coarse_content and eob_mix_empty and eob_mix_full
    assert corr and zrl


def test_audit_lane_map_is_exhaustive():
    """All 12 audit lanes produce the intended (fmt, ok) pairs through
    the real dispatch (the oracle restates this table)."""
    from htmlgraft.bmpops import decode_bmp_pixels
    from htmlgraft.gifops import decode_gif_pixels
    from htmlgraft.jpegops import decode_jpeg_luma
    from htmlgraft.pixelops import _audit_synth, decode_png_pixels
    from htmlgraft.tiffops import decode_tiff_pixels

    expect = {0: ("png", 1), 1: ("jpeg", 1), 2: ("gif", 1),
              3: ("jpeg", 1), 4: ("jpeg", 0), 5: ("gif", 0),
              6: ("jpeg", 0), 7: ("bmp", 1), 8: ("bmp", 0),
              9: ("tiff", 1), 10: ("tiff", 0), 11: ("unknown", 0)}
    for d in range(12, 36):
        blob = _audit_synth(d)
        if blob[:8] == b"\x89PNG\r\n\x1a\n":
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
        ok = 1
        try:
            {"png": decode_png_pixels, "jpeg": decode_jpeg_luma,
             "gif": decode_gif_pixels, "bmp": decode_bmp_pixels,
             "tiff": decode_tiff_pixels}.get(fmt, lambda b: 1 / 0)(blob)
        except (ValueError, NotImplementedError, ZeroDivisionError):
            ok = 0
        assert (fmt, ok) == expect[d % 12], d


# --- APNG (acTL / fcTL / fdAT) -------------------------------------------------

def test_apng_roundtrip_and_metadata():
    w, h = 7, 5
    frames = [bytes((x * 3 + y * 5 + 40 * k) % 251
                    for y in range(h) for x in range(w)) for k in range(3)]
    blob = P.encode_apng(w, h, frames, [(1, 10), (25, 100), (7, 100)],
                         plays=4)
    ww, hh, plays, got = P.decode_apng(blob)
    assert (ww, hh, plays) == (w, h, 4)
    assert [d for d, _ in got] == [(1, 10), (25, 100), (7, 100)]
    assert [p for _, p in got] == frames
    # a plain PNG (no acTL) is loudly not an APNG
    with pytest.raises(ValueError, match="acTL"):
        P.decode_apng(P.encode_png(w, h, frames[0]))


def test_apng_sequence_and_count_integrity():
    w, h = 4, 3
    frames = [bytes((x + y + 9 * k) % 251 for y in range(h)
                    for x in range(w)) for k in range(2)]
    blob = bytearray(P.encode_apng(w, h, frames, [(1, 10), (1, 10)]))
    # corrupt the fdAT sequence number (and recompute the chunk CRC so
    # the sequence check, not the CRC check, fires)
    at = blob.index(b"fdAT")
    struct.pack_into(">I", blob, at + 4, 9)
    clen = struct.unpack_from(">I", blob, at - 4)[0]
    struct.pack_into(">I", blob, at + 4 + clen,
                     zlib.crc32(bytes(blob[at:at + 4 + clen])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="sequence gap"):
        P.decode_apng(bytes(blob))
    # acTL frame-count mismatch is loud
    blob2 = bytearray(P.encode_apng(w, h, frames, [(1, 10), (1, 10)]))
    at = blob2.index(b"acTL")
    struct.pack_into(">I", blob2, at + 4, 5)
    clen = struct.unpack_from(">I", blob2, at - 4)[0]
    struct.pack_into(">I", blob2, at + 4 + clen,
                     zlib.crc32(bytes(blob2[at:at + 4 + clen])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="frame count"):
        P.decode_apng(bytes(blob2))


def test_apng_subcanvas_frame_is_loud_scope():
    w, h = 6, 4
    frames = [bytes((x * 5 + y) % 251 for y in range(h) for x in range(w))
              for _ in range(2)]
    blob = bytearray(P.encode_apng(w, h, frames, [(1, 10), (1, 10)]))
    # shrink the SECOND fcTL's region
    at = blob.index(b"fcTL", blob.index(b"fcTL") + 1)
    struct.pack_into(">II", blob, at + 8, w - 1, h - 1)
    clen = struct.unpack_from(">I", blob, at - 4)[0]
    struct.pack_into(">I", blob, at + 4 + clen,
                     zlib.crc32(bytes(blob[at:at + 4 + clen])) & 0xFFFFFFFF)
    with pytest.raises(NotImplementedError, match="sub-canvas"):
        P.decode_apng(bytes(blob))


def _with_chunk(blob: bytes, typ: bytes, data: bytes) -> bytes:
    """``blob`` with its first ``typ`` chunk's payload replaced by
    ``data`` (length and CRC recomputed, so only the length is wrong)."""
    at = blob.index(typ)
    clen = struct.unpack_from(">I", blob, at - 4)[0]
    return blob[:at - 4] + P._chunk(typ, data) + blob[at + 8 + clen:]


@pytest.mark.parametrize("typ,size", [
    (b"IHDR", 12), (b"IHDR", 14), (b"acTL", 7), (b"fcTL", 25),
    (b"fcTL", 27), (b"fdAT", 3), (b"fdAT", 0),
])
def test_apng_bad_chunk_length_is_value_error(typ, size):
    w, h = 4, 3
    frames = [bytes((x + y + 7 * k) % 251 for y in range(h)
                    for x in range(w)) for k in range(2)]
    blob = P.encode_apng(w, h, frames, [(1, 10), (1, 10)])
    with pytest.raises(ValueError, match=f"{typ.decode()}.*bad length {size}"):
        P.decode_apng(_with_chunk(blob, typ, bytes(size)))


def test_apng_truncated_chunk_is_value_error():
    w, h = 4, 3
    frames = [bytes((x * 2 + y + 5 * k) % 251 for y in range(h)
                    for x in range(w)) for k in range(2)]
    blob = P.encode_apng(w, h, frames, [(1, 10), (1, 10)])
    # cut inside the fcTL payload, inside fdAT's trailing CRC, and inside
    # IEND's trailing CRC
    fctl, fdat = blob.index(b"fcTL"), blob.index(b"fdAT")
    fdat_end = fdat + 8 + struct.unpack_from(">I", blob, fdat - 4)[0]
    for cut in (fctl + 10, fdat_end - 1, len(blob) - 2):
        with pytest.raises(ValueError, match="truncated"):
            P.decode_apng(blob[:cut])


def test_apng_synth_axes_live():
    nfs, plays = set(), set()
    for d in range(24):
        w, h, nf, delays, pl, frames = P.synth_apng_frames(d)
        nfs.add(nf)
        plays.add(pl)
        assert frames[0] != frames[1]
    assert nfs == {2, 3, 4}
    assert plays == {0, 1, 2, 3}


# --- oracle value pins -------------------------------------------------------
#
# ``test_entry`` checks each pixel query against its DuckDB oracle, so a
# formula that drifts on BOTH sides passes it.  These digests pin the
# oracle outputs themselves (sha256 over the name-sorted columns and the
# sorted rows, built from plain Python ints/strs so dtypes cannot move
# them); together with ``test_entry`` they pin the Spark outputs too.

_ORACLE_DIGESTS = {
    "sf0.001": {
        "phash":
            "cf69e3046e2dfb0b177837e9b534cffbfce51fc5bed04bc26bbcb430dc440608",
        "resize":
            "10cb3e212a1e380371c9ac7dad9453024e504dd299fa02c309e0c5437eb48bed",
        "phash_jpeg":
            "edf3e3f240211061a8cc2f63d30fc03f6568c0323d19d0707f5b32f33a7b574f",
        "resize_jpeg":
            "1247f1cd7ff02ec1db0c7cf6b997f2ff1fa1cb80a7943cb869635352ef2bfff1",
        "decode_audit":
            "3afcc60657c4c25611e1b2a4b729fc9aff3a4583405409b2e8f6be06b7464d94",
        "neardup":
            "d1b21b2196f64b848bd3512ebe56e3629feb9268132e5c3730a323929c7b191a",
        "phash_bmp":
            "058e1778949f446a78d372b70bda61b086b8215687630da42c8d67d664ea768a",
        "phash_tiff":
            "62460ff69c7571d646e151e8f983598e2f772d55c9f9b5625e4bfc7f86d3157e",
        "orient":
            "02306ef94ff6745779a39c05b8e4b18bf3eed076408791eb07544057cf8dc933",
        "gif_anim":
            "1af61011265487f732bb3397bcb21247fa462e309c319f40c7fea8d41bc89dfe",
        "ico":
            "0f4c52a97bd7e073195269124b9c0807daeebad3a0a665ba20da3dc35b0c2202",
        "apng":
            "d6cd8d0e9b54475dbfe4304e82ecd8303f96ab84d6f8768fd95ffa38f2980d29",
        "phash_gif":
            "cb2cd0762354484e23537a651a726b3aef46fda35ba6d6cc6ea710a5a35dfe4b",
        "phash_prog":
            "a282744270ed5e08117842fed8aaf2aec92122453aa2e5af3139969a2345473e",
    },
    "sf0.1": {
        "phash":
            "8ff132a0093342b6b21ea7fbe78bf5973cb6b9723fd53ee79426c3818366af69",
        "resize":
            "9c77387c8c004100922a3845afb9d38585bc271e4aadc0b3e9042e2538ec2711",
        "phash_jpeg":
            "c2da25b1b09a75210bb0469720f19e9c5e6aef6ba2e6ba89b40a1674f4e38db8",
        "resize_jpeg":
            "64ac94c3a744b3dac46701b887602db066979bca0a1d9a2d956cb5b0ef0189b8",
        "decode_audit":
            "4e50291a3de8988f6db4e1cab60588300e1a2818c95fa65eea77fcc774ddb489",
        "neardup":
            "297a598818382594315dcfd789bbba309ecae02940c6770aad2a34e4d2b0ce68",
        "phash_bmp":
            "cc4c32acdddcb80af170d759556d264b6ec8a2bdff92abf12c94193a9855089c",
        "phash_tiff":
            "4f8b4765fa5ec7937c75e0b877916c4d46d2a675ebeec48e535dff61ebdd4cc1",
        "orient":
            "820699be7b62ecddc260e892ba63fd70d537b3257e51e990d571fbdcc3c97a40",
        "gif_anim":
            "45a17d6069fbae5ea01e92da8607153827f9ee7e77e9b7a21b97c06869004638",
        "ico":
            "536c31c5558b790691efd1343d1629dffa48ab3193b3f7d19ab07a94a54f5f51",
        "apng":
            "8055aac6efc00ce1ec28c0c3babe5af7a28c867060b59c9334c47b1b74d9b3d8",
        "phash_gif":
            "0f7989958a30bacc5242d0a3e57c7f4897b0ed429701b03dc7309c12678daa8d",
        "phash_prog":
            "fc238df720eed0795638796b9328b48be071c66003f5c552d06a259895c373c0",
    },
}


def _oracle_digest(con, sql: str) -> str:
    import hashlib

    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    rows = sorted(tuple(r[i] if isinstance(r[i], str) else int(r[i])
                        for i in order) for r in cur.fetchall())
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


@pytest.mark.parametrize("sf", sorted(_ORACLE_DIGESTS))
def test_pixel_oracle_digests(sf_dir, sf):
    """Every ``pixel_*`` oracle's output at sf0.001 and sf0.1 (the sibling
    of the test scale-factor directory; sf0.01 holds the same doc_ids as
    sf0.001) hashes to its committed digest."""
    import os

    import duckdb

    path = os.path.join(os.path.dirname(sf_dir), sf, "documents.parquet")
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{path}'")
    got = {n: _oracle_digest(con, getattr(P, f"pixel_{n}_oracle_sql")())
           for n in _ORACLE_DIGESTS[sf]}
    assert got == _ORACLE_DIGESTS[sf]


def test_apng_default_image_is_not_a_frame():
    """An IDAT before the first fcTL is the default image, not frame 0:
    every animation frame then rides fdAT, and none may be dropped."""
    w, h = 5, 4
    planes = [bytes([v]) * (w * h) for v in (120, 6, 12)]
    zs = [zlib.compress(b"".join(b"\x00" + p[y * w:(y + 1) * w]
                                 for y in range(h))) for p in planes]
    fctl = [struct.pack(">IIIIIHHBB", seq, w, h, 0, 0, 1, 10, 0, 0)
            for seq in (0, 2)]
    blob = (b"\x89PNG\r\n\x1a\n"
            + P._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + P._chunk(b"acTL", struct.pack(">II", 2, 0))
            + P._chunk(b"IDAT", zs[0])
            + P._chunk(b"fcTL", fctl[0])
            + P._chunk(b"fdAT", struct.pack(">I", 1) + zs[1])
            + P._chunk(b"fcTL", fctl[1])
            + P._chunk(b"fdAT", struct.pack(">I", 3) + zs[2])
            + P._chunk(b"IEND", b""))
    ww, hh, plays, got = P.decode_apng(blob)
    assert (ww, hh, plays) == (w, h, 0)
    assert [p for _, p in got] == planes[1:]
