"""Media header parsers: hand-built container bytes (independent of the
SQL synthesis, so a shared off-by-one cannot self-confirm) and the
payload-fingerprint unification across the two extract_features entry
paths."""

import hashlib
import struct

from htmlgraft import media
from htmlgraft.job import row_batches


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _mp4(w: int, h: int, duration: int, version: int = 0) -> bytes:
    if version == 0:
        mvhd = (
            b"\x00\x00\x00\x00" + b"\x00" * 8
            + struct.pack(">I", 25) + struct.pack(">I", duration)
            + b"\x00" * 80
        )
        tkhd = (
            b"\x00\x00\x00\x07" + b"\x00" * 8
            + struct.pack(">I", 1) + b"\x00" * 4
            + struct.pack(">I", duration) + b"\x00" * 16 + b"\x00" * 36
            + struct.pack(">II", w << 16, h << 16)
        )
    else:
        mvhd = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + struct.pack(">I", 25) + struct.pack(">Q", duration)
            + b"\x00" * 80
        )
        tkhd = (
            b"\x01\x00\x00\x07" + b"\x00" * 16
            + struct.pack(">I", 1) + b"\x00" * 4
            + struct.pack(">Q", duration) + b"\x00" * 16 + b"\x00" * 36
            + struct.pack(">II", w << 16, h << 16)
        )
    moov = _box(b"moov", _box(b"mvhd", mvhd) + _box(b"trak", _box(b"tkhd", tkhd)))
    ftyp = _box(b"ftyp", b"isom\x00\x00\x00\x00")
    return ftyp + moov


def test_parse_mp4_v0():
    blob = _mp4(640, 360, 125) + b"mdat-payload"
    w, h, frames, off = media.parse_mp4(blob)
    assert (w, h, frames) == (640, 360, 125)
    assert blob[off:] == b"mdat-payload"


def test_parse_mp4_v1():
    """64-bit times (version-1 mvhd/tkhd) shift every field by 12 bytes."""
    blob = _mp4(1920, 1080, 2400, version=1)
    w, h, frames, off = media.parse_mp4(blob)
    assert (w, h, frames) == (1920, 1080, 2400)
    assert off == len(blob)


def test_parse_mp4_rejects_non_mp4():
    assert media.parse_mp4(b"\x1aE\xdf\xa3 not an mp4") is None
    assert media.parse_mp4(b"") is None


def _ebml(eid: bytes, payload: bytes) -> bytes:
    assert len(payload) < 127
    return eid + bytes([0x80 | len(payload)]) + payload


def _webm(w: int, h: int, wide_size: bool = False) -> bytes:
    video = _ebml(b"\xb0", struct.pack(">H", w)) + _ebml(
        b"\xba", struct.pack(">H", h)
    )
    tracks = _ebml(b"\x16\x54\xae\x6b", _ebml(b"\xae", _ebml(b"\xe0", video)))
    if wide_size:
        # 2-byte size vint on the Segment: 0x40xx carries the same value
        seg = b"\x18\x53\x80\x67" + bytes([0x40, len(tracks)]) + tracks
    else:
        seg = _ebml(b"\x18\x53\x80\x67", tracks)
    head = _ebml(b"\x1a\x45\xdf\xa3", b"\x42\x82\x84webm")
    return head + seg


def test_parse_webm():
    blob = _webm(854, 480) + b"cluster-bytes"
    w, h, frames, off = media.parse_webm(blob)
    assert (w, h, frames) == (854, 480, 0)
    assert blob[off:] == b"cluster-bytes"


def test_parse_webm_multibyte_size_vint():
    w, h, frames, _ = media.parse_webm(_webm(320, 240, wide_size=True))
    assert (w, h, frames) == (320, 240, 0)


def test_parse_webm_rejects_non_webm():
    assert media.parse_webm(b"\x00\x00\x00\x10ftypisom") is None


def test_decode_header_video_dispatch():
    assert media.decode_header("video", _mp4(64, 32, 7))[:3] == (64, 32, 7)
    assert media.decode_header("video", _webm(64, 32))[:3] == (64, 32, 0)


def test_payload_offsets_feed_fingerprint():
    """Every parser's payload_off must point exactly past its header so the
    bare-input fingerprint (md5 of blob[payload_off:]) equals the JVM-side
    md5(payload) of the fast path."""
    payload = b"the quick brown payload"
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 10, 20) + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 10, 20) + b"\xf7\x00\x00"
    jpeg = (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 20, 10) + b"\x03" + b"\x01\x11\x00" * 3
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(payload))
    )
    for mtype, header in (
        ("image", png), ("image", gif), ("image", jpeg), ("audio", wav),
        ("video", _mp4(4, 4, 1)), ("video", _webm(4, 4)),
    ):
        blob = header + payload
        off = media.decode_header(mtype, blob)[3]
        assert blob[off:] == payload, (mtype, off)


def test_extract_features_paths_agree(spark, sf_dir):
    """Bare (doc_id, media_type, media) input — fingerprint computed in the
    UDF from the parsed payload offset — must byte-match the fast path's
    JVM-side md5(payload) on every row."""
    full = media.media_df(spark, sf_dir)
    fast = media.extract_features(full).toPandas().set_index("doc_id")
    bare = media.extract_features(
        full.select("doc_id", "media_type", "media")
    ).toPandas().set_index("doc_id")
    assert fast.sort_index().equals(bare.sort_index())
    # and the fingerprint really is the payload hash, not the blob hash
    row = full.select("doc_id", "media").limit(1).collect()[0]
    assert (
        fast.loc[row["doc_id"], "fingerprint"]
        != hashlib.md5(bytes(row["media"])).hexdigest()
    )


# --- image resize (header rewrite) -------------------------------------------

def _png(w: int, h: int, payload: bytes = b"pixels") -> bytes:
    import zlib

    data = struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
    crc = zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(data)) + b"IHDR"
            + data + struct.pack(">I", crc) + payload)


def _gif(w: int, h: int, payload: bytes = b"pixels") -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00" + payload


def _jpg(w: int, h: int, payload: bytes = b"pixels") -> bytes:
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return (b"\xff\xd8\xff\xe0\x00\x04\x4a\x46"  # APP0 before SOF0
            + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof + payload)


def test_resize_plan_math():
    assert media.resize_plan(512, 512) == (1000, 512, 512)
    assert media.resize_plan(100, 50) == (1000, 100, 50)
    assert media.resize_plan(1024, 512) == (500, 512, 256)
    assert media.resize_plan(2048, 16) == (250, 512, 4)
    # 1-pixel floor
    assert media.resize_plan(2033, 1)[2] == 1


def test_rewrite_png_recomputes_crc():
    import zlib

    blob = _png(2000, 1000)
    fmt, out = media._rewrite_image_header(blob, 512, 256)
    assert fmt == "png"
    w, h, _, off = media.parse_png(out)
    assert (w, h) == (512, 256)
    assert out[off:] == b"pixels"  # payload untouched
    ihdr_len = struct.unpack(">I", out[8:12])[0]
    data = out[16:16 + ihdr_len]
    stored = struct.unpack(">I", out[16 + ihdr_len:20 + ihdr_len])[0]
    assert stored == zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF


def test_rewrite_gif_and_jpeg_dims():
    fmt, out = media._rewrite_image_header(_gif(700, 900), 398, 512)
    assert fmt == "gif" and media.parse_gif(out)[:2] == (398, 512)
    assert out[-6:] == b"pixels"
    # JPEG: SOFn is NOT the first segment (APP0 precedes it)
    fmt, out = media._rewrite_image_header(_jpg(800, 600), 512, 384)
    assert fmt == "jpeg" and media.parse_jpeg(out)[:2] == (512, 384)
    assert out[-6:] == b"pixels"


def test_resample_and_decode_are_honest_stubs():
    """Video frame decode and unknown-container resample stay honest
    stubs (PNG, JPEG greyscale + colour, GIF, BMP, and TIFF resample are
    real — see test_pixelops/test_bmpops/test_tiffops and the lanes
    below).  The synthetic header-only JPEG is a TRUNCATED stream to the
    real decoder now, so it fails loudly as invalid data rather than as
    scope."""
    import pytest

    with pytest.raises(NotImplementedError):
        media.resample_pixels(b"", 1, 1)
    with pytest.raises(ValueError):
        media.resample_pixels(_jpg(8, 8), 4, 4)
    with pytest.raises(NotImplementedError):
        media.decode_frame(b"", 0)


def test_resample_tiff_real():
    """TIFF resample through the media dispatch: strip decode -> NN ->
    lossless grey re-encode, exact by construction."""
    from htmlgraft.tiffops import decode_tiff_pixels, encode_tiff

    w, h = 10, 6
    px = bytes((x * 11 + y * 7 + 6) % 233 for y in range(h) for x in range(w))
    blob = encode_tiff(w, h, px, big_endian=True, rows_per_strip=2)
    out = media.resample_pixels(blob, 5, 3)
    nw, nh, _, rpx = decode_tiff_pixels(out)
    assert (nw, nh) == (5, 3)
    assert rpx == bytes(px[((y * h) // 3) * w + (x * w) // 5]
                        for y in range(3) for x in range(5))


def test_resample_gif_real():
    """GIF resample: LZW decode -> NN -> LZW re-encode is LOSSLESS, so
    the output plane is exactly the NN sample of the input plane."""
    from htmlgraft import gifops

    w, h = 11, 7
    px = bytes((x * 9 + y * 17) % 251 for y in range(h) for x in range(w))
    out = media.resample_pixels(gifops.encode_gif(w, h, px), 6, 4)
    w2, h2, _, px2 = gifops.decode_gif_pixels(out)
    assert (w2, h2) == (6, 4)
    want = bytes(px[(y2 * h // 4) * w + (x2 * w // 6)]
                 for y2 in range(4) for x2 in range(6))
    assert px2 == want


def test_resample_color_jpeg_real():
    """Colour JPEG resample: decode -> per-channel NN -> 4:4:4 colour
    re-encode.  Block-constant GREY RGB survives exactly (chroma zeroes,
    Y carries through both lossy hops); a colour plane round-trips with
    bounded error."""
    from htmlgraft import jpegops

    rgb = bytes([80, 80, 80] * (16 * 16))
    blob = jpegops.encode_jpeg_color(16, 16, rgb)
    out = media.resample_pixels(blob, 8, 8)
    w2, h2, ch, px2 = jpegops.decode_jpeg(out)
    assert (w2, h2, ch) == (8, 8, 3)
    assert px2 == bytes([80] * (8 * 8 * 3))
    # smooth colour gradient: bounded reconstruction error
    grad = bytes(v for y in range(16) for x in range(16)
                 for v in (8 * x + 60, 8 * y + 40, 120))
    out = media.resample_pixels(jpegops.encode_jpeg_color(16, 16, grad),
                                8, 8)
    w2, h2, ch, px2 = jpegops.decode_jpeg(out)
    assert (w2, h2, ch) == (8, 8, 3)
    want = [grad[((y2 * 2) * 16 + x2 * 2) * 3 + c]
            for y2 in range(8) for x2 in range(8) for c in range(3)]
    err = max(abs(a - b) for a, b in zip(px2, want))
    assert err <= 24, err   # two lossy hops at Annex-K quality


def test_frame_sample_stride():
    import pandas as pd

    rows = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "media": [
            _mp4(64, 64, 3) + b"x",       # 3 frames -> 3 samples stride 1
            _mp4(64, 64, 240) + b"x",     # 240 frames -> 8 samples stride 30
            b"not-a-container",           # skipped, no rows
        ],
    })
    sample = row_batches(media._frame_sample_row, ["doc_id", "media"],
                         media.FRAME_SAMPLE_SCHEMA.fieldNames())
    out = pd.concat(list(sample(iter([rows]))))
    g1 = out[out["doc_id"] == 1]
    assert list(g1["frame_idx"]) == [0, 1, 2]
    assert (g1["n_frames"] == 3).all() and (g1["container"] == "mp4").all()
    g2 = out[out["doc_id"] == 2]
    assert list(g2["frame_idx"]) == [0, 30, 60, 90, 120, 150, 180, 210]
    assert list(g2["sample_no"]) == [1, 2, 3, 4, 5, 6, 7, 8]
    assert 3 not in set(out["doc_id"])


def test_resize_batch_end_to_end():
    import pandas as pd

    payload = b"the-payload-bytes"
    rows = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "media": [_png(2048, 1024, payload), _gif(100, 50, payload),
                  _jpg(800, 1600, payload)],
    })
    resize = row_batches(media._resize_row, ["doc_id", "media"],
                         media.RESIZE_SCHEMA.fieldNames())
    out = pd.concat(list(resize(iter([rows])))).set_index("doc_id")
    assert out.loc[1, "fmt"] == "png"
    assert (out.loc[1, "new_width"], out.loc[1, "new_height"]) == (512, 256)
    assert out.loc[2, "scale_permille"] == 1000  # already small: no-op plan
    assert (out.loc[2, "new_width"], out.loc[2, "new_height"]) == (100, 50)
    assert (out.loc[3, "new_width"], out.loc[3, "new_height"]) == (256, 512)
    want = hashlib.md5(payload).hexdigest()
    assert (out["payload_md5"] == want).all()


# --- TIFF (both byte orders) + the shared EXIF IFD machinery ------------------

def _tiff(le: bool, w: int, h: int, typ: int = 4) -> bytes:
    import struct

    fmt = "<" if le else ">"
    hd = (b"II*\x00" if le else b"MM\x00*") + struct.pack(fmt + "I", 8)
    def entry(tag, val):
        v = (struct.pack(fmt + "H", val) + b"\x00\x00" if typ == 3
             else struct.pack(fmt + "I", val))
        return struct.pack(fmt + "HHI", tag, typ, 1) + v
    return (hd + struct.pack(fmt + "H", 2) + entry(256, w) + entry(257, h)
            + struct.pack(fmt + "I", 0) + b"PAYLOAD")


def test_parse_tiff_both_byte_orders_and_types():
    from htmlgraft import media

    for le in (True, False):
        for typ in (3, 4):
            w, h, fr, off = media.parse_tiff(_tiff(le, 640, 480, typ))
            assert (w, h, fr) == (640, 480, 1), (le, typ)
            assert _tiff(le, 640, 480, typ)[off:] == b"PAYLOAD"
    assert media.parse_tiff(b"not a tiff") is None
    assert media.parse_tiff(b"II*\x00\x08\x00") is None  # truncated


def test_rewrite_tiff_dims_both_orders():
    from htmlgraft import media

    for le in (True, False):
        for typ in (3, 4):
            blob = _tiff(le, 2000, 1000, typ)
            fmt, out = media._rewrite_image_header(blob, 512, 256)
            assert fmt == "tiff"
            assert media.parse_tiff(out)[:2] == (512, 256)
            # payload untouched
            assert out.endswith(b"PAYLOAD") and len(out) == len(blob)


def test_media_tiff_family_end_to_end(spark, sf_dir):
    """doc_id % 18 == 6 images are TIFF: features and resize must parse
    and rewrite them through the real IFD walk."""
    from htmlgraft import media

    feats = {
        r["doc_id"]: r
        for r in media.media_features(spark, sf_dir).collect()
    }
    tiff_ids = [d for d in feats if d % 18 == 6]
    assert tiff_ids
    for d in tiff_ids:
        r = feats[d]
        assert r["width"] == 16 + (d * 7) % 2033
        assert r["height"] == 16 + (d * 13) % 1021
    rs = {
        r["doc_id"]: r for r in media.media_resize(spark, sf_dir).collect()
    }
    for d in tiff_ids:
        assert rs[d]["fmt"] == "tiff"
        assert rs[d]["new_width"] <= 512 and rs[d]["new_height"] <= 512


class TestExifScrub:
    def test_gps_removed_and_payload_exact(self):
        import struct

        from htmlgraft.media import (
            GPS_IFD_TAG, _tiff_ifd, scrub_exif_gps,
        )

        payload = b"PAYLOAD-BYTES" * 3
        # II header, IFD0 @8: width, height, GPSInfo -> @50; GPS IFD 2 tags
        blob = (
            b"II*\x00" + struct.pack("<I", 8)
            + struct.pack("<H", 3)
            + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", 640)
            + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 480)
            + struct.pack("<HHI", GPS_IFD_TAG, 4, 1) + struct.pack("<I", 50)
            + struct.pack("<I", 0)
            + struct.pack("<H", 2)
            + struct.pack("<HHI", 2, 4, 1) + struct.pack("<I", 37)
            + struct.pack("<HHI", 4, 4, 1) + struct.pack("<I", 122)
            + struct.pack("<I", 0)
            + payload
        )
        out, had, lat, lon, nb, na = scrub_exif_gps(blob)
        assert (had, lat, lon, nb, na) == (1, 37, 122, 3, 2)
        fmt, entries, end = _tiff_ifd(out)
        assert GPS_IFD_TAG not in entries
        assert entries[256][1] == 640 and entries[257][1] == 480
        assert out[end:] == payload

    def test_short_entries_and_big_endian_preserved(self):
        import struct

        from htmlgraft.media import GPS_IFD_TAG, _tiff_ifd, scrub_exif_gps

        payload = b"xyz"
        blob = (
            b"MM\x00*" + struct.pack(">I", 8)
            + struct.pack(">H", 3)
            + struct.pack(">HHI", 256, 3, 1) + struct.pack(">H", 99) + b"\x00\x00"
            + struct.pack(">HHI", 257, 3, 1) + struct.pack(">H", 77) + b"\x00\x00"
            + struct.pack(">HHI", GPS_IFD_TAG, 4, 1) + struct.pack(">I", 50)
            + struct.pack(">I", 0)
            + struct.pack(">H", 1)
            + struct.pack(">HHI", 2, 3, 1) + struct.pack(">H", 5) + b"\x00\x00"
            + struct.pack(">I", 0)
            + payload
        )
        out, had, lat, lon, nb, na = scrub_exif_gps(blob)
        assert (had, lat, nb, na) == (1, 5, 3, 2)
        assert out[:4] == b"MM\x00*"
        fmt, entries, end = _tiff_ifd(out)
        assert entries[256] == (3, 99, 10) and entries[257][1] == 77
        assert out[end:] == payload

    def test_no_gps_and_malformed_pass_through(self):
        from htmlgraft.media import scrub_exif_gps

        import struct
        plain = (
            b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
            + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", 10)
            + struct.pack("<I", 0) + b"pp"
        )
        out, had, lat, lon, nb, na = scrub_exif_gps(plain)
        assert out == plain and (had, nb, na) == (0, 1, 1)
        junk = b"NOT-A-TIFF-AT-ALL"
        out2, had2, *_ = scrub_exif_gps(junk)
        assert out2 == junk and had2 == 0

    def _ifd0(self, gps_ptr, n_extra=0):
        import struct
        n = 3 + n_extra
        head = (
            b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", n)
            + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", 640)
            + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 480)
        )
        from htmlgraft.media import GPS_IFD_TAG
        head += struct.pack("<HHI", GPS_IFD_TAG, 4, 1) + struct.pack(
            "<I", gps_ptr
        )
        return head

    def test_truncated_gps_ifd_is_never_claimed_scrubbed(self):
        """The privacy regression: a GPS pointer whose sub-IFD fails its
        bounds check must pass the blob through with the DISTINCT had=2
        status — never report a scrub while the coordinate bytes remain."""
        import struct

        from htmlgraft.media import scrub_exif_gps

        # pointer past EOF entirely
        blob = self._ifd0(gps_ptr=9999) + struct.pack("<I", 0) + b"payload"
        out, had, lat, lon, nb, na = scrub_exif_gps(blob)
        assert out == blob and (had, lat, lon, nb, na) == (2, -1, -1, 3, 3)
        # sub-IFD starts in-bounds but its declared entries run past EOF
        blob2 = (
            self._ifd0(gps_ptr=50) + struct.pack("<I", 0)
            + struct.pack("<H", 200) + b"\x01\x02"
        )
        out2, had2, *_ = scrub_exif_gps(blob2)
        assert out2 == blob2 and had2 == 2
        # pointer aimed INSIDE IFD0 (hostile): zeroing would corrupt IFD0
        blob3 = self._ifd0(gps_ptr=8) + struct.pack("<I", 0) + b"pp"
        out3, had3, *_ = scrub_exif_gps(blob3)
        assert out3 == blob3 and had3 == 2

    def test_noncontiguous_gps_is_zeroed_in_place(self):
        """GPS sub-IFD parseable but not at IFD0's end: the restructure
        would splice away the gap bytes, so the scrub must instead zero
        the sub-IFD in place and keep every other byte identical."""
        import struct

        from htmlgraft.media import _tiff_ifd, scrub_exif_gps

        gap = b"GAPBYTES"
        # IFD0 ends at 50; GPS IFD at 58 (after an 8-byte gap)
        gps = (
            struct.pack("<H", 2)
            + struct.pack("<HHI", 2, 4, 1) + struct.pack("<I", 37)
            + struct.pack("<HHI", 4, 4, 1) + struct.pack("<I", 122)
            + struct.pack("<I", 0)
        )
        blob = (
            self._ifd0(gps_ptr=58) + struct.pack("<I", 0) + gap + gps
            + b"PAYLOAD"
        )
        out, had, lat, lon, nb, na = scrub_exif_gps(blob)
        assert (had, lat, lon, nb, na) == (1, 37, 122, 3, 3)
        assert len(out) == len(blob)
        assert out[:50 + 8] == blob[:50 + 8]          # header + gap intact
        assert out[58:58 + len(gps)] == bytes(len(gps))  # coords destroyed
        assert out[58 + len(gps):] == b"PAYLOAD"
        # the re-parsed GPS IFD reads zero entries at the old pointer
        fmt, entries, _ = _tiff_ifd(out)
        gps_off = entries[34853][1]
        assert struct.unpack("<H", out[gps_off:gps_off + 2])[0] == 0

    def test_unrepresentable_ifd0_entry_forces_in_place_lane(self):
        """An ASCII (type-2) entry in IFD0 cannot survive the SHORT/LONG
        rebuild; the scrub must take the zero-in-place lane so the entry's
        raw record (and its pointed-at bytes) stay byte-identical."""
        import struct

        from htmlgraft.media import GPS_IFD_TAG, scrub_exif_gps

        # IFD0 @8 with 4 entries (ends at 8+2+48+4 = 62); ASCII Make tag
        # points at 80, GPS IFD contiguous at 62.
        ascii_rec = struct.pack("<HHI", 271, 2, 6) + struct.pack("<I", 80)
        blob = (
            b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 4)
            + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", 640)
            + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 480)
            + ascii_rec
            + struct.pack("<HHI", GPS_IFD_TAG, 4, 1) + struct.pack("<I", 62)
            + struct.pack("<I", 0)
            + struct.pack("<H", 1)
            + struct.pack("<HHI", 2, 4, 1) + struct.pack("<I", 41)
            + struct.pack("<I", 0)   # GPS ends at 62+2+12+4 = 80
            + b"Nikon\x00tail"
        )
        out, had, lat, lon, nb, na = scrub_exif_gps(blob)
        assert (had, lat) == (1, 41)
        assert len(out) == len(blob)
        assert out[:62] == blob[:62]            # IFD0 + ASCII record intact
        assert out[62:80] == bytes(18)          # GPS IFD zeroed
        assert out[80:] == b"Nikon\x00tail"     # ASCII value not spliced


def test_wav_pcm_roundtrip_and_features():
    """Real RIFF encode -> decode round trip plus a hand-computed
    feature pin for one document."""
    blob = media.synth_wav_pcm(3)
    rate, channels, s = media.decode_wav_pcm(blob)
    assert (rate, channels) == (media.AUDIO_RATE, 1)
    b, n = 3 % 11, 256 + (3 % 7) * 37
    assert len(s) == n
    assert list(s) == [((b * 37 + i * 53) % 201) - 100 for i in range(n)]


def test_wav_pcm_decode_error_lanes():
    import pytest
    import struct as _s

    with pytest.raises(ValueError):
        media.decode_wav_pcm(b"RIFX----WAVE")
    # 8-bit PCM: real container, undecoded scope -> loud NotImplementedError
    blob = bytearray(media.synth_wav_pcm(1))
    fmt_off = blob.find(b"fmt ") + 8
    blob[fmt_off + 14:fmt_off + 16] = _s.pack("<H", 8)
    with pytest.raises(NotImplementedError):
        media.decode_wav_pcm(bytes(blob))


def test_wav_block_align_below_sample_width_is_value_error():
    """A block align smaller than 2 * channels makes the data chunk's
    frame count claim more 16-bit samples than it holds."""
    import pytest
    import struct as _s

    blob = bytearray(media.synth_wav_pcm(1))
    fmt_off = blob.find(b"fmt ") + 8
    blob[fmt_off + 12:fmt_off + 14] = _s.pack("<H", 1)
    with pytest.raises(ValueError, match="16-bit samples"):
        media.decode_wav_pcm(bytes(blob))


# --- WHATWG MIME sniffing ------------------------------------------------------

def test_sniff_mime_signatures():
    cases = {
        b"\x89PNG\r\n\x1a\nrest": "image/png",
        b"\xff\xd8\xff\xdbjpeg": "image/jpeg",
        b"GIF87atail": "image/gif",
        b"GIF89atail": "image/gif",
        b"BMbitmap": "image/bmp",
        b"ID3\x03tag": "audio/mpeg",
        b"OggS\x00page": "application/ogg",
        b"MThd\x00\x00\x00\x06midi": "audio/midi",
        b"\x1f\x8b\x08gz": "application/x-gzip",
        b"PK\x03\x04zip": "application/zip",
        b"Rar!\x1a\x07\x00ar": "application/x-rar-compressed",
        b"%PDF-1.4": "application/pdf",
        b"wOF2font": "font/woff2",
    }
    for blob, want in cases.items():
        assert media.sniff_mime(blob) == (want, "signature"), blob


def test_sniff_mime_parameterized_containers():
    assert media.sniff_mime(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == (
        "image/webp", "riff")
    assert media.sniff_mime(b"RIFF\x00\x00\x00\x00WAVEfmt ") == (
        "audio/wave", "riff")
    assert media.sniff_mime(b"RIFF\x00\x00\x00\x00AVI LIST") == (
        "video/avi", "riff")
    assert media.sniff_mime(b"\x00\x00\x00\x18ftypmp42x") == (
        "video/mp4", "ftyp")
    assert media.sniff_mime(b"\x00\x00\x00\x18ftypisom") == (
        "video/mp4", "ftyp")
    # RIFF with an unknown fourcc falls through to the heuristic
    assert media.sniff_mime(b"RIFF\x00\x00\x00\x00WHAT")[0] == (
        "application/octet-stream")


def test_sniff_mime_html_tag_rules():
    """Spec: leading whitespace skipped, case-insensitive, and the tag
    MUST be terminated by 0x20 or 0x3E — '<htmlx' is NOT html."""
    assert media.sniff_mime(b"<html>") == ("text/html", "html")
    assert media.sniff_mime(b"  \t\n<HTML >x") == ("text/html", "html")
    assert media.sniff_mime(b"<!doctype html><p>") == ("text/html", "html")
    assert media.sniff_mime(b"<HtMl attr=1>") == ("text/html", "html")
    assert media.sniff_mime(b"<!-- c -->") == ("text/html", "html")
    assert media.sniff_mime(b"<htmlx>") == ("text/plain", "text")
    assert media.sniff_mime(b"<?xml version='1.0'?>") == ("text/xml", "xml")


def test_sniff_mime_bom_and_heuristic():
    assert media.sniff_mime(b"\xef\xbb\xbf<html>") == ("text/plain", "bom")
    assert media.sniff_mime(b"\xfe\xff\x00h") == ("text/plain", "bom")
    assert media.sniff_mime(b"\xff\xfeh\x00") == ("text/plain", "bom")
    # binary byte set boundaries: 0x0B binary, but 0x09/0x0A/0x0C/0x0D
    # are whitespace-class and stay text
    assert media.sniff_mime(b"ok\x0bx") == (
        "application/octet-stream", "binary")
    assert media.sniff_mime(b"ok\x09\x0a\x0c\x0dx") == ("text/plain", "text")
    # the heuristic only reads the 1445-byte resource header
    long_text = b"a" * media.SNIFF_HEADER_BYTES + b"\x00"
    assert media.sniff_mime(long_text) == ("text/plain", "text")


def test_mime_lane_map_matches_oracle_table():
    for d in range(24, 72):
        mime, method = media.sniff_mime(media._mime_synth(d))
        m = d % media.MIME_LANES
        want = ["image/png", "image/jpeg", "image/gif", "image/webp",
                "text/html", "text/xml", "application/pdf",
                "application/x-gzip", "application/zip", "audio/mpeg",
                None, "audio/wave"][m]
        if m == 10:
            want = ("application/octet-stream" if (d // 12) % 2
                    else "text/plain")
        assert mime == want, (d, mime)


# --- WebP (RIFF container; VP8 / VP8L / VP8X dimension packings) --------------

def test_parse_webp_frozen_vectors():
    """Each variant pinned by hand-assembled literal bytes, independent
    of synth_webp."""
    import struct

    # VP8 lossy, 640x480: tag, start code 9D 01 2A, u16le dims
    vp8 = (b"RIFF" + struct.pack("<I", 4 + 8 + 10) + b"WEBP"
           + b"VP8 " + struct.pack("<I", 10)
           + b"\x30\x01\x00\x9d\x01\x2a"
           + struct.pack("<HH", 640, 480))
    assert media.parse_webp(vp8) == (640, 480, 1, 30)
    # the upper 2 bits of each u16 are scaling hints, masked out
    scaled = vp8[:26] + struct.pack("<HH", 640 | 0xC000, 480 | 0x4000)
    assert media.parse_webp(scaled)[:2] == (640, 480)
    # VP8L lossless, 1x1: 0x2F then 28 packed bits of (w-1, h-1)
    vp8l = (b"RIFF" + struct.pack("<I", 4 + 8 + 5) + b"WEBP"
            + b"VP8L" + struct.pack("<I", 5) + b"\x2f"
            + struct.pack("<I", 0) + b"\x00")
    assert media.parse_webp(vp8l) == (1, 1, 1, 25)
    # VP8L 16384x16384 (max 14-bit field)
    bits = 16383 | (16383 << 14)
    vp8l_max = vp8l[:21] + struct.pack("<I", bits) + b"\x00"
    assert media.parse_webp(vp8l_max)[:2] == (16384, 16384)
    # VP8X canvas 100000x70000 (needs the 24-bit fields)
    vp8x = (b"RIFF" + struct.pack("<I", 4 + 8 + 10) + b"WEBP"
            + b"VP8X" + struct.pack("<I", 10) + b"\x00" * 4
            + (99999).to_bytes(3, "little") + (69999).to_bytes(3, "little"))
    assert media.parse_webp(vp8x) == (100000, 70000, 1, 30)


def test_parse_webp_skips_leading_chunks_and_pads_odd_sizes():
    import struct

    # an odd-sized alien chunk before VP8L: the walk must add the pad byte
    alien = b"ALPH" + struct.pack("<I", 3) + b"abc" + b"\x00"
    vp8l = (b"VP8L" + struct.pack("<I", 5) + b"\x2f"
            + struct.pack("<I", 2 | (4 << 14)) + b"\x00")
    blob = (b"RIFF" + struct.pack("<I", 4 + len(alien) + len(vp8l))
            + b"WEBP" + alien + vp8l)
    assert media.parse_webp(blob)[:2] == (3, 5)


def test_parse_webp_error_lanes():
    import struct

    from htmlgraft.media import synth_webp

    good = synth_webp(4)  # vp8 lane
    assert media.parse_webp(good) is not None
    assert media.parse_webp(b"RIFX" + good[4:]) is None
    assert media.parse_webp(good[:8] + b"WAVE" + good[12:]) is None
    assert media.parse_webp(good[:-12]) is None           # chunk overrun
    assert media.parse_webp(synth_webp(3)) is None        # bad start code
    # interframe (bit 0 of the frame tag set) carries no dims -> None
    inter = bytearray(good)
    inter[20] |= 1
    assert media.parse_webp(bytes(inter)) is None
    # nonzero VP8L version bits -> None
    l = synth_webp(1)
    bad = bytearray(l)
    bad[24] |= 0xE0  # top 3 bits of the packed u32 (little-endian byte 4)
    assert media.parse_webp(bytes(bad)) is None
    # decode_header dispatches webp as an image now
    assert media.decode_header("image", good)[:2] == (69, 117)


def test_mime_sniff_heuristic_lane_has_both_outcomes(spark, sf_dir):
    """The heuristic lane (doc_id % 12 == 10) must emit both the binary
    and the text outcome on the gated corpus (a flip keyed on doc_id % 3
    never fires there: doc_id % 12 == 10 forces doc_id % 3 == 1)."""
    methods = {r.method for r in media.mime_sniff(spark, sf_dir).collect()}
    assert {"binary", "text"} <= methods
