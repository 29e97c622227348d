"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The DECODE step is REAL header parsing from public format specs — no
libraries needed: PNG IHDR (width/height as u32 big-endian at offset 16 of
the signature+IHDR layout), GIF87a/89a logical-screen descriptor (u16
little-endian at offset 6), TIFF IFD walk (both byte orders, SHORT/LONG
scalar entries, on ``tiffops``' IFD reader — the same machinery an Exif
APP1 payload needs), JPEG SOFn segment walk (marker scan from SOI,
skipping variable-length segments until a start-of-frame carries the
dimensions), WAV and WebP RIFF chunk walk (WAV: fmt chunk for
channels/sample-rate, data chunk for frame count), MP4/ISO-BMFF box walk
(moov -> mvhd duration, trak -> tkhd 16.16 fixed-point dimensions), and
WebM/Matroska EBML element walk (Segment -> Tracks -> TrackEntry -> Video
-> PixelWidth/PixelHeight, with real variable-length-integer decoding).
These parsers work on real files.  Full-pixel decode is real too, in pure
Python, for PNG (``pixelops``), baseline and progressive JPEG
(``jpegops``), GIF (``gifops``), BMP (``bmpops``), ICO (``icoops``) and
uncompressed TIFF (``tiffops``); other formats raise ``NotImplementedError``.
Each of those decoders returns a value or raises ValueError or
NotImplementedError, whatever the bytes: ``bmpops._plane`` and
``bmpops._inflate`` bound every header-sized plane and every inflate by
the stated size, the blob, or else ``bmpops._DECODE_LIMIT``.

The source table synthesizes blobs with REAL format headers entirely in
Spark SQL expressions (binary concat + unhex arithmetic, zero Python; the
image family cycles png/gif/jpeg with every other jpeg slot a TIFF), with
dimensions derived deterministically from doc_id; the DuckDB oracle
recomputes the same dimensions relationally, so a header mis-parse (wrong
offset, wrong endianness) shows up as a value mismatch — the UDF is pinned
by an independent reference computation.

Per the fingerprint-placement rule for UDF stages: the content fingerprint
(md5 of the payload) and the blob length are computed JVM-side (``F.md5`` /
``F.length``) BEFORE the UDF and passed through, so only header parsing
runs in Python.

Scale notes: the stage is a pure map (no shuffle); binary columns ride Arrow
buffers zero-copy into pandas; batches are capped by bytes so a 4 GB video
blob occupies its own batch.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from . import bmpops, tiffops
from .job import map_rows
from .textops import _d

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("media", BinaryType()),
])

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("frames", LongType()),
    StructField("fingerprint", StringType()),
])


# --- SQL-side blob synthesis -------------------------------------------------

def _be(expr: str, nbytes: int) -> str:
    """Spark SQL: integer expression -> big-endian binary of nbytes."""
    return f"unhex(lpad(hex({expr}), {2 * nbytes}, '0'))"


def _le(expr: str, nbytes: int) -> str:
    """Spark SQL: integer expression -> little-endian binary of nbytes."""
    h = f"lpad(hex({expr}), {2 * nbytes}, '0')"
    parts = ", ".join(
        f"substr({h}, {2 * i + 1}, 2)" for i in reversed(range(nbytes))
    )
    return f"unhex(concat({parts}))"


# deterministic synthetic dimensions (mirrored in the oracle SQL)
_W = "(16 + (doc_id * 7) % 2033)"
_H = "(16 + (doc_id * 13) % 1021)"
_CHANNELS = "(1 + doc_id % 2)"
_RATE = "(8000 + (doc_id % 5) * 4000)"
_FRAMES = "(1 + doc_id % 240)"

_PNG_HEADER = (
    "concat(X'89504E470D0A1A0A', X'0000000D', X'49484452', "
    f"{_be(_W, 4)}, {_be(_H, 4)}, X'0806000000', X'00000000')"
)
_GIF_HEADER = (
    f"concat(X'474946383961', {_le(_W, 2)}, {_le(_H, 2)}, X'F70000')"
)
_JPEG_HEADER = (
    "concat(X'FFD8', X'FFC0', X'0011', X'08', "
    f"{_be(_H, 2)}, {_be(_W, 2)}, X'03', X'011100021101031101')"
)
# classic little-endian TIFF, 38 bytes: 'II' 42, IFD at 8; 2 entries
# (ImageWidth 256 / ImageLength 257, both type LONG count 1, values
# inline little-endian), next-IFD offset 0
_TIFF_HEADER = (
    "concat(X'49492A00', X'08000000', X'0200', "
    f"X'00010400', X'01000000', {_le(_W, 4)}, "
    f"X'01010400', X'01000000', {_le(_H, 4)}, "
    "X'00000000')"
)
_WAV_HEADER = (
    "concat(X'52494646', "  # 'RIFF'
    f"{_le('36 + octet_length(payload)', 4)}, "
    "X'57415645', X'666D7420', X'10000000', X'0100', "  # WAVE, fmt , 16, PCM
    f"{_le(_CHANNELS, 2)}, {_le(_RATE, 4)}, "
    f"{_le(f'{_RATE} * {_CHANNELS} * 2', 4)}, "  # byte rate
    f"{_le(f'{_CHANNELS} * 2', 2)}, X'1000', "  # block align, 16 bits
    "X'64617461', "  # 'data'
    f"{_le('octet_length(payload)', 4)})"
)

# 3x3 fixed-point unity transform matrix shared by mvhd and tkhd
_MP4_MATRIX = (
    "000100000000000000000000"
    "000000000001000000000000"
    "000000000000000040000000"
)
# ISO-BMFF header: ftyp (16 B) + moov (216 B = 8 + mvhd 108 + trak 100);
# mvhd timescale = 25 with duration in ticks (fps-as-timescale convention,
# so duration == frame count); tkhd width/height are 16.16 fixed point
# (u16 value + two zero fraction bytes).  232 bytes total.
_MP4_HEADER = (
    "concat("
    "X'000000106674797069736F6D00000000', "  # ftyp isom
    "X'000000D86D6F6F76', "                  # moov size+type
    "X'0000006C6D766864', X'000000000000000000000000', X'00000019', "
    f"{_be(_FRAMES, 4)}, "                   # mvhd duration = frames
    "X'00010000', X'01000000', X'0000000000000000', "
    f"X'{_MP4_MATRIX}', "
    "X'000000000000000000000000000000000000000000000000', X'00000002', "
    "X'000000647472616B', "                  # trak size+type
    "X'0000005C746B6864', X'00000007', X'0000000000000000', "
    "X'00000001', X'00000000', "
    f"{_be(_FRAMES, 4)}, "                   # tkhd duration = frames
    "X'0000000000000000', X'0000000000000000', "
    f"X'{_MP4_MATRIX}', "
    f"{_be(_W, 2)}, X'0000', {_be(_H, 2)}, X'0000')"
)
# Matroska/WebM EBML header (34 B): EBML(DocType 'webm') + Segment(Tracks(
# TrackEntry(Video(PixelWidth u16, PixelHeight u16)))); all element sizes
# are 1-byte vints since every payload here is tiny.
_WEBM_HEADER = (
    "concat("
    "X'1A45DFA3874282847765626D', "          # EBML > DocType 'webm'
    "X'1853806791', "                        # Segment, size 17
    "X'1654AE6B8C', "                        # Tracks, size 12
    "X'AE8A', "                              # TrackEntry, size 10
    "X'E088', "                              # Video, size 8
    f"X'B082', {_be(_W, 2)}, "               # PixelWidth
    f"X'BA82', {_be(_H, 2)})"                # PixelHeight
)


def media_df(spark, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from documents: the UTF-8
    bytes of the text stand in for the encoded payload, prefixed with a REAL
    format header (PNG/GIF/JPEG/WAV/MP4/WebM) built by pure SQL binary
    expressions; media_type cycles by doc_id (doc_id%3: image/audio/video;
    images sub-cycle doc_id%9: png/gif/jpeg; video sub-cycles doc_id%6:
    mp4/webm).  No RNG, no external data, no Python.

    Also carries ``fingerprint`` = md5 of the PAYLOAD (the bytes after the
    container header — the content identity, invariant under container
    changes) computed JVM-side so the downstream UDF only parses headers."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__media_docs")
    return spark.sql(f"""
        select doc_id,
               case cast(doc_id % 3 as int) when 0 then 'image'
                    when 1 then 'audio' else 'video' end as media_type,
               case cast(doc_id % 9 as int)
                    when 0 then concat({_PNG_HEADER}, payload)
                    when 3 then concat({_GIF_HEADER}, payload)
                    when 6 then case when doc_id % 18 = 6
                         then concat({_TIFF_HEADER}, payload)
                         else concat({_JPEG_HEADER}, payload) end
                    else case cast(doc_id % 3 as int)
                         when 1 then concat({_WAV_HEADER}, payload)
                         else case cast(doc_id % 6 as int)
                              when 2 then concat({_MP4_HEADER}, payload)
                              else concat({_WEBM_HEADER}, payload) end
                         end end as media,
               md5(payload) as fingerprint
        from (select doc_id, encode(text, 'UTF-8') as payload
              from __media_docs)
    """)


# --- real header parsers (public format specs) ------------------------------

def parse_png(blob: bytes):
    """PNG: 8-byte signature, then the IHDR chunk must come first; width and
    height are u32 big-endian at bytes 16..24.  Payload (for fingerprint
    purposes) starts after the IHDR chunk (length + type + data + CRC)."""
    if len(blob) < 24 or blob[:8] != b"\x89PNG\r\n\x1a\n" or blob[12:16] != b"IHDR":
        return None
    ihdr_len = struct.unpack(">I", blob[8:12])[0]
    w, h = struct.unpack(">II", blob[16:24])
    return w, h, 1, 8 + 4 + 4 + ihdr_len + 4


def parse_gif(blob: bytes):
    """GIF: 'GIF87a'/'GIF89a', logical screen w/h as u16 LE at bytes 6..10;
    the 13-byte header is signature + logical-screen descriptor."""
    if len(blob) < 10 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", blob[6:10])
    return w, h, 1, 13


def _jpeg_sof(blob: bytes):
    """Offset of the first SOFn marker (C0-CF minus C4/C8/CC) on the
    marker-segment walk from SOI, or None when the walk leaves the marker
    grammar or the blob first.  The SOF body may be cut short: ``parse_jpeg``
    then returns None, ``_rewrite_image_header`` patches what is there."""
    if blob[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(blob)
    while i + 4 <= n and blob[i] == 0xFF:
        marker = blob[i + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return i
        i += 2 + struct.unpack_from(">H", blob, i + 2)[0]
    return None


def parse_jpeg(blob: bytes):
    """JPEG: walk marker segments from SOI until a SOFn carries
    height/width as u16 BE after the precision byte.  Payload starts after
    the SOFn segment."""
    i = _jpeg_sof(blob)
    if i is None or i + 9 > len(blob):
        return None
    seglen, _precision, h, w = struct.unpack_from(">HBHH", blob, i + 2)
    return w, h, 1, i + 2 + seglen


def _ifd_scalars(blob: bytes, fmt: str, entries):
    """{tag: (type, value, entry_off)} for the SHORT/LONG entries of a
    ``tiffops.ifd_entries`` list (a later duplicate tag wins); the value
    sits left-justified in the entry's 4-byte value field."""
    return {tag: (typ, struct.unpack_from(
                fmt + ("H" if typ == 3 else "I"), blob, e + 8)[0], e)
            for tag, typ, _count, e in entries if typ in (3, 4)}


def _tiff_ifd(blob: bytes):
    """(struct_fmt, {tag: (type, value, entry_off)}, ifd_end) for IFD0 of a
    TIFF stream, honoring BOTH byte orders ('II' little / 'MM' big — TIFF 6
    spec), SHORT/LONG entries only; None when the header or IFD0 is bad or
    cut short.  A view over ``tiffops.byte_order``/``ifd_entries``, which
    double as the EXIF IFD machinery (an Exif APP1 payload is a TIFF
    stream)."""
    try:
        fmt = tiffops.byte_order(blob)
        entries, end = tiffops.ifd_entries(
            blob, fmt, struct.unpack_from(fmt + "I", blob, 4)[0])
    except ValueError:
        return None
    return fmt, _ifd_scalars(blob, fmt, entries), end


def parse_tiff(blob: bytes):
    """TIFF: IFD0 walk for ImageWidth (256) / ImageLength (257); payload
    (for fingerprinting) starts after IFD0's next-IFD pointer."""
    got = _tiff_ifd(blob)
    if got is None:
        return None
    _, entries, end = got
    if 256 not in entries or 257 not in entries:
        return None
    return entries[256][1], entries[257][1], 1, end


def _riff_chunks(blob: bytes, form: bytes):
    """Yield (fourcc, body_off, size) for each chunk of a RIFF stream whose
    form type is ``form`` (b"WAVE", b"WEBP"), advancing by
    ``8 + size + pad``, while a whole 8-byte chunk header fits.  Yields
    nothing for another container or form.  A chunk body may run past the
    end of the blob: each caller bounds it (``parse_webp`` returns None,
    the WAV walk counts the data bytes present)."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != form:
        return
    i = 12
    while i + 8 <= len(blob):
        (size,) = struct.unpack_from("<I", blob, i + 4)
        yield blob[i:i + 4], i + 8, size
        i += 8 + size + (size & 1)


def _wav_walk(blob: bytes):
    """(fmt_off, n_frames, data_offset) of a RIFF/WAVE stream: the body
    offset of the last whole 16-byte 'fmt ' chunk (None when there is
    none), and the 'data' chunk's frame count by the block align of the
    'fmt ' chunk before it (0 when none came first)."""
    fmt_off, frames, data_off = None, 0, len(blob)
    for cid, body, size in _riff_chunks(blob, b"WAVE"):
        if cid == b"fmt " and body + 16 <= len(blob):
            fmt_off = body
        elif cid == b"data":
            align = 0 if fmt_off is None else struct.unpack_from(
                "<H", blob, fmt_off + 12)[0]
            frames = min(size, len(blob) - body) // align if align else 0
            data_off = body
    return fmt_off, frames, data_off


def parse_wav(blob: bytes):
    """WAV: RIFF/WAVE container; chunk-walk to 'fmt ' (channels u16 LE,
    sample rate u32 LE) and 'data' (size -> frame count via block align).
    Returns (sample_rate, channels, n_frames, data_offset)."""
    fmt_off, frames, data_off = _wav_walk(blob)
    if fmt_off is None:
        return None
    channels, rate = struct.unpack_from("<HI", blob, fmt_off + 2)
    return rate, channels, frames, data_off


def parse_mp4(blob: bytes):
    """MP4/ISO-BMFF (ISO 14496-12): walk top-level [size u32 BE][4cc] boxes
    to ``moov``; inside it, ``mvhd`` carries timescale + duration and each
    ``trak``'s ``tkhd`` carries width/height as 16.16 fixed point at the
    end of its payload (v0 offsets 76/80, v1 +12 for the 64-bit times).

    Returns (width, height, frames, payload_off) where frames is the mvhd
    duration in timescale ticks — under the common fps-as-timescale
    authoring convention that IS the frame count; an exact count would need
    the stts sample table, which header-only parsing does not visit.
    payload_off is the end of the moov box (where media data begins)."""
    n = len(blob)
    if n < 16 or blob[4:8] != b"ftyp":
        return None

    def boxes(lo, hi):
        i = lo
        while i + 8 <= hi:
            size = struct.unpack(">I", blob[i:i + 4])[0]
            if size < 8 or i + size > hi:
                return
            yield blob[i + 4:i + 8], i + 8, i + size
            i += size

    width = height = duration = None
    payload_off = n
    for typ, lo, hi in boxes(0, n):
        if typ != b"moov":
            continue
        payload_off = hi
        for btyp, blo, bhi in boxes(lo, hi):
            if btyp == b"mvhd" and bhi - blo >= 4:
                ver = blob[blo]
                if ver == 1 and bhi - blo >= 32:
                    duration = struct.unpack(">Q", blob[blo + 24:blo + 32])[0]
                elif ver == 0 and bhi - blo >= 20:
                    duration = struct.unpack(">I", blob[blo + 16:blo + 20])[0]
            elif btyp == b"trak":
                for ttyp, tlo, thi in boxes(blo, bhi):
                    if ttyp != b"tkhd" or thi - tlo < 4:
                        continue
                    off = tlo + (88 if blob[tlo] == 1 else 76)
                    if off + 8 <= thi:
                        wfx, hfx = struct.unpack(">II", blob[off:off + 8])
                        width, height = wfx >> 16, hfx >> 16
        break
    if width is None or duration is None:
        return None
    return width, height, duration, payload_off


def _ebml_vint(blob: bytes, i: int, keep_marker: bool):
    """Read one EBML variable-length integer at ``i``: the number of leading
    zero bits of the first byte gives the length.  Element IDs keep the
    marker bit (they are compared with it), sizes strip it.  Returns
    (value, next_index) or None."""
    if i >= len(blob):
        return None
    first = blob[i]
    if first == 0:
        return None
    length = 1
    mask = 0x80
    while not first & mask:
        length += 1
        mask >>= 1
    if i + length > len(blob):
        return None
    value = first if keep_marker else first & (mask - 1)
    for j in range(1, length):
        value = (value << 8) | blob[i + j]
    return value, i + length


def parse_webm(blob: bytes):
    """WebM/Matroska (EBML): walk elements to Segment -> Tracks ->
    TrackEntry -> Video, reading PixelWidth (0xB0) / PixelHeight (0xBA).
    Frame count is reported as 0 — Matroska stores no frame total in its
    headers (Duration is an optional float in Info and counts time, not
    frames), and counting frames would mean walking every Cluster.
    Returns (width, height, 0, payload_off) with payload_off at the end of
    the parsed Segment header content."""
    EBML, SEGMENT = 0x1A45DFA3, 0x18538067
    TRACKS, TRACKENTRY, VIDEO = 0x1654AE6B, 0xAE, 0xE0
    PIXELW, PIXELH = 0xB0, 0xBA

    def walk(lo, hi):
        i = lo
        while i < hi:
            got = _ebml_vint(blob, i, keep_marker=True)
            if got is None:
                return
            eid, j = got
            got = _ebml_vint(blob, j, keep_marker=False)
            if got is None:
                return
            size, k = got
            if k + size > hi:
                return
            yield eid, k, k + size
            i = k + size

    n = len(blob)
    head = _ebml_vint(blob, 0, keep_marker=True)
    if head is None or head[0] != EBML:
        return None
    width = height = None
    payload_off = n
    for eid, lo, hi in walk(0, n):
        if eid != SEGMENT:
            continue
        payload_off = hi
        for tid, tlo, thi in walk(lo, hi):
            if tid != TRACKS:
                continue
            for eid2, elo, ehi in walk(tlo, thi):
                if eid2 != TRACKENTRY:
                    continue
                for vid, vlo, vhi in walk(elo, ehi):
                    if vid != VIDEO:
                        continue
                    for pid, plo, phi in walk(vlo, vhi):
                        val = int.from_bytes(blob[plo:phi], "big")
                        if pid == PIXELW:
                            width = val
                        elif pid == PIXELH:
                            height = val
        break
    if width is None or height is None:
        return None
    return width, height, 0, payload_off


def decode_header(media_type: str, blob: bytes):
    """Dispatch: returns (width, height, frames, payload_off) for images and
    video, (sample_rate, channels, n_frames, payload_off) for audio.  All
    parsers are real public-format header walks (PNG/GIF/JPEG, WAV RIFF,
    MP4 ISO-BMFF boxes, WebM EBML); unknown media types or unparseable
    blobs raise ``NotImplementedError``."""
    if media_type == "image":
        parsers = (parse_png, parse_gif, parse_jpeg, parse_tiff, parse_webp)
    elif media_type == "audio":
        parsers = (parse_wav,)
    elif media_type == "video":
        parsers = (parse_mp4, parse_webm)
    else:
        raise NotImplementedError(f"no codec for media_type={media_type!r}")
    for p in parsers:
        got = p(blob)
        if got is not None:
            return got
    raise NotImplementedError(f"unrecognized {media_type} container")


def _features_row(doc_id, mtype, blob, n_bytes, fp=None):
    raw = bytes(blob)
    w, h, fr, payload_off = decode_header(mtype, raw)
    if fp is None:
        fp = hashlib.md5(raw[payload_off:]).hexdigest()
    return [(doc_id, mtype, n_bytes, w, h, fr, fp)]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Fingerprint semantics are ONE thing on both entry paths: md5 of the
    PAYLOAD (bytes after the container header), the content identity that
    survives re-containering.  The fast path (media_df) precomputes it
    JVM-side where the payload column still exists; bare
    (doc_id, media_type, media) inputs compute it inside the UDF from the
    parser's payload offset — the only place the header boundary is known.
    n_bytes is always JVM-side (F.length)."""
    cols = ["doc_id", "media_type", "media", "n_bytes"]
    if "fingerprint" in media.columns:
        cols.append("fingerprint")
    media = media.withColumn("n_bytes", F.length("media").cast("long"))
    return map_rows(media, cols, FEATURE_SCHEMA, _features_row)


def media_features(spark, sf_dir: str) -> DataFrame:
    return extract_features(media_df(spark, sf_dir))


# --- image resize (container-header rewrite; pixel resample in resample_pixels)

RESIZE_MAX_W = 512
RESIZE_MAX_H = 512


def resample_pixels(blob: bytes, new_w: int, new_h: int) -> bytes:
    """Pixel-level resampling: REAL for PNG (full zlib decode, unfilter,
    nearest-neighbour sample, re-encode — see ``pixelops``, gated by a
    formula oracle), for JPEG both greyscale and colour (``jpegops``
    full entropy decode — baseline or progressive — -> NN sample ->
    forward-DCT re-encode, colour at 4:4:4; lossy by nature, so round
    trips are bounded-error rather than exact — the exact-value gate for
    the JPEG chain is ``pixel_resize_jpeg``, which re-encodes losslessly
    via PNG), for GIF (LZW decode -> NN -> LZW re-encode, lossless), for
    BMP (``bmpops`` decode -> NN -> 8-bit grey re-encode, lossless), and
    for TIFF (``tiffops`` strip decode -> NN -> single-strip grey
    re-encode, lossless).  Video frames remain the honest stub (no
    video codec here)."""
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        from htmlgraft import pixelops

        return pixelops.resample_png(blob, new_w, new_h)
    if blob[:2] == b"\xff\xd8":
        from htmlgraft import jpegops

        w, h, channels, px = jpegops.decode_jpeg(blob)
        out = bmpops.nn_sample(w, h, channels, px, new_w, new_h)
        if channels == 1:
            return jpegops.encode_jpeg_gray(new_w, new_h, out)
        return jpegops.encode_jpeg_color(new_w, new_h, out)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        from htmlgraft import gifops

        out = bmpops.nn_sample(*gifops.decode_gif_pixels(blob), new_w, new_h)
        return gifops.encode_gif(new_w, new_h, out)
    if blob[:2] == b"BM":
        return bmpops.resample_bmp(blob, new_w, new_h)
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        return tiffops.resample_tiff(blob, new_w, new_h)
    raise NotImplementedError(
        "pixel resampling beyond PNG/JPEG/GIF/BMP/TIFF needs an image codec")


def _rewrite_image_header(blob: bytes, new_w: int, new_h: int):
    """Rewrite the container dimensions IN PLACE at their format-defined
    offsets, returning (fmt, new_blob).  PNG additionally recomputes the
    IHDR CRC (zlib.crc32 over chunk type + data — PNG spec), so the
    rewritten header is MORE spec-conformant than the zero-CRC synthetic
    input.  Payload bytes are never touched."""
    import zlib

    if blob[:8] == b"\x89PNG\r\n\x1a\n" and blob[12:16] == b"IHDR":
        ihdr_len = struct.unpack(">I", blob[8:12])[0]
        data = bytearray(blob[16:16 + ihdr_len])
        data[0:8] = struct.pack(">II", new_w, new_h)
        crc = zlib.crc32(b"IHDR" + bytes(data)) & 0xFFFFFFFF
        out = (blob[:16] + bytes(data) + struct.pack(">I", crc)
               + blob[16 + ihdr_len + 4:])
        return "png", out
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", blob[:6] + struct.pack("<HH", new_w, new_h) + blob[10:]
    i = _jpeg_sof(blob)
    if i is not None:
        return "jpeg", (blob[:i + 5] + struct.pack(">HH", new_h, new_w)
                        + blob[i + 9:])
    tiff = _tiff_ifd(blob)
    if tiff is not None and 256 in tiff[1] and 257 in tiff[1]:
        # patch the IFD entry values at their walked offsets, honoring each
        # entry's own type (SHORT vs LONG) and the stream's byte order
        fmt, entries, _ = tiff
        out = bytearray(blob)
        for tag, dim in ((256, new_w), (257, new_h)):
            typ, _, e = entries[tag]
            if typ == 3:
                out[e + 8:e + 10] = struct.pack(fmt + "H", dim)
            else:
                out[e + 8:e + 12] = struct.pack(fmt + "I", dim)
        return "tiff", bytes(out)
    raise NotImplementedError("unrecognized image container")


def resize_plan(w: int, h: int):
    """Integer aspect-preserving downscale plan: scale_permille = min(1000,
    RESIZE_MAX_W*1000 div w, RESIZE_MAX_H*1000 div h); dims floor-scale with a 1-pixel
    minimum.  Pure integer math so the DuckDB oracle restates it exactly."""
    scale = min(1000, (RESIZE_MAX_W * 1000) // w, (RESIZE_MAX_H * 1000) // h)
    return scale, max(1, (w * scale) // 1000), max(1, (h * scale) // 1000)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("fmt", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("new_width", LongType()),
    StructField("new_height", LongType()),
    StructField("scale_permille", LongType()),
    StructField("payload_md5", StringType()),
])


def _resize_row(doc_id, blob):
    raw = bytes(blob)
    got = (parse_png(raw) or parse_gif(raw) or parse_jpeg(raw)
           or parse_tiff(raw))
    if got is None:
        return ()  # not an image container (documented skip)
    w, h, _, _ = got
    scale, new_w, new_h = resize_plan(w, h)
    fmt, resized = _rewrite_image_header(raw, new_w, new_h)
    # re-parse the REWRITTEN blob: its payload offset and dims
    # must reflect the rewrite (a corrupt rewrite fails here)
    parser = {"png": parse_png, "gif": parse_gif,
              "jpeg": parse_jpeg, "tiff": parse_tiff}[fmt]
    w2, h2, _, payload_off = parser(resized)
    assert (w2, h2) == (new_w, new_h)
    return [(doc_id, fmt, w, h, new_w, new_h, scale,
             hashlib.md5(resized[payload_off:]).hexdigest())]


def resize_images(media: DataFrame) -> DataFrame:
    """Resize pass over the image rows: parse the real header, compute the
    integer downscale plan, rewrite the container dimensions (real bytes,
    real PNG CRC), and fingerprint the payload AFTER the rewrite -- the
    emitted payload_md5 proves payload bytes survived byte-identical (the
    oracle knows the expected value independently).  Pixel resampling
    itself is ``resample_pixels`` -- real for PNG / JPEG (grey + colour,
    baseline + progressive) / GIF / BMP / TIFF (gated separately by the
    pixel_resize queries over real-payload images; the synthetic blobs
    here carry text payloads, so this pass stays header-level).  Video
    frame decode is the remaining stub (``decode_frame``).  Same
    Arrow-batched byte-capped shape as extract_features."""
    images = media.where(F.col("media_type") == "image").select(
        "doc_id", "media")
    return map_rows(images, ["doc_id", "media"], RESIZE_SCHEMA, _resize_row)


def media_resize(spark, sf_dir: str) -> DataFrame:
    return resize_images(media_df(spark, sf_dir))


def media_resize_oracle_sql() -> str:
    """The resize plan restated relationally: dims are pure functions of
    doc_id (media_df synthesis), the payload is the document text, and the
    JPEG synthetic header (unlike PNG/GIF) ends exactly at the SOFn segment
    so its parsed payload excludes nothing further."""
    return f"""
      with m as (
        select doc_id,
               (16 + (doc_id * 7) % 2033) as w,
               (16 + (doc_id * 13) % 1021) as h,
               md5(text) as payload_md5
        from documents where doc_id % 3 = 0
      ),
      planned as (
        select doc_id, w, h, payload_md5,
               least(1000, ({RESIZE_MAX_W} * 1000) // w,
                     ({RESIZE_MAX_H} * 1000) // h) as scale
        from m
      )
      select doc_id,
             case doc_id % 9 when 0 then 'png' when 3 then 'gif'
                  else (case when doc_id % 18 = 6 then 'tiff'
                        else 'jpeg' end) end as fmt,
             cast(w as bigint) as width,
             cast(h as bigint) as height,
             cast(greatest(1, (w * scale) // 1000) as bigint) as new_width,
             cast(greatest(1, (h * scale) // 1000) as bigint) as new_height,
             cast(scale as bigint) as scale_permille,
             payload_md5
      from planned
      order by doc_id
    """


# --- video frame sampling (header-driven; frame decode stubbed) --------------

FRAME_SAMPLES = 8


def decode_frame(blob: bytes, frame_idx: int) -> bytes:
    """Frame-level pixel decode is the HONEST STUB: extracting frame bytes
    needs the stbl/Cluster sample tables and a video codec, neither of which
    exists here.  The sampling PLAN around it (real header parse -> frame
    count -> deterministic stride) is the distributed part and is real."""
    raise NotImplementedError("frame decode needs a video codec")


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("container", StringType()),
    StructField("n_frames", LongType()),
    StructField("sample_no", LongType()),
    StructField("frame_idx", LongType()),
])


def _frame_sample_row(doc_id, blob):
    raw = bytes(blob)
    got = parse_mp4(raw)
    container = "mp4"
    if got is None:
        got = parse_webm(raw)
        container = "webm"
    if got is None:
        return ()  # not a video container (documented skip)
    frames = got[2]
    n_samples = min(frames, FRAME_SAMPLES)
    if n_samples <= 0:
        return ()
    stride = frames // n_samples
    return [(doc_id, container, frames, j + 1, j * stride)
            for j in range(n_samples)]


def frame_sample(media: DataFrame) -> DataFrame:
    """Deterministic frame-sampling plan over video rows: parse the real
    container header for the frame count, then emit up to ``FRAME_SAMPLES``
    evenly-strided frame indices (stride = n_frames div n_samples, index =
    j * stride).  WebM rows honestly emit no samples — Matroska headers
    carry no frame count (see parse_webm).  One Arrow-batched map that
    EXPLODES rows; the per-frame pixel fetch is ``decode_frame`` (stub)."""
    videos = media.where(F.col("media_type") == "video").select(
        "doc_id", "media")
    return map_rows(videos, ["doc_id", "media"], FRAME_SAMPLE_SCHEMA,
                    _frame_sample_row)


def media_frame_sample(spark, sf_dir: str) -> DataFrame:
    return frame_sample(media_df(spark, sf_dir))


def media_frame_sample_oracle_sql() -> str:
    """Sampling plan restated relationally: mp4 rows (doc_id%6==2) carry
    frames = 1 + doc_id % 240; webm rows contribute nothing."""
    return f"""
      with v as (
        select doc_id, (1 + doc_id % 240) as frames
        from documents where doc_id % 6 = 2
      ),
      planned as (
        select doc_id, frames,
               least(frames, {FRAME_SAMPLES}) as n_samples
        from v
      )
      select doc_id,
             'mp4' as container,
             cast(frames as bigint) as n_frames,
             cast(j + 1 as bigint) as sample_no,
             cast(j * (frames // n_samples) as bigint) as frame_idx
      from planned, unnest(generate_series(0, n_samples - 1)) as t(j)
      order by doc_id, sample_no
    """


def media_features_oracle_sql() -> str:
    """DuckDB mirror of media_df + extract_features: the synthetic headers
    carry dimensions that are pure functions of doc_id, so the oracle
    recomputes them relationally — an independent pin on the Python header
    parsers (offset or endianness bugs mismatch here)."""
    return f"""
      with m as (
        select doc_id,
               case doc_id % 3 when 0 then 'image'
                    when 1 then 'audio' else 'video' end as media_type,
               octet_length(encode(text)) as n,
               md5(text) as fp,
               (16 + (doc_id * 7) % 2033) as w,
               (16 + (doc_id * 13) % 1021) as h,
               (1 + doc_id % 2) as ch,
               (8000 + (doc_id % 5) * 4000) as rate
        from documents
      )
      select doc_id, media_type,
             cast(n + case doc_id % 9
                      when 0 then 33 when 3 then 13
                      when 6 then (case when doc_id % 18 = 6 then 38
                                   else 21 end)
                      else case doc_id % 3 when 1 then 44
                           else case doc_id % 6 when 2 then 232 else 34 end
                           end end
                  as bigint) as n_bytes,
             cast(case doc_id % 3 when 1 then rate else w end
                  as bigint) as width,
             cast(case doc_id % 3 when 1 then ch else h end
                  as bigint) as height,
             cast(case doc_id % 3 when 0 then 1
                  when 1 then n // (2 * ch)
                  else case doc_id % 6 when 2 then 1 + doc_id % 240
                       else 0 end end as bigint) as frames,
             fp as fingerprint
      from m
      order by doc_id
    """


# --- charset sniffing (WHATWG encoding prescan subset) ------------------------

def charset_sniff_sql(duck: bool) -> str:
    """Charset detection over the raw ``html:binary`` column — the WHATWG
    encoding-sniffing prescan subset an extraction tier runs BEFORE tokenizing
    (html.spec.whatwg.org "determining the character encoding", public spec):
    (1) a byte-order mark wins (EF BB BF / FE FF / FF FE), else (2) the first
    ``charset=`` declaration within the first 1024 BYTES (case-insensitive,
    optionally quoted), else (3) the windows-1252 default.

    The Spark side genuinely parses bytes: BOM via the hex prefix of the
    blob, the meta scan via decode of the post-BOM slice capped at 1024
    chars (the synthesized heads are pure ASCII, so chars == bytes — the cap
    is the spec's byte budget).  Six deterministic variants per doc_id % 6
    pin every branch, including a head whose ``<meta charset=koi8-r>`` sits
    BEYOND the 1024-byte window and must NOT be detected.  DuckDB cannot
    slice blobs, so the oracle restates the expected verdict relationally
    from the synthesis parameters and independently recomputes n_bytes =
    bom_len + head length (an offset bug on either side mismatches).

    Scale: a map-only projection over the page scan — no shuffle at all;
    the 1024-byte cap bounds per-row work regardless of document size."""
    d = _d(duck)["str"]
    pad = "repeat('<!-- boilerplate pad -->', 50)"
    head = (
        f"concat('<html><head><title>Doc ', cast(doc_id as {d}), '</title>',"
        " case doc_id % 6"
        " when 3 then '<meta charset=\"iso-8859-7\">'"
        " when 4 then '<META HTTP-EQUIV=\"Content-Type\""
        " CONTENT=\"text/html; CHARSET=Shift_JIS\">'"
        f" when 5 then concat({pad}, '<meta charset=koi8-r>')"
        " else '' end,"
        " '</head><body>hello</body></html>')"
    )
    bom = (
        "case doc_id % 6 when 0 then 'EFBBBF' when 1 then 'FEFF'"
        " when 2 then 'FFFE' else '' end"
    )
    if duck:
        # relational restatement: expected verdict + independent byte count
        return f"""
          with m as (
            select doc_id, {head} as head, {bom} as bomhex
            from documents
          )
          select doc_id,
                 case when doc_id % 6 in (0, 1, 2) then 'bom'
                      when doc_id % 6 in (3, 4) then 'meta'
                      else 'default' end as sniff_src,
                 case doc_id % 6 when 0 then 'utf-8' when 1 then 'utf-16be'
                      when 2 then 'utf-16le' when 3 then 'iso-8859-7'
                      when 4 then 'shift_jis' else 'windows-1252' end
                   as charset,
                 cast(length(bomhex) // 2 + length(head) as bigint) as n_bytes
          from m
          order by doc_id
        """
    return f"""
      with m as (
        select doc_id,
               concat(unhex({bom}), encode({head}, 'UTF-8')) as html
        from documents
      ),
      pfx as (
        select doc_id, html, hex(substr(html, 1, 3)) as hexpfx from m
      ),
      bomd as (
        select doc_id, html,
               case when hexpfx like 'EFBBBF%' then 3
                    when hexpfx like 'FEFF%' then 2
                    when hexpfx like 'FFFE%' then 2
                    else 0 end as bom_len,
               case when hexpfx like 'EFBBBF%' then 'utf-8'
                    when hexpfx like 'FEFF%' then 'utf-16be'
                    when hexpfx like 'FFFE%' then 'utf-16le'
                    end as bom_enc
        from pfx
      ),
      scanned as (
        select doc_id, html, bom_len, bom_enc,
               regexp_extract(
                 lower(substr(decode(substr(html, bom_len + 1, 1024),
                                     'UTF-8'), 1, 1024)),
                 'charset\\\\s*=\\\\s*["\\\\x27]?([a-z0-9_-]+)', 1) as meta_cs
        from bomd
      )
      select doc_id,
             case when bom_enc is not null then 'bom'
                  when meta_cs <> '' then 'meta'
                  else 'default' end as sniff_src,
             coalesce(bom_enc, nullif(meta_cs, ''), 'windows-1252')
               as charset,
             cast(octet_length(html) as bigint) as n_bytes
      from scanned
      order by doc_id
    """


# --- EXIF GPS scrub (privacy tier for the multimodal columns) ---------------

GPS_IFD_TAG = 34853   # 0x8825 GPSInfo pointer (TIFF 6 / EXIF 2.x, public)
GPS_LAT_TAG = 2
GPS_LON_TAG = 4

_GPS_HEADER = (
    # II*\0, IFD0 @8 with 3 entries: width, height, GPSInfo -> sub-IFD @50
    "concat(X'49492A00', X'08000000', X'0300', "
    f"X'00010400', X'01000000', {_le(_W, 4)}, "
    f"X'01010400', X'01000000', {_le(_H, 4)}, "
    "X'25880400', X'01000000', X'32000000', "
    "X'00000000', "
    # GPS sub-IFD @50: 2 entries (lat/lon as LONG integer surrogates —
    # real EXIF uses RATIONAL triplets; the walker supports SHORT/LONG,
    # documented simplification), next-IFD 0
    "X'0200', "
    f"X'02000400', X'01000000', {_le('(doc_id % 180)', 4)}, "
    f"X'04000400', X'01000000', {_le('(doc_id % 360)', 4)}, "
    "X'00000000')"
)

EXIF_SCRUB_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("had_gps", LongType()),
    StructField("lat_q", LongType()),
    StructField("lon_q", LongType()),
    StructField("n_before", LongType()),
    StructField("n_after", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("payload_md5", StringType()),
])


def exif_media_df(spark, sf_dir: str) -> DataFrame:
    """TIFF/EXIF corpus for the GPS scrub: image-family docs (doc_id%3=0),
    every second one carrying a GPS sub-IFD (doc_id%2=0) with quantized
    lat/lon surrogates, the rest the plain two-tag TIFF header.  Pure-SQL
    binary synthesis, same _W/_H dims as the media table."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "__exif_docs"
    )
    return spark.sql(f"""
        select doc_id,
               case when doc_id % 2 = 0
                    then concat({_GPS_HEADER}, payload)
                    else concat({_TIFF_HEADER}, payload) end as media
        from (select doc_id, encode(text, 'UTF-8') as payload
              from __exif_docs where doc_id % 3 = 0)
    """)


def scrub_exif_gps(blob: bytes):
    """Remove the GPS sub-IFD from a TIFF stream without ever SILENTLY
    retaining coordinate bytes (this is a privacy pass over hostile crawl
    data — the worst failure mode is reporting a scrub that did not
    happen).  Three lanes, strictest first:

    1. RESTRUCTURE (drop the IFD0 GPS-pointer entry, splice out the GPS
       sub-IFD): taken only when the sub-IFD parsed completely AND sits
       contiguously at IFD0's end (``gps_off == ifd_end``) AND every
       other IFD0 entry is a count-1 SHORT/LONG (so the rebuilt IFD
       carries them losslessly and no offset-valued entry dangles).
    2. ZERO-IN-PLACE: sub-IFD parsed completely but the restructure
       preconditions fail — overwrite the sub-IFD bytes with zeros
       (coordinates destroyed; the re-parsed GPS IFD reads 0 entries),
       leaving every other byte identical.  ``n_after == n_before``
       because the pointer entry remains (now aimed at a zeroed region).
    3. PASS-THROUGH with ``had_gps=2``: the GPS pointer exists but the
       sub-IFD cannot be located/parsed — the blob is returned untouched
       and the DISTINCT status says "GPS present, NOT scrubbed" so a
       caller can quarantine rather than ship it.

    Returns (scrubbed_blob, had_gps, lat, lon, n_before, n_after) where
    had_gps is 0 (no GPS), 1 (scrubbed), or 2 (present, unscrubbed)."""
    got = _tiff_ifd(blob)
    if got is None:
        return blob, 0, -1, -1, -1, -1
    fmt, entries, end = got
    n_before = len(entries)
    if GPS_IFD_TAG not in entries:
        return blob, 0, -1, -1, n_before, n_before
    gps_off = entries[GPS_IFD_TAG][1]
    # Parse the GPS sub-IFD; any bounds failure means we cannot locate the
    # coordinate bytes, so no lane may claim a scrub (lane 3).
    if gps_off < end:
        return blob, 2, -1, -1, n_before, n_before
    try:
        gps, gps_end = tiffops.ifd_entries(blob, fmt, gps_off)
    except ValueError:
        return blob, 2, -1, -1, n_before, n_before
    gps = _ifd_scalars(blob, fmt, gps)
    lat, lon = (gps[t][1] if t in gps else -1
                for t in (GPS_LAT_TAG, GPS_LON_TAG))
    # Restructure preconditions: contiguous sub-IFD, IFD0 fully
    # representable (declared count all parsed, every entry count == 1 so
    # inline SHORT/LONG values survive the rebuild verbatim).
    off0 = struct.unpack(fmt + "I", blob[4:8])[0]
    n_declared = struct.unpack(fmt + "H", blob[off0:off0 + 2])[0]
    counts_ok = all(
        struct.unpack(fmt + "I", blob[e + 4:e + 8])[0] == 1
        for _, (_, _, e) in entries.items()
    )
    if gps_off != end or n_declared != n_before or not counts_ok:
        out = bytearray(blob)
        out[gps_off:gps_end] = bytes(gps_end - gps_off)  # lane 2
        return bytes(out), 1, lat, lon, n_before, n_before
    keep = [(t, typ, val) for t, (typ, val, _) in sorted(entries.items())
            if t != GPS_IFD_TAG]
    out = bytearray()
    out += b"II*\x00" if fmt == "<" else b"MM\x00*"
    out += struct.pack(fmt + "I", 8)
    out += struct.pack(fmt + "H", len(keep))
    for tag, typ, val in keep:
        out += struct.pack(fmt + "HH", tag, typ)
        out += struct.pack(fmt + "I", 1)
        if typ == 3:  # SHORT: left-justified in the 4-byte value field
            out += struct.pack(fmt + "H", val) + b"\x00\x00"
        else:
            out += struct.pack(fmt + "I", val)
    out += struct.pack(fmt + "I", 0)
    out += blob[gps_end:]
    return bytes(out), 1, lat, lon, n_before, len(keep)


def media_exif_scrub(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: EXIF GPS location scrub — the privacy pass a
    multimodal pipeline runs before training (GPS tags are direct PII).
    The gate is END-TO-END through the rewrite: width/height and
    payload_md5 are re-read from the SCRUBBED bytes (not carried
    through), so a scrub that corrupts the IFD or shifts the payload
    fails the hash against the relational oracle.  Map-only mapInPandas
    over the binary column — no shuffle beyond the output sort."""
    return map_rows(
        exif_media_df(spark, sf_dir), ["doc_id", "media"], EXIF_SCRUB_SCHEMA,
        _exif_scrub_row,
    ).orderBy("doc_id")


def _exif_scrub_row(doc_id, blob):
    out, had, lat, lon, nb, na = scrub_exif_gps(bytes(blob))
    parsed = parse_tiff(out)
    w, h, _, end = parsed if parsed else (-1, -1, 0, 0)
    return [(doc_id, had, lat, lon, nb, na, w, h,
             hashlib.md5(out[end:]).hexdigest())]


def media_exif_scrub_oracle_sql() -> str:
    """Relational restatement: every output column is a pure function of
    doc_id and text under the synthesis rule — the scrubbed file must
    re-parse to the same dims and carry the identical payload bytes."""
    return f"""
      select doc_id,
             cast(case when doc_id % 2 = 0 then 1 else 0 end as bigint)
               as had_gps,
             cast(case when doc_id % 2 = 0 then doc_id % 180 else -1 end
                  as bigint) as lat_q,
             cast(case when doc_id % 2 = 0 then doc_id % 360 else -1 end
                  as bigint) as lon_q,
             cast(case when doc_id % 2 = 0 then 3 else 2 end as bigint)
               as n_before,
             cast(2 as bigint) as n_after,
             cast({_W} as bigint) as width,
             cast({_H} as bigint) as height,
             md5(text) as payload_md5
      from documents where doc_id % 3 = 0
      order by doc_id
    """


# --- audio PCM tier (round 5): real sample decode, no codec needed -----------
#
# WAV was header-parse-only ("sample decode needs a codec" does not hold
# for PCM — the samples ARE the bytes).  This tier synthesizes real RIFF
# 16-bit mono PCM from a closed-form integer waveform, decodes the ACTUAL
# bytes back (RIFF chunk walk + little-endian two's-complement unpack),
# and reduces to integer features a relational oracle restates from the
# waveform formula: any slip in the RIFF layout, byte order, sign
# handling, or the feature folds shows up as a value mismatch.

AUDIO_RATE = 8000
_A_BASE = "(doc_id % 11)"
_A_N = "(256 + (doc_id % 7) * 37)"
_A_S = "((({b} * 37 + {i} * 53) % 201) - 100)"   # 16-bit-safe, oscillating


def synth_wav_pcm(doc_id: int) -> bytes:
    """Real RIFF/WAVE mono 16-bit PCM stream for the synthetic waveform
    sample[i] = ((b*37 + i*53) % 201) - 100, b = doc_id % 11."""
    b = doc_id % 11
    n = 256 + (doc_id % 7) * 37
    data = struct.pack(f"<{n}h",
                       *(((b * 37 + i * 53) % 201) - 100 for i in range(n)))
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_RATE, AUDIO_RATE * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm(blob: bytes):
    """(sample_rate, channels, samples) — the one RIFF walk ``parse_wav``
    also makes for the header, then a 16-bit little-endian two's-complement
    unpack of the data chunk.  Non-PCM or non-16-bit streams raise
    NotImplementedError (compressed WAV encodings are out of scope)."""
    fmt_off, frames, data_off = _wav_walk(blob)
    if fmt_off is None:
        raise ValueError("not a RIFF/WAVE stream")
    fmt_code, channels, rate = struct.unpack_from("<HHI", blob, fmt_off)
    (bits,) = struct.unpack_from("<H", blob, fmt_off + 14)
    if fmt_code != 1 or bits != 16:
        raise NotImplementedError(
            f"only 16-bit PCM WAV is decoded here (fmt={fmt_code}, "
            f"bits={bits})")
    count = frames * (channels or 1)
    if data_off + 2 * count > len(blob):
        # the frame count comes from the block align, which can claim
        # fewer bytes per frame than channels x 16 bits
        raise ValueError(
            f"WAV data holds fewer than {count} 16-bit samples")
    samples = struct.unpack_from(f"<{count}h", blob, data_off)
    return rate, channels, samples


_AUDIO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", LongType()),
    StructField("n_samples", LongType()),
    StructField("abs_sum", LongType()),
    StructField("energy", LongType()),
    StructField("peak", LongType()),
    StructField("zero_cross", LongType()),
])


def _audio_row(doc_id):
    rate, _ch, s = decode_wav_pcm(synth_wav_pcm(doc_id))
    zc = sum(1 for i in range(1, len(s)) if (s[i] >= 0) != (s[i - 1] >= 0))
    return [(doc_id, rate, len(s), sum(abs(v) for v in s),
             sum(v * v for v in s), max(abs(v) for v in s), zc)]


def audio_pcm_features(spark, sf_dir: str) -> DataFrame:
    """Gated query: real WAV PCM encode -> decode -> integer audio
    features (abs-sum, energy, peak, zero crossings).  Map-only
    mapInPandas end to end (one Arrow batch pass, no shuffle); the same
    partition-parallel shape as the image decode tier, and the binary
    payload never leaves the executor."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return map_rows(docs, ["doc_id"], _AUDIO_SCHEMA, _audio_row).orderBy(
        "doc_id")


def audio_pcm_features_oracle_sql() -> str:
    """Every feature restated from the waveform formula; zero crossings
    compare s(i) with the closed-form s(i-1) — no window needed."""
    s = _A_S.format(b="b", i="i")
    s_prev = _A_S.format(b="b", i="(i - 1)")
    return f"""
      with d as (
        select doc_id, {_A_BASE} as b, {_A_N} as n from documents
      ),
      smp as (
        select d.doc_id, t.i, {s} as s, {s_prev} as sp
        from d, unnest(range(0, n)) as t(i)
      )
      select doc_id,
             cast({AUDIO_RATE} as bigint) as sample_rate,
             cast(count(*) as bigint) as n_samples,
             cast(sum(abs(s)) as bigint) as abs_sum,
             cast(sum(s * s) as bigint) as energy,
             cast(max(abs(s)) as bigint) as peak,
             cast(sum(case when i > 0 and (s >= 0) <> (sp >= 0)
                      then 1 else 0 end) as bigint) as zero_cross
      from smp group by doc_id
      order by doc_id
    """


# --- WHATWG MIME sniffing (round 5) --------------------------------------------
#
# Crawl ingestion cannot trust Content-Type headers; the WHATWG MIME
# Sniffing Standard (mimesniff.spec.whatwg.org, public spec) defines the
# byte-pattern identification every browser runs.  This is the
# "identify the computed MIME type of a resource" core: exact byte
# signatures, the whitespace-skipped case-insensitive HTML tag table
# (each tag must be terminated by 0x20 or 0x3E), BOMs, and the
# binary-vs-text heuristic over the first 1445 bytes.

#: (prefix, mask_spaces_skipped, mime) — exact-prefix signatures, spec §6.1/7.1.
_SNIFF_SIGS = (
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"BM", "image/bmp"),
    (b"\x00\x00\x01\x00", "image/x-icon"),
    (b"\x00\x00\x02\x00", "image/x-icon"),
    (b"ID3", "audio/mpeg"),
    (b"OggS\x00", "application/ogg"),
    (b"MThd\x00\x00\x00\x06", "audio/midi"),
    (b"\x1f\x8b\x08", "application/x-gzip"),
    (b"PK\x03\x04", "application/zip"),
    (b"Rar!\x1a\x07\x00", "application/x-rar-compressed"),
    (b"%PDF-", "application/pdf"),
    (b"%!PS-Adobe-", "application/postscript"),
    (b"ttcf", "font/collection"),
    (b"OTTO", "font/otf"),
    (b"wOFF", "font/woff"),
    (b"wOF2", "font/woff2"),
)

#: HTML tag table (spec §7.1): matched case-insensitively after leading
#: whitespace; the byte after the pattern must be 0x20 or 0x3E.
_SNIFF_TAGS = (
    b"<!DOCTYPE HTML", b"<HTML", b"<HEAD", b"<SCRIPT", b"<IFRAME",
    b"<H1", b"<DIV", b"<FONT", b"<TABLE", b"<A", b"<STYLE", b"<TITLE",
    b"<B", b"<BODY", b"<BR", b"<P", b"<!--",
)

#: spec §3: a binary data byte is 0x00-0x08, 0x0B, 0x0E-0x1A, or 0x1C-0x1F.
_BINARY_BYTES = frozenset(
    list(range(0x00, 0x09)) + [0x0B] + list(range(0x0E, 0x1B))
    + list(range(0x1C, 0x20)))

SNIFF_HEADER_BYTES = 1445   # spec §5: the resource header length


def sniff_mime(blob: bytes):
    """(mime, method) per the WHATWG sniffing core over the resource
    header.  ``method`` says which rule fired: ``signature`` (exact
    byte pattern), ``riff``/``ftyp`` (parameterized container checks),
    ``html``/``xml`` (tag table), ``bom``, ``text`` or ``binary``
    (the byte-set heuristic)."""
    hdr = blob[:SNIFF_HEADER_BYTES]
    for pat, mime in _SNIFF_SIGS:
        if hdr.startswith(pat):
            return mime, "signature"
    if hdr[:4] == b"RIFF" and len(hdr) >= 12:
        if hdr[8:12] == b"WEBP":
            return "image/webp", "riff"
        if hdr[8:12] == b"WAVE":
            return "audio/wave", "riff"
        if hdr[8:12] == b"AVI ":
            return "video/avi", "riff"
    if len(hdr) >= 12 and hdr[4:8] == b"ftyp":
        brand = hdr[8:12]
        if brand[:3] == b"mp4" or brand in (b"isom", b"iso2", b"M4V "):
            return "video/mp4", "ftyp"
    if hdr[:2] in (b"\xfe\xff", b"\xff\xfe"):
        return "text/plain", "bom"          # UTF-16BE/LE BOM
    if hdr[:3] == b"\xef\xbb\xbf":
        return "text/plain", "bom"          # UTF-8 BOM
    ws = 0
    while ws < len(hdr) and hdr[ws] in b"\t\n\x0c\r ":
        ws += 1
    up = hdr[ws:ws + 16].upper()
    for tag in _SNIFF_TAGS:
        if up.startswith(tag):
            nxt = hdr[ws + len(tag):ws + len(tag) + 1]
            if nxt in (b" ", b">"):
                return "text/html", "html"
    if hdr[ws:ws + 5] == b"<?xml":
        return "text/xml", "xml"
    if any(b in _BINARY_BYTES for b in hdr):
        return "application/octet-stream", "binary"
    return "text/plain", "text"


MIME_LANES = 12


def _mime_synth(doc_id: int) -> bytes:
    """Deterministic per-doc resource bytes: 12 lane families; the HTML
    lane varies leading whitespace (doc_id // 12 % 4) and tag choice /
    case by doc_id, the heuristic lane flips binary on (doc_id // 12) % 2
    (a flip on doc_id % 3 could never fire: lane 10 forces doc_id % 3 == 1)."""
    m = doc_id % MIME_LANES
    if m == 0:
        return b"\x89PNG\r\n\x1a\n" + b"x" * (doc_id % 7)
    if m == 1:
        return b"\xff\xd8\xff\xe0body"
    if m == 2:
        return (b"GIF89a" if doc_id % 2 else b"GIF87a") + b"rest"
    if m == 3:
        return b"RIFF\x10\x00\x00\x00WEBPVP8 "
    if m == 4:
        pad = b" \t\n\x0c"[: (doc_id // 12) % 4 + 1]
        tag = b"<!doctype html>" if doc_id % 2 else b"<HtMl>"
        return pad + tag + b"<body>hi</body>"
    if m == 5:
        return b"<?xml version=\"1.0\"?><root/>"
    if m == 6:
        return b"%PDF-1.7 obj"
    if m == 7:
        return b"\x1f\x8b\x08\x00payload"
    if m == 8:
        return b"PK\x03\x04zipdata"
    if m == 9:
        return b"ID3\x04tag"
    if m == 10:
        body = b"plain words " + str(doc_id).encode()
        return body + (b"\x07" if (doc_id // MIME_LANES) % 2 else b".")
    return b"RIFF\x24\x00\x00\x00WAVEfmt "


def _mime_row(doc_id):
    return [(doc_id, *sniff_mime(_mime_synth(doc_id)))]


def mime_sniff(spark, sf_dir: str):
    """Gated query: WHATWG MIME sniffing over a 12-lane synthetic
    resource corpus (signatures, RIFF/ftyp parameterized checks, the
    whitespace/case-varied HTML tag table, XML, and the binary-vs-text
    byte-set heuristic with both outcomes live).  Map-only — exactly the
    shape of a crawl-ingestion type-dispatch pass."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("method", StringType()),
    ])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return map_rows(docs, ["doc_id"], schema, _mime_row).orderBy("doc_id")


def mime_sniff_oracle_sql() -> str:
    """Every lane's computed type restated, including the data-dependent
    sub-cases (HTML regardless of case/whitespace, binary flip on
    (doc_id // 12) % 2)."""
    return f"""
      select doc_id,
             case doc_id % {MIME_LANES}
               when 0 then 'image/png'
               when 1 then 'image/jpeg'
               when 2 then 'image/gif'
               when 3 then 'image/webp'
               when 4 then 'text/html'
               when 5 then 'text/xml'
               when 6 then 'application/pdf'
               when 7 then 'application/x-gzip'
               when 8 then 'application/zip'
               when 9 then 'audio/mpeg'
               when 10 then case when (doc_id // {MIME_LANES}) % 2 = 1
                 then 'application/octet-stream' else 'text/plain' end
               else 'audio/wave'
             end as mime,
             case doc_id % {MIME_LANES}
               when 3 then 'riff'
               when 4 then 'html'
               when 5 then 'xml'
               when 10 then case when (doc_id // {MIME_LANES}) % 2 = 1
                 then 'binary' else 'text' end
               when 11 then 'riff'
               else 'signature'
             end as method
      from documents
      order by doc_id
    """


# --- WebP: the fourth major web image format (RIFF container) -----------------
#
# Header facts (public: the RIFF container layout, the VP8 frame header in
# RFC 6386 §9.1, the WebP lossless signature/dimension packing, and the
# VP8X extended-header layout from the WebP container spec):
#
# * RIFF: 'RIFF' u32le riff-size 'WEBP', then chunks of
#   fourcc + u32le size + payload (+ 1 pad byte when size is odd).
# * 'VP8 ' (lossy): 3-byte frame tag (bit 0 of byte 0 = 0 for a key
#   frame), the start code 9D 01 2A, then u16le & 0x3FFF width and
#   u16le & 0x3FFF height (upper 2 bits are scaling hints).
# * 'VP8L' (lossless): signature byte 0x2F, then 28 bits little-endian:
#   (width-1) in bits 0..13, (height-1) in bits 14..27; bits 29..31 are
#   a version that MUST be 0.
# * 'VP8X' (extended): 4 flag/reserved bytes, then 24-bit little-endian
#   (canvas width - 1) and (canvas height - 1).


def parse_webp(blob: bytes):
    """WebP: RIFF walk to the first VP8 /VP8L/VP8X chunk; returns
    (width, height, 1, payload_off) or None.  Dimension bit-packing per
    variant is exercised by the ``media_webp`` gate; malformed start
    codes / signatures / truncation return None (the shared header-parser
    contract — decode_header turns that into a loud error)."""
    for fourcc, i, size in _riff_chunks(blob, b"WEBP"):
        body = blob[i:i + size]
        if len(body) < size:
            return None
        if fourcc == b"VP8 ":
            if size < 10 or body[3:6] != b"\x9d\x01\x2a" or body[0] & 1:
                return None
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            return w, h, 1, i + 10
        if fourcc == b"VP8L":
            if size < 5 or body[0] != 0x2F:
                return None
            bits = struct.unpack("<I", body[1:5])[0]
            if bits >> 29:
                return None  # nonzero version
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, 1, i + 5
        if fourcc == b"VP8X":
            if size < 10:
                return None
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return w, h, 1, i + 10
    return None


def _riff_webp(chunk: bytes, fourcc: bytes) -> bytes:
    pad = b"\x00" if len(chunk) & 1 else b""
    inner = fourcc + struct.pack("<I", len(chunk)) + chunk + pad
    return b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"WEBP" + inner


def synth_webp(doc_id: int) -> bytes:
    """Real WebP container bytes by doc_id % 4: lossy VP8 (14-bit dims),
    lossless VP8L (packed 28-bit dims), extended VP8X (24-bit canvas —
    dims beyond 14 bits exercised), and a corrupt lane (VP8 with a wrong
    start code) that must parse as None, never as garbage dims."""
    m = doc_id % 4
    w = 1 + (doc_id * 17) % 16383
    h = 1 + (doc_id * 29) % 16383
    if m == 0 or m == 3:
        tag = bytes((0x30, 0x01, 0x00))  # key frame, show_frame-ish tag
        start = b"\x9d\x01\x2a" if m == 0 else b"\x9d\x01\x2b"
        body = (tag + start + struct.pack("<H", w) + struct.pack("<H", h)
                + b"\x88" * 6)
        return _riff_webp(body, b"VP8 ")
    if m == 1:
        bits = (w - 1) | ((h - 1) << 14)
        body = b"\x2f" + struct.pack("<I", bits) + b"\x77" * 5
        return _riff_webp(body, b"VP8L")
    wx = 1 + (doc_id * 17) % 100000
    hx = 1 + (doc_id * 29) % 100000
    body = (b"\x00\x00\x00\x00" + (wx - 1).to_bytes(3, "little")
            + (hx - 1).to_bytes(3, "little"))
    return _riff_webp(body, b"VP8X")


_WEBP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("variant", StringType()),
    StructField("ok", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
])


def _webp_row(doc_id):
    got = parse_webp(synth_webp(doc_id))
    w, h = got[:2] if got else (-1, -1)
    return [(doc_id, ("vp8", "vp8l", "vp8x", "corrupt")[doc_id % 4],
             int(got is not None), w, h)]


def media_webp(spark, sf_dir: str) -> DataFrame:
    """Gated query: synthesize all three WebP header variants plus a
    corrupt-start-code lane, parse the actual container bytes, report
    per-doc dims — pins the RIFF walk and each variant's dimension
    bit-packing by value.  Map-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return map_rows(docs, ["doc_id"], _WEBP_SCHEMA, _webp_row).orderBy(
        "doc_id")


def media_webp_oracle_sql() -> str:
    """Every lane's dims restated straight from the synthesis formulas;
    the corrupt lane pinned to (0, -1, -1)."""
    return f"""
      select doc_id,
             case doc_id % 4 when 0 then 'vp8' when 1 then 'vp8l'
                             when 2 then 'vp8x' else 'corrupt' end as variant,
             cast(case when doc_id % 4 = 3 then 0 else 1 end as bigint) as ok,
             cast(case doc_id % 4
                  when 0 then 1 + (doc_id * 17) % 16383
                  when 1 then 1 + (doc_id * 17) % 16383
                  when 2 then 1 + (doc_id * 17) % 100000
                  else -1 end as bigint) as width,
             cast(case doc_id % 4
                  when 0 then 1 + (doc_id * 29) % 16383
                  when 1 then 1 + (doc_id * 29) % 16383
                  when 2 then 1 + (doc_id * 29) % 100000
                  else -1 end as bigint) as height
      from documents
      order by doc_id
    """
