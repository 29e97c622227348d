"""The binary decoders' contract: whatever bytes a decoder is given, it
returns a value or raises ValueError / NotImplementedError.

Every case runs in a child process under an address-space limit, so a
decoder that allocates what a header claims fails its child, not the
machine:

- one test per size bound, under 1 GiB (room for an inflate to reach
  the 256 MiB decode limit): headers that claim planes of gigabytes, an
  LZW stream that decodes past its image, and deflate streams (an HTTP
  body, a ``.warc.gz`` member, a PDF stream) that inflate past the
  decode limit — each must raise ValueError;
- the mutation harness, under 1 GiB: 8,000 seeded truncated, bit-flipped
  and byte-inserted mutants of real blobs per decoder family.  A failure
  names the family, its seed, the blob index and the mutation, which is
  enough to rebuild the blob with ``_mutants``.
"""

import json
import os
import pathlib
import pickle
import random
import struct
import subprocess
import sys
import zlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
N_MUTANTS = 8000

_CHILD = """
import resource, sys
resource.setrlimit(resource.RLIMIT_AS, ({limit}, {limit}))
sys.path.insert(0, "tests")
import test_decoder_contract as T
sys.stdout.write(T.{entry}(sys.stdin.buffer.read()))
"""


def _child(entry: str, payload, limit: int) -> str:
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(limit=limit, entry=entry)],
        input=pickle.dumps(payload), capture_output=True, cwd=ROOT,
        env=env, timeout=600)
    assert out.returncode == 0, out.stderr.decode()[-3000:]
    return out.stdout.decode()


# --- limit lanes ---------------------------------------------------------------

def _lane(payload: bytes) -> str:
    """Child side of ``_run_lane``: the lane's result, or the name of the
    exception it raised."""
    from htmlgraft import gifops, jpegops, pdfops, pixelops, warcops

    lanes = {
        "png": pixelops.decode_png_pixels,
        "jpeg": jpegops.decode_jpeg,
        "gif": gifops.decode_gif_pixels,
        "http_body": lambda b: warcops.decode_http_body(
            {"content-encoding": "gzip"}, b),
        "http_split": lambda b: "raw body" if warcops.split_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + b
        )[1] == b else "decoded body",
        "warc_gz": lambda b: list(warcops.iter_warc_spans(b)),
        "pdf": pdfops.extract_pdf_text,
    }
    lane, blob = pickle.loads(payload)
    try:
        got = lanes[lane](blob)
    except Exception as exc:
        return type(exc).__name__
    return got if isinstance(got, str) else "value"


def _run_lane(lane: str, blob: bytes) -> str:
    return _child("_lane", (lane, blob), 1 << 30)


def _png(w: int, h: int, ctype: int, interlace: int, idat: bytes) -> bytes:
    from htmlgraft.pixelops import _SIG, _chunk

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def _zeros_stream(n_mib: int, wbits: int) -> bytes:
    """A complete zlib (``wbits`` 15) or gzip (31) stream of ``n_mib`` MiB
    of zero bytes: one full-flushed compressed MiB repeated, with the
    trailer's check value computed over the whole output."""
    mib = bytes(1 << 20)
    c = zlib.compressobj(9, zlib.DEFLATED, wbits)
    head = c.compress(mib) + c.flush(zlib.Z_FULL_FLUSH)
    block = c.compress(mib) + c.flush(zlib.Z_FULL_FLUSH)
    end = c.flush()
    check = zlib.crc32 if wbits == 31 else zlib.adler32
    value = check(b"")
    for _ in range(n_mib):
        value = check(mib, value)
    trailer = (struct.pack("<II", value, (n_mib << 20) & 0xFFFFFFFF)
               if wbits == 31 else struct.pack(">I", value))
    return head + block * (n_mib - 1) + end[:-len(trailer)] + trailer


def test_interlaced_png_claiming_a_huge_plane_is_rejected():
    # 20000 x 20000 RGBA: 1.6 GB zero-filled before the data was checked
    blob = _png(20000, 20000, 6, 1, zlib.compress(b""))
    assert len(blob) < 100
    assert _run_lane("png", blob) == "ValueError"


def test_png_of_side_2_31_is_rejected():
    blob = _png(2 ** 31 - 1, 2 ** 31 - 1, 6, 1, zlib.compress(b""))
    assert _run_lane("png", blob) == "ValueError"


def test_png_with_truncated_idat_raises_value_error():
    """The CRCs stay valid, so only the inflate sees the cut stream."""
    from htmlgraft.pixelops import encode_png

    for interlace in (0, 1):
        good = encode_png(16, 16, bytes(range(256)), interlace=interlace)
        i = good.index(b"IDAT") - 4
        n = struct.unpack(">I", good[i:i + 4])[0]
        for cut in (5, n // 2):
            blob = _png(16, 16, 0, interlace, good[i + 8:i + 8 + n - cut])
            assert _run_lane("png", blob) == "ValueError"


def _jpeg_of_size(blob: bytes, sof: bytes, w: int, h: int) -> bytes:
    i = blob.index(sof)
    return blob[:i + 5] + struct.pack(">HH", h, w) + blob[i + 9:]


def test_jpeg_claiming_a_huge_frame_is_rejected():
    from htmlgraft.pixelops import synth_jpeg

    blob = _jpeg_of_size(synth_jpeg(0), b"\xff\xc0", 65535, 65535)
    assert len(blob) < 400
    assert _run_lane("jpeg", blob) == "ValueError"


def test_progressive_jpeg_claiming_a_huge_frame_is_rejected():
    from htmlgraft.pixelops import synth_prog_jpeg

    blob = _jpeg_of_size(synth_prog_jpeg(0), b"\xff\xc2", 65535, 65535)
    assert len(blob) < 600
    assert _run_lane("jpeg", blob) == "ValueError"


def test_progressive_jpeg_of_a_12_mpx_photo_is_within_the_limit():
    """4000 x 3000 takes 48 MB of int32 coefficients and 12 MB of plane,
    inside the limit, so the decode gets past the size check to the
    entropy data this 12 x 9 stream lacks."""
    from htmlgraft import jpegops
    from htmlgraft.pixelops import synth_prog_jpeg

    blob = _jpeg_of_size(synth_prog_jpeg(0), b"\xff\xc2", 4000, 3000)
    with pytest.raises(ValueError, match="inside entropy data"):
        jpegops.decode_jpeg(blob)


def test_gif_lzw_stream_past_its_image_is_rejected():
    """A 16 x 16 image whose LZW stream grows one string to 3,839 bytes
    and then repeats it: ~400 KB that would decode to over 1 GB."""
    from htmlgraft import gifops

    bw = gifops._BitWriter()
    width, next_code = 9, 258
    bw.write(256, width)                 # Clear
    bw.write(0, width)
    while next_code < 4096:              # each code is the next entry
        bw.write(next_code, width)
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    for _ in range(270_000):
        bw.write(4095, width)
    bw.write(257, width)                 # End of Information
    blob = (gifops._SIG89 + struct.pack("<HH", 16, 16) + bytes([0xF7, 0, 0])
            + gifops._GREY_GCT + b"\x2c" + struct.pack("<HHHH", 0, 0, 16, 16)
            + b"\x00\x08" + gifops._sub_blocks(bw.flush()) + b"\x3b")
    assert len(blob) < 500_000
    assert _run_lane("gif", blob) == "ValueError"


def test_gzip_http_body_past_the_limit():
    body = _zeros_stream(1024, 31)
    assert len(body) < 1_100_000
    assert _run_lane("http_body", body) == "ValueError"
    # the record loop keeps the raw body, as for any malformed framing
    assert _run_lane("http_split", body) == "raw body"


def test_warc_gz_member_past_the_limit():
    size = 272 << 20
    c = zlib.compressobj(6, zlib.DEFLATED, 31)
    parts = [c.compress(
        b"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: http://a/\r\n"
        + f"Content-Length: {size}\r\n\r\n".encode())]
    mib = bytes(1 << 20)
    parts += [c.compress(mib) for _ in range(size >> 20)]
    parts += [c.compress(b"\r\n\r\n"), c.flush()]
    assert _run_lane("warc_gz", b"".join(parts)) == "ValueError"
    from htmlgraft.bmpops import _DECODE_LIMIT

    assert size > _DECODE_LIMIT


def test_pdf_flate_bomb_is_rejected():
    data = _zeros_stream(1024, 15)
    blob = (b"%PDF-1.4\n4 0 obj\n<< /Length " + str(len(data)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + data
            + b"\nendstream\nendobj\n%%EOF")
    assert _run_lane("pdf", blob) == "ValueError"


# --- mutation harness ----------------------------------------------------------

def _colour_jpeg(progressive: bool, sampling) -> bytes:
    from htmlgraft import jpegops

    w, h, (sh, sv) = 20, 12, sampling
    mcus = ((w + 8 * sh - 1) // (8 * sh)) * ((h + 8 * sv - 1) // (8 * sv))

    def blocks(n: int, k: int):
        return [[(i * k) % 41 - 20, (i + k) % 7 - 3, 2, 0, -1] + [0] * 59
                for i in range(n)]

    encode = (jpegops.encode_jpeg_color_coeffs_progressive if progressive
              else jpegops.encode_jpeg_color_coeffs)
    return encode(w, h, blocks(mcus * sh * sv, 3), blocks(mcus, 5),
                  blocks(mcus, 7), sampling)


def _seeds() -> dict:
    """Real blobs per family: the synthetic carriers of every pixel tier,
    the test files' PDFs and a multi-member ``.warc.gz``."""
    from htmlgraft import gifops, pixelops as P, warcops

    from test_pdfops import _pdf15, _wrap
    from test_warcops import _http_rec, _rec

    gw, gh, _, delays, loop, frames = P.synth_gif_anim(3)
    aw, ah, _, adelays, plays, aframes = P.synth_apng_frames(3)
    page = b"<html><body><p>payload</p></body></html>"
    gz_body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
               b"Transfer-Encoding: chunked\r\n\r\n"
               + warcops.encode_chunked(warcops.gzip_member(page), 9))
    warc = b"".join(warcops.gzip_member(r) for r in (
        _rec("http://a/", page), _http_rec("http://b/", page),
        _rec("http://c/", gz_body)))
    return {
        "png": [P.synth_png(d) for d in range(4)],
        "apng": [P.encode_apng(aw, ah, aframes, adelays, plays)],
        "jpeg": [P.synth_jpeg(d) for d in range(2)]
        + [_colour_jpeg(False, (2, 2)), _colour_jpeg(False, (1, 1))],
        "prog_jpeg": [P.synth_prog_jpeg(d) for d in range(2)]
        + [_colour_jpeg(True, (2, 1))],
        "gif": [P._synth_gif(d) for d in range(2)]
        + [gifops.encode_gif_anim(gw, gh, frames, delays, loop)],
        "tiff": [P.synth_tiff(d) for d in range(4)] + [P.synth_orient_tiff(5)],
        "bmp": [P.synth_bmp(d) for d in range(3)],
        "ico": [P.synth_ico(d) for d in range(2)],
        "pdf": [_pdf15(True, True), _pdf15(False),
                _wrap(b"BT (alpha) Tj ET", flate=True)],
        "warc_gz": [warc],
    }


def _decoders() -> dict:
    """Family -> the decoders every mutant of that family goes through."""
    from htmlgraft import (bmpops, gifops, icoops, jpegops, pdfops, pixelops,
                           tiffops, warcops)

    def warc_walk(blob):
        return [warcops.split_http_response(content)
                for _, content, _, _ in warcops.iter_warc_spans(blob)]

    jpeg = [jpegops.decode_jpeg, jpegops.decode_jpeg_luma,
            jpegops.decode_jpeg_gray]
    return {
        "png": [pixelops.decode_png_pixels],
        "apng": [pixelops.decode_apng],
        "jpeg": jpeg,
        "prog_jpeg": jpeg,
        "gif": [gifops.decode_gif_pixels, gifops.decode_gif_frames],
        "tiff": [tiffops.decode_tiff_pixels, tiffops.read_orientation],
        "bmp": [bmpops.decode_bmp_pixels],
        "ico": [icoops.decode_ico],
        "pdf": [pdfops.extract_pdf_text],
        "warc_gz": [warc_walk],
    }


def _mutants(family: str, seeds: list, n: int = N_MUTANTS):
    """Yield (index, mutation, blob): ``n`` mutants of the family's seed
    blobs, cycling truncation, one bit flip and a 1-3 byte insertion, from
    ``random.Random(crc32(family))``."""
    rng = random.Random(zlib.crc32(family.encode()))
    for i in range(n):
        k = rng.randrange(len(seeds))
        blob = seeds[k]
        pos = rng.randrange(len(blob))
        if i % 3 == 0:
            yield i, f"seed blob {k} cut at {pos}", blob[:pos]
        elif i % 3 == 1:
            bit = rng.randrange(8)
            yield i, f"seed blob {k} bit {bit} of byte {pos} flipped", (
                blob[:pos] + bytes([blob[pos] ^ (1 << bit)]) + blob[pos + 1:])
        else:
            ins = rng.randbytes(rng.randint(1, 3))
            yield i, f"seed blob {k} {ins.hex()} inserted at {pos}", (
                blob[:pos] + ins + blob[pos:])


def _harness(payload: bytes) -> str:
    """Child side of the harness: one JSON line per contract violation,
    then a summary line of mutants run per family."""
    seeds = pickle.loads(payload)
    decoders = _decoders()
    lines, counts = [], {}
    for family, blobs in seeds.items():
        for i, mutation, blob in _mutants(family, blobs):
            for decode in decoders[family]:
                try:
                    decode(blob)
                except (ValueError, NotImplementedError):
                    pass
                except Exception as exc:
                    lines.append(json.dumps({
                        "family": family,
                        "seed": zlib.crc32(family.encode()),
                        "blob": i, "mutation": mutation,
                        "decoder": decode.__name__,
                        "error": f"{type(exc).__name__}: {exc}"[:200]}))
            counts[family] = i + 1
    return "\n".join(lines + [json.dumps({"mutants": counts})])


def test_every_decoder_keeps_its_contract_on_mutated_blobs():
    seeds = _seeds()
    *violations, summary = _child("_harness", seeds, 1 << 30).splitlines()
    assert json.loads(summary)["mutants"] == dict.fromkeys(seeds, N_MUTANTS)
    assert not violations, (
        f"{len(violations)} contract violations, first ones:\n"
        + "\n".join(violations[:20]))
