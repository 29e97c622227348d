"""JPEG codec pins: the fixed-point IDCT contract against a from-scratch
math.cos recompute, a FROZEN byte stream decoded against an independent
integer recompute (so the decoder is pinned without the encoder in the
loop), restart markers, the colour/chroma-subsampling path, the luma fast
path, and every documented error lane."""

import math

import numpy as np
import pytest

from htmlgraft import jpegops as J
from htmlgraft import pixelops as P


# --- independent recompute of the module's IDCT contract ---------------------

def _t(u, x):
    c = 1.0 / (2.0 * math.sqrt(2.0)) if u == 0 else 0.5
    return round(2048.0 * c * math.cos((2 * x + 1) * u * math.pi / 16.0))


def _pixel_from_coeffs(nat, x, y):
    """The contract's 64-term double sum in plain Python ints."""
    val = sum(nat[v][u] * _t(u, x) * _t(v, y)
              for u in range(8) for v in range(8))
    return max(0, min(255, ((val + (1 << 21)) >> 22) + 128))


def _plane_from_blocks(w, h, blocks):
    """Decode blocks (zigzag, quantized) to the w*h plane the way the
    module contract specifies, using only _t/_pixel_from_coeffs."""
    bw = (w + 7) // 8
    out = bytearray(w * h)
    for nb, zz in enumerate(blocks):
        nat = [[0] * 8 for _ in range(8)]
        for k in range(64):
            pos = J.ZIGZAG[k]
            nat[pos // 8][pos % 8] = zz[k] * J.QTABLE_LUM[pos]
        bx, by = nb % bw, nb // bw
        for yy in range(8):
            y = by * 8 + yy
            if y >= h:
                break
            for xx in range(8):
                x = bx * 8 + xx
                if x < w:
                    out[y * w + x] = _pixel_from_coeffs(nat, xx, yy)
    return bytes(out)


def _tiny_blocks():
    blocks = []
    for nb in range(4):
        zz = [0] * 64
        zz[0] = 5 * nb - 7
        zz[1] = nb - 1
        zz[9] = 2 - nb
        blocks.append(zz)
    return blocks


# Frozen output of encode_jpeg_gray_coeffs(10, 9, _tiny_blocks()) — byte
# drift in the container/Huffman writer fails here even if the decoder
# drifts symmetrically.
_FROZEN = (
    b'\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00'
    b'\xff\xdb\x00C\x00\x10\x0b\x0c\x0e\x0c\n\x10\x0e\r\x0e\x12\x11\x10\x13'
    b'\x18(\x1a\x18\x16\x16\x181#%\x1d(:3=<9387@H\\N@DWE78PmQW_bghg>Mqypdx'
    b'\\egc\xff\xc0\x00\x0b\x08\x00\t\x00\n\x01\x01\x11\x00\xff\xc4\x00\x1f'
    b'\x00\x00\x01\x05\x01\x01\x01\x01\x01\x01\x00\x00\x00\x00\x00\x00\x00'
    b'\x00\x01\x02\x03\x04\x05\x06\x07\x08\t\n\x0b\xff\xc4\x00\xb5\x10\x00'
    b'\x02\x01\x03\x03\x02\x04\x03\x05\x05\x04\x04\x00\x00\x01}\x01\x02\x03'
    b'\x00\x04\x11\x05\x12!1A\x06\x13Qa\x07"q\x142\x81\x91\xa1\x08#B\xb1'
    b'\xc1\x15R\xd1\xf0$3br\x82\t\n\x16\x17\x18\x19\x1a%&\'()*456789:'
    b'CDEFGHIJSTUVWXYZcdefghijstuvwxyz\x83\x84\x85\x86\x87\x88\x89\x8a\x92'
    b'\x93\x94\x95\x96\x97\x98\x99\x9a\xa2\xa3\xa4\xa5\xa6\xa7\xa8\xa9\xaa'
    b'\xb2\xb3\xb4\xb5\xb6\xb7\xb8\xb9\xba\xc2\xc3\xc4\xc5\xc6\xc7\xc8\xc9'
    b'\xca\xd2\xd3\xd4\xd5\xd6\xd7\xd8\xd9\xda\xe1\xe2\xe3\xe4\xe5\xe6\xe7'
    b'\xe8\xe9\xea\xf1\xf2\xf3\xf4\xf5\xf6\xf7\xf8\xf9\xfa\xff\xda\x00\x08'
    b'\x01\x01\x00\x00?\x00\x80\x7f\xbdR\xfe5)\xa9[\xe9_\xff\xd9'
)


def test_idct_table_matches_dct_definition():
    for u in range(8):
        for x in range(8):
            assert J.IDCT_T[u][x] == _t(u, x) == J.idct_table(u, x)


def test_idct_block_matches_double_sum():
    rng = [((i * 37 + 11) % 61) - 30 for i in range(64)]
    nat = np.array(rng, dtype=np.int64).reshape(8, 8)
    got = J.idct_block(nat)
    for y in range(8):
        for x in range(8):
            assert got[y][x] == _pixel_from_coeffs(nat.tolist(), x, y)


def test_encoder_bytes_frozen():
    assert J.encode_jpeg_gray_coeffs(10, 9, _tiny_blocks()) == _FROZEN


def test_decode_frozen_stream_known_answer():
    w, h, bpp, px = J.decode_jpeg_gray(_FROZEN)
    assert (w, h, bpp) == (10, 9, 1)
    assert px == _plane_from_blocks(10, 9, _tiny_blocks())
    # luma fast path and generic entry point agree on greyscale
    assert J.decode_jpeg_luma(_FROZEN)[3] == px
    assert J.decode_jpeg(_FROZEN)[3] == px


def test_restart_markers_decode_and_sequence_check():
    # Hand-splice a DRI=1 stream: RSTn between MCUs, DC predictor reset.
    blocks = _tiny_blocks()
    out = bytearray(J._headers(10, 9, [(1, 1, 1)]))
    out[-6:-6] = J._seg(0xDD, b"\x00\x01")  # DRI before SOS would also work
    # simpler: rebuild with DRI inserted before the SOS segment
    hdr = J._headers(10, 9, [(1, 1, 1)])
    sos_at = hdr.rfind(b"\xff\xda")
    out = bytearray(hdr[:sos_at]) + J._seg(0xDD, b"\x00\x01") + hdr[sos_at:]
    for i, zz in enumerate(blocks):
        wtr = J._BitWriter()
        J._encode_block(wtr, zz, 0)          # predictor resets every MCU
        out += wtr.flush()
        if i < len(blocks) - 1:
            out += bytes([0xFF, 0xD0 + (i & 7)])
    out += b"\xff\xd9"
    w, h, bpp, px = J.decode_jpeg_gray(bytes(out))
    assert (w, h, bpp) == (10, 9, 1)
    assert px == _plane_from_blocks(10, 9, blocks)
    # out-of-sequence restart marker must raise
    bad = bytes(out).replace(b"\xff\xd0", b"\xff\xd5", 1)
    with pytest.raises(ValueError, match="restart marker"):
        J.decode_jpeg_gray(bad)


def test_color_420_decode_known_answer():
    # 2x2-sampled luma over a 10x9 frame: 4 Y blocks + 1 Cb + 1 Cr per MCU
    y_blocks = _tiny_blocks()
    cb = [0] * 64
    cb[0] = 3
    cr = [0] * 64
    cr[1] = -2
    blob = J.encode_jpeg_color_coeffs(10, 9, y_blocks, [cb], [cr],
                                      sampling=(2, 2))
    w, h, ch, px = J.decode_jpeg(blob)
    assert (w, h, ch) == (10, 9, 3)
    yp = _plane_from_blocks(16, 16, y_blocks)  # padded grid, crop below
    cbp = _plane_from_blocks(8, 8, [cb])
    crp = _plane_from_blocks(8, 8, [cr])
    for y in range(9):
        for x in range(10):
            yy = yp[y * 16 + x]
            cbv = cbp[(y // 2) * 8 + (x // 2)] - 128
            crv = crp[(y // 2) * 8 + (x // 2)] - 128
            r = max(0, min(255, yy + ((91881 * crv + 32768) >> 16)))
            g = max(0, min(255, yy - ((22554 * cbv + 46802 * crv
                                       + 32768) >> 16)))
            b = max(0, min(255, yy + ((116130 * cbv + 32768) >> 16)))
            assert px[(y * 10 + x) * 3:(y * 10 + x) * 3 + 3] == bytes(
                [r, g, b]), (x, y)
    # luma fast path: Y plane only, upsampled grid cropped to the frame
    lw, lh, lb, lpx = J.decode_jpeg_luma(blob)
    assert (lw, lh, lb) == (10, 9, 1)
    assert lpx == bytes(yp[y * 16 + x] for y in range(9) for x in range(10))


def test_gray_pixel_roundtrip_exact_for_block_constant():
    # 80 -> DC quantizes tie-free to -24 and survives the 724-vs-724.077
    # fixed-point DC basis exactly (77 sits on a -25.5 quantizer tie)
    px = bytes([80] * 64)  # one 8x8 block
    blob = J.encode_jpeg_gray(8, 8, px)
    got = J.decode_jpeg_gray(blob)[3]
    assert got == px


def test_synth_corpus_matches_closed_form_twin():
    for d in (0, 3, 6, 11):
        w, h, _ = P.synth_jpeg_coeffs(d)
        px = J.decode_jpeg_gray(P.synth_jpeg(d))[3]
        for (x, y) in ((0, 0), (w - 1, h - 1), (w // 2, h // 3), (7, 8)):
            assert px[y * w + x] == P.jpeg_pixel(d, x, y), (d, x, y)


# --- error lanes --------------------------------------------------------------

def test_truncated_entropy_raises():
    with pytest.raises(ValueError, match="truncated"):
        J.decode_jpeg_gray(_FROZEN[:-8])


def test_marker_inside_entropy_raises():
    # splice a premature EOI right after the SOS header
    pos = _FROZEN.rfind(b"\xff\xda") + 10
    bad = _FROZEN[:pos] + b"\xff\xd9" + _FROZEN[pos:]
    with pytest.raises(ValueError, match="unexpected marker"):
        J.decode_jpeg_gray(bad)


def test_mislabeled_sof2_fails_loudly():
    """Progressive is real now; a BASELINE stream relabeled SOF2 is a
    malformed progressive file (its scan says Ss=0..Se=63, illegal for a
    DC scan) and must raise, never decode silently."""
    bad = _FROZEN.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(bad)


def test_arithmetic_progressive_raises_not_implemented():
    bad = _FROZEN.replace(b"\xff\xc0", b"\xff\xca", 1)
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_jpeg_gray(bad)


def test_16bit_quant_table_raises():
    pos = _FROZEN.find(b"\xff\xdb") + 4
    bad = _FROZEN[:pos] + bytes([0x10]) + _FROZEN[pos + 1:]
    with pytest.raises(NotImplementedError, match="quant"):
        J.decode_jpeg_gray(bad)


def test_not_a_jpeg_raises():
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg_gray(b"\x89PNG\r\n\x1a\nrest")


def test_missing_huffman_table_raises():
    # drop the AC DHT segment (second 0xFFC4)
    first = _FROZEN.find(b"\xff\xc4")
    second = _FROZEN.find(b"\xff\xc4", first + 2)
    import struct as _s
    ln = _s.unpack(">H", _FROZEN[second + 2:second + 4])[0]
    bad = _FROZEN[:second] + _FROZEN[second + 2 + ln:]
    with pytest.raises(ValueError, match="Huffman table"):
        J.decode_jpeg_gray(bad)


def test_truncated_synth_jpeg_is_loud():
    blob = P._truncated_jpeg(5)
    with pytest.raises(ValueError):
        J.decode_jpeg_luma(blob)


# --- pixel_neardup corpus pins (pure Python, no Spark) -------------------------

def _neardup_hash(doc_id: int) -> str:
    """Real-codec path: perturbed coefficients -> entropy encode -> full
    baseline decode -> dHash."""
    w, h, blocks = P.synth_jpeg_neardup_coeffs(doc_id)
    blob = J.encode_jpeg_gray_coeffs(w, h, blocks)
    w2, h2, bpp, px = J.decode_jpeg_luma(blob)
    assert (w2, h2, bpp) == (w, h, 1)
    return P.dhash_gray(w, h, px)


def _neardup_hash_closed_form(doc_id: int) -> str:
    """Oracle twin: pixels recomputed from the perturbed coefficient
    formulas + the fixed-point IDCT contract, never touching JPEG bytes
    (the Python restatement of pixel_neardup_oracle_sql's pixel term)."""
    base, w, h = P.synth_dims(doc_id)
    v = doc_id % P.NEARDUP_VARIANTS
    bw = (w + 7) // 8

    def pix(x, y):
        nb = (y // 8) * bw + (x // 8)
        xr, yr = x % 8, y % 8
        dcq = ((base * 5 + nb * 3) % 33) - 16
        a1 = ((base + nb) % 7) - 3
        a2 = ((base * 2 + nb) % 5) - 2
        a9 = ((base * 3 + nb) % 5) - 2 + (v if nb == 0 else 0)
        val = (dcq * 16 * 724 * 724
               + a1 * 11 * J.IDCT_T[1][xr] * 724
               + a2 * 12 * 724 * J.IDCT_T[1][yr]
               + a9 * 14 * 724 * J.IDCT_T[3][yr])
        return max(0, min(255, ((val + (1 << 21)) >> 22) + 128))

    px = bytes(pix(x, y) for y in range(h) for x in range(w))
    return P.dhash_gray(w, h, px)


def _ham(h1: str, h2: str) -> int:
    return bin(int(h1, 16) ^ int(h2, 16)).count("1")


def test_neardup_decode_matches_closed_form():
    for doc_id in range(40):
        assert _neardup_hash(doc_id) == _neardup_hash_closed_form(doc_id)


def test_neardup_corpus_hamming_spectrum():
    """The corpus must exercise every operator branch: exact dups,
    true near-dups (0 < ham <= 3, incl. the radius boundary), and
    band-candidates the exact filter REJECTS (ham > 3).  doc_ids 0, 21,
    7, 28, 14 all share base class 0 (doc_id % 7 == 0) with perturbation
    v = doc_id % 5 of 0, 1, 2, 3, 4 — pinned offline 2026-08-19."""
    h = {v: _neardup_hash(d) for v, d in
         [(0, 0), (1, 21), (2, 7), (3, 28), (4, 14)]}
    assert _ham(h[0], h[1]) == 1            # near
    assert _ham(h[0], h[2]) == 3            # near, AT the radius boundary
    assert _ham(h[0], h[3]) == 4            # rejected by the exact filter
    assert _ham(h[0], h[4]) == 5            # rejected
    assert _neardup_hash(0) == _neardup_hash(35)   # exact dup (b0, v0)


def test_neardup_banding_guarantees_radius_recall():
    """Pigeonhole: any pair within hamming NEARDUP_HAM_MAX must share at
    least one of the four 16-bit bands (checked over every same-base pair
    in the first 70 doc_ids — the recall property the band join relies
    on, plus at least one such pair sharing NO band beyond the radius)."""
    hashes = {d: _neardup_hash(d) for d in range(70)}
    bands = {d: [h[i * 4:i * 4 + 4] for i in range(4)]
             for d, h in hashes.items()}
    checked = rejected_no_share = 0
    for a in range(70):
        for b in range(a + 1, 70):
            if a % 7 != b % 7:
                continue
            share = any(x == y for x, y in zip(bands[a], bands[b]))
            if _ham(hashes[a], hashes[b]) <= P.NEARDUP_HAM_MAX:
                assert share, (a, b)
                checked += 1
            elif not share:
                rejected_no_share += 1
    assert checked > 0


# --- progressive (SOF2): multi-scan decode + coefficient-domain encoder ------

def _rand_blocks(rng, n, dc=60, ac=12, nac=8):
    out = []
    for _ in range(n):
        zz = [0] * 64
        zz[0] = rng.randint(-dc, dc)
        for _ in range(rng.randint(0, nac)):
            zz[rng.randint(1, 63)] = rng.randint(-ac, ac)
        out.append(zz)
    return out


def test_progressive_equals_baseline_gray():
    """A progressive carrier of given quantized coefficients must decode
    to EXACTLY the pixels of the baseline carrier of the same
    coefficients (coefficients accumulate losslessly across scans)."""
    import random
    rng = random.Random(1207)
    for _ in range(25):
        w, h = rng.randint(9, 40), rng.randint(9, 33)
        blocks = _rand_blocks(rng, ((w + 7) // 8) * ((h + 7) // 8))
        base = J.encode_jpeg_gray_coeffs(w, h, blocks)
        prog = J.encode_jpeg_gray_coeffs_progressive(w, h, blocks)
        assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)


def test_progressive_equals_baseline_color_all_samplings():
    import random
    rng = random.Random(88)
    for sampling in ((1, 1), (2, 1), (1, 2), (2, 2)):
        sh, sv = sampling
        for _ in range(6):
            w, h = rng.randint(9, 37), rng.randint(9, 30)
            mx = (w + 8 * sh - 1) // (8 * sh)
            my = (h + 8 * sv - 1) // (8 * sv)
            yb = _rand_blocks(rng, mx * my * sh * sv)
            cb = _rand_blocks(rng, mx * my, ac=6, nac=4)
            cr = _rand_blocks(rng, mx * my, ac=6, nac=4)
            base = J.encode_jpeg_color_coeffs(w, h, yb, cb, cr, sampling)
            prog = J.encode_jpeg_color_coeffs_progressive(
                w, h, yb, cb, cr, sampling)
            assert J.decode_jpeg(prog) == J.decode_jpeg(base)
            assert J.decode_jpeg_luma(prog) == J.decode_jpeg_luma(base)


def test_progressive_restart_markers():
    """RSTn between restart intervals in EVERY scan: DC predictors and
    EOB runs reset; out-of-sequence markers raise."""
    import random
    rng = random.Random(5)
    w, h = 33, 26
    blocks = _rand_blocks(rng, ((w + 7) // 8) * ((h + 7) // 8))
    base = J.decode_jpeg_gray(J.encode_jpeg_gray_coeffs(w, h, blocks))
    for rst in (1, 2, 3, 7):
        prog = J.encode_jpeg_gray_coeffs_progressive(
            w, h, blocks, restart=rst)
        assert J.decode_jpeg_gray(prog) == base
    prog = J.encode_jpeg_gray_coeffs_progressive(w, h, blocks, restart=2)
    i = prog.find(b"\xff\xd0")
    assert i > 0
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(prog[:i] + b"\xff\xd4" + prog[i + 2:])


def test_progressive_truncation_always_raises():
    import random
    rng = random.Random(9)
    blocks = _rand_blocks(rng, 12)
    prog = J.encode_jpeg_gray_coeffs_progressive(32, 24, blocks)
    J.decode_jpeg_gray(prog)              # intact stream decodes
    for cut in range(20, len(prog) - 1, 5):
        with pytest.raises((ValueError, NotImplementedError)):
            J.decode_jpeg_gray(prog[:cut])


def test_progressive_ac_point_transform_truncates_toward_zero():
    """T.81 G.1.1.1: the AC point transform is integer division by 2^Al
    toward zero — NOT an arithmetic shift (they differ for negative odd
    values).  A shift-coded encoder/decoder pair would still round-trip
    (symmetric slip), so this pins the spec behavior directly."""
    assert J._pt_ac(-5, 1) == -2 and (-5 >> 1) == -3
    assert J._pt_ac(-7, 2) == -1 and (-7 >> 2) == -2
    assert J._pt_ac(5, 1) == 2 and J._pt_ac(0, 3) == 0
    # and end-to-end: a lone odd negative coefficient survives the
    # Al=2 -> 1 -> 0 successive approximation exactly
    zz = [0] * 64
    zz[0], zz[3] = 4, -5
    prog = J.encode_jpeg_gray_coeffs_progressive(8, 8, [zz])
    base = J.encode_jpeg_gray_coeffs(8, 8, [zz])
    assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)


def test_progressive_zrl_and_deep_coefficient():
    zz = [0] * 64
    zz[0], zz[40] = 10, 9                 # 38 zero run inside band 1..63
    prog = J.encode_jpeg_gray_coeffs_progressive(
        8, 8, [zz], script=((0, 0, 0, 0), (1, 63, 0, 0)))
    base = J.encode_jpeg_gray_coeffs(8, 8, [zz])
    assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)


def test_progressive_eobrun_spans_blocks():
    """17 blocks whose 6..63 band is empty must compress to ONE EOBn
    symbol for the whole scan (8-bit code + 4 extra bits -> 2 bytes of
    entropy data), proving cross-block EOB runs are live, and decode
    exactly."""
    blocks = []
    for nb in range(17):
        zz = [0] * 64
        zz[0], zz[1] = nb - 8, (nb % 3) - 1
        blocks.append(zz)
    script = ((0, 0, 0, 0), (1, 5, 0, 0), (6, 63, 0, 0))
    prog = J.encode_jpeg_gray_coeffs_progressive(136, 8, blocks, script)
    base = J.encode_jpeg_gray_coeffs(136, 8, blocks)
    assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)
    # the last scan's entropy bytes sit between the final SOS header and
    # EOI: a 1-component SOS is 10 bytes (marker + length-8 payload)
    last_sos = prog.rfind(b"\xff\xda")
    entropy = prog[last_sos + 10:-2]
    assert len(entropy) == 2              # EOB17 = code(8) + 4 extra bits


def test_progressive_dc_refinement_two_complement_negative():
    """DC refinement appends a magnitude bit to the two's-complement
    value (coef |= 1<<Al); a sign-magnitude slip would mis-decode every
    odd negative DC."""
    for dc in (-13, -4, -1, 0, 1, 6, 13):
        zz = [0] * 64
        zz[0] = dc
        prog = J.encode_jpeg_gray_coeffs_progressive(
            8, 8, [zz], script=((0, 0, 0, 1), (1, 63, 0, 0), (0, 0, 1, 0)))
        base = J.encode_jpeg_gray_coeffs(8, 8, [zz])
        assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base), dc


_FROZEN_PROG = bytes.fromhex(
    "ffd8ffe000104a46494600010100000100010000ffdb004300100b0c0e0c0a10"
    "0e0d0e1211101318281a181616183123251d283a333d3c3933383740485c4e40"
    "4457453738506d51575f626768673e4d71797064785c656763ffc2000b08000b"
    "000e01011100ffc4001f00000105010101010101000000000000000001020304"
    "05060708090a0bffc400c31100000000000000b0000000000000000000010203"
    "0405060708090a101112131415161718191a202122232425262728292a303132"
    "333435363738393a404142434445464748494a505152535455565758595a6061"
    "62636465666768696a707172737475767778797a808182838485868788898a90"
    "9192939495969798999aa0a1a2a3a4a5a6a7a8a9aab0b1b2b3b4b5b6b7b8b9ba"
    "c0c1c2c3c4c5c6c7c8c9cad0d1d2d3d4d5d6d7d8d9dae0e1e2e3e4e5e6e7e8e9"
    "eaf0f1f2f3f4f5f6f7f8f9faffda0008010100000001825925ffda0008010101"
    "010502163fffda0008010101063f0222d2cdc2e44a59c403ffda000801010101"
    "3f21011100159d2cdc029695380003003fffda0008010101013f1000b0111000"
    "01a700245801ffda0008010100000010afffd9"
)


def _frozen_prog_blocks():
    blocks = []
    for nb in range(4):
        zz = [0] * 64
        zz[0] = 9 * nb - 13
        zz[1] = 2 * nb - 3
        zz[5] = nb - 2
        zz[9] = 5 - 3 * nb
        zz[40] = 7 - 5 * nb
        blocks.append(zz)
    return blocks


def test_progressive_frozen_stream_pins_decoder():
    """The decoder against a FROZEN 435-byte progressive stream (6-scan
    libjpeg-style script over a 14x11 plane), compared to the
    INDEPENDENT integer recompute of the IDCT contract — the encoder is
    not in the loop, so a symmetric encoder/decoder drift cannot hide."""
    w, h, _ = J.decode_jpeg_gray(_FROZEN_PROG)[:3]
    assert (w, h) == (14, 11)
    got = J.decode_jpeg_gray(_FROZEN_PROG)[3]
    assert got == _plane_from_blocks(14, 11, _frozen_prog_blocks())


def test_progressive_frozen_stream_pins_encoder():
    """And the encoder against the same literal: byte-identical output,
    so neither side of the pair can drift."""
    blob = J.encode_jpeg_gray_coeffs_progressive(
        14, 11, _frozen_prog_blocks())
    assert blob == _FROZEN_PROG


def test_progressive_handbuilt_stream():
    """A 3-scan stream over one 8x8 block assembled BY HAND in this test
    (headers via struct, Huffman codes from an independent canonical-code
    builder, bit packing inline) — decoder correctness without any module
    encoder in the loop.  Case: DC=6 Al=1 first scan, full-band AC first
    scan carrying -3 at zigzag 1, DC refinement bit 0."""
    import struct as _s

    def canonical(bits, vals):
        # independent of jpegops._enc_table: spec Annex C two-pass build
        sizes = []
        for ln in range(1, 17):
            sizes += [ln] * bits[ln - 1]
        codes, code, prev = {}, 0, sizes[0] if sizes else 0
        for sym, ln in zip(vals, sizes):
            code <<= (ln - prev)
            codes[sym] = (code, ln)
            code += 1
            prev = ln
        return codes

    dc = canonical(list(J.DC_LUM_BITS), list(J.DC_LUM_VALS))
    ac = canonical(list(J.PROG_AC_BITS), list(J.PROG_AC_VALS))

    class BW:
        def __init__(self):
            self.bits = ""

        def put(self, v, n):
            self.bits += format(v & ((1 << n) - 1), f"0{n}b")

        def flushed(self):
            pad = (8 - len(self.bits) % 8) % 8
            s = self.bits + "1" * pad
            out = bytearray()
            for i in range(0, len(s), 8):
                b = int(s[i:i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def seg(marker, payload):
        return _s.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(
        J.QTABLE_LUM[J.ZIGZAG[k]] for k in range(64)))
    out += seg(0xC2, _s.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(J.DC_LUM_BITS)
               + bytes(J.DC_LUM_VALS))
    out += seg(0xC4, bytes([0x11]) + bytes(J.PROG_AC_BITS)
               + bytes(J.PROG_AC_VALS))
    # scan 1: DC first, Al=1 -> v=3, diff=3, category 2, bits "11"
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
    w1 = BW()
    w1.put(*reversed(dc[2])) if False else w1.put(dc[2][0], dc[2][1])
    w1.put(3, 2)
    out += w1.flushed()
    # scan 2: AC first, band 1..63, Al=0 -> (run0,size2) then value bits
    # for -3 ("00"), then EOB (eobrun=1)
    out += seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x00]))
    w2 = BW()
    w2.put(ac[0x02][0], ac[0x02][1])
    w2.put(0, 2)                          # -3 encodes as 00
    w2.put(ac[0x00][0], ac[0x00][1])
    out += w2.flushed()
    # scan 3: DC refine to Al=0 -> one raw bit = 6 & 1 = 0
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
    w3 = BW()
    w3.put(0, 1)
    out += w3.flushed()
    out += b"\xff\xd9"

    zz = [0] * 64
    zz[0], zz[1] = 6, -3
    got = J.decode_jpeg_gray(bytes(out))
    assert got[:3] == (8, 8, 1)
    assert got[3] == _plane_from_blocks(8, 8, [zz])


def test_progressive_missing_ac_table_raises():
    blob = J.encode_jpeg_gray_coeffs_progressive(8, 8, [[1] + [0] * 63])
    # strip the second DHT (the progressive AC table) out of the stream
    i = blob.find(b"\xff\xc4", blob.find(b"\xff\xc4") + 2)
    ln = int.from_bytes(blob[i + 2:i + 4], "big")
    cut = blob[:i] + blob[i + 2 + ln:]
    with pytest.raises(ValueError, match="missing AC table"):
        J.decode_jpeg_gray(cut)


def test_colour_decode_peak_memory_per_pixel():
    """A 512x512 colour decode peaks at 26 B/pixel under tracemalloc
    (uint8 component planes, int32 chroma and one int32 channel at a time
    into the uint8 RGB plane); int64 intermediates stacked after the fact
    took 78 B/pixel."""
    import tracemalloc

    w = h = 512
    rgb = bytes((x * 7 + y * 3 + c * 50) % 256
                for y in range(h) for x in range(w) for c in range(3))
    blob = J.encode_jpeg_color(w, h, rgb)
    tracemalloc.start()
    try:
        out = J.decode_jpeg(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out[:3] == (w, h, 3)
    assert peak / (w * h) < 28
