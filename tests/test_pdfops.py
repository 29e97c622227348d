"""PDF text extraction: pure-Python parser units (escapes, hex strings, TJ
arrays, FlateDecode, multi-stream) plus the Spark synthesis -> extract ->
DuckDB-oracle round trip."""

import zlib

import duckdb
import pytest

from htmlgraft import pdfops


def _wrap(content: bytes, flate: bool = False) -> bytes:
    body = zlib.compress(content) if flate else content
    filt = b" /Filter /FlateDecode" if flate else b""
    return (
        b"%PDF-1.4\n4 0 obj\n<< /Length " + str(len(body)).encode() + filt
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF"
    )


def test_simple_tj_lines():
    text, _, shows, *_ = pdfops.extract_pdf_text(_wrap(
        b"BT /F1 12 Tf 72 720 Td (alpha beta) Tj 0 -14 Td (gamma) Tj ET"
    ))
    assert text == "alpha beta\ngamma"
    assert shows == 2


def test_flate_stream_roundtrip():
    content = b"BT 72 720 Td (compressed payload) Tj ET"
    assert pdfops.extract_pdf_text(_wrap(content, flate=True))[0] == \
        pdfops.extract_pdf_text(_wrap(content))[0] == "compressed payload"


def test_escapes_and_hex():
    text, _, _, *_ = pdfops.extract_pdf_text(_wrap(
        rb"BT (a\(b\) \\ \101\12x) Tj (q" + b"\\\nr) Tj "
        b"<68 656C6C 6F> Tj ET"
    ))
    # \101 = 'A' (octal), \12 = LF, backslash-EOL is a line continuation,
    # hex string decodes ignoring whitespace; same-baseline shows concatenate
    assert text == "a(b) \\ A\nxqrhello"


def test_tj_array_ignores_kerning():
    text, _, shows, *_ = pdfops.extract_pdf_text(_wrap(
        b"BT [ (to) -120 (get) 33 (her) ] TJ ET"
    ))
    assert text == "together"
    assert shows == 1


def test_tstar_and_quote_ops():
    text, _, _, *_ = pdfops.extract_pdf_text(_wrap(
        b"BT (one) Tj T* (two) Tj (three)' ET"
    ))
    assert text == "one\ntwo\nthree"


def test_horizontal_td_does_not_break_line():
    text, _, _, *_ = pdfops.extract_pdf_text(_wrap(
        b"BT (a) Tj 50 0 Td (b) Tj 0 -14 Td (c) Tj ET"
    ))
    assert text == "ab\nc"


def test_multiple_streams_concatenate():
    one = _wrap(b"BT (first) Tj ET")
    two = _wrap(b"BT (second) Tj ET")
    text, _, shows, *_ = pdfops.extract_pdf_text(one + two)
    assert text == "first\nsecond"
    assert shows == 2


def test_predicted_rgb_image_before_text_stream():
    """An RGB image whose rows are 3 x /Columns + 1 bytes under PNG
    predictor 15, its /Filter after the nested /DecodeParms dict: the text
    walk inflates it without the predictor, which would read a pixel byte
    (200) as a row filter type, and the text after it still comes out."""
    w, h = 4, 3
    raw = b"".join(b"\x00" + bytes([200]) * (3 * w) for _ in range(h))
    img = zlib.compress(raw)
    image = (b"%PDF-1.4\n5 0 obj\n<< /Type /XObject /Subtype /Image /Width 4"
             b" /Height 3 /ColorSpace /DeviceRGB /BitsPerComponent 8"
             b" /DecodeParms << /Predictor 15 /Colors 3 /Columns 4 >>"
             b" /Filter /FlateDecode /Length " + str(len(img)).encode()
             + b" >>\nstream\n" + img + b"\nendstream\nendobj\n")
    text, *_ = pdfops.extract_pdf_text(
        image + _wrap(b"BT (after the image) Tj ET"))
    assert text.endswith("after the image")


def test_non_pdf_and_unknown_filter_raise():
    with pytest.raises(NotImplementedError):
        pdfops.extract_pdf_text(b"GIF89a not a pdf")
    bad = (b"%PDF-1.4\n<< /Length 3 /Filter /DCTDecode >>\nstream\nabc\n"
           b"endstream\n%%EOF")
    with pytest.raises(NotImplementedError):
        pdfops.extract_pdf_text(bad)


def test_spark_roundtrip_matches_oracle(spark, sf_dir):
    got = {
        r["doc_id"]: (r["text"], r["n_pages"], r["n_text_shows"])
        for r in pdfops.pdf_extract_text(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf_dir}/documents.parquet'"
    )
    exp = {
        row[0]: (row[1], row[2], row[3])
        for row in con.execute(pdfops.pdf_extract_oracle_sql()).fetchall()
    }
    assert got == exp
    assert all(v[1] == 1 for v in got.values())  # one page each


def test_synth_pdf_is_well_formed(spark, sf_dir):
    """The synthesized xref offsets must be byte-accurate: each 'N 0 obj'
    must start exactly at its xref offset, and startxref must point at the
    xref keyword."""
    blob = bytes(pdfops.pdf_df(spark, sf_dir)
                 .where("doc_id % 2 = 0").limit(1).collect()[0]["pdf"])
    # NB plain rfind(b"xref") would match inside the later 'startxref'
    xref_pos = blob.rfind(b"\nxref\n") + 1
    assert blob[blob.rfind(b"startxref"):].split()[1] == str(xref_pos).encode()
    table = blob[xref_pos:].split(b"\n")[3:8]  # five in-use entries
    for i, line in enumerate(table, start=1):
        off = int(line.split()[0])
        want = f"{i} 0 obj".encode()
        assert blob[off:off + len(want)] == want


# --- xref streams + object streams (PDF 1.5 machinery) -----------------------

def _png_predict(ft: int, row: bytes, prev: bytes, i: int) -> int:
    """PNG filter ``ft``'s prediction for byte ``i`` of ``row`` (1-byte
    samples): None, Sub, Up, Average, Paeth."""
    a = row[i - 1] if i else 0
    b = prev[i]
    c = prev[i - 1] if i else 0
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    paeth = a if pa <= pb and pa <= pc else b if pb <= pc else c
    return (0, a, b, (a + b) // 2, paeth)[ft]


def _pdf15(flate_objstm: bool = True, predictor: bool = False,
           filters=(2,)) -> bytes:
    """Build a PDF 1.5 with catalog/pages(/Count 2)/font packed in an
    ObjStm (optionally FlateDecode'd) and a cross-reference STREAM
    (optionally PNG-predictor-encoded, row k with PNG filter
    ``filters[k % len(filters)]``) — full binary freedom Python gives
    that the SQL synthesis cannot (compression)."""
    hd = b"%PDF-1.5\n"
    content = b"BT (deep structure) Tj ET"
    o4 = (b"4 0 obj\n<< /Length " + str(len(content)).encode()
          + b" >>\nstream\n" + content + b"\nendstream\nendobj\n")
    inner = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 8 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Type /Font /BaseFont /Helvetica >>",
    ]
    offs, pos = [], 0
    for b_ in inner:
        offs.append(pos)
        pos += len(b_) + 1
    hdr = f"1 {offs[0]} 2 {offs[1]} 3 {offs[2]} 5 {offs[3]}\n".encode()
    data = hdr + b"\n".join(inner)
    body = zlib.compress(data) if flate_objstm else data
    filt = b" /Filter /FlateDecode" if flate_objstm else b""
    o6 = (b"6 0 obj\n<< /Type /ObjStm /N 4 /First " + str(len(hdr)).encode()
          + filt + b" /Length " + str(len(body)).encode()
          + b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    off4 = len(hd)
    off6 = off4 + len(o4)
    off7 = off6 + len(o6)

    rows = [
        (0, 0, 0),
        (2, 6, 0), (2, 6, 1), (2, 6, 2),
        (1, off4, 0),
        (2, 6, 3),
        (1, off6, 0), (1, off7, 0),
    ]
    raw = b"".join(
        bytes([t]) + o.to_bytes(4, "big") + bytes([x]) for t, o, x in rows
    )
    parms = b""
    if predictor:
        # PNG-filtered rows, 6-byte columns
        cols = 6
        out, prev = bytearray(), bytes(cols)
        for k, r in enumerate(range(0, len(raw), cols)):
            row = raw[r:r + cols]
            ft = filters[k % len(filters)]
            out += bytes([ft]) + bytes(
                (row[i] - _png_predict(ft, row, prev, i)) & 0xFF
                for i in range(cols)
            )
            prev = row
        raw = zlib.compress(bytes(out))
        parms = (b" /Filter /FlateDecode"
                 b" /DecodeParms << /Predictor 12 /Columns 6 >>")
    o7 = (b"7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 1] /Root 1 0 R"
          + parms + b" /Length " + str(len(raw)).encode()
          + b" >>\nstream\n" + raw + b"\nendstream\nendobj\n")
    return (hd + o4 + o6 + o7 + b"startxref\n" + str(off7).encode()
            + b"\n%%EOF")


def test_objstm_flate_pages_resolved():
    text, n_pages, shows, kind, n_objstm = pdfops.extract_pdf_text(
        _pdf15(flate_objstm=True)
    )
    assert text == "deep structure" and shows == 1
    # /Count 2 lives INSIDE the compressed ObjStm: a raw regex scan cannot
    # see it (the blob never contains '/Type /Page' in clear), so this
    # value proves the xref-stream -> ObjStm resolution ran
    assert n_pages == 2
    assert kind == "stream" and n_objstm == 4
    assert b"/Type /Page" not in _pdf15(flate_objstm=True).replace(
        b"/Type /Pages", b"")  # nothing visible to a fallback scan


def test_xref_stream_png_predictor():
    text, n_pages, _, kind, n_objstm = pdfops.extract_pdf_text(
        _pdf15(flate_objstm=True, predictor=True)
    )
    assert (text, n_pages, kind, n_objstm) == ("deep structure", 2,
                                               "stream", 4)


@pytest.mark.parametrize("filters", [(3,), (4,), (0, 1, 2, 3, 4)])
def test_xref_stream_average_and_paeth_rows(filters):
    """Predictor >= 10 lets each row pick any PNG filter, Average (3) and
    Paeth (4) included; the xref stream still resolves, no scan fallback."""
    blob = _pdf15(flate_objstm=True, predictor=True, filters=filters)
    text, n_pages, _, kind, n_objstm = pdfops.extract_pdf_text(blob)
    assert (text, n_pages, kind, n_objstm) == ("deep structure", 2,
                                               "stream", 4)


def test_uncompressed_objstm():
    assert pdfops.extract_pdf_text(_pdf15(flate_objstm=False))[1] == 2


def test_xref_stream_index_walks_only_the_rows_it_holds():
    """An /Index count of 10^12 over an 8-row xref stream walks 8 rows:
    the text and the xref resolution are those of the plain file."""
    import time

    blob = _pdf15(flate_objstm=False).replace(
        b"/Size 8 /W", b"/Size 8 /Index [0 1000000000000] /W")
    t0 = time.perf_counter()
    got = pdfops.extract_pdf_text(blob)
    assert time.perf_counter() - t0 < 1.0
    assert got == pdfops.extract_pdf_text(_pdf15(flate_objstm=False))
    assert got[0] == "deep structure" and got[3] == "stream"


def test_xref_stream_zero_widths_raise():
    with pytest.raises(ValueError):
        pdfops._xref_stream_entries(b"<< /W [0 0 0] /Size 3 >>", b"", {})


def test_broken_xref_falls_back_to_scan():
    blob = _pdf15().replace(b"startxref", b"startxrfe")  # no startxref
    text, n_pages, _, kind, n_objstm = pdfops.extract_pdf_text(blob)
    assert text == "deep structure"  # delimiter scan still extracts
    assert kind == "scan" and n_objstm == 0
    assert n_pages == 0  # page dict invisible inside compressed ObjStm


def test_classic_xref_machinery_on_synth(spark, sf_dir):
    """Both synthesis families resolve through the REAL machinery: classic
    docs report ('table', 0 objstm), 1.5 docs ('stream', 4 objstm);
    extracted text is family-invariant."""
    rows = pdfops.pdf_extract_text(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        fam = r["doc_id"] % 2
        assert r["xref_kind"] == ("table" if fam == 0 else "stream")
        assert r["n_objstm_objs"] == (0 if fam == 0 else 4)
        assert r["n_pages"] == 1


def test_prev_chain_and_newer_wins():
    """An incremental update: the newer xref shadows the older entry for
    the same object (spec 7.5.6)."""
    c1 = b"BT (old) Tj ET"
    c2 = b"BT (new) Tj ET"
    hd = b"%PDF-1.4\n"
    o1 = b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    o2 = b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
    o3 = b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
    o4a = (b"4 0 obj\n<< /Length " + str(len(c1)).encode()
           + b" >>\nstream\n" + c1 + b"\nendstream\nendobj\n")
    base = hd + o1 + o2 + o3 + o4a
    off = {1: len(hd), 2: len(hd) + len(o1), 3: len(hd) + len(o1) + len(o2),
           4: len(hd) + len(o1) + len(o2) + len(o3)}
    x1 = len(base)
    xref1 = (b"xref\n0 5\n0000000000 65535 f \n" + b"".join(
        f"{off[i]:010d} 00000 n \n".encode() for i in range(1, 5)
    ) + b"trailer\n<< /Size 5 /Root 1 0 R >>\n")
    part1 = base + xref1
    o4b = (b"4 0 obj\n<< /Length " + str(len(c2)).encode()
           + b" >>\nstream\n" + c2 + b"\nendstream\nendobj\n")
    off4b = len(part1)
    x2 = off4b + len(o4b)
    xref2 = (b"xref\n4 1\n" + f"{off4b:010d} 00000 n \n".encode()
             + b"trailer\n<< /Size 5 /Root 1 0 R /Prev "
             + str(x1).encode() + b" >>\n")
    blob = (part1 + o4b + xref2 + b"startxref\n" + str(x2).encode()
            + b"\n%%EOF")
    entries, trailer, kind = pdfops.parse_xref(blob)
    assert kind == "table"
    assert entries[4] == ("top", off4b)  # newer update wins
    assert entries[1] == ("top", off[1])
    _, n_pages, _, k2, _ = pdfops.extract_pdf_text(blob)
    assert n_pages == 1 and k2 == "table"
