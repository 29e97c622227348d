"""WHATWG encoding prescan (htmlgraft/encoding.py): BOM priority, the
1024-byte meta window, label mapping quirks, and the windows-1252 default —
plus the end-to-end decode gate over the charset corpus families."""

import pytest

from htmlgraft.encoding import decode_html, sniff_charset


def test_bom_variants():
    assert sniff_charset(b"\xef\xbb\xbfhello") == ("utf-8", 3, "bom")
    assert sniff_charset(b"\xfe\xff\x00h") == ("utf-16-be", 2, "bom")
    assert sniff_charset(b"\xff\xfeh\x00") == ("utf-16-le", 2, "bom")


def test_bom_beats_lying_meta():
    raw = "﻿<meta charset=windows-1252><p>café</p>".encode("utf-8")
    codec, bom_len, src = sniff_charset(raw)
    assert (codec, src) == ("utf-8", "bom")
    assert "café" in decode_html(raw)


def test_meta_within_window():
    raw = b'<html><head><meta charset="ISO-8859-7"><body>x'
    codec, _, src = sniff_charset(raw)
    assert src == "meta" and codec == "iso8859-7"


def test_meta_beyond_1024_bytes_ignored():
    raw = b"<!--" + b"x" * 1024 + b'--><meta charset="koi8-r">'
    assert sniff_charset(raw) == ("cp1252", 0, "default")


def test_latin1_labels_map_to_cp1252():
    for label in (b"iso-8859-1", b"latin1", b"us-ascii", b"windows-1252"):
        raw = b'<meta charset="%s">' % label
        assert sniff_charset(raw)[0] == "cp1252"


def test_utf16_meta_label_becomes_utf8():
    # spec quirk: a prescan-findable utf-16 label means the page is NOT
    # utf-16; it is decoded as utf-8
    assert sniff_charset(b'<meta charset="utf-16le">')[0] == "utf-8"


def test_unknown_label_falls_to_default():
    assert sniff_charset(b'<meta charset="martian-9">') == (
        "cp1252", 0, "default"
    )


def test_default_windows_1252():
    # 0x97 is an em dash under cp1252 (latin-1 would give a control char)
    raw = b"<html><body>a\x97b caf\xe9</body></html>"
    assert sniff_charset(raw) == ("cp1252", 0, "default")
    s = decode_html(raw)
    assert "a—b" in s and "café" in s


def test_decode_errors_replace():
    raw = b'<meta charset="utf-8"><p>bad \xff byte'
    assert "�" in decode_html(raw)


def test_charset_corpus_families_decode_identically(spark, sf_dir):
    """All four byte families must extract the SAME expected text; the
    non-ASCII marker makes a wrong decode branch visible."""
    from htmlgraft.corpus import CHARSET_MARKER, pages_charset_df
    from htmlgraft.job import parse_extract

    pages = pages_charset_df(spark, sf_dir)
    # the families genuinely differ at the byte level
    fams = {
        r["fam"]: bytes(r["html"])[:64]
        for r in pages.selectExpr("doc_id % 6 as fam", "html").collect()
    }
    assert fams[0][:3] == b"\xef\xbb\xbf"  # utf-8 BOM family
    assert b"windows-1252" in fams[1]
    assert b"<head><title>" in fams[2] or b"<head><" in fams[2]  # no meta
    assert b'charset="utf-8"' in fams[3]
    assert fams[4][:2] == b"\xff\xfe" and fams[4][3:4] == b"\x00"  # utf-16le
    assert fams[5][:2] == b"\xfe\xff" and fams[5][2:3] == b"\x00"  # utf-16be

    res = parse_extract(pages, include_dom=False).select(
        "url", "text").collect()
    assert len(res) > 0
    by_fam_ok = {f: 0 for f in range(6)}
    for r in res:
        doc_id = int(r["url"].rsplit("/", 1)[1])
        assert r["text"].count(CHARSET_MARKER.strip()) >= 1, r["url"]
        assert "�" not in r["text"], r["url"]
        assert "Ã©" not in r["text"], r["url"]  # the utf-8-as-cp1252 mojibake
        by_fam_ok[doc_id % 6] += 1
    assert all(v > 0 for v in by_fam_ok.values())


def test_transport_charset_beats_meta():
    raw = b'<meta charset="utf-8"><p>caf\xe9'
    codec, _, src = sniff_charset(raw, transport="windows-1252")
    assert (codec, src) == ("cp1252", "transport")
    assert "café" in decode_html(raw, transport="windows-1252")


def test_bom_beats_transport():
    raw = "﻿<p>café".encode("utf-8")
    assert sniff_charset(raw, transport="windows-1252")[2] == "bom"
    assert "café" in decode_html(raw, transport="windows-1252")


def test_transport_utf16_is_honored_not_quirked():
    # the utf-16-means-utf-8 rule is a PRESCAN quirk; a transport-layer
    # utf-16le declaration decodes as utf-16le
    raw = "<p>hi".encode("utf-16-le")
    assert sniff_charset(raw, transport="utf-16le")[0] == "utf-16-le"
    assert "hi" in decode_html(raw, transport="utf-16le")


def test_unknown_transport_falls_through_to_meta():
    raw = b'<meta charset="iso-8859-7"><p>x'
    codec, _, src = sniff_charset(raw, transport="martian-9")
    assert (codec, src) == ("iso8859-7", "meta")


# Python codecs that are not WHATWG encodings count as unrecognized labels,
# so the page decodes as if it carried no label: bytes transforms (base64,
# rot13, hex, zlib), idna (strict only), utf-7 (which turns
# "+ADw-script+AD4-" into "<script>"), the escape codecs (which rewrite
# backslashes) and EBCDIC cp037
NON_TEXT_LABELS = ("base64", "rot13", "hex", "zlib", "idna", "utf-7",
                   "unicode_escape", "raw_unicode_escape", "cp037")


@pytest.mark.parametrize("label", NON_TEXT_LABELS)
def test_non_text_meta_label_is_unrecognized(label):
    body = b"<p>caf\xe9 \x97 text"
    raw = f"<meta charset={label}>".encode() + body
    assert sniff_charset(raw) == ("cp1252", 0, "default")
    assert decode_html(raw) == raw.decode("cp1252", "replace")


@pytest.mark.parametrize("label", NON_TEXT_LABELS)
def test_non_text_transport_label_is_unrecognized(label):
    raw = b"<p>caf\xe9 \x97 text"
    assert sniff_charset(raw, transport=label) == ("cp1252", 0, "default")
    assert decode_html(raw, transport=label) == decode_html(raw)


@pytest.mark.parametrize("label", (
    "shift_jis", "gb2312", "koi8-r", "iso-8859-7", "windows-1251", "euc-kr",
    "big5", "tis-620"))
def test_whatwg_meta_label_is_recognized(label):
    raw = f"<meta charset={label}><p>x".encode()
    assert sniff_charset(raw)[2] == "meta"
