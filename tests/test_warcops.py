"""WARC record walker: Content-Length-governed slicing pinned on adversarial
content (embedded version lines, blank lines), malformed-file errors, and the
deterministic multi-record file synthesis."""

import contextlib
import signal
import time

import pytest

from htmlgraft.warcops import RECS_PER_FILE, iter_warc_records


def _rec(uri: str, content: bytes, extra: str = "") -> bytes:
    hdr = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
        f"{extra}Content-Length: {len(content)}\r\n\r\n"
    )
    return hdr.encode() + content + b"\r\n\r\n"


def test_content_length_governs_not_delimiters():
    # content legally contains a WARC version line AND blank lines; a
    # delimiter-scanning splitter would cut here, the spec walker must not
    evil = b"<html>WARC/1.0\r\n\r\nContent-Length: 0\r\n\r\n</html>"
    blob = _rec("http://a/", evil) + _rec("http://b/", b"plain")
    recs = list(iter_warc_records(blob))
    assert [h["warc-target-uri"] for h, _ in recs] == ["http://a/", "http://b/"]
    assert recs[0][1] == evil
    assert recs[1][1] == b"plain"


def test_header_fields_case_insensitive_and_trimmed():
    blob = _rec("http://x/", b"c", extra="X-Custom:  spaced value \r\n")
    (headers, content), = iter_warc_records(blob)
    assert headers["x-custom"] == "spaced value"
    assert headers["warc-type"] == "response"


def test_truncated_header_raises():
    with pytest.raises(ValueError, match="truncated"):
        list(iter_warc_records(b"WARC/1.0\r\nContent-Length: 5"))


def test_content_overrun_raises():
    bad = b"WARC/1.0\r\nContent-Length: 999\r\n\r\nshort"
    with pytest.raises(ValueError, match="overruns"):
        list(iter_warc_records(bad))


def test_bad_version_line_raises():
    with pytest.raises(ValueError, match="version"):
        list(iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\n"))


def test_trailing_crlf_tolerated():
    blob = _rec("http://a/", b"x")  # ends with \r\n\r\n already consumed
    assert len(list(iter_warc_records(blob))) == 1


def test_read_pages_warc_from_disk_end_to_end(spark, sf_dir, tmp_path):
    """Real .warc files on disk -> read_pages('warc:...') -> the FULL
    parse+extract pipeline must produce the same (url, text) rows as the
    direct in-memory pages path."""
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract, read_pages
    from htmlgraft.warcops import warc_files_df

    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    rows = warc_files_df(spark, sf_dir).collect()[:4]
    for r in rows:
        (warc_dir / f"seg-{r['file_id']:05d}.warc").write_bytes(bytes(r["warc"]))

    pages = read_pages(spark, f"warc:{warc_dir}")
    got = {
        (r["url"], r["text"])
        for r in parse_extract(pages, include_dom=False).select("url", "text").collect()
    }
    urls = {u for u, _ in got}
    want = {
        (r["url"], r["text"])
        for r in parse_extract(pages_df(spark, sf_dir), include_dom=False)
        .select("url", "text").collect()
        if r["url"] in urls
    }
    assert len(got) == 4 * RECS_PER_FILE
    assert got == want


def test_files_are_doc_id_ordered_and_sized(spark, sf_dir):
    from htmlgraft.warcops import warc_files_df

    rows = warc_files_df(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == (docs + RECS_PER_FILE - 1) // RECS_PER_FILE
    # within one file, URIs must come back in doc_id order (the sorted
    # higher-order aggregate, not collect_list order)
    one = next(r for r in rows if r["file_id"] == 0)
    uris = [
        h["warc-target-uri"]
        for h, _ in iter_warc_records(bytes(one["warc"]))
    ]
    ids = [int(u.rsplit("/", 1)[1]) for u in uris]
    assert ids == sorted(ids) and len(ids) == RECS_PER_FILE


def test_warc_cdx_random_access(spark, sf_dir):
    """The defining property of a CDX index: slicing the file blob at
    (rec_offset, rec_offset + rec_length) yields EXACTLY one well-formed
    record whose URI and payload digest match the index row."""
    import hashlib

    from htmlgraft.warcops import iter_warc_spans, run_warc_cdx, warc_files_df

    blobs = {
        r["file_id"]: bytes(r["warc"])
        for r in warc_files_df(spark, sf_dir).collect()
    }
    rows = run_warc_cdx(spark, sf_dir).collect()
    assert len(rows) == sum(
        sum(1 for _ in iter_warc_spans(b)) for b in blobs.values()
    )
    for r in rows:
        piece = blobs[r["file_id"]][
            r["rec_offset"]:r["rec_offset"] + r["rec_length"]
        ]
        (headers, content, off, ln), = iter_warc_spans(piece)
        assert off == 0 and ln == len(piece)
        assert headers["warc-target-uri"] == r["url"]
        assert hashlib.md5(content).hexdigest() == r["digest"]


def test_warc_cdx_offsets_chain(spark, sf_dir):
    """Within a file, records tile the blob: offsets are strictly
    increasing, each starts where the previous ended, and the last ends at
    the file boundary — no gaps, no overlaps."""
    from htmlgraft.warcops import run_warc_cdx, warc_files_df

    sizes = {
        r["file_id"]: len(bytes(r["warc"]))
        for r in warc_files_df(spark, sf_dir).collect()
    }
    rows = run_warc_cdx(spark, sf_dir).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file_id"], []).append(r)
    for fid, rs in by_file.items():
        rs.sort(key=lambda r: r["rec_offset"])
        pos = 0
        for r in rs:
            assert r["rec_offset"] == pos
            pos += r["rec_length"]
        assert pos == sizes[fid]


def _headers_rec(headers: str, content: bytes) -> bytes:
    hdr = f"WARC/1.1\r\n{headers}Content-Length: {len(content)}\r\n\r\n"
    return hdr.encode() + content + b"\r\n\r\n"


def test_record_without_target_uri_is_skipped():
    """One record with no WARC-Target-URI does not fail the task of the
    pages, WET or CDX readers: it emits no row, and the records around it
    still come through."""
    from htmlgraft.warcops import _cdx_rows, _warc_pages_row, _wet_rows

    date = "WARC-Date: 2024-01-01T00:00:00Z\r\n"

    def rec(kind, uri):
        uri_line = f"WARC-Target-URI: {uri}\r\n" if uri else ""
        return _headers_rec(f"WARC-Type: {kind}\r\n{uri_line}{date}", b"<p>x")

    for kind, rows in (
        ("response", _warc_pages_row),
        ("conversion", _wet_rows),
        ("response", lambda blob: _cdx_rows(7, blob)),
    ):
        alone = rows(rec(kind, None))
        assert alone == []
        blob = rec(kind, "http://a/") + rec(kind, None) + rec(kind, "http://b/")
        assert [r[0] for r in rows(blob)] == ["http://a/", "http://b/"]


def test_cdx_accepts_fractional_second_dates():
    """WARC 1.1 allows a fraction of a second in WARC-Date; ts_seconds
    truncates it, and whole-second dates read as before."""
    import calendar
    import time

    from htmlgraft.warcops import _cdx_rows

    whole = calendar.timegm(time.strptime("2024-01-01T00:00:00Z",
                                          "%Y-%m-%dT%H:%M:%SZ"))
    for date, want in (
        ("2024-01-01T00:00:00Z", whole),
        ("2024-01-01T00:00:00.123Z", whole),
        ("2024-01-01T00:00:59.999999Z", whole + 59),
    ):
        blob = _headers_rec(
            "WARC-Type: response\r\nWARC-Target-URI: http://a/\r\n"
            f"WARC-Date: {date}\r\n", b"<p>x")
        (row,) = _cdx_rows(3, blob)
        assert row[4] == want, date
    bad = _headers_rec(
        "WARC-Type: response\r\nWARC-Target-URI: http://a/\r\n"
        "WARC-Date: 2024-01-01T00:00:00.Z\r\n", b"<p>x")
    with pytest.raises(ValueError):
        _cdx_rows(3, bad)


# --- gzipped container framing (.warc.gz / .wet.gz) --------------------------

def _gz(data: bytes) -> bytes:
    from htmlgraft.warcops import gzip_member

    return gzip_member(data)


def test_gzip_members_walk_and_offsets():
    from htmlgraft.warcops import iter_gzip_members

    m1, m2 = _gz(b"hello"), _gz(b"world!")
    out = list(iter_gzip_members(m1 + m2))
    assert [raw for raw, _, _ in out] == [b"hello", b"world!"]
    assert out[0][1] == 0 and out[0][2] == len(m1)
    assert out[1][1] == len(m1) and out[1][2] == len(m2)


def test_gzip_truncated_member_raises():
    from htmlgraft.warcops import iter_gzip_members

    with pytest.raises(ValueError, match="truncated gzip"):
        list(iter_gzip_members(_gz(b"hello")[:-4]))


def test_warc_gz_records_transparent():
    # per-record gzip members (CC framing): the record walker must yield
    # identical (headers, content) as the plain blob, and report
    # COMPRESSED member spans usable for random access into the .gz bytes
    from htmlgraft.warcops import iter_warc_records, iter_warc_spans

    r1 = _rec("http://a/", b"<html>WARC/1.0\r\n\r\n</html>")
    r2 = _rec("http://b/", b"plain")
    gz_blob = _gz(r1) + _gz(r2)
    plain = [(h["warc-target-uri"], c) for h, c in iter_warc_records(r1 + r2)]
    gz = [(h["warc-target-uri"], c) for h, c in iter_warc_records(gz_blob)]
    assert gz == plain
    spans = list(iter_warc_spans(gz_blob))
    for _, _, off, ln in spans:
        piece = gz_blob[off:off + ln]
        (h2, c2, _, _), = iter_warc_spans(piece)  # random access works
    assert spans[0][2] == 0 and spans[1][2] == len(_gz(r1))


def test_warc_gz_multirecord_member():
    # a member holding two records yields both, sharing the member's span
    from htmlgraft.warcops import iter_warc_spans

    r1, r2 = _rec("http://a/", b"x"), _rec("http://b/", b"yy")
    blob = _gz(r1 + r2)
    out = list(iter_warc_spans(blob))
    assert [h["warc-target-uri"] for h, _, _, _ in out] == ["http://a/", "http://b/"]
    assert all(off == 0 and ln == len(blob) for _, _, off, ln in out)


def test_read_pages_warc_gz_from_disk_end_to_end(spark, sf_dir, tmp_path):
    """Real .warc.gz files on disk -> read_pages('warc:...') -> full
    parse+extract must equal the direct pages path (mirror of the plain-
    WARC disk test — the compression layer must be invisible)."""
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract, read_pages
    from htmlgraft.warcops import warc_gz_files_df

    warc_dir = tmp_path / "crawl_gz"
    warc_dir.mkdir()
    rows = warc_gz_files_df(spark, sf_dir).collect()[:4]
    for r in rows:
        (warc_dir / f"seg-{r['file_id']:05d}.warc.gz").write_bytes(
            bytes(r["warc"])
        )

    pages = read_pages(spark, f"warc:{warc_dir}")
    got = {
        (r["url"], r["text"])
        for r in parse_extract(pages, include_dom=False)
        .select("url", "text").collect()
    }
    urls = {u for u, _ in got}
    want = {
        (r["url"], r["text"])
        for r in parse_extract(pages_df(spark, sf_dir), include_dom=False)
        .select("url", "text").collect()
        if r["url"] in urls
    }
    assert len(got) == 4 * RECS_PER_FILE
    assert got == want


def test_warc_gz_files_match_plain(spark, sf_dir):
    # the .warc.gz synthesis carries byte-identical records to the plain one
    from htmlgraft.warcops import warc_files_df, warc_gz_files_df

    plain = {
        r["file_id"]: [
            (h["warc-target-uri"], c)
            for h, c in iter_warc_records(bytes(r["warc"]))
        ]
        for r in warc_files_df(spark, sf_dir).collect()
    }
    gz = {
        r["file_id"]: [
            (h["warc-target-uri"], c)
            for h, c in iter_warc_records(bytes(r["warc"]))
        ]
        for r in warc_gz_files_df(spark, sf_dir).collect()
    }
    assert gz == plain


def test_write_wet_files_round_trip(spark, sf_dir, tmp_path):
    """WET sink: write .wet.gz from the parse output, walk the files back
    with the record walker, and recover exactly the (url, text) rows."""
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract
    from htmlgraft.warcops import iter_warc_records, write_wet_files

    res = parse_extract(pages_df(spark, sf_dir), include_dom=False)
    want = {(r["url"], r["text"]) for r in res.select("url", "text").collect()}

    for compress, suffix in ((True, ".wet.gz"), (False, ".wet")):
        out = tmp_path / ("gz" if compress else "plain")
        manifest = write_wet_files(
            res.repartition(3), str(out), compress=compress
        ).collect()
        assert sum(m["n_records"] for m in manifest) == len(want)
        got = set()
        import os

        for m in manifest:
            assert m["path"].endswith(suffix)
            assert os.path.getsize(m["path"]) == m["n_bytes"]
            blob = open(m["path"], "rb").read()
            for h, c in iter_warc_records(blob):
                assert h["warc-type"] == "conversion"
                assert h["content-type"] == "text/plain"
                got.add((h["warc-target-uri"], c.decode("utf-8")))
        assert got == want


def test_non_utf8_warc_payload_survives(spark, tmp_path):
    """A windows-1252 page inside a WARC must reach the extractor with its
    original bytes (no utf-8 re-encode laundering): the é (0xE9) and the
    0x97 em dash must decode via the charset prescan, not as U+FFFD."""
    from htmlgraft.job import parse_extract, read_pages

    body = ("<html><head><meta charset=windows-1252><title>t</title></head>"
            "<body><div id=main><p>caf\xe9 — fin</p></div>"
            "<footer><a href=\"/x\">t</a></footer></body></html>")
    raw = body.encode("cp1252")
    rec = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: http://cp.example/1\r\n"
        f"Content-Length: {len(raw)}\r\n\r\n"
    ).encode() + raw + b"\r\n\r\n"
    d = tmp_path / "w"
    d.mkdir()
    (d / "seg.warc").write_bytes(rec)

    rows = parse_extract(
        read_pages(spark, f"warc:{d}"), include_dom=False
    ).select("url", "text").collect()
    (row,) = rows
    assert "café — fin" in row["text"]
    assert "�" not in row["text"]


# --- HTTP response payloads (real Common Crawl record shape) ------------------

def _http_rec(uri: str, body: bytes, ct: str = "text/html") -> bytes:
    http = (
        f"HTTP/1.1 200 OK\r\nServer: test\r\nContent-Type: {ct}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    return _rec(uri, http)


def test_split_http_response():
    from htmlgraft.warcops import http_charset, split_http_response

    h, body = split_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html;"
        b' charset="Windows-1252"\r\n\r\n<p>x'
    )
    assert body == b"<p>x"
    assert h["::status-line"] == "HTTP/1.1 200 OK"
    assert http_charset(h) == "Windows-1252"
    # non-HTTP payloads pass through untouched
    h2, b2 = split_http_response(b"<html>HTTP/ inside text</html>"[:])
    assert h2 is None and b2.startswith(b"<html>")


def test_http_wrapped_warc_end_to_end(spark, tmp_path):
    """A real-shaped CC response record (full HTTP message, cp1252 body,
    NO meta tag — the charset comes only from the HTTP Content-Type):
    the status line and headers must never reach the parser, and the
    transport charset must drive the decode."""
    from htmlgraft.job import parse_extract, read_pages

    body = ("<html><head><title>t</title></head><body><div id=main>"
            "<p>caf\xe9 — fin</p></div>"
            "<footer><a href=\"/x\">t</a></footer></body></html>"
            ).encode("cp1252")
    blob = _http_rec("http://h.example/1", body,
                     ct="text/html; charset=windows-1252")
    d = tmp_path / "w"
    d.mkdir()
    (d / "seg.warc").write_bytes(blob)

    (row,) = parse_extract(
        read_pages(spark, f"warc:{d}"), include_dom=False
    ).select("url", "text").collect()
    assert "café — fin" in row["text"]
    assert "HTTP/1.1" not in row["text"]
    assert "Content-Type" not in row["text"]
    assert "�" not in row["text"]


def test_http_wrapped_warc_extract_batch(spark, sf_dir):
    """run_warc_extract_text's record walk applies the same HTTP split:
    hand-built gz file with an HTTP-wrapped record."""
    from htmlgraft.warcops import _warc_text, gzip_member

    body = (b"<html><body><div id=main><p>alpha beta</p></div>"
            b"<footer><a href=/x>t</a></footer></body></html>")
    blob = gzip_member(_http_rec("http://h.example/2", body))
    files = spark.createDataFrame([(0, blob)], "file_id long, warc binary")
    out = _warc_text(files).toPandas()
    assert list(out["url"]) == ["http://h.example/2"]
    assert "alpha beta" in out["text"].iloc[0]
    assert "HTTP/1.1" not in out["text"].iloc[0]


def test_warc_text_keeps_pages_the_parser_rejects(spark):
    """The warc_extract_text* path parses through the job's parse stage:
    a page the parser raises on (``<constructor>`` -> ParseQuirkError)
    keeps its url with empty text, and the rest of the file comes back."""
    from htmlgraft.warcops import _warc_text

    good = _rec("http://e.example/good",
                b"<html><body><div id=main><p>alpha beta</p></div>"
                b"</body></html>")
    bad = _rec("http://e.example/bad",
               b"<html><body><constructor>x</constructor></body></html>")
    files = spark.createDataFrame([(0, good + bad)],
                                  "file_id long, warc binary")
    got = {r["url"]: r["text"] for r in _warc_text(files).collect()}
    assert set(got) == {"http://e.example/good", "http://e.example/bad"}
    assert "alpha beta" in got["http://e.example/good"]
    assert got["http://e.example/bad"] == ""


# --- HTTP body de-framing (chunked transfer coding, Content-Encoding) ---------

def test_dechunk_http_basic_and_corners():
    from htmlgraft.warcops import dechunk_http, encode_chunked

    assert dechunk_http(b"5\r\nhello\r\n0\r\n\r\n") == b"hello"
    # chunk extensions, uppercase hex, trailer fields after the zero chunk
    assert dechunk_http(
        b"A;ext=1\r\n0123456789\r\nB\r\nabcdefghijk\r\n0\r\nX-Trail: v\r\n\r\n"
    ) == b"0123456789abcdefghijk"
    # encoder round-trip incl. empty body and a body > one chunk
    for body in (b"", b"x", b"y" * 1701):
        assert dechunk_http(encode_chunked(body)) == body
    for bad in (b"5\r\nhel", b"zz\r\nhello\r\n0\r\n\r\n",
                b"5\r\nhelloXX0\r\n\r\n", b"hello"):
        with pytest.raises(ValueError):
            dechunk_http(bad)


def test_decode_http_body_codings():
    import zlib

    from htmlgraft.warcops import decode_http_body, encode_chunked, gzip_member

    body = b"<html><body>payload \xe2\x80\x94 ok</body></html>"
    # gzip / x-gzip
    for label in ("gzip", "x-gzip", "GZIP"):
        assert decode_http_body(
            {"content-encoding": label}, gzip_member(body)) == body
    # deflate: zlib-wrapped (RFC) and raw (the real-web misbehavior)
    assert decode_http_body(
        {"content-encoding": "deflate"}, zlib.compress(body)) == body
    raw = zlib.compressobj(wbits=-15)
    assert decode_http_body(
        {"content-encoding": "deflate"},
        raw.compress(body) + raw.flush()) == body
    # chunked over gzip (sender applies CE first, TE outermost)
    assert decode_http_body(
        {"transfer-encoding": "chunked", "content-encoding": "gzip"},
        encode_chunked(gzip_member(body), chunk_size=7)) == body
    # identity / empty tokens are no-ops; unknown coding raises (strict API)
    assert decode_http_body({"content-encoding": "identity"}, body) == body
    assert decode_http_body({}, body) == body
    with pytest.raises(ValueError, match="unsupported"):
        decode_http_body({"content-encoding": "br"}, body)


def test_split_http_response_deframes_and_falls_back():
    from htmlgraft.warcops import encode_chunked, gzip_member, split_http_response

    body = b"<p>de-framed</p>"
    msg = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
           b"Transfer-Encoding: chunked\r\n\r\n" + encode_chunked(gzip_member(body)))
    h, got = split_http_response(msg)
    assert got == body and h["content-encoding"] == "gzip"
    # malformed framing: keep the raw body rather than kill the record loop
    bad = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nnot-chunked"
    h2, got2 = split_http_response(bad)
    assert got2 == b"not-chunked"
    # decode_body=False returns the framed bytes untouched
    _, framed = split_http_response(msg, decode_body=False)
    assert framed.startswith(b"25\r\n" if len(gzip_member(body)) == 0x25
                             else framed[:framed.find(b"\r\n") + 2])
    assert framed != body


def test_http_framed_warc_matches_extract_oracle(spark, sf_dir):
    """warc_http_files_df rotates all four real framings per record; the
    full run must reproduce exactly the plain-pages extraction rows."""
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract
    from htmlgraft.warcops import run_warc_extract_text_http

    got = {
        (r["url"], r["text"])
        for r in run_warc_extract_text_http(spark, sf_dir).collect()
    }
    want = {
        (r["url"], r["text"])
        for r in parse_extract(pages_df(spark, sf_dir), include_dom=False)
        .select("url", "text").collect()
    }
    assert got == want


def test_http_framed_warc_from_disk(spark, sf_dir, tmp_path):
    """On-disk .warc with HTTP-framed records through read_pages('warc:')."""
    from htmlgraft.job import parse_extract, read_pages
    from htmlgraft.warcops import warc_http_files_df

    d = tmp_path / "crawl"
    d.mkdir()
    r = warc_http_files_df(spark, sf_dir).collect()[0]
    (d / "seg.warc").write_bytes(bytes(r["warc"]))
    rows = parse_extract(
        read_pages(spark, f"warc:{d}"), include_dom=False
    ).select("url", "text").collect()
    assert len(rows) == RECS_PER_FILE
    for row in rows:
        assert "HTTP/1.1" not in row["text"]
        assert "Content-Encoding" not in row["text"]


# --- WET import (read side of the sink) ---------------------------------------

def test_read_wet_text_round_trip(spark, tmp_path):
    """Spark WET source: non-ASCII text, text containing CRLFCRLF (a
    delimiter scanner would cut here), non-conversion records skipped,
    plain and member-gzipped files mixed in one directory."""
    from htmlgraft.warcops import gzip_member, read_wet_text, wet_record_bytes

    rows = [
        ("http://w.example/1", "plain text"),
        ("http://w.example/2", "dash — café 中文"),
        ("http://w.example/3", "tricky\r\n\r\nWARC/1.0 embedded"),
    ]
    d = tmp_path / "wet"
    d.mkdir()
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: http://skip.example/\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    (d / "a.wet").write_bytes(
        wet_record_bytes(*rows[0]) + req + wet_record_bytes(*rows[1]))
    (d / "b.wet.gz").write_bytes(gzip_member(wet_record_bytes(*rows[2])))
    got = {(r["url"], r["text"])
           for r in read_wet_text(spark, str(d)).collect()}
    assert got == set(rows)


def test_wet_roundtrip_matches_extract_and_survives_cleanup(spark, sf_dir):
    """run_wet_roundtrip removes its scratch dir before returning; the
    result must equal the plain extraction rows AND stay collectible
    twice (localCheckpoint replay, not file re-read)."""
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract
    from htmlgraft.warcops import run_wet_roundtrip

    df = run_wet_roundtrip(spark, sf_dir)
    got = {(r["url"], r["text"]) for r in df.collect()}
    want = {(r["url"], r["text"])
            for r in parse_extract(pages_df(spark, sf_dir), include_dom=False)
            .select("url", "text").collect()}
    assert got == want
    assert {(r["url"], r["text"]) for r in df.collect()} == want


# --- WAT sink + source (metadata-record JSON envelopes) -----------------------

def _wat_envelope(url, title, links):
    import json

    return json.dumps({
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url, "WARC-Type": "response"},
            "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
                "Head": {"Title": title},
                "Links": [
                    {"pos": p, "url": h, "text": a} for p, h, a in links
                ],
            }}},
        }
    }, ensure_ascii=False, separators=(",", ":"))


def test_write_wat_files_and_read_back(spark, tmp_path):
    """WAT sink → source round trip on adversarial strings: quotes,
    backslashes, non-ASCII (Content-Length is the UTF-8 BYTE length, not
    the char length), and CRLFCRLF inside the payload (a delimiter
    scanner would cut there).  Both compressed and plain variants."""
    from htmlgraft.warcops import (
        iter_warc_records, read_wat_links, write_wat_files,
    )

    rows = [
        ("http://w.example/1", 'say "hi" \\ there',
         [(1, "/a", "plain"), (2, "https://x.example/", 'an "chor"')]),
        ("http://w.example/2", "dash — café 中文",
         [(5, "/b\\c", "back\\slash")]),
        ("http://w.example/3", "tricky\r\n\r\nWARC/1.0 embedded",
         [(9, "/d", "crlf\r\n\r\nanchor")]),
    ]
    want = {(u, t, p, h, a) for u, t, links in rows for p, h, a in links}
    pay = spark.createDataFrame(
        [(u, _wat_envelope(u, t, links)) for u, t, links in rows],
        "url string, payload string",
    )
    for compress, suffix in ((True, ".wat.gz"), (False, ".wat")):
        out = tmp_path / ("gz" if compress else "plain")
        manifest = write_wat_files(
            pay.repartition(2), str(out), compress=compress
        ).collect()
        assert sum(m["n_records"] for m in manifest) == len(rows)
        for m in manifest:
            assert m["path"].endswith(suffix)
            blob = open(m["path"], "rb").read()
            for h, c in iter_warc_records(blob):
                assert h["warc-type"] == "metadata"
                assert h["content-type"] == "application/json"
                assert int(h["content-length"]) == len(c)  # byte math
        got = {(r["url"], r["title"], r["pos"], r["href"], r["anchor"])
               for r in read_wat_links(spark, str(out)).collect()}
        assert got == want


def test_read_wat_links_skips_malformed_and_foreign_records(spark, tmp_path):
    """One invalid-JSON metadata record, one record whose link has no
    ``pos`` and one request record in the same file must be skipped
    without killing the task; the good record's links still come
    through."""
    from htmlgraft.warcops import read_wat_links, wat_record_bytes

    good = wat_record_bytes(
        "http://w.example/ok",
        _wat_envelope("http://w.example/ok", "t", [(1, "/x", "a")]),
    )
    bad = wat_record_bytes("http://w.example/bad", '{"Envelope": nope')
    nopos = wat_record_bytes(
        "http://w.example/nopos",
        _wat_envelope("http://w.example/nopos", "t",
                      [(1, "/y", "b")]).replace('"pos":1,', ""),
    )
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: http://skip.example/\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    d = tmp_path / "wat"
    d.mkdir()
    (d / "a.wat").write_bytes(bad + req + nopos + good)
    got = [(r["url"], r["title"], r["pos"], r["href"], r["anchor"])
           for r in read_wat_links(spark, str(d)).collect()]
    assert got == [("http://w.example/ok", "t", 1, "/x", "a")]


def test_wat_roundtrip_matches_links_and_survives_cleanup(spark, sf_dir):
    """run_wat_roundtrip removes its scratch dir before returning; the
    recovered rows must equal links ⋈ title from the direct parse, and
    stay collectible twice (localCheckpoint replay, not file re-read)."""
    from htmlgraft.linkops import links_df, metadata_df, pages_df
    from htmlgraft.warcops import run_wat_roundtrip

    df = run_wat_roundtrip(spark, sf_dir)
    got = {(r["url"], r["title"], r["pos"], r["href"], r["anchor"])
           for r in df.collect()}
    pages = pages_df(spark, sf_dir)
    titles = {r["url"]: r["title"] for r in metadata_df(pages).collect()}
    want = {(r["url"], titles[r["url"]], r["pos"], r["href"], r["anchor"])
            for r in links_df(pages).collect()}
    assert got == want
    assert {(r["url"], r["title"], r["pos"], r["href"], r["anchor"])
            for r in df.collect()} == want


# --- hostile framing: bounded time, linear cost --------------------------------

@contextlib.contextmanager
def _time_bound(seconds: int):
    """Fail a call that is still running after ``seconds`` (a hang
    shows up as TimeoutError instead of stalling the suite)."""
    def _expire(signum, frame):
        raise TimeoutError(f"still running after {seconds} s")

    old = signal.signal(signal.SIGALRM, _expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


@pytest.mark.parametrize("size", [b"-6", b"+5", b"0x5", b"1_0"])
def test_dechunk_size_must_be_plain_hex(size):
    # int(tok, 16) takes a sign, "0x" and "_"; a size of -6 stepped back
    # onto its own size line and looped forever
    from htmlgraft.warcops import dechunk_http

    body = b"1\r\na\r\n" + size + b"\r\nhello\r\n0\r\n\r\n"
    with _time_bound(5), pytest.raises(ValueError, match="bad size"):
        dechunk_http(body)


def test_negative_content_length_raises():
    # Content-Length of minus the header's own length put the walker back
    # at the record's start: the same record again, forever
    from itertools import islice

    from htmlgraft.warcops import iter_warc_spans

    def record(clen: int) -> bytes:
        return (f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: http://a/\r\n"
                f"Content-Length: {clen}\r\n\r\n").encode()

    n = len(record(-10))  # two-digit lengths: record(-n) is n bytes too
    assert len(record(-n)) == n
    for blob in (record(-n), record(-1)):
        with _time_bound(5), pytest.raises(ValueError, match="negative"):
            list(islice(iter_warc_spans(blob), 5))


def _gzip_members_reference(blob: bytes):
    # the whole-rest-of-file walk: one decompress over blob[pos:]
    import zlib

    pos, n = 0, len(blob)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        raw = d.decompress(blob[pos:])
        assert d.eof
        consumed = (n - pos) - len(d.unused_data)
        yield raw, pos, consumed
        pos += consumed


def test_gzip_members_match_whole_file_walk():
    # members below, at and far above the walker's read slice, an empty
    # member, and incompressible bytes (compressed size ~ raw size)
    import random

    from htmlgraft.bmpops import _INFLATE_STEP as _GZ_READ
    from htmlgraft.warcops import iter_gzip_members

    rng = random.Random(7)
    sizes = [0, 1, 3000, _GZ_READ - 20, _GZ_READ, _GZ_READ + 1,
             3 * _GZ_READ + 5, 17, 200_000, 5]
    blob = b"".join(_gz(rng.randbytes(k)) for k in sizes)
    got = list(iter_gzip_members(blob))
    assert got == list(_gzip_members_reference(blob))
    assert [len(raw) for raw, _, _ in got] == sizes
    with pytest.raises(ValueError, match="truncated gzip"):
        list(iter_gzip_members(blob[:-3]))


def test_gzip_member_walk_cost_is_linear():
    # per-member time at 16x the members must stay under 4x: a walk that
    # copies the rest of the file for each member reads about 16x
    import gc
    import random

    from htmlgraft.warcops import iter_gzip_members

    rng = random.Random(11)
    member = [_gz(rng.randbytes(3000)) for _ in range(50)]

    def per_member(count: int, runs: int) -> float:
        blob = b"".join(member[i % 50] for i in range(count))
        best = float("inf")
        for _ in range(runs):
            t = time.perf_counter()
            for _ in iter_gzip_members(blob):
                pass
            best = min(best, time.perf_counter() - t)
        return best / count

    gc_was_on = gc.isenabled()
    gc.disable()
    try:
        ratio = per_member(8000, 3) / per_member(500, 5)
    finally:
        if gc_was_on:
            gc.enable()
    assert ratio < 4.0, f"8000 members cost {ratio:.1f}x per member of 500"
