"""Pipeline robustness: pathological inputs through the full Spark path —
invalid UTF-8, empty/whitespace docs, deeply nested markup, multi-megabyte
single documents — must neither crash the partition nor break identity."""

from htmlgraft.job import parse_extract


def _run(spark, rows):
    pages = spark.createDataFrame(rows, "url string, lang string, html binary")
    return {r["url"]: r for r in parse_extract(pages, num_parts=2).collect()}


def test_invalid_utf8_replaced(spark):
    # DECLARED utf-8 with a lone 0xFF (invalid) -> U+FFFD via
    # errors='replace'; parse must succeed and the replacement char
    # survives into the extracted text
    res = _run(spark, [(
        "u1", "en",
        bytearray(b'<meta charset="utf-8"><div><p>a\xffb</p></div>'),
    )])
    assert res["u1"]["status"] == "ok"
    assert "a�b" in res["u1"]["text"]


def test_undeclared_bytes_decode_as_cp1252(spark):
    # NO BOM, no meta: the WHATWG prescan default is windows-1252, so a
    # lone 0xFF is 'ÿ', not U+FFFD (the pre-round-4 blind-utf8 behavior)
    res = _run(spark, [("u1", "en", bytearray(b"<div><p>a\xffb</p></div>"))])
    assert res["u1"]["status"] == "ok"
    assert "aÿb" in res["u1"]["text"]
    assert "�" not in res["u1"]["text"]


def test_empty_and_whitespace(spark):
    res = _run(
        spark,
        [
            ("empty", "en", bytearray(b"")),
            ("ws", "en", bytearray(b"   \n\t  ")),
            ("bare", "en", bytearray(b"just words, no markup")),
        ],
    )
    assert all(r["status"] == "ok" for r in res.values())
    assert res["empty"]["text"] == ""
    assert res["ws"]["text"] == ""
    assert res["bare"]["text"] == "just words, no markup"
    # EOF synthesis still produces html/head/body
    assert res["empty"]["n_nodes"] == 3


def test_deep_nesting_no_recursion_limit(spark):
    html = b"<div>" * 5000 + b"deep" + b"</div>" * 5000
    res = _run(spark, [("deep", "en", bytearray(html))])
    assert res["deep"]["status"] == "ok"
    assert res["deep"]["text"] == "deep"
    assert res["deep"]["n_nodes"] >= 5000


def test_multi_megabyte_document(spark):
    para = b"<p>lorem ipsum dolor sit amet consectetur</p>"
    html = b"<html><body><div id=main>" + para * 60000 + b"</div></body></html>"
    assert len(html) > 2 * 256 * 1024
    rows = [("big", "en", bytearray(html)), ("small", "en", bytearray(b"<p>x</p>"))]
    pages = spark.createDataFrame(rows, "url string, lang string, html binary")
    res = {r["url"]: r for r in parse_extract(pages, num_parts=4).collect()}
    assert res["big"]["status"] == "ok"
    assert res["big"]["text"].count("lorem") == 60000
    assert res["small"]["text"] == "x"


def test_null_bytes_and_controls(spark):
    res = _run(spark, [("nul", "en", bytearray(b"<p>a\x00b</p>\x00<pre>c\rd\r\ne</pre>"))])
    assert res["nul"]["status"] == "ok"
    # NULs dropped in main content; CR / CRLF normalized to LF
    assert "ab" in res["nul"]["text"]
    assert "c\nd\ne" in res["nul"]["text"].replace("\n\n", "\n") or "c d e" in res["nul"]["text"]
