"""Selector-engine semantic pins (htmlgraft.domops): matching rules on
constructed documents, ancestor backtracking, synthetic-wrapper
flattening, fail-fast selector parsing, and the Spark operator's
document-order contract.  Oracle-level value agreement for the gated
``dom_select`` query is covered by tests/test_entry.py."""

import pytest

from htmlgraft import parse
from htmlgraft.domops import parse_selector, select, select_css_df
from htmlgraft.encoding import decode_html
from htmlgraft.linkops import _subtree_text


def _doc(raw):
    # the per-page operators' own decode + parse (htmlgraft.job.map_pages)
    return parse(decode_html(raw))


def _sel(doc, sel):
    return [(e.name, _subtree_text(e)) for e in select(doc, parse_selector(sel))]


@pytest.fixture(scope="module")
def doc():
    return _doc(
        b'<!doctype html><html><body>'
        b'<div id=main class="content article">'
        b'<p><b>one</b> two</p><p>three</p></div>'
        b'<table class=meta><tr><td>A<td>B</table>'
        b'<a href="/tos">t</a><a href="/other" class="x y">o</a>'
        b"</body></html>"
    )


def test_tag_id_class_attr_matching(doc):
    assert _sel(doc, "p") == [("p", "one two"), ("p", "three")]
    assert _sel(doc, "#main > p") == [("p", "one two"), ("p", "three")]
    assert _sel(doc, "#main > b") == []          # child, not descendant
    assert _sel(doc, "#main b") == [("b", "one")]
    # subtree text concatenates text nodes with no block separator (the
    # link-anchor collapse convention): 'one two' + 'three'
    assert _sel(doc, "div.content.article") == [("div", "one twothree")]
    assert _sel(doc, "div.content.missing") == []
    assert _sel(doc, ".x.y") == [("a", "o")]
    assert _sel(doc, "[href]") == [("a", "t"), ("a", "o")]
    assert _sel(doc, '[href="/tos"]') == [("a", "t")]
    assert _sel(doc, "a[href='/other'].x") == [("a", "o")]
    assert _sel(doc, "table.meta td") == [("td", "A"), ("td", "B")]
    # '*' sees every real element incl. parser-inserted html/head/tbody
    assert [n for n, _ in _sel(doc, "*")] == [
        "html", "head", "body", "div", "p", "b", "p",
        "table", "tbody", "tr", "td", "td", "a", "a",
    ]


def test_descendant_backtracks_past_nearest_ancestor():
    """'section > span b': b's NEAREST span ancestor has a div parent (a
    greedy right-to-left scan fails there); the match needs the outer
    span, whose parent IS the section."""
    d = _doc(
        b"<section><span><div><span><b>x</b></span></div></span></section>"
    )
    assert _sel(d, "section > span b") == [("b", "x")]
    assert _sel(d, "div > span > b") == [("b", "x")]
    assert _sel(d, "section > div b") == []


def test_reparented_wrapper_is_transparent():
    """Foster-parented content sits inside a synthetic '#reparented'
    wrapper in the stored tree; selector paths must flatten it exactly
    like the reference's traversal flattens it from the event stream."""
    d = _doc(b"<table><span>s</span><tr><td>c</td></tr></table>")
    assert _sel(d, "body span") == [("span", "s")]
    assert _sel(d, "body > span") == [("span", "s")]  # wrapper is no parent
    assert _sel(d, "table span") == []


def test_wrapper_after_sibling_closes_the_sibling():
    """A '#reparented' wrapper that follows a sibling element is not
    inside that sibling: the foster-parented <b> sits in the div, after
    the closed <p>, so 'p b' must not match it."""
    d = _doc(b"<div><p>x</p><table><b>y</b><tr><td>c</table></div>")
    assert _sel(d, "p b") == []
    assert _sel(d, "div > b") == [("b", "y")]


def test_bad_selectors_fail_fast(spark, sf_dir):
    for bad in ("", ">", "> a", "a >", "a > > b", "[=x]", "#", "a[]"):
        with pytest.raises(ValueError):
            parse_selector(bad)
    # the Spark operator parses on the DRIVER: errors surface at plan
    # build, not inside executor tasks
    from htmlgraft.corpus import pages_df

    with pytest.raises(ValueError):
        select_css_df(pages_df(spark, sf_dir), ["p", "a >"])


def test_spark_operator_document_order(spark, sf_dir):
    """match_pos is 1-based document order per (url, selector): the meta
    table's cells arrive as doc_id, lang, 'more like this'."""
    from htmlgraft.corpus import pages_df

    df = select_css_df(
        pages_df(spark, sf_dir), ["table.meta td"]
    ).toPandas()
    for url, grp in df.groupby("url"):
        g = grp.sort_values("match_pos")
        assert list(g.match_pos) == [1, 2, 3]
        doc_id = url.rsplit("/", 1)[1]
        assert g.text.iloc[0] == doc_id
        assert g.text.iloc[2] == "more like this"


# --- content_density (readability-style block scoring) ------------------------

def _density(spark, pages):
    from htmlgraft.domops import content_density_df

    df = spark.createDataFrame(
        [(u, h.encode()) for u, h in pages], "url string, html binary")
    out = content_density_df(df, num_parts=2).toPandas()
    return out.sort_values(["url", "block_pos"]).reset_index(drop=True)


def test_density_winner_is_data_dependent(spark):
    """The winner follows the text - 3*links score, not a fixed slot: a
    page whose div is link-heavy loses to a text-rich footer."""
    rich = ("<body><div><a href=/x>click click click</a> hi</div>"
            "<footer>plain prose long enough to win here</footer></body>")
    divwin = ("<body><div>substantial article text body</div>"
              "<footer><a href=/y>links links links links</a></footer></body>")
    out = _density(spark, [("u1", rich), ("u2", divwin)])
    u1 = {r.tag: r for r in out[out.url == "u1"].itertuples()}
    assert (u1["div"].winner, u1["footer"].winner) == (0, 1)
    # div: text 20 chars ("click click click hi"), links 17
    assert (u1["div"].text_chars, u1["div"].link_chars) == (20, 17)
    assert u1["div"].link_permille == (1000 * 17) // 20
    u2 = {r.tag: r for r in out[out.url == "u2"].itertuples()}
    assert (u2["div"].winner, u2["footer"].winner) == (1, 0)


def test_density_tie_breaks_by_document_order(spark):
    html = "<body><nav>same text</nav><aside>same text</aside></body>"
    out = _density(spark, [("u", html)])
    assert list(out.winner) == [1, 0]
    assert list(out.block_pos) == [1, 2]


def test_density_counts_and_empty_blocks(spark):
    html = ("<body><div><p>one</p><p>two</p><p></p></div>"
            "<aside></aside></body>")
    out = _density(spark, [("u", html)])
    d = {r.tag: r for r in out[out.url == "u"].itertuples()}
    assert d["div"].p_count == 3
    assert d["div"].text_chars == len("onetwo")
    # empty block: zero text, permille pinned to 0 (no division)
    assert (d["aside"].text_chars, d["aside"].link_permille) == (0, 0)


def test_density_nested_blocks_both_counted(spark):
    html = ("<body><div>outer <table><tr><td>inner cell</table>"
            " tail</div></body>")
    out = _density(spark, [("u", html)])
    tags = list(out.tag)
    assert tags == ["div", "table"]
    d = {r.tag: r for r in out.itertuples()}
    # the nested table's text is part of the outer div's subtree...
    assert d["div"].text_chars == len("outer inner cell tail")
    # ...and also counted on its own
    assert d["table"].text_chars == len("inner cell")


# --- dom_template (per-host structural template clustering) -------------------

def test_density_rows_take_one_walk(monkeypatch):
    """Nested blocks are read off one ``descendants`` walk: a page 2,000
    blocks deep walks its tree once, not once per block (quadratic)."""
    from htmlgraft import domops, linkops, walk

    n = 2000
    doc = parse("<div><p>x</p> <a>yy</a>" * n)
    calls = []

    def counted(node):
        calls.append(node is doc)
        assert len(calls) == 1, "a second tree walk"
        return walk.descendants(node)

    monkeypatch.setattr(domops, "descendants", counted)
    monkeypatch.setattr(linkops, "descendants", counted)
    rows = domops._density_rows("u", doc)
    assert calls == [True]
    # the block at position k holds m = n - k + 1 levels of "x yy": text
    # 4m, link 2m, m <p>; score 4m - 3*2m is highest for the innermost
    assert rows == [("u", k, "div", 4 * m, 2 * m, 500, m, int(k == n))
                    for k, m in ((k, n - k + 1) for k in range(1, n + 1))]


def test_dom_template_clusters_by_structure(spark):
    from htmlgraft.domops import dom_template_df

    pages = [
        # host a: two pages share a shape, one differs (extra <em>)
        ("https://a.example/x/1", "<body><div><p>one</p></div></body>"),
        ("https://a.example/x/2", "<body><div><p>two words</p></div></body>"),
        ("https://a.example/x/3", "<body><div><p><em>three</em></p></div></body>"),
        # host b: a single page
        ("https://b.example/y/1", "<body><p>solo</p></body>"),
    ]
    df = spark.createDataFrame(
        [(u, h.encode()) for u, h in pages], "url string, html binary")
    out = dom_template_df(df, num_parts=2).toPandas()
    rows = {r.host: r for r in out.itertuples()}
    a, b = rows["a.example"], rows["b.example"]
    assert (a.n_pages, a.n_templates, a.top_share_permille) == (3, 2, 666)
    assert (b.n_pages, b.n_templates, b.top_share_permille) == (1, 1, 1000)


def test_dom_template_skips_hostless_url(spark):
    """A url with no host cannot name a template cluster: that page emits
    no rows, and the task still returns every other page's host."""
    from htmlgraft.domops import dom_template_df

    df = spark.createDataFrame(
        [("u1", b"<body><p>a</p></body>"),
         ("https://h.example/1", b"<body><p>b</p></body>")],
        "url string, html binary")
    got = [(r.host, r.n_pages) for r in dom_template_df(df, 2).collect()]
    assert got == [("h.example", 1)]


def test_dom_template_fp_sees_reparented_wrappers():
    """Foster-parented content produces a '#reparented' wrapper in our
    tree; the fingerprint includes it, so a page whose table fosters text
    clusters separately from its well-formed twin."""
    from htmlgraft.domops import _tag_walk_fp

    fostered = _doc(b"<body><table><b>x</b><tr><td>c</table></body>")
    before = _doc(b"<body><b>x</b><table><tr><td>c</table></body>")
    assert _tag_walk_fp(fostered) != _tag_walk_fp(before)
    # text-only differences do NOT split a template
    t1 = _doc(b"<body><p>alpha</p></body>")
    t2 = _doc(b"<body><p>a much longer beta text here</p></body>")
    assert _tag_walk_fp(t1) == _tag_walk_fp(t2)
