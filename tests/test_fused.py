"""The single extraction walk (extract.analyze_page, and its analyze_tree /
analyze_links views) must be semantically identical to the event-stream
path (print_tree + extract_from_events + the event-derived link walk) on
every golden fixture input, the crawl-page fixtures, seeded fuzz and
adversarial pages, and a page with no body."""

import json
import pathlib
import random
import sys

import pytest

from htmlgraft import parse, print_tree
from htmlgraft.extract import analyze_page, analyze_tree, extract_main_text
from htmlgraft.linkops import analyze_links
from htmlgraft.nodes import Doctype
from htmlgraft.walk import traverse
from test_linkops import links_meta_from_events

ROOT = pathlib.Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))
from tools import fuzz_diff, gen_adversarial_pages  # noqa: E402


def _jsonl(name):
    with open(ROOT / "fixtures" / name, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _parses(html):
    try:
        parse(html)
    except Exception:
        return False
    return True


def _fixture_inputs():
    inputs = [(rec["id"], rec["input"]) for rec in _jsonl("trees.jsonl")
              if not rec.get("error")]
    for name in ("pages_sample.jsonl", "pages_adversarial.jsonl"):
        inputs += [(f"{name}:{p['url']}", p["html"]) for p in _jsonl(name)]
    rng = random.Random(8)
    for i in range(200):
        html = fuzz_diff.gen_doc(rng)
        if _parses(html):  # reference-equivalent throws have no tree
            inputs.append((f"gen_doc/{i}", html))
    for fam in sorted(gen_adversarial_pages.FAMILIES):
        for size in range(3):
            inputs.append((f"adversarial/{fam}/{size}",
                           gen_adversarial_pages.FAMILIES[fam](rng, size)))
    # no candidate and no <body>: the whole-document fallback render
    inputs.append(("frameset-no-body",
                   "<!DOCTYPE html><html><head><title>t</title></head>"
                   "<frameset><frame src=a></frameset>x <a href=/l>y</a>"))
    return inputs


FIXTURES = _fixture_inputs()


@pytest.mark.parametrize("fid,html", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_fused_equals_event_path(fid, html):
    doc = parse(html)
    text_ref = extract_main_text(doc)
    n_ref = sum(1 for ev in traverse(doc) if ev[0] == "START")
    links_ref = links_meta_from_events(traverse(doc))[:3]
    doctype_ref = int(any(type(ch) is Doctype for ch in doc.children))
    for include_dom in (True, False):
        page = analyze_page(doc, include_dom, True)
        dom, text, n_nodes, links, title, h1, has_doctype = page
        assert dom == (print_tree(doc) if include_dom else "")
        assert text == text_ref
        assert n_nodes == n_ref
        assert (links, title, h1) == links_ref
        assert has_doctype == doctype_ref
        assert analyze_tree(doc, include_dom) == page[:3]
    assert analyze_links(doc) == page[3:]


def test_dom_budget_stops_the_print_not_the_walk(monkeypatch):
    """A print of exactly DOM_BUDGET_BYTES characters is kept whole; one
    character less of budget gives dom None and every other field as
    before."""
    from htmlgraft import extract

    doc = parse("<!doctype html><title>t</title><!--c--><div><p>x <a href=/l>"
                "y</a></p><table><tr><td>z</table></div>")
    whole = analyze_page(doc, True, True)
    monkeypatch.setattr(extract, "DOM_BUDGET_BYTES", len(whole[0]))
    assert analyze_page(doc, True, True) == whole
    monkeypatch.setattr(extract, "DOM_BUDGET_BYTES", len(whole[0]) - 1)
    assert analyze_page(doc, True, True) == (None,) + whole[1:]
    assert analyze_page(doc, False, True) == ("",) + whole[1:]


def test_fused_no_dom():
    doc = parse("<div><p>hello <b>world</b></p></div>")
    dom, text, _ = analyze_tree(doc, include_dom=False)
    assert dom == ""
    assert text == extract_main_text(doc)


def test_fused_element_roots():
    """An element root, including a SKIP_TAGS one (whose whole-subtree
    fallback render keeps the root itself), matches the event path."""
    from htmlgraft.nodes import Element

    doc = parse("<title>t</title><div><svg><title>s</title>a<p>b</p></svg>"
                "<p>c  d</p></div><footer>f<br>g</footer>")
    stack, roots = [doc], []
    while stack:
        for ch in stack.pop().children:
            if type(ch) is Element:
                roots.append(ch)
                stack.append(ch)
    assert {"svg", "title", "footer", "div"} <= {el.name for el in roots}
    for el in roots:
        n_ref = sum(1 for ev in traverse(el) if ev[0] == "START")
        assert analyze_tree(el) == (print_tree(el), extract_main_text(el), n_ref)
