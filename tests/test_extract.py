"""Extraction operator tests: determinism, reference-tree anchoring, and
byte-identity on realistic synthesized pages.

fixtures/pages_trees.jsonl holds trees produced by the REFERENCE parser (under
Node) for a sample of the synthesized corpus; we assert
  our tree == reference tree   (parse identity on realistic pages)
  extract(reference tree) == extract(our tree)   (extraction determinism)
"""

import json
import pathlib

import pytest

from htmlgraft import parse, tree_to_jsonable
from htmlgraft.extract import (
    events_from_json,
    extract_from_events,
    extract_main_text,
)

FIX = pathlib.Path(__file__).resolve().parent.parent / "fixtures"


def _load(name):
    with open(FIX / name, encoding="utf-8") as f:
        return [json.loads(x) for x in f if x.strip()]


PAGES = {p["url"]: p["html"] for p in _load("pages_sample.jsonl")}
TREES = _load("pages_trees.jsonl")


@pytest.mark.parametrize("fx", TREES, ids=[t["id"] for t in TREES])
def test_page_tree_and_extraction_identity(fx):
    html = PAGES[fx["id"]]
    doc = parse(html)
    assert not fx.get("error")
    ours = tree_to_jsonable(doc)
    ref = _norm(fx["tree"])
    assert ours == ref
    ref_text = extract_from_events(lambda: events_from_json(fx["tree"]))
    our_text = extract_main_text(doc)
    assert our_text == ref_text
    assert our_text  # non-empty main text on every synthesized page


def _norm(t):
    if isinstance(t, dict):
        out = {}
        for k, v in t.items():
            if k == "a":
                out[k] = [tuple(p) for p in v]
            elif k == "c":
                out[k] = [_norm(c) for c in v]
            else:
                out[k] = v
        return out
    return t


def test_extraction_basics():
    html = (
        "<html><head><title>T</title></head><body>"
        "<nav><a href=/>home</a><a href=/x>other</a></nav>"
        "<div id=m><p>This is the real content of the page, long enough to win."
        "</p><p>Another paragraph of content here.</p></div>"
        "<footer><a href=/tos>tos</a></footer></body></html>"
    )
    text = extract_main_text(parse(html))
    assert text == (
        "This is the real content of the page, long enough to win.\n"
        "Another paragraph of content here."
    )


def test_extraction_skips_boilerplate_tags():
    html = (
        "<body><div><script>var x = 'scripty';</script>"
        "<style>p{}</style><p>visible words only in the output</p></div></body>"
    )
    text = extract_main_text(parse(html))
    assert "scripty" not in text
    assert "p{}" not in text
    assert text == "visible words only in the output"


def test_extraction_whitespace_rules():
    html = "<body><div><p>  a\t\tb  </p><p>\n\n</p><p>c</p></div></body>"
    assert extract_main_text(parse(html)) == "a b\nc"


def test_extraction_fallback_body():
    # no candidate with text -> falls back to body
    assert extract_main_text(parse("plain words")) == "plain words"


def test_extraction_empty_document():
    assert extract_main_text(parse("")) == ""


# --- adversarial-layout fixture family (round-3; tools/gen_adversarial_pages.py)

ADV_PAGES = {p["url"]: p for p in _load("pages_adversarial.jsonl")}
ADV_TREES = _load("pages_adversarial_trees.jsonl")


@pytest.mark.parametrize("fx", ADV_TREES, ids=[t["id"] for t in ADV_TREES])
def test_adversarial_layout_extraction(fx):
    """Boilerplate-shaped layouts (nav/aside/footer-heavy, link-dense,
    table layout, comment-riddled, deep nesting, tiny content, list
    farms): parse identity vs the reference tree, extraction identity
    between the event path and the fused walk, and the scoring constants
    pinned semantically — the content sentinel must be extracted, the
    nav/footer/sidebar sentinels must not leak."""
    page = ADV_PAGES[fx["id"]]
    doc = parse(page["html"])
    assert not fx.get("error")
    assert tree_to_jsonable(doc) == _norm(fx["tree"])
    ref_text = extract_from_events(lambda: events_from_json(fx["tree"]))
    our_text = extract_main_text(doc)
    assert our_text == ref_text
    assert page["expect"]["present"] in our_text
    for w in page["expect"]["absent"]:
        assert w not in our_text, (fx["id"], w)


def test_collapse_ws_matches_regex():
    """collapse_ws skips the regex when there is no run to collapse; it
    must agree with the plain regex, also next to the Unicode whitespace
    (\\xa0, \\x0b, \\x85, \\u3000) that the regex leaves alone but strip()
    removes.  _finish_lines strips before it collapses, so each line must
    also match collapse-then-strip."""
    import random
    import re

    from htmlgraft.extract import _finish_lines, collapse_ws

    ws = re.compile(r"[\t\n\r\f ]+")
    alphabet = ["\t", "\n", "\r", "\f", " ", " ", "\xa0", "\x0b", "\x85",
                "\u3000", "a", "b", "x"]
    rng = random.Random(20261017)
    for _ in range(10_000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(12)))
        assert collapse_ws(s).strip() == ws.sub(" ", s).strip(), repr(s)
        assert collapse_ws(s) == ws.sub(" ", s), repr(s)
        lines = (ws.sub(" ", line).strip() for line in s.split("\n"))
        assert _finish_lines(s) == "\n".join(x for x in lines if x), repr(s)
