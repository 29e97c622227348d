"""Byte-identity of parse trees against reference-generated goldens.

fixtures/trees.jsonl is produced by tools/gen_fixtures.mjs, which runs the
actual reference parser (/root/reference/lib/index.js) under Node over every
sample suite in /root/reference/test/scripts/samples.js plus adversarial extra
cases.  We assert:
  * identical html5lib-format print (print_tree == dom), and
  * identical exact tree JSON (attrs included, text coalesced), and
  * identical error behavior on inputs where the reference throws.
"""

import json
import pathlib

import pytest

from htmlgraft import parse, print_tree, tree_to_jsonable

FIXTURES = pathlib.Path(__file__).resolve().parent.parent / "fixtures"


def _load(name):
    out = []
    with open(FIXTURES / name, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                out.append(json.loads(line))
    return out


TREES = _load("trees.jsonl")


@pytest.mark.parametrize("fx", TREES, ids=[f["id"] for f in TREES])
def test_tree_golden(fx):
    if fx.get("error"):
        with pytest.raises(Exception):
            doc = parse(fx["input"])
            print_tree(doc)  # some reference throws happen during printing
        return
    doc = parse(fx["input"])
    assert print_tree(doc) == fx["dom"]
    assert tree_to_jsonable(doc) == _normalize(fx["tree"])


def _normalize(t):
    """JSON round-trip puts attr pairs as lists; our serializer uses tuples."""
    if isinstance(t, dict):
        out = {}
        for k, v in t.items():
            if k == "a":
                out[k] = [tuple(p) for p in v]
            elif k == "c":
                out[k] = [_normalize(c) for c in v]
            else:
                out[k] = v
        return out
    return t


def test_document_controlled_memos_stay_bounded():
    """The tag-name memos live as long as an executor's Python worker, so
    made-up names must not grow them: one page with 5,000 distinct start
    and end tag names leaves them within the size of the rule tables plus
    one shared key per context."""
    from htmlgraft import grammar
    from htmlgraft.parse import _END_KIND

    page = "<body>" + "".join(
        f"<x-{i}>t</y-{i}><z{i}></z{i}></x-{i}>" for i in range(5000)
    )
    print_tree(parse(page))
    n_ctx = len(grammar._CR_MEMO)
    assert n_ctx == 8
    cr_size = sum(len(memo) for memo in grammar._CR_MEMO.values())
    assert cr_size <= n_ctx * (len(grammar._CR_KNOWN) + 1)
    end_names = (
        set(grammar.HTML_RULES) | set(grammar.SVG_RULES)
        | set(grammar.MATH_RULES) | grammar.JS_PROTO_KEYS
    )
    assert len(_END_KIND) <= len(end_names) + 1
