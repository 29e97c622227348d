"""The lexer/parse split by record and replay must reproduce the live parse.

    python3 -m pytest perfbench/test_replay.py -q

On every fixture page (``fixtures/pages_sample.jsonl`` and
``fixtures/pages_adversarial.jsonl``):

* the recorded calls replayed into a fresh ``Parser`` print the same tree
  (``walk.print_tree``) and return the same context kinds as the live run;
* the ``Tokeniser`` run against the replaying delegate makes the same calls,
  with the same arguments, as it made against the live parser.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
from htmlgraft.nodes import Comment, Doctype, Element, EndTag  # noqa: E402
from htmlgraft.walk import print_tree  # noqa: E402


def _pages():
    out = []
    for name in ("pages_sample.jsonl", "pages_adversarial.jsonl"):
        with open(os.path.join(ROOT, "fixtures", name), encoding="utf-8") as f:
            out += [json.loads(line) for line in f if line.strip()]
    return out


PAGES = _pages()


def _canon(arg):
    if isinstance(arg, Element):
        return ("el", arg.name, sorted((arg.attrs or {}).items()), arg.selfclose)
    if isinstance(arg, EndTag):
        return ("end", arg.name)
    if isinstance(arg, (Comment, Doctype)):
        return (type(arg).__name__, "".join(arg.data))
    return arg


@pytest.mark.parametrize("page", PAGES, ids=[p["url"] for p in PAGES])
def test_parse_replay_matches_live(page):
    rec, live_doc = layers.record(page["html"])
    parser, kinds = layers.replay_parse(rec.calls)
    assert kinds == [c[2] for c in rec.calls]
    assert print_tree(parser.document) == print_tree(live_doc)


@pytest.mark.parametrize("page", PAGES, ids=[p["url"] for p in PAGES])
def test_lexer_replay_makes_the_recorded_calls(page):
    rec, _ = layers.record(page["html"])
    replayer = layers.replay_lexer(page["html"], rec.calls, layers.CheckingReplayer)
    want = [(name, tuple(_canon(a) for a in args)) for name, args, _ in rec.calls]
    got = [(name, tuple(_canon(a) for a in args)) for name, args in replayer.seen]
    assert got == want
    assert any(name == "can_merge_text" for name, _ in got)
