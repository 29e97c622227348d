"""Token-stream identity against reference-generated goldens, and
fast-path vs generic-DFA equivalence of the tokeniser."""

import json
import pathlib

import pytest

from htmlgraft import Parser, lexer, print_tree
from htmlgraft.lexer import Tokeniser
from htmlgraft.nodes import Comment, Doctype

FIXTURES = pathlib.Path(__file__).resolve().parent.parent / "fixtures"


class RecordingDelegate:
    """Mirror of the dummy delegate in tools/gen_fixtures.mjs (returns 0)."""

    def __init__(self):
        self.calls = []

    @staticmethod
    def _attrs(t):
        attrs = getattr(t, "attrs", None)
        if attrs is None:
            return None
        return [[k, v] for k, v in attrs.items()]

    def write_tag(self, t):
        self.calls.append(["tag", t.name, self._attrs(t), bool(t.selfclose)])
        return 0

    def write_end_tag(self, t):
        self.calls.append(["endtag", t.name, self._attrs(t)])
        return 0

    def write_data(self, d):
        self.calls.append(["data", d])
        return 0

    def write_space(self, d, allow=None):
        self.calls.append(["space", d, allow])
        return 0

    def write_comment(self, t):
        self.calls.append(["comment", "".join(t.data)])
        return 0

    def write_doctype(self, t):
        self.calls.append(["doctype", "".join(t.data)])
        return 0

    def write_eof(self):
        self.calls.append(["eof"])
        return 0


def _tokenize(s):
    d = RecordingDelegate()
    Tokeniser(d).parse(s)
    return d.calls


def _load(name):
    out = []
    with open(FIXTURES / name, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                out.append(json.loads(line))
    return out


TOKENS = _load("tokens.jsonl")


def _coalesce_chunks(calls):
    """Merge adjacent data/space chunk calls: the fast-path regexes may split
    a run (e.g. comment/bogus data around '-') that the DFA lexes as one
    token; the assembled token objects are identical, and for raw data calls
    adjacency-merge gives a canonical form on both sides."""
    out = []
    for c in calls:
        if c[0] == "data" and out and out[-1][0] == "data":
            out[-1] = ["data", out[-1][1] + c[1]]
        else:
            c = list(c)
            if c[0] in ("tag", "endtag") and c[2]:
                # JS object key enumeration puts integer-like attr names
                # first; attribute ORDER is semantically irrelevant in the
                # reference (first-write-wins, sorted on output), so compare
                # order-insensitively.
                c[2] = sorted(map(tuple, c[2]))
            out.append(c)
    return out


@pytest.mark.parametrize("fx", TOKENS, ids=[f["id"] for f in TOKENS])
def test_token_stream_golden(fx):
    if fx.get("error"):
        with pytest.raises(Exception):
            _tokenize(fx["input"])
        return
    ours = _coalesce_chunks(_tokenize(fx["input"]))
    ref = _coalesce_chunks(fx["tokens"])
    assert ours == ref


# --- fast paths vs the generic DFA loop -------------------------------------

class _NeverMatches:
    """Stands in for a fast-path regex: counts the lexer's attempts and
    matches nothing, so every token takes the generic DFA loop."""

    def __init__(self):
        self.calls = 0

    def match(self, s, pos=0):
        self.calls += 1
        return None


def _page_inputs():
    out = []
    for name in ("pages_sample.jsonl", "pages_adversarial.jsonl"):
        out += [(p["url"], p["html"]) for p in _load(name)]
    return out


FAST_PATH_INPUTS = [(f["id"], f["input"]) for f in TOKENS] + _page_inputs()


def _outcomes(inputs):
    """Per input: the coalesced token stream (recording delegate, which
    has no ``can_merge_text``) and the printed tree (live parser, which
    does), or the error type where the input raises."""
    out = {}
    for key, s in inputs:
        try:
            tokens = _coalesce_chunks(_tokenize(s))
        except Exception as e:  # the error type is compared across runs
            tokens = type(e).__name__
        try:
            p = Parser()
            t = Tokeniser(p)
            t.parse(s)
            t.end_input()
            tree = print_tree(p.document)
        except Exception as e:  # the error type is compared across runs
            tree = type(e).__name__
        out[key] = (tokens, tree)
    return out


def test_fast_paths_match_generic_dfa(monkeypatch):
    """The whole-tag regexes and the merged-text regex only ever agree with
    the DFA: with all three swapped for patterns that never match, every
    input gives the same coalesced token stream and the same tree."""
    fast = _outcomes(FAST_PATH_INPUTS)
    stand_ins = {}
    for name in ("_RE_FASTSTART", "_RE_FASTEND", "_RE_MERGED"):
        stand_ins[name] = _NeverMatches()
        monkeypatch.setattr(lexer, name, stand_ins[name])
    generic = _outcomes(FAST_PATH_INPUTS)
    for name, stand_in in stand_ins.items():
        assert stand_in.calls > 0, name
    differ = [key for key in fast if fast[key] != generic[key]]
    assert not differ, differ[:10]
