"""HTML tokeniser: double loop driving a table-based DFA.

Re-implements the reference tokeniser (/root/reference/lib/tokeniser.js) over
the extracted DFA tables (``_tables.py``).  The inner loop runs the DFA with
longest-match semantics (tokeniser.js:114-130); the outer loop dispatches on
the lexical token type and assembles start/end tags, comments, doctypes and
character references (tokeniser.js:132-382), calling the delegate's
``write_tag / write_end_tag / write_data / write_space / write_comment /
write_doctype / write_eof`` methods.  Each tag delegate call returns the
current parser context bitvector (the tree builder's ``tip.kind``), which
selects the next DFA start state (RawText/RcData vs Main, foreign-content
suppression of the content map; tokeniser.js:175-179, 265-268).  The
delegate never calls back into the tokeniser, so ``write`` keeps the whole
lexer state in locals and stores it once, when it returns.

Performance: in the Main state one dispatch on the first character picks a
whole-tag regex (end tag or start tag, see ``_RE_FASTSTART``) or a text-run
regex, and a match emits its token directly.  For the other hot "run"
states (rawtext, rcdata, quoted values, comment/bogus data) a compiled regex
extends the token in C instead of stepping the DFA per character.  The
regexes are equivalent to the DFA's longest match from those states; where
they may split a run that the DFA would lex as one token (comment data
around '-') the outer loop accumulates chunks so the result is identical.
Anything they do not match takes the generic DFA loop.  Equivalence with
that loop is asserted in tests/test_lexer_goldens.py
(``test_fast_paths_match_generic_dfa``).

Deliberate reference quirks preserved:
* The char U+0080 hits index 128 of the 128-entry eqClass table (undefined in
  JS) and ultimately raises a lexer error (tokeniser.js:121 with
  dfa.js:22-39; verified under Node).
* Newline normalisation: CR, CRLF, LF all emit '\\n' (tokeniser.js:140-164).
* Named character references are the reference's deliberately tiny subset
  (tokeniser.js:435-443) -- using the full WHATWG list would break fixture
  identity.
* ``<plaintext>`` tokenises as Main: the reference's ``S.PlainText`` is
  undefined at runtime (tokeniser.js:22 reads the non-existent ``S.TOP``).
* Attribute first-write-wins uses the JS ``in`` operator, which sees
  Object.prototype keys (tokeniser.js:239) -- an attribute named ``toString``
  etc. is always "already present" and ignored.
"""

from __future__ import annotations

import re

from . import _tables as T
from .grammar import C, JS_PROTO_KEYS, _lowercase_equiv
from .nodes import Comment, Doctype, Element, EndTag

_TOK = T.TOKENS
_S = T.STATES

# token ids
_errorToken = _TOK["errorToken"]
_data = _TOK["data"]
_rawtext = _TOK["rawtext"]
_rcdata = _TOK["rcdata"]
_nulls = _TOK["nulls"]
_space = _TOK["space"]
_newline = _TOK["newline"]
_amp = _TOK["amp"]
_lt = _TOK["lt"]
_charRefDecimal = _TOK["charRefDecimal"]
_charRefHex = _TOK["charRefHex"]
_charRefNamed = _TOK["charRefNamed"]
_charRefLegacy = _TOK["charRefLegacy"]
_mDeclStart = _TOK["mDeclStart"]
_commentStart = _TOK["commentStart"]
_commentData = _TOK["commentData"]
_commentEnd = _TOK["commentEnd"]
_bogusStart = _TOK["bogusStart"]
_bogusData = _TOK["bogusData"]
_bogusEnd = _TOK["bogusEnd"]
_startTag = _TOK["startTag"]
_endTag = _TOK["endTag"]
_startTag_ = _TOK["startTag_"]
_endTag_ = _TOK["endTag_"]
_startTagStart = _TOK["startTagStart"]
_endTagStart = _TOK["endTagStart"]
_startTagStart_ = _TOK["startTagStart_"]
_endTagStart_ = _TOK["endTagStart_"]
_tagEnd = _TOK["tagEnd"]
_attrSpace = _TOK["attrSpace"]
_attrSpaceNL = _TOK["attrSpaceNL"]
_commentDataNL = _TOK["commentDataNL"]
_tagSpace = _TOK["tagSpace"]
_tagSpaceNL = _TOK["tagSpaceNL"]
_attributeName_ = _TOK["attributeName_"]
_attributeName = _TOK["attributeName"]
_attributeAssign = _TOK["attributeAssign"]
_valueStartApos = _TOK["valueStartApos"]
_valueStartQuot = _TOK["valueStartQuot"]
_valueEnd = _TOK["valueEnd"]
_unquoted = _TOK["unquoted"]
_squoted = _TOK["squoted"]
_quoted = _TOK["quoted"]

# states
S_FAIL = _S["Fail"]
S_MAIN = _S["Main"]
S_RCDATA = _S["RcData"]
S_RAWTEXT = _S["RawText"]
S_BEFORE_ATTRIBUTE = _S["BeforeAttribute"]
S_BEFORE_ASSIGN = _S["BeforeAssign"]
S_BEFORE_VALUE = _S["BeforeValue"]
S_BEFORE_COMMENT_DATA = _S["BeforeCommentData"]
S_IN_COMMENT_DATA = _S["InCommentData"]
S_IN_BOGUS_COMMENT = _S["InBogusComment"]
S_VALUE_QUOTED = _S["ValueQuoted"]
S_VALUE_APOSED = _S["ValueAposed"]
S_VALUE_UNQUOTED = _S["ValueUnquoted"]

_EQ = T.EQ_CLASS
_TABLE = T.TABLE
_W = T.TABLE_WIDTH
_MIN_ACCEPTS = T.MIN_ACCEPTS
_FOREIGN = C["ForeignElement"]

# Content map (tokeniser.js:38-50); note 'plaintext' is absent on purpose,
# see module docstring.
_CONTENT_MAP = {
    "style": S_RAWTEXT,
    "script": S_RAWTEXT,
    "xmp": S_RAWTEXT,
    "iframe": S_RAWTEXT,
    "noembed": S_RAWTEXT,
    "noframes": S_RAWTEXT,
    "textarea": S_RCDATA,
    "title": S_RCDATA,
}

_TAGISH = re.compile(r"[?/!a-zA-Z]")

# --- fast-path run regexes (see module docstring) ---
# One per entry state; Main's has two alternatives (text run, space run).
_RE_MAIN = re.compile("(?:[^\x00\r\n\t &<\x80]+)|(?P<sp>[\t ]+)")
_RE_RAW = re.compile("[^\x00\r\n<\x80]+")
_RE_RCD = re.compile("[^\x00\r\n<&\x80]+")
_RE_VALQ = re.compile('[^\x00\r\n"&\x80]+')
_RE_VALS = re.compile("[^\x00\r\n'&\x80]+")
_RE_BOG = re.compile("[^\x00\r\n>\x80]+")
_RE_CMT = re.compile("[^\x00\r\n\x80-]+")
# ValueUnquoted: first char must not divert (CR LF ws & > /), continuation
# additionally allows '/' (dfa.js rows ValueUnquoted/Val).
_RE_VALU = re.compile("[^\r\n\t &>/\x80][^\r\n\t &>\x80]*")

# Merged text run (perf): when the delegate's ``can_merge_text()`` confirms
# that in the CURRENT tree context a space token and a data token are
# appended identically (content accepts both, no foster trap, no sibling
# rules, no table space re-kinding, empty formatting list), a whole
# words-and-spaces run is lexed as ONE data token instead of alternating
# data/space tokens.  The run must contain at least one non-space char:
# pure-space runs keep their space token so C.SPACE-vs-C.TEXT bookkeeping
# (FramesetOK / allOpened) stays exact.  Tree output is identical because
# adjacent text children are coalesced by every consumer.
_RE_MERGED = re.compile("[\t ]*[^\x00\r\n\t &<\x80][^\x00\r\n&<\x80]*")

# Whole-tag fast path (perf): a single C-level regex matches an ENTIRE
# common-shape tag — lowercase name, attributes with quoted/unquoted values —
# replacing ~4-6 outer-loop iterations per attribute with one.  The character
# classes are deliberately CONSERVATIVE SUBSETS of what the DFA accepts
# (lowercase-only names, no newline inside the tag so line counting stays
# exact, no NUL / CR / U+0080 / '&' anywhere): any tag the regex cannot match
# falls through to the generic DFA loop, so the fast path can only ever agree
# with it.  Verified semantics it replicates exactly (probed against the
# generic path; equivalence-tested in tests/test_lexer_goldens.py), with the
# attributes read back by ``_RE_FASTATTR.findall``:
# * attr spaces around '=' bind the value ('x = 1' -> x=1);
# * unquoted values take every non-space/>&-char including '/', '<', quotes;
# * first-name-wins incl. the JS Object.prototype-key quirk;
# * tag.attrs is created (possibly staying empty) iff >=1 attr name was seen;
# * selfclose iff the char directly before '>' is '/', EVEN when that '/'
#   also belongs to an unquoted value (the reference checks input[end-2]).
# NB unquoted values: a LEADING quote always starts a quoted value in the
# DFA (an unterminated one swallows the rest of the input), so the unquoted
# alternative must not accept it as a first char — only as a continuation.
_FT_VAL = (
    "\"[^\x00\r\n\"&\x80]*\""
    "|'[^\x00\r\n'&\x80]*'"
    "|[^\x00\r\n\t &>\x80\"'][^\x00\r\n\t &>\x80]*"
)
_RE_FASTSTART = re.compile(
    "<([a-z][a-z0-9]*)"
    "((?:[\t ]+[a-z][a-z0-9_:.\\-]*(?:[\t ]*=[\t ]*(?:" + _FT_VAL + "))?)*)"
    "[\t ]*/?>"
)
_RE_FASTEND = re.compile("</([a-z][a-z0-9]*)>")
_RE_FASTATTR = re.compile(
    "([a-z][a-z0-9_:.\\-]*)(?:[\t ]*=[\t ]*"
    "(?:\"([^\x00\r\n\"&\x80]*)\"|'([^\x00\r\n'&\x80]*)'"
    "|([^\x00\r\n\t &>\x80\"'][^\x00\r\n\t &>\x80]*)))?"
)


class LexerError(SyntaxError):
    pass


_HEX_DIGITS = set("0123456789abcdefABCDEF")
_DEC_DIGITS = set("0123456789")


def _parse_numeric(s: str, base: int) -> str:
    # tokeniser.js:418-427; JS parseInt takes the longest valid digit prefix
    # (the DFA-lexed slice may include the terminating ';').
    digits = _HEX_DIGITS if base == 16 else _DEC_DIGITS
    i = 0
    n_ = len(s)
    while i < n_ and s[i] in digits:
        i += 1
    n = int(s[:i], base)
    if 0x80 <= n <= 0x9F:
        return _WIN1252[n - 0x80]
    if 0xD800 <= n <= 0xDFFF:
        return "�"
    if 1 <= n <= 0x10FFFF:
        return chr(n)
    return "�"


_WIN1252 = (
    "€\x81‚ƒ„…†‡ˆ‰Š‹"
    "Œ\x8dŽ\x8f\x90‘’“”•–—"
    "˜™š›œ\x9džŸ"
)

# tokeniser.js:435-443 -- deliberately tiny subset, do not extend.
_NAMED_REFS = {
    "lt": "<", "LT": "<", "lt;": "<", "LT;": "<",
    "gt": ">", "GT": ">", "gt;": ">", "GT;": ">",
    "amp": "&", "AMP": "&", "amp;": "&", "AMP;": "&",
    "quot": '"', "QUOT": '"', "quot;": '"', "QUOT;": '"',
    "apos;": "'",
    "notin;": "∉",
}


class Tokeniser:
    """Push tokeniser; ``parse(input)`` == ``write(input); end()``."""

    __slots__ = (
        "delegate", "can_merge", "token_state", "anchor", "end", "pos",
        "line", "lastnl", "parser_context", "last_start_tag", "tag", "attr",
    )

    def __init__(self, delegate):
        self.delegate = delegate
        self.can_merge = getattr(delegate, "can_merge_text", None)
        self._reset()

    def _reset(self):
        self.token_state = T.INITIAL_STATE
        self.anchor = self.end = self.pos = 0
        self.line = 1
        self.lastnl = 0
        self.parser_context = 0
        self.last_start_tag = ""
        self.tag = None
        self.attr = None

    def parse(self, input_: str):
        self.write(input_)
        self.end_input()

    def end_input(self):
        if isinstance(self.tag, Comment):
            self.delegate.write_comment(self.tag)
        self.delegate.write_eof()
        self._reset()

    def write(self, s: str) -> None:  # noqa: C901 - mirrors the reference switch
        # The lexer state lives in locals until the end of the call (see the
        # module docstring).  The fast-path regexes are read from the module
        # here, per call, so a test can swap them out.
        length = len(s)
        delegate = self.delegate
        write_tag = delegate.write_tag
        write_end_tag = delegate.write_end_tag
        write_data = delegate.write_data
        can_merge = self.can_merge
        re_merged = _RE_MERGED
        re_faststart = _RE_FASTSTART
        re_fastend = _RE_FASTEND
        table = _TABLE
        eq = _EQ
        pos = self.pos
        anchor = self.anchor
        end = self.end
        token_state = self.token_state
        tag = self.tag
        attr = self.attr
        parser_context = self.parser_context
        last_start_tag = self.last_start_tag
        line = self.line
        lastnl = self.lastnl

        while pos < length:
            token_type = 0
            if token_state == S_MAIN and tag is None:
                # one dispatch on the first character: fast end tag, fast
                # start tag, or a text run; anything else (and any tag the
                # whole-tag regexes reject) takes the generic DFA loop
                if s[pos] == "<":
                    if s[pos + 1 : pos + 2] == "/":
                        m = re_fastend.match(s, pos)
                        if m is not None:
                            anchor = end = pos = m.end()
                            parser_context = write_end_tag(EndTag(m[1]))
                            continue
                    else:
                        m = re_faststart.match(s, pos)
                        if m is not None:
                            name, raw_attrs = m.groups()
                            mend = m.end()
                            last_start_tag = name
                            el = Element(name)
                            if raw_attrs:
                                attrs = el.attrs = {}
                                for an, dq, sq, uq in _RE_FASTATTR.findall(raw_attrs):
                                    if an in attrs or an in JS_PROTO_KEYS:
                                        continue
                                    attrs[an] = dq or sq or uq
                            if s[mend - 2] == "/":
                                el.selfclose = True
                            anchor = end = pos = mend
                            parser_context = pc = write_tag(el)
                            token_state = (
                                _CONTENT_MAP.get(name, S_MAIN)
                                if not (pc & _FOREIGN) else S_MAIN
                            )
                            continue
                else:
                    if can_merge is not None and can_merge():
                        m = re_merged.match(s, pos)
                        if m is not None:
                            end = m.end()
                            write_data(s[pos:end])
                            anchor = pos = end
                            continue
                    m = _RE_MAIN.match(s, pos)
                    if m is not None:
                        end = m.end()
                        if m.lastindex is None:
                            write_data(s[pos:end])
                            anchor = pos = end
                            continue
                        token_type = _space
            # --- fast path: extend run tokens with a C-level regex ---
            elif token_state == S_RAWTEXT:
                m = _RE_RAW.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _rawtext
            elif token_state == S_RCDATA:
                m = _RE_RCD.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _rcdata
            elif token_state == S_VALUE_QUOTED:
                m = _RE_VALQ.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _quoted
            elif token_state == S_VALUE_APOSED:
                m = _RE_VALS.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _squoted
            elif token_state == S_IN_COMMENT_DATA:
                m = _RE_CMT.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _commentData
            elif token_state == S_IN_BOGUS_COMMENT:
                m = _RE_BOG.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _bogusData
            elif token_state == S_VALUE_UNQUOTED:
                m = _RE_VALU.match(s, pos)
                if m is not None:
                    end = m.end()
                    token_type = _unquoted

            if token_type:
                pos = end
            else:
                # --- generic DFA longest-match loop (tokeniser.js:114-130) ---
                state = token_state
                match = S_FAIL
                while state > 0 and pos < length:
                    c = ord(s[pos])
                    pos += 1
                    if c <= 127:
                        cc = eq[c]
                    elif c == 128:
                        # eqClass[128] is undefined in JS -> transition to
                        # 'undefined', loop exits without accepting.
                        break
                    else:
                        cc = 4  # defaultClass
                    state = table[state * _W + cc]
                    if state >= _MIN_ACCEPTS:
                        match = state
                        end = pos
                token_type = table[match * _W]

            # --- outer switch (tokeniser.js:132-382) ---
            if token_type == _data or token_type == _rawtext or token_type == _rcdata \
                    or token_type == _amp or token_type == _lt:
                if attr is not None:
                    attr[1] += s[anchor:end]
                else:
                    write_data(s[anchor:end])

            elif token_type == _space:
                if tag is None:
                    if end < length and s[end] == "<":
                        nxt = s[end + 1] if end + 1 < length else None
                        # JS: /[?/!a-zA-Z]/.test(input[end+1]) -- out-of-range
                        # yields the string "undefined", which matches.
                        tagish = True if nxt is None else bool(_TAGISH.search(nxt))
                        allow_foster = not tagish
                    else:
                        allow_foster = True
                    delegate.write_space(s[anchor:end], allow_foster)
                elif attr is not None:
                    attr[1] += s[anchor:end]

            elif token_type == _newline:
                lastnl = pos
                line += 1
                if tag is None:
                    delegate.write_space("\n")  # newline normalisation
                elif attr is not None:
                    attr[1] += "\n"

            elif token_type == _startTag or token_type == _startTag_:
                name = s[anchor + 1 : end - 1]
                if token_type == _startTag_:
                    name = name.lower()
                last_start_tag = name
                parser_context = pc = write_tag(Element(name))
                token_state = (
                    _CONTENT_MAP.get(name, S_MAIN) if not (pc & _FOREIGN) else S_MAIN
                )
                tag = attr = None

            elif token_type == _startTagStart or token_type == _startTagStart_:
                name = s[anchor + 1 : end]
                if token_type == _startTagStart_:
                    name = name.lower()
                last_start_tag = name
                tag = Element(name)
                token_state = S_BEFORE_ATTRIBUTE

            elif token_type == _endTag or token_type == _endTag_:
                name = s[anchor + 2 : end - 1]
                if token_type == _endTag_:
                    name = name.lower()
                if token_state == S_MAIN or last_start_tag == name:
                    parser_context = write_end_tag(EndTag(name))
                    token_state = S_MAIN
                    tag = attr = None
                else:
                    write_data(s[anchor:end])

            elif token_type == _endTagStart or token_type == _endTagStart_:
                name = s[anchor + 2 : end]
                if token_type == _endTagStart_:
                    name = name.lower()
                if token_state == S_MAIN or last_start_tag == name:
                    tag = EndTag(name)
                    token_state = S_BEFORE_ATTRIBUTE
                else:
                    write_data(s[anchor:end])

            elif token_type == _attributeName or token_type == _attributeName_:
                if tag.attrs is None:
                    tag.attrs = {}
                if attr is not None:  # complete previous attribute
                    tag.attrs[attr[0]] = attr[1]
                name = s[anchor:end]
                if token_type == _attributeName_:
                    name = name.lower()
                # first-write-wins; JS `in` sees Object.prototype keys
                if name in tag.attrs or name in JS_PROTO_KEYS:
                    attr = None
                else:
                    attr = [name, ""]
                token_state = S_BEFORE_ASSIGN

            elif token_type == _unquoted:
                if attr is not None:
                    attr[1] += s[anchor:end]
                token_state = S_VALUE_UNQUOTED

            elif token_type == _squoted or token_type == _quoted:
                if attr is not None:
                    attr[1] += s[anchor:end]

            elif token_type == _tagEnd:
                if attr is not None:
                    tag.attrs[attr[0]] = attr[1]
                if end >= 2 and s[end - 2] == "/":
                    if isinstance(tag, Element):
                        tag.selfclose = True
                is_element = isinstance(tag, Element)
                parser_context = pc = self._emit_tag(tag)
                token_state = (
                    _CONTENT_MAP.get(last_start_tag, S_MAIN)
                    if is_element and not (pc & _FOREIGN)
                    else S_MAIN
                )
                tag = attr = None

            elif token_type == _mDeclStart:
                if _lowercase_equiv(s[anchor + 2 : anchor + 9], "doctype"):
                    tag = Doctype()
                    token_state = S_IN_BOGUS_COMMENT
                else:
                    tag = Comment()
                    tag.data.append(s[anchor + 2 : end])
                    token_state = S_BEFORE_COMMENT_DATA

            elif token_type == _commentStart:
                tag = Comment()
                token_state = S_BEFORE_COMMENT_DATA

            elif token_type == _bogusStart:
                tag = Comment()
                token_state = S_IN_BOGUS_COMMENT

            elif token_type == _bogusData:
                tag.data.append(s[anchor:end])
                token_state = S_IN_BOGUS_COMMENT

            elif token_type == _commentData:
                tag.data.append(s[anchor:end])
                token_state = S_IN_COMMENT_DATA

            elif token_type == _commentEnd or token_type == _bogusEnd:
                parser_context = self._emit_tag(tag)
                tag = attr = None
                token_state = S_MAIN

            elif token_type == _nulls:
                if (parser_context & _FOREIGN) or token_state != S_MAIN:
                    replaced = "�" * (end - anchor)
                    if tag is not None and isinstance(tag, Comment):
                        tag.data.append(replaced)
                    else:
                        write_data(replaced)

            elif token_type == _charRefHex or token_type == _charRefDecimal:
                if token_type == _charRefHex:
                    base, start = 16, anchor + 3
                else:
                    base, start = 10, anchor + 2
                decoded = _parse_numeric(s[start:end], base)
                if tag is None:
                    write_data(decoded)
                elif attr is not None:
                    attr[1] += decoded
                if token_state == S_BEFORE_VALUE:
                    token_state = S_VALUE_UNQUOTED

            elif token_type == _charRefNamed or token_type == _charRefLegacy:
                ref = s[anchor + 1 : end]
                decoded = _NAMED_REFS.get(ref) or s[anchor:end]
                if tag is None:
                    write_data(decoded)
                elif attr is not None:
                    attr[1] += decoded
                if token_state == S_BEFORE_VALUE:
                    token_state = S_VALUE_UNQUOTED

            elif token_type == _commentDataNL:
                tag.data.append("\n")
                lastnl = pos
                line += 1
                token_state = S_IN_COMMENT_DATA

            elif token_type == _tagSpaceNL:
                lastnl = pos
                line += 1
                # don't change entry state

            elif token_type == _attrSpaceNL:
                if attr is not None:
                    tag.attrs[attr[0]] = attr[1]
                    attr = None
                lastnl = pos
                line += 1
                token_state = S_BEFORE_ATTRIBUTE

            elif token_type == _tagSpace:
                pass  # don't change state

            elif token_type == _attributeAssign:
                token_state = S_BEFORE_VALUE
            elif token_type == _valueStartQuot:
                token_state = S_VALUE_QUOTED
            elif token_type == _valueStartApos:
                token_state = S_VALUE_APOSED

            elif token_type == _valueEnd or token_type == _attrSpace:
                if attr is not None:
                    tag.attrs[attr[0]] = attr[1]
                    attr = None
                token_state = S_BEFORE_ATTRIBUTE

            elif token_type == _errorToken:
                raise LexerError(f"Lexer error at line {line}:{pos - lastnl}")

            else:
                raise LexerError(f"unknown token {token_type}")

            anchor = pos = end

        self.pos = pos
        self.anchor = anchor
        self.end = end
        self.token_state = token_state
        self.tag = tag
        self.attr = attr
        self.parser_context = parser_context
        self.last_start_tag = last_start_tag
        self.line = line
        self.lastnl = lastnl

    def _emit_tag(self, tag):
        d = self.delegate
        kind = type(tag)
        if kind is Element:
            return d.write_tag(tag)
        if kind is EndTag:
            return d.write_end_tag(tag)
        if kind is Comment:
            return d.write_comment(tag)
        return d.write_doctype(tag)
