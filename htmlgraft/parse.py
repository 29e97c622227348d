"""Parser: token-stream reducer wrapping the tree builder.

Re-implements the reference parser (/root/reference/lib/parser.js): per-class
irregular start-tag behaviors (parser.js:124-198), end-tag conversions
(parser.js:218-303), after-body/frameset comment redirection modes
(parser.js:51-55, 329-343), foster-parenting setup via a synthetic
``#reparented`` element spliced before each <table> (parser.js:110-116),
frameset takeover of an unused <body> (parser.js:100-107), and EOF synthesis
of html/head/body (parser.js:347-354).

``parse(input)`` mirrors /root/reference/lib/index.js:12-18.
"""

from __future__ import annotations

from .builder import TreeBuilder
from .grammar import (
    BREAKOUT_RULES,
    C,
    CLASS_IDS as eq,
    DOCUMENT_RULE,
    HTML_RULES,
    JS_PROTO_KEYS as _JS_PROTO_KEYS,
    MATH_RULES,
    NS_HTML,
    NS_MATH,
    NS_SVG,
    RULES,
    SVG_RULES,
    child_rule,
)
from .lexer import Tokeniser
from .nodes import Document, Element

# parser.js:34-38
_leadingSpaceAdjust = C["table"] | C["caption"] | C["TBody"] | C["tr"]
_dontSetMode = (
    C["table"] | C["select"] | C["caption"] | C["TCell"] | C["svg"] | C["math"]
)

# lateral modes (parser.js:51-55)
_afterBody = 1 << 0
_afterAfterBody = 1 << 1
_afterFrameset = 1 << 2
_afterAfterFrameset = 1 << 3
_clearMode = 0b1000  # no way to escape afterAfterFrameset
_END_KIND = {}  # name -> generic end-tag kind (memo)
# Bound: unknown (non-proto-key) names all map to the three rulesets'
# #default ids, so they share one sentinel entry — the memo cannot be grown
# by documents emitting arbitrarily many distinct end-tag names (executor
# Python workers are long-lived; document-controlled caches must stay O(1)).
_EK_UNKNOWN = "\x00#unknown"

_openHooks = C["html"] | C["head"] | C["body"] | C["frameset"] | C["table"]

_C_TEXT = C["TEXT"]
_C_SPACE = C["SPACE"]
_C_COMMENT = C["COMMENT"]
_C_DOCTYPE = C["DOCTYPE"]
_C_Reformat = C["Reformat"]
_C_VoidElement = C["VoidElement"]
_C_FramesetOK = C["FramesetOK"]
_C_select = C["select"]
_C_form = C["form"]
_C_frameset = C["frameset"]
_C_img = C["img"]
_C_br = C["br"]
_C_p = C["p"]
_C_Heading = C["Heading"]
_C_body = C["body"]
_C_head = C["head"]
_C_html = C["html"]

# class ids hoisted out of the per-tag hot path (eq is a dict)
_ID_html = eq["html"]
_ID_head = eq["head"]
_ID_body = eq["body"]
_ID_frameset = eq["frameset"]
_ID_table = eq["table"]
_ID_select = eq["select"]
_ID_image = eq["image"]
_ID_img = eq["img"]
_ID_form = eq["form"]
_ID_svg = eq["svg"]
_ID_math = eq["math"]
_ID_br = eq["br"]
_ID_p = eq["p"]
_ID_Heading = eq["Heading"]

# SVG camelCase tag-name adjustments (parser.js:361-403)
_CORRECTED_SVG_TAG_NAMES = (
    "altGlyph", "altGlyphDef", "altGlyphItem", "animateColor", "animateMotion",
    "animateTransform", "clipPath", "feBlend", "feColorMatrix",
    "feComponentTransfer", "feComposite", "feConvolveMatrix",
    "feDiffuseLighting", "feDisplacementMap", "feDistantLight", "feDropShadow",
    "feFlood", "feFuncA", "feFuncB", "feFuncG", "feFuncR", "feGaussianBlur",
    "feImage", "feMerge", "feMergeNode", "feMorphology", "feOffset",
    "fePointLight", "feSpecularLighting", "feSpotLight", "feTile",
    "feTurbulence", "foreignObject", "glyphRef", "linearGradient",
    "radialGradient", "textPath",
)
_SVG_TAG_ADJUST = {n.lower(): n for n in _CORRECTED_SVG_TAG_NAMES}


class Parser:
    __slots__ = (
        "mode", "html", "head", "body", "bodyIndex", "builder", "n_tokens",
    )

    def __init__(self):
        # delegate-call counter (one per tokeniser write_* call); folded into
        # the parser so the pipeline needs no counting-wrapper delegate layer
        self.n_tokens = 0
        self.mode = 0
        self.html = None
        self.head = None
        self.body = None
        self.bodyIndex = None
        self.builder = TreeBuilder(Document(), DOCUMENT_RULE)
        self.builder.on_open(_openHooks, self._onopen)

    @property
    def document(self):
        return self.builder.document

    # ### tree-builder hooks (parser.js:81-118)

    def _onopen(self, name, id, node, node_parent, node_index):
        builder = self.builder
        if id == _ID_html:
            self.html = node
        elif id == _ID_head:
            builder.document.head = node
            self.head = node
            builder.stack[1].fosterParent = node  # html frame fosters to head
        elif id == _ID_body:
            self.bodyIndex = node_index
            builder.document.body = node
            self.body = node
        elif id == _ID_frameset:
            if self.body is None:
                self.bodyIndex = node_index
            elif self.body.name == "body":
                node_parent.children.pop()
                self.html.children[self.bodyIndex] = node
            builder.document.body = node
            self.body = node
        elif id == _ID_table:
            # foster-parent setup: splice '#reparented' before the table
            parent = Element("#reparented")
            builder.tip.fosterParent = parent
            siblings = node_parent.children
            table = siblings.pop()
            siblings.append(parent)
            siblings.append(table)

    # ### start tags (parser.js:124-198)

    def write_tag(self, item):
        self.n_tokens += 1
        builder = self.builder
        tip = builder.tip
        namespace = tip.namespace
        nesting = tip.nestingContext
        cid, rule = child_rule(item.name, item.attrs, tip)
        kind = 1 << cid

        self.mode &= _clearMode

        if cid == _ID_body or cid == _ID_head:
            # <body>/<head> escalate out of svg/math (parser.js:143-153)
            if namespace & (NS_SVG | NS_MATH):
                if namespace & NS_SVG:
                    name, fid = "svg", _ID_svg
                else:
                    name, fid = "math", _ID_math
                builder.try_close(name, 1 << fid)
                return builder.tip.kind
            return self._write_tag(item, cid, kind, rule)

        if cid == _ID_frameset:
            if builder.allOpened & ~_C_FramesetOK:
                return builder.tip.kind
            return self._write_tag(item, cid, _C_frameset, rule)

        if cid == _ID_select:
            if nesting & _C_select:
                builder.try_close("select", _C_select)
                return builder.tip.kind
            return self._write_tag(item, cid, _C_select, rule)

        if cid == _ID_image:
            return self._write_tag(Element("img", item.attrs), _ID_img, _C_img, rule)

        if cid == _ID_form:
            if (nesting & _C_form) == 0:
                self._write_tag(item, _ID_form, kind, rule)
            return builder.tip.kind

        if cid in _SELF_NESTING_IDS:
            if nesting & kind:
                builder.try_close_by_kind(kind)
            return self._write_tag(item, cid, kind, rule)

        return self._write_tag(item, cid, kind, rule)

    def _write_tag(self, item, cid, kind, rule):
        builder = self.builder
        if kind & _C_Reformat and builder.formatting:
            builder.reconstruct_formatting()

        in_svg = builder.tip.namespace & NS_SVG
        node = None
        if kind & _C_VoidElement or (item.selfclose and rule.allowAutoClose):
            if builder.try_append(item, kind):
                node = item
        else:
            if builder.try_open(item.name, item.attrs, cid, kind, rule):
                node = builder.tip.node
        if node is not None and in_svg:
            node.name = _SVG_TAG_ADJUST.get(node.name, node.name)
        return builder.tip.kind

    # ### end tags (parser.js:218-303)

    def write_end_tag(self, item):
        self.n_tokens += 1
        builder = self.builder
        name = item.name
        tip = builder.tip
        namespace = tip.namespace
        nesting = tip.nestingContext
        closable = tip.closableAncestors

        hit = BREAKOUT_RULES.get(name)
        cid = hit[0] if hit is not None else None

        if cid == _ID_br:
            # </br> -> <br> without attributes (parser.js:233-236)
            node = Element(name)
            _, rule = child_rule(node.name, None, tip)
            return self._write_tag(node, _ID_br, _C_br, rule)

        if cid == _ID_p:
            # </p> outside a <p> becomes <p></p> (parser.js:238-247)
            if not (closable & _C_p) and self.body is not None:
                node = Element(name)
                _, rule = HTML_RULES["p"]
                self._write_tag(node, _ID_p, _C_p, rule)
                builder.try_close(item.name, _C_p)
                return builder.tip.kind

        elif cid == _ID_Heading:
            builder.try_close_by_kind(_C_Heading)
            return builder.tip.kind

        elif cid == _ID_body:
            # </body> after head -> synthesize <body> (parser.js:256-264)
            if self.head is None or nesting & _C_head:
                _, rule = child_rule(item.name, None, tip)
                builder.try_open(item.name, {}, _ID_body, _C_body, rule)
            if self.body is not None and not (builder.tip.nestingContext & _dontSetMode):
                self.mode = _afterBody
            return builder.tip.kind

        elif cid == _ID_head:
            r = builder.tip.rule
            before_head = (
                r is RULES["documentRule"]
                or r is RULES["beforeHead"]
                or r is RULES["beforeHtml"]
            )
            if before_head:
                _, rule = child_rule(item.name, None, tip)
                builder.try_open(item.name, {}, _ID_head, _C_head, rule)
                builder.try_close(name, _C_head)
                return builder.tip.kind

        elif cid is None:
            # </html> is ignored but sets after-after mode (parser.js:278-283)
            if name == "html" and namespace & NS_HTML:
                if self.html is not None and not (nesting & _dontSetMode):
                    self.mode = (
                        _afterAfterFrameset
                        if builder.allOpened & _C_frameset
                        else _afterAfterBody
                    )
                return builder.tip.kind
            # </frameset> closes and sets mode (parser.js:285-291)
            if name == "frameset":
                if (
                    self.body is not None
                    and self.body.name == name
                    and not (nesting & _dontSetMode)
                ):
                    self.mode = _afterFrameset
                builder.try_close(item.name, _C_frameset)
                return builder.tip.kind

        # generic close: union of the name's class in all three namespaces
        # (pure function of the tag name -> memoized)
        key = name if (
            name in HTML_RULES or name in SVG_RULES or name in MATH_RULES
            or name in _JS_PROTO_KEYS
        ) else _EK_UNKNOWN
        kind = _END_KIND.get(key)
        if kind is None:
            kind = _END_KIND[key] = (
                (1 << _map_id(HTML_RULES, name))
                | (1 << _map_id(SVG_RULES, name))
                | (1 << _map_id(MATH_RULES, name))
            )
        builder.try_close(item.name, kind)
        return builder.tip.kind

    # ### character data / comments / doctype (parser.js:306-343)

    def can_merge_text(self) -> bool:
        """Perf gate for the lexer's merged-text fast path: True iff in the
        CURRENT context a space token and a data token are appended
        identically — same parent (content accepts both directly, so no
        escalate/extend), no foster trap, no sibling-rule tip mutation, no
        table space re-kinding (``_leadingSpaceAdjust``), and an empty
        formatting list (so ``reconstruct_formatting`` is a no-op).  A merged
        run always contains a non-space char, so C.TEXT is set in
        allOpened/children either way; C.SPACE may be missing, which no
        consumer can observe: sibling_rule only tests html/head/body/
        frameset/DOCTYPE bits, and the FramesetOK subset check already fails
        on C.TEXT (SPACE is inside FramesetOK).  The rule-only part of the
        test is precomputed as ``Rule.mergesText``."""
        builder = self.builder
        if builder.formatting:
            return False
        tip = builder.tip
        return tip.rule.mergesText and not tip.kind & _leadingSpaceAdjust

    def write_data(self, item):
        self.n_tokens += 1
        self.mode &= _clearMode
        builder = self.builder
        if builder.formatting:
            builder.reconstruct_formatting()
        builder.try_append(item, _C_TEXT)
        return builder.tip.kind

    def write_space(self, buff, allow_foster_parenting=False):
        self.n_tokens += 1
        self.mode &= _clearMode
        builder = self.builder
        kind = (
            _C_TEXT
            if allow_foster_parenting and builder.tip.kind & _leadingSpaceAdjust
            else _C_SPACE
        )
        if kind & _C_Reformat and builder.formatting:
            builder.reconstruct_formatting()
        builder.try_append(buff, kind)
        return builder.tip.kind

    def write_doctype(self, buff):
        self.n_tokens += 1
        self.mode &= _clearMode
        builder = self.builder
        builder.try_append(buff, _C_DOCTYPE)
        return builder.tip.kind

    def write_comment(self, item):
        self.n_tokens += 1
        builder = self.builder
        mode = self.mode
        if mode == _afterBody or mode == _afterFrameset:
            if self.html is not None:
                self.html.children.append(item)
        elif mode == _afterAfterFrameset or mode == _afterAfterBody:
            builder.document.children.append(item)
        else:
            builder.try_append(item, _C_COMMENT)
        return builder.tip.kind

    def write_eof(self):
        self.n_tokens += 1
        builder = self.builder
        if self.html is None:
            builder.try_open("html", {}, _ID_html, _C_html, RULES["beforeHead"])
        if self.head is None:
            if not builder.try_open("head", {}, _ID_head, _C_head, RULES["inHead"]):
                self.html.children.append(Element("head"))
        if self.body is None:
            if not builder.try_open("body", {}, _ID_body, _C_body, RULES["inBody"]):
                self.html.children.append(Element("body"))
        return builder.tip.kind


_SELF_NESTING_IDS = frozenset(
    eq[k]
    for k in (
        "DListItem", "Heading", "li", "p", "table", "TBody", "TCell",
        "a", "button", "nobr", "option", "tr",
    )
)


def _map_id(rules, name):
    hit = rules.get(name)
    if hit is None:
        from .grammar import JS_PROTO_KEYS, ParseQuirkError

        if name in JS_PROTO_KEYS:
            raise ParseQuirkError("Cannot convert undefined to a BigInt")
        hit = rules["#default"]
    return hit[0]


def parse(input_: str) -> Document:
    """index.js:12-18.  NB the reference's ``parse`` ends the tokeniser
    TWICE: ``lexer.parse(input)`` is write+end (tokeniser.js:107-110) and
    index.js then calls ``lexer.end()`` again — so ``writeEOF`` runs twice.
    Normally idempotent, but when the EOF <body> synthesis cannot open a
    body (e.g. EOF inside <template>), each writeEOF pushes a bare body
    element: ``<template>`` at EOF yields TWO sibling <body> nodes.
    Byte-identity requires replicating the double end (found by fuzz
    differential, tools/fuzz_diff.py)."""
    parser = Parser()
    lexer = Tokeniser(parser)
    lexer.parse(input_)
    lexer.end_input()
    return parser.document
