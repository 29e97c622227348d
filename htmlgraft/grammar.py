"""Element-class schema and rule assignment.

Re-implements the declarative schema semantics of the reference parser
(/root/reference/lib/schema.js) over the data tables in ``_tables.py``:

* 64 element equivalence classes encoded as bits of an (arbitrary-precision)
  int; cofinite sets are negative ints, matching JS BigInt semantics
  (schema.js:100-128).
* ~40 compiled ``Rule`` objects (schema.js:399-741).
* context-dependent class assignment ``child_rule`` (schema.js:960-1016),
  including the three attribute-sensitive cases (<input type=hidden>,
  <font color|face|size>, <annotation-xml encoding=...>).
* the document/html-level insertion-mode progression ``sibling_rule``
  (schema.js:1019-1032) including the reference's quirk of referencing the
  undefined rule ``R.beforeDoctype`` (evaluates to "no update").

Deliberate reference quirks preserved (do NOT "fix" toward WHATWG):
* In the math namespace, ``<font>`` without a color/face/size attribute makes
  childRule return a bare class id (schema.js:965); every caller destructures
  the return value, so the reference throws a TypeError.  We raise
  ``JsProtoQuirk`` at the same call sites via ``_not_iterable``.
* Tag names that collide with JS ``Object.prototype`` keys (``constructor``,
  ``toString``, ...) hit the prototype chain in the reference's plain-object
  rule maps and make parsing throw; mirrored via ``JS_PROTO_KEYS``.
"""

from __future__ import annotations

from . import _tables as T

NONE = 0
ANY = -1

CLASS_IDS = T.CLASS_IDS
C = dict(T.VECTORS)  # name -> bitvector (int); includes combos

# Namespace flags (schema.js:367-371)
NS_HTML = 1 << 0
NS_SVG = 1 << 1
NS_MATH = 1 << 2

# Keys found on JS Object.prototype: plain-object lookups in the reference
# (rule maps, contentMap, `name in attrs`) hit these via the prototype chain.
JS_PROTO_KEYS = frozenset(
    {
        "constructor",
        "hasOwnProperty",
        "isPrototypeOf",
        "propertyIsEnumerable",
        "toLocaleString",
        "toString",
        "valueOf",
        "__defineGetter__",
        "__defineSetter__",
        "__lookupGetter__",
        "__lookupSetter__",
        "__proto__",
    }
)


class ParseQuirkError(Exception):
    """Raised where the reference implementation throws (e.g. TypeError on
    destructuring a non-iterable childRule result, or prototype-chain hits)."""


class Rule:
    __slots__ = (
        "name",
        "namespace",
        "clearContext",
        "closableAncestors",
        "escalate",
        "content",
        "trap",
        "pathsFor",
        "paths",
        "siblingRules",
        "allowAutoClose",
        "mergesText",
    )

    def __init__(self, name: str, r: dict):
        self.name = name
        self.namespace = r["namespace"]
        self.clearContext = r["clearContext"]
        self.closableAncestors = r["closableAncestors"]
        self.escalate = r["escalate"]
        self.content = r["content"]
        self.trap = r["trap"]
        self.pathsFor = r["pathsFor"]
        self.paths = r["paths"]
        self.siblingRules = r["siblingRules"]
        self.allowAutoClose = r["allowAutoClose"]
        # Precomputed for ``Parser.can_merge_text``: the rule takes TEXT and
        # SPACE children as they are (no escalate/extend, no foster-parent
        # trap), and appending one cannot change the rule (no sibling rules).
        text, space = C["TEXT"], C["SPACE"]
        self.mergesText = (
            bool(self.content & text)
            and bool(self.content & space)
            and not self.trap & (text | space)
            and not self.siblingRules
        )

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Rule {self.name}>"


RULES: dict[str, Rule] = {k: Rule(k, v) for k, v in T.RULES_RAW.items()}

# name -> (classId, Rule) maps per namespace (schema.js:751-955)
_RULE_MAPS: dict[str, dict[str, tuple[int, Rule]]] = {
    ns: {name: (cid, RULES[rname]) for name, (cid, rname) in m.items()}
    for ns, m in T.RULE_MAPS.items()
}
BREAKOUT_RULES = _RULE_MAPS["breakout"]
HTML_RULES = _RULE_MAPS["html"]
PHRASING_RULES = _RULE_MAPS["phrasing"]
MATH_RULES = _RULE_MAPS["math"]
SVG_RULES = _RULE_MAPS["svg"]

DOCUMENT_RULE = RULES["documentRule"]
FRAGMENT_RULE = RULES["fragmentRule"]

_eq = CLASS_IDS


def _map_get(rules: dict, name: str):
    """`rules[name] ?? rules['#default']` with the JS prototype-chain quirk."""
    hit = rules.get(name)
    if hit is not None:
        return hit
    if name in JS_PROTO_KEYS:
        # The reference finds a function via the prototype chain and later
        # throws while destructuring it (verified under Node 20).
        raise ParseQuirkError(
            "childRule is not a function or its return value is not iterable"
        )
    return rules["#default"]


def _has_special_font_attribute(attrs) -> bool:
    # schema.js:809-815: any attribute literally named color/face/size
    if not attrs:
        return False
    for name in attrs:
        if name == "color" or name == "face" or name == "size":
            return True
    return False


def _lowercase_equiv(s1: str, s2: str) -> bool:
    # schema.js:821-827: byte-wise `| 32` comparison (NOT full lowercasing)
    if len(s1) != len(s2):
        return False
    for a, b in zip(s1, s2):
        if (ord(a) | 32) != (ord(b) | 32):
            return False
    return True


def _has_type_hidden_attribute(attrs) -> bool:
    # schema.js:817-819; `attrs.type` is an own-property lookup
    if not attrs:
        return False
    v = attrs.get("type")
    return bool(v) and _lowercase_equiv(v, "hidden")


_C_p = T.VECTORS["p"]
_C_table = T.VECTORS["table"]
_C_select = T.VECTORS["select"]
_CR_CTX_MASK = _C_p | _C_table | _C_select
# HTML-namespace results memo: one dict per context value
# (closableAncestors & _CR_CTX_MASK, 8 values), keyed by tag name.
# Bound on the memo: only names with an explicit rule get their own key.
# Every other (non-proto-key) name resolves to the ruleset's #default with no
# name-dependent special-casing, so all unknown names share one sentinel key
# per ctx — the memo stays O(|rule tables| * 8 ctx values) no matter how many
# distinct made-up tag names a document emits (long-lived executor workers
# must not grow document-controlled caches).  <input> is never stored: its
# class depends on type=hidden, so a hit on the name alone would be wrong.
_CR_MEMO = {
    ctx: {}
    for ctx in {a | b | c for a in (0, _C_p) for b in (0, _C_table)
                for c in (0, _C_select)}
}
_CR_KNOWN = frozenset(HTML_RULES) | frozenset(PHRASING_RULES)
_CR_UNKNOWN = "\x00#unknown"


def child_rule(name: str, attrs, frame):
    """schema.js:960-1016.  ``frame`` provides .id, .namespace,
    .closableAncestors (the reference destructures those three).

    Returns (classId, Rule) -- or raises ParseQuirkError where the reference
    throws (math-namespace <font> without special attrs returns a bare int
    there, schema.js:965, and all callers destructure it).
    """
    namespace = frame.namespace if frame.namespace else NS_HTML
    if namespace & NS_MATH:
        rule = _map_get(MATH_RULES, name)
        rid = rule[0]
        if rid == _eq["HtmlFont"]:
            if _has_special_font_attribute(attrs):
                return rule
            # reference returns bare `eq.OtherForeign`; callers destructure -> throw
            raise ParseQuirkError(
                "childRule is not a function or its return value is not iterable"
            )
        if rid == _eq["svg"] and frame.id != _eq["EmbedXml"]:
            return MATH_RULES["#default"]
        if rid == _eq["EmbedXml"] and attrs and attrs.get("encoding"):
            v = attrs["encoding"]
            if _lowercase_equiv(v, "text/html") or _lowercase_equiv(
                v, "application/xhtml+xml"
            ):
                return (_eq["EmbedHtml"], RULES["inEmbedHtml"])
        return rule

    if namespace & NS_SVG:
        rule = _map_get(SVG_RULES, name)
        if rule[0] == _eq["HtmlFont"] and not _has_special_font_attribute(attrs):
            return SVG_RULES["#default"]
        return rule

    # Hot HTML-namespace path: the result is a pure function of
    # (name, closableAncestors & (p|table|select)) except for <input>,
    # whose class depends on type=hidden.
    ctx = frame.closableAncestors & _CR_CTX_MASK
    memo = _CR_MEMO[ctx]
    hit = memo.get(name)
    if hit is not None:
        return hit
    if name in _CR_KNOWN:
        hit = _child_rule_html(name, attrs, ctx)
        if name != "input":
            memo[name] = hit
        return hit
    if name in JS_PROTO_KEYS:
        # proto-key names must raise per call, never be memoized
        return _child_rule_html(name, attrs, ctx)
    hit = memo.get(_CR_UNKNOWN)
    if hit is None:
        hit = memo[_CR_UNKNOWN] = _child_rule_html(name, attrs, ctx)
    return hit


def _child_rule_html(name: str, attrs, ctx: int):
    ruleset = PHRASING_RULES if ctx & _C_p else HTML_RULES
    rule = _map_get(ruleset, name)
    rid = rule[0]

    if rid == _eq["input"]:
        if _has_type_hidden_attribute(attrs):
            return (_eq["hiddenInput"], RULES["voidRule"])
        return rule
    if rid == _eq["select"]:
        if ctx & _C_table:
            return (_eq["select"], RULES["inSelectInTable"])
        return HTML_RULES["select"]
    if rid == _eq["option"]:
        if ctx & _C_select:
            return (_eq["option"], RULES["optionInSelect"])
        return rule
    if rid == _eq["optgroup"]:
        if ctx & _C_select:
            return (_eq["optgroup"], RULES["optgroupInSelect"])
        return rule
    return rule


_C_html = T.VECTORS["html"]
_C_DOCTYPE = T.VECTORS["DOCTYPE"]
_C_frameset = T.VECTORS["frameset"]
_C_body = T.VECTORS["body"]
_C_head = T.VECTORS["head"]
_ID_html = _eq["html"]


def sibling_rule(frame, name, id_, all_opened):
    """schema.js:1019-1032.  Returns a Rule or None ('no update').

    NB the reference references the *undefined* ``R.beforeDoctype`` when the
    document has neither an <html> child nor a DOCTYPE yet; via the `!= null`
    guard in the tree builder that means "no update" -- modelled as None here.
    """
    parent_id = frame.id
    children = frame.children
    if parent_id == -1:  # '#document'
        if children & _C_html:
            if all_opened & _C_frameset:
                return RULES["afterHtmlAfterFrameset"]
            return RULES["afterHtmlAfterBody"]
        if children & _C_DOCTYPE:
            return RULES["beforeHtml"]
        return None  # R.beforeDoctype is undefined in the reference
    if parent_id == _ID_html:
        if children & _C_frameset:
            return RULES["afterFrameset"]
        if children & _C_body:
            return RULES["afterBody"]
        if children & _C_head:
            return RULES["afterHead"]
        return RULES["beforeHead"]
    return None
