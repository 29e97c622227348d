"""Tree traversal, text-node coalescing and html5lib-style printing.

Re-implements /root/reference/lib/traversal.js: ``traverse`` yields
(START/END/DATA/COMMENT/DOCTYPE) events, skipping synthetic ``#``-prefixed
elements (traversal.js:73-77); ``_coalesce`` merges adjacent DATA events
(traversal.js:101-112); ``print_tree`` renders the html5lib golden format
(traversal.js:148-185) -- attributes and doctype data are NOT printed, matching
the reference's TODOs at traversal.js:165-167,179.

``descendants`` is the walk for tree consumers (the DOM operators in
``domops`` and ``linkops``): every node below a root, in document order, with
its depth, ``#`` wrappers included, so a consumer that keeps ancestor state
pops it by depth.  Two walks stay separate: ``traverse`` is the reference
port the golden tests compare against, and ``extract.analyze_page`` is the
parse stage's per-page hot path, which fuses the DOM print, scoring and
links into one loop without a generator step per node.  Text nodes are
``str`` only; the lexer produces no other text type.
"""

from __future__ import annotations

from .nodes import Comment, Doctype, Document, Element

START = "START"
END = "END"
DATA = "DATA"
COMMENT = "COMMENT"
DOCTYPE = "DOCTYPE"


def traverse(node):
    # Iterative (explicit stack): adversarially deep documents must not blow
    # the Python recursion limit inside an executor task.
    stack = [iter((node,))]
    while stack:
        it = stack[-1]
        advanced = False
        for node in it:
            if isinstance(node, tuple):  # pending END event
                yield node
            elif isinstance(node, str):
                yield (DATA, node)
            elif isinstance(node, Document):
                stack.append(iter(node.children))
                advanced = True
                break
            elif isinstance(node, Element):
                if node.name[:1] == "#":
                    # synthetic grouping element (e.g. '#reparented'), flattened
                    stack.append(iter(node.children))
                else:
                    yield (START, node.name, _attr_list(node.attrs))
                    stack.append(
                        iter(tuple(node.children) + ((END, node.name),))
                    )
                advanced = True
                break
            elif isinstance(node, Doctype):
                yield (DOCTYPE, node)
            elif isinstance(node, Comment):
                yield (COMMENT, "".join(node.data))
        if not advanced:
            stack.pop()


def descendants(node):
    """Yield (depth, child) for every node below ``node`` in document
    order: elements (``#`` wrappers included), text, comments and
    doctypes.  Depth 0 is ``node``'s own children.  Iterative, like
    ``traverse``, so adversarially deep documents are safe."""
    its = [iter(node.children)]
    while its:
        for child in its[-1]:
            yield len(its) - 1, child
            if type(child) is Element:
                its.append(iter(child.children))
                break
        else:
            its.pop()


def coalesce(stream):
    last = None
    for x in stream:
        if x[0] == DATA:
            last = last + x[1] if last is not None else x[1]
        else:
            if last:  # NB empty string stays buffered, like JS truthiness
                yield (DATA, last)
                last = None
            yield x
    if last:
        yield (DATA, last)


def _attr_list(attrs):
    if not attrs:
        return []
    return sorted(({"name": k, "value": v} for k, v in attrs.items()),
                  key=lambda a: a["name"])


def print_tree(node) -> str:
    """html5lib-format rendering of ``traverse(node)``."""
    out = []
    depth = 0
    for token in coalesce(traverse(node)):
        indent = "  " * depth
        kind = token[0]
        if kind == START:
            out.append(f"| {indent}<{token[1]}>\n")
            depth += 1
        elif kind == END:
            depth -= 1
        elif kind == DATA:
            out.append(f'| {indent}"{token[1]}"\n')
        elif kind == COMMENT:
            out.append(f"| {indent}<!--{token[1]}-->\n")
        elif kind == DOCTYPE:
            out.append(f"| {indent}<!doctype>\n")
    return "".join(out)


def tree_to_jsonable(node):
    """Canonical JSON form for exact tree comparison against Node-emitted
    fixtures: adjacent string children coalesced, attrs sorted by name,
    synthetic '#'-elements KEPT (they are part of the tree shape)."""
    if isinstance(node, Document):
        return {"t": "doc", "c": _children_json(node.children)}
    if isinstance(node, Element):
        attrs = (
            sorted((k, v) for k, v in node.attrs.items()) if node.attrs else []
        )
        return {"t": "el", "n": node.name, "a": attrs,
                "c": _children_json(node.children)}
    if isinstance(node, Comment):
        return {"t": "comment", "d": "".join(node.data)}
    if isinstance(node, Doctype):
        return {"t": "doctype", "d": "".join(node.data)}
    return node  # str


def _children_json(children):
    out = []
    for child in children:
        j = tree_to_jsonable(child)
        if isinstance(j, str) and out and isinstance(out[-1], str):
            out[-1] += j
        else:
            out.append(j)
    return [c for c in out if not (isinstance(c, str) and c == "")]
