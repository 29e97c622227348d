"""Main-content extraction: tag/text-density scoring over the parsed tree.

The reference parser has no boilerplate-stripping stage (SURVEY.md §2C); this
module *defines* the deterministic extraction operator used by both the
fixture pipeline (applied to reference-parsed trees) and the Spark job
(applied to htmlgraft-parsed trees).  Byte-identity of extracted text per url
is anchored by (a) byte-identical trees and (b) this single implementation.

Algorithm (all constants fixed here):
1. Walk the tree once (``analyze_page``), skipping ``SKIP_TAGS`` subtrees for
   scoring and rendering (they are still walked for the DOM print and the
   links).
2. For every element compute subtree stats: visible text length, element
   count, link-text length (text under <a>).  Running totals over the walk
   give them as close-minus-open differences.
3. Score candidate containers (``CANDIDATE_TAGS``):
       score = text_len / (1 + tag_count) * (1 - link_density)^2 * ln(1 + text_len)
   link_density = link_text_len / text_len (0 when no text).  The ln(text)
   mass factor keeps a tiny-but-dense cell (e.g. a lone <td>) from beating a
   substantial content container.
4. Winner = highest score; ties broken by first close (post-order).
   Fallback: <body>, else the document root.
5. Render the winner subtree's text: DATA concatenated, a newline at every
   ``BLOCK_TAGS`` boundary; then per line: collapse [\\t\\n\\r\\f ]+ runs to a
   single space, strip, drop empty lines, join with '\\n'.  The walk records
   every unskipped render part in one list and each candidate's [start, end)
   span in it, so the winner's text is a slice join, not a second walk.

``extract_from_events`` (``_score_pass`` + ``_render_pass`` over an event
stream) is the reference the walk is tested against.
"""

from __future__ import annotations

import re
from math import log

from .walk import COMMENT, DATA, DOCTYPE, END, START, traverse

SKIP_TAGS = frozenset(
    """script style noscript template head nav header footer aside form
    iframe noembed noframes title textarea select option optgroup datalist
    svg math frameset frame""".split()
)

BLOCK_TAGS = frozenset(
    """address article aside blockquote body button caption center col
    colgroup dd details dialog dir div dl dt fieldset figcaption figure
    footer form h1 h2 h3 h4 h5 h6 header hgroup hr html li listing main menu
    nav ol p plaintext pre section summary table tbody td tfoot th thead tr
    ul br""".split()
)

CANDIDATE_TAGS = frozenset(
    """body div article main section td blockquote center""".split()
)

_WS_RUN = re.compile(r"[\t\n\r\f ]+")

# DOM-print size per page past which ``analyze_page`` stops printing.  The
# print is quadratic in nesting depth (two spaces of indent a level, as the
# reference prints): "<table><tr><td>" * 16000, 240 KB of input, prints
# 4.1 GB.  Counted in characters, which is the byte size of the ASCII print
# (text and comments may take up to 4 UTF-8 bytes a character).
DOM_BUDGET_BYTES = 32 << 20


class _Prefixes(dict):
    """DOM-print line prefix per depth: "| " plus two spaces a level,
    stored up to depth 255 (real pages nest far shallower), built past it."""

    def __missing__(self, depth):
        return "| " + "  " * depth


_PREFIX = _Prefixes((i, "| " + "  " * i) for i in range(256))


def collapse_ws(s: str) -> str:
    """``s`` with every [\\t\\n\\r\\f ]+ run collapsed to one space.  Without
    a double space and any of \\t \\n \\r \\f every run already is one space,
    so ``s`` comes back as is and the regex is skipped."""
    if "  " in s or "\t" in s or "\n" in s or "\r" in s or "\f" in s:
        return _WS_RUN.sub(" ", s)
    return s


def _finish_lines(raw: str) -> str:
    """Per line: collapse whitespace runs, strip, drop empty lines.  Strip
    goes first: no run crosses the first or last non-whitespace character,
    so the result is the same and blank lines skip the collapse."""
    lines = []
    for line in raw.split("\n"):
        line = line.strip()
        if line:
            lines.append(collapse_ws(line))
    return "\n".join(lines)


def _score(text_len: int, tag_count: int, link_len: int) -> float:
    if text_len <= 0:
        return 0.0
    density = text_len / (1 + tag_count)
    link_density = link_len / text_len
    return density * (1.0 - link_density) ** 2 * log(1 + text_len)


class _Frame:
    __slots__ = ("name", "order", "text_len", "tag_count", "link_len", "skip",
                 "in_link")

    def __init__(self, name, order, skip, in_link):
        self.name = name
        self.order = order
        self.text_len = 0
        self.tag_count = 0
        self.link_len = 0
        self.skip = skip
        self.in_link = in_link


def _score_pass(events):
    """Yields (order, name, score) for candidate elements, in document order."""
    stack = [_Frame("#root", -1, False, False)]
    order = 0
    candidates = []
    for ev in events:
        kind = ev[0]
        if kind == START:
            name = ev[1]
            parent = stack[-1]
            skip = parent.skip or name in SKIP_TAGS
            in_link = parent.in_link or name == "a"
            stack.append(_Frame(name, order, skip, in_link))
            order += 1
        elif kind == END:
            f = stack.pop()
            parent = stack[-1]
            if not f.skip:
                parent.tag_count += f.tag_count + 1
                parent.text_len += f.text_len
                parent.link_len += f.link_len
                if f.name in CANDIDATE_TAGS:
                    candidates.append(
                        (f.order, f.name,
                         _score(f.text_len, f.tag_count, f.link_len))
                    )
        elif kind == DATA:
            top = stack[-1]
            if not top.skip:
                n = len(ev[1])
                top.text_len += n
                if top.in_link:
                    top.link_len += n
    return candidates, order


def _render_pass(events, target_order):
    """Render visible text of the element with pre-order index target_order
    (None = whole document)."""
    parts = []
    depth_in_target = 0 if target_order is None else -1
    skip_depth = 0
    order = 0
    for ev in events:
        kind = ev[0]
        if kind == START:
            name = ev[1]
            this_order = order
            order += 1
            if skip_depth:
                skip_depth += 1
                continue
            if depth_in_target < 0:
                if this_order == target_order:
                    depth_in_target = 0
                else:
                    continue
            if name in SKIP_TAGS and depth_in_target > 0:
                skip_depth = 1
                continue
            depth_in_target += 1
            if name in BLOCK_TAGS:
                parts.append("\n")
        elif kind == END:
            if skip_depth:
                skip_depth -= 1
                continue
            if depth_in_target <= 0:
                continue
            depth_in_target -= 1
            if ev[1] in BLOCK_TAGS:
                parts.append("\n")
            if depth_in_target == 0 and target_order is not None:
                break
        elif kind == DATA:
            if depth_in_target >= 0 and not skip_depth:
                if depth_in_target > 0 or target_order is None:
                    parts.append(ev[1])
    return _finish_lines("".join(parts))


def extract_main_text(root) -> str:
    """Extract main text from an htmlgraft DOM (Document or Element)."""
    return extract_from_events(lambda: traverse(root))


def analyze_tree(root, include_dom: bool = True):
    """Returns (dom, text, n_nodes): ``analyze_page`` without the links."""
    return analyze_page(root, include_dom)[:3]


def analyze_page(root, include_dom: bool = True, include_links: bool = False):
    """Everything the parse stage takes from one parsed page, in ONE
    iterative walk with no intermediate event tuples: the html5lib-format
    dom string (identical to walk.print_tree; "" without ``include_dom``),
    candidate scoring and the winner's rendered text, the element count,
    and with ``include_links`` the ``linkops.analyze_links`` fields.
    Semantics are event-path-identical (asserted against
    extract_from_events/print_tree in tests); the walk avoids the event
    path because its per-event tuples dominated memory traffic, which is
    what limits multi-core scaling of the Arrow-batched parse stage.

    Returns (dom, text, n_nodes, links, title, h1, has_doctype).  dom is
    None when the print passed ``DOM_BUDGET_BYTES``: printing stops there,
    and the walk goes on for everything else.  links is
    a list of (href, anchor) for every <a> carrying an href attribute, in
    document order; title/h1 are the collapsed text of the FIRST
    <title>/<h1> (None when absent); has_doctype is 1 iff the document has
    a top-level doctype node.  Without ``include_links`` they are
    (None, None, None, 0).  Anchor, title and h1 text are slices of the
    walk's own list of text nodes."""
    from .nodes import Comment, Doctype, Document, Element

    out = [] if include_dom else None
    n_out = 0               # characters printed, counted against the budget
    buf = []                # pending adjacent text (print coalescing)
    texts = [] if include_links else None   # every text node, in order
    links = [] if include_links else None
    title = h1 = None
    has_doctype = 0
    parts = []              # render parts of all unskipped content
    depth = 0               # open real (non-'#') elements
    order = 0               # pre-order index of the next real element
    skip_at = -1            # depth of the open SKIP_TAGS subtree root
    link_at = -1            # depth of the outermost open <a>
    top_skip = False        # a depth-0 element is in SKIP_TAGS
    # running totals over unskipped content; subtree stats are differences
    n_text = n_link = n_tags = 0
    candidates = []
    spans = {}              # candidate order -> [start, end) in parts
    # open candidates: (depth, order, n_text, n_link, n_tags, start)
    cands = [(-1,)]
    # open <a href>/<title>/<h1>: (depth, slot, first text index); slot is
    # the links index, -1 for the title, -2 for the h1
    collect = [(-1,)]
    its = [iter(root.children if type(root) is Document else (root,))]
    names = [None]          # per level: element name, None for '#'/document

    def emit(line):
        nonlocal out, n_out
        n_out += len(line)
        if n_out <= DOM_BUDGET_BYTES:
            out.append(line)
        else:
            out = None
            del buf[:]

    def flush(depth):
        text = "".join(buf)
        del buf[:]
        if text:
            emit(f'{_PREFIX[depth]}"{text}"\n')

    while its:
        for node in its[-1]:
            t = type(node)
            if t is str:
                if out is not None:
                    buf.append(node)
                if texts is not None:
                    texts.append(node)
                if skip_at < 0:
                    parts.append(node)
                    n = len(node)
                    n_text += n
                    if link_at >= 0:
                        n_link += n
            elif t is Element or t is Document:
                name = node.name if t is Element else "#"  # '#': transparent
                if name[:1] == "#":
                    names.append(None)
                else:
                    if out is not None:
                        if buf:
                            flush(depth)
                        emit(f"{_PREFIX[depth]}<{name}>\n")
                    if skip_at < 0:
                        if name in SKIP_TAGS:
                            skip_at = depth
                            if not depth:
                                top_skip = True
                        else:
                            n_tags += 1
                            if name in CANDIDATE_TAGS:
                                cands.append((depth, order, n_text, n_link,
                                              n_tags, len(parts)))
                            if name in BLOCK_TAGS:
                                parts.append("\n")
                    if name == "a":
                        if link_at < 0:
                            link_at = depth
                        if links is not None and node.attrs:
                            href = node.attrs.get("href")
                            if href is not None:
                                collect.append((depth, len(links), len(texts)))
                                links.append(href)
                    # a title/h1 nested in the first one closes before it,
                    # so the first one's text is the one that stays
                    elif name == "title":
                        if title is None and texts is not None:
                            collect.append((depth, -1, len(texts)))
                    elif name == "h1" and h1 is None and texts is not None:
                        collect.append((depth, -2, len(texts)))
                    names.append(name)
                    depth += 1
                    order += 1
                its.append(iter(node.children))
                break
            elif t is Comment or t is Doctype:
                if t is Doctype and len(its) == 1:
                    has_doctype = 1
                if out is not None:
                    if buf:
                        flush(depth)
                    emit(f"{_PREFIX[depth]}<!--{''.join(node.data)}-->\n"
                         if t is Comment else f"{_PREFIX[depth]}<!doctype>\n")
        else:
            its.pop()
            name = names.pop()
            if name is None:
                continue
            if buf:
                flush(depth)
            depth -= 1
            if skip_at < 0:
                if name in BLOCK_TAGS:
                    parts.append("\n")
                c = cands[-1]
                if c[0] == depth:
                    cands.pop()
                    candidates.append((c[1], name, _score(
                        n_text - c[2], n_tags - c[4], n_link - c[3])))
                    spans[c[1]] = (c[5], len(parts))
            elif skip_at == depth:
                skip_at = -1
            if link_at == depth:
                link_at = -1
            c = collect[-1]
            if c[0] == depth:
                collect.pop()
                text = collapse_ws("".join(texts[c[2]:])).strip()
                slot = c[1]
                if slot >= 0:
                    links[slot] = (links[slot], text)
                elif slot == -1:
                    title = text
                else:
                    h1 = text
    if buf:
        flush(depth)

    target = pick_target(candidates)
    if target is not None:
        start, end = spans[target]
        text = _finish_lines("".join(parts[start:end]))
    elif top_skip:
        # the whole-document render keeps a top-level SKIP_TAGS element
        text = _render_pass(traverse(root), None)
    else:
        text = _finish_lines("".join(parts))
    if out is not None:
        dom = "".join(out)
    else:
        dom = None if n_out > DOM_BUDGET_BYTES else ""
    return dom, text, order, links, title, h1, has_doctype


def pick_target(candidates):
    """Winner selection: highest score (> 0), first in close order on ties;
    fallback <body>, else whole document (None)."""
    best = None
    body_order = None
    for order, name, score in candidates:
        if name == "body" and body_order is None:
            body_order = order
        if best is None or score > best[1]:
            best = (order, score)
    if best is not None and best[1] > 0:
        return best[0]
    return body_order


def extract_from_events(events_factory) -> str:
    """events_factory: zero-arg callable returning a fresh event iterator
    (START/END/DATA/COMMENT/DOCTYPE, as produced by walk.traverse or
    events_from_json)."""
    candidates, _ = _score_pass(events_factory())
    return _render_pass(events_factory(), pick_target(candidates))


def events_from_json(tree):
    """Event stream from the canonical JSON tree form (fixtures /
    walk.tree_to_jsonable output), iterative."""
    stack = [iter(tree["c"] if isinstance(tree, dict) and tree.get("t") == "doc"
                  else (tree,))]
    while stack:
        it = stack[-1]
        advanced = False
        for node in it:
            if isinstance(node, tuple):
                yield node
            elif isinstance(node, str):
                yield (DATA, node)
            elif node["t"] == "el":
                name = node["n"]
                if name[:1] == "#":
                    stack.append(iter(node["c"]))
                else:
                    yield (START, name, node.get("a", []))
                    stack.append(iter(tuple(node["c"]) + ((END, name),)))
                advanced = True
                break
            elif node["t"] == "comment":
                yield (COMMENT, node["d"])
            elif node["t"] == "doctype":
                yield (DOCTYPE, node["d"])
        if not advanced:
            stack.pop()
