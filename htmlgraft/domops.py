"""CSS-selector queries over the parsed DOM — the API a parser consumer
actually reaches for ("give me every ``table.meta td``"), layered on the
SAME byte-identical tokenize → tree-build pipeline as extraction.

The reference exposes parse + traversal only (/root/reference/lib/
traversal.js:18-53); selectors are a value-add query surface over the same
DOM, so matching semantics follow OUR tree shape: synthetic ``#``-prefixed
wrapper nodes (e.g. ``#reparented``) are flattened out of ancestor paths,
exactly as the reference's traversal flattens them out of its event stream
(traversal.js:73-77).

Selector subset (the high-traffic 90%): tag, ``*``, ``#id``, ``.class``,
``[attr]``, ``[attr=value]`` (value optionally quoted), compounds thereof,
and the descendant (whitespace) and child (``>``) combinators.  Attribute
values must not contain whitespace or ``>`` (the tokenizer splits on
those) — pct-encode them, as a url would anyway.  Matching is the standard
right-to-left walk with ancestor backtracking.

Scale shape: selectors are parsed ONCE on the driver (malformed selectors
fail fast, not per-task); each page is parsed ONCE and all selectors run
against that single DOM.  Every operator here is a row function on the
parse job's own stage (htmlgraft.job.map_pages): the same url-hash
partitioning, charset-aware decode, reference parse and worker setup — no
extra shuffle, no per-row Python round trips.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .extract import collapse_ws
from .job import map_pages
from .linkops import _subtree_text
from .nodes import Element
from .walk import descendants

_COMPOUND_RE = re.compile(
    r"(?P<tag>[a-zA-Z][a-zA-Z0-9-]*|\*)?"
    r"(?P<rest>(?:[#.][-\w]+|\[[^\]]+\])*)$"
)
_PART_RE = re.compile(r"[#.][-\w]+|\[[^\]]+\]")


def _parse_compound(s: str):
    """One compound selector → (tag, id, classes, attrs) where attrs is a
    tuple of (name, value-or-None)."""
    m = _COMPOUND_RE.match(s)
    if not m or (m.group("tag") is None and not m.group("rest")):
        raise ValueError(f"bad selector compound: {s!r}")
    tag, id_, classes, attrs = m.group("tag"), None, set(), []
    for part in _PART_RE.findall(m.group("rest")):
        if part[0] == "#":
            id_ = part[1:]
        elif part[0] == ".":
            classes.add(part[1:])
        else:  # [attr] or [attr=value]
            inner = part[1:-1]
            name, eq, value = inner.partition("=")
            if not name:
                raise ValueError(f"bad attribute selector: {part!r}")
            if eq:
                if len(value) >= 2 and value[0] == value[-1] and \
                        value[0] in "\"'":
                    value = value[1:-1]
                attrs.append((name.lower(), value))
            else:
                attrs.append((name.lower(), None))
    return (tag.lower() if tag else None, id_, frozenset(classes),
            tuple(attrs))


def parse_selector(sel: str):
    """Full selector → tuple of (combinator, compound); combinator relates
    each compound to the one before it (' ' descendant, '>' child; the
    first entry's combinator is unused)."""
    toks = re.findall(r">|\S+", sel)
    parts = []
    comb = " "
    for t in toks:
        if t == ">":
            if not parts or comb == ">":
                raise ValueError(f"misplaced '>' in selector: {sel!r}")
            comb = ">"
        else:
            parts.append((comb, _parse_compound(t)))
            comb = " "
    if not parts or comb == ">":
        raise ValueError(f"empty or dangling selector: {sel!r}")
    return tuple(parts)


def _el_matches(el, comp) -> bool:
    tag, id_, classes, attrs = comp
    if tag is not None and tag != "*" and el.name != tag:
        return False
    a = el.attrs or {}
    if id_ is not None and a.get("id") != id_:
        return False
    if classes and not classes <= set((a.get("class") or "").split()):
        return False
    for name, value in attrs:
        if name not in a:
            return False
        if value is not None and a[name] != value:
            return False
    return True


def _match_at(path, i_path, parts, i_part) -> bool:
    # right-to-left with backtracking; recursion depth is len(parts), not
    # document depth, so adversarially deep documents cannot blow the stack
    if not _el_matches(path[i_path], parts[i_part][1]):
        return False
    if i_part == 0:
        return True
    comb = parts[i_part][0]
    if comb == ">":
        return i_path > 0 and _match_at(path, i_path - 1, parts, i_part - 1)
    return any(
        _match_at(path, j, parts, i_part - 1)
        for j in range(i_path - 1, -1, -1)
    )


def select(document, parts):
    """Yield matching Elements of one parsed document in document order.
    The ancestor path excludes synthetic ``#`` wrappers, but it is popped
    by depth at every element, wrappers included: content a wrapper holds
    is not under the wrapper's earlier siblings."""
    path = []
    depths = []
    last = len(parts) - 1
    for depth, node in descendants(document):
        if type(node) is not Element:
            continue
        while depths and depths[-1] >= depth:
            depths.pop()
            path.pop()
        if node.name[:1] != "#":
            path.append(node)
            depths.append(depth)
            if _match_at(path, len(path) - 1, parts, last):
                yield node

SELECT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("selector", StringType()),
        StructField("match_pos", LongType()),
        StructField("tag", StringType()),
        StructField("text", StringType()),
    ]
)


def select_css_df(pages: DataFrame, selectors,
                  num_parts: int | None = None) -> DataFrame:
    """(url, selector, match_pos, tag, text) for every element of every
    page matching each selector; match_pos is the 1-based document-order
    index within (url, selector), text is the whitespace-collapsed subtree
    text (same collapse as link anchors).  Pages that fail to parse emit
    no rows (the documented links contract)."""
    parsed = tuple((s, parse_selector(s)) for s in selectors)

    def _select_rows(url, doc):
        return [(url, sel, k, el.name, _subtree_text(el))
                for sel, parts in parsed
                for k, el in enumerate(select(doc, parts), start=1)]

    return map_pages(pages, SELECT_SCHEMA, _select_rows, num_parts)


# --- gated query -------------------------------------------------------------

# One selector per feature family: class-on-tag + descendant, compound
# class chain, id + child chain, attribute value match.
GATE_SELECTORS = (
    "table.meta td",
    "nav a.active",
    "div#main > p > b",
    'footer a[href="/tos"]',
)


def run_dom_select(spark, sf_dir: str) -> DataFrame:
    from .corpus import pages_df

    return select_css_df(pages_df(spark, sf_dir), GATE_SELECTORS)


def dom_select_oracle_sql() -> str:
    """Relational restatement of every gate selector's matches: the meta
    table's td grid, the nav's active link, one <b> per repeated
    paragraph (first word of the clean text), and the /tos footer link."""
    from .corpus import pages_oracle_cte

    return (
        pages_oracle_cte()
        + """
      select url, 'table.meta td' as selector,
             cast(c.pos as bigint) as match_pos, 'td' as tag,
             case c.pos when 1 then cast(e.doc_id as varchar)
                        when 2 then e.lang
                        else 'more like this' end as text
      from expected e cross join (values (1), (2), (3)) c(pos)
      union all
      select url, 'nav a.active', cast(1 as bigint), 'a', e.source
      from expected e
      union all
      select e.url, 'div#main > p > b',
             cast(unnest(range(1, d.r + 1)) as bigint), 'b',
             string_split(d.clean, ' ')[1]
      from expected e join derived d on d.doc_id = e.doc_id
      union all
      select url, 'footer a[href="/tos"]', cast(1 as bigint), 'a', 'terms'
      from expected e
    """
    )


# --- block text/link density: the readability-style extraction signal --------
#
# Main-content extraction at crawl scale rests on one empirical signal
# (public: Kohlschütter et al., "Boilerplate Detection using Shallow Text
# Features", WSDM 2010, and the Arc90 readability heuristic family):
# content blocks carry lots of text and few links, boilerplate blocks the
# reverse.  This operator computes that signal per block-level element —
# collapsed text length, total anchor-text length, integer link density,
# paragraph count — and scores blocks with the classic
# ``text_chars - 3 * link_chars`` penalty, flagging the per-page winner.
# Unlike ``extract_main_text`` (which follows the reference's structural
# contract), the winner here is DATA-DEPENDENT: a page whose main text is
# shorter than its header loses the main div, and the oracle restates the
# argmax relationally, so the scoring rule itself is value-pinned.
#
# Scale shape: one parse + one subtree walk per page inside the same
# Arrow-batched map as every other parse consumer — no shuffle, no
# driver-side anything; the winner flag is computed per page inside the
# batch (all blocks of a page are in hand), so no window is needed.

BLOCK_TAGS = ("nav", "header", "div", "table", "aside", "footer")
_BLOCK_SET = frozenset(BLOCK_TAGS)

DENSITY_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("block_pos", LongType()),
        StructField("tag", StringType()),
        StructField("text_chars", LongType()),
        StructField("link_chars", LongType()),
        StructField("link_permille", LongType()),
        StructField("p_count", LongType()),
        StructField("winner", LongType()),
    ]
)


def _density_rows(url, doc):
    """One ``descendants`` walk.  A block's text_chars is the collapsed
    length of its slice of the walk's text nodes; its link_chars (summed
    per-<a> collapsed text lengths) and p_count (<p> descendants) are
    differences of running totals taken when it opens and closes."""
    texts, rows = [], []
    link_chars = p_count = 0
    # open <a> and block elements, innermost last:
    # (depth, row index or -1 for an <a>, first text, link_chars, p_count)
    opened = []

    def close(depth):
        nonlocal link_chars
        while opened and opened[-1][0] >= depth:
            _, row, first, lc, pc = opened.pop()
            n = len(collapse_ws("".join(texts[first:])).strip())
            if row < 0:
                link_chars += n
            else:
                rows[row][1:] = n, link_chars - lc, p_count - pc

    for depth, node in descendants(doc):
        close(depth)
        if type(node) is str:
            texts.append(node)
        elif type(node) is Element:
            if node.name == "a":
                opened.append((depth, -1, len(texts), 0, 0))
            elif node.name in _BLOCK_SET:
                opened.append((depth, len(rows), len(texts), link_chars,
                               p_count))
                rows.append([node.name, 0, 0, 0])
            elif node.name == "p":
                p_count += 1
    close(0)
    best_i, best_score = -1, None
    for i, (_t, tc, lc, _pc) in enumerate(rows):
        score = tc - 3 * lc
        if best_score is None or score > best_score:
            best_i, best_score = i, score
    return [(url, i + 1, tag, tc, lc, (1000 * lc) // tc if tc else 0, pc,
             1 if i == best_i else 0)
            for i, (tag, tc, lc, pc) in enumerate(rows)]

def content_density_df(pages: DataFrame, num_parts: int | None = None) -> DataFrame:
    """(url, block_pos, tag, text_chars, link_chars, link_permille,
    p_count, winner) for every block-level element (``BLOCK_TAGS``) of
    every page, in document order; winner marks the block maximizing
    ``text_chars - 3 * link_chars`` (first in document order on ties).
    Pages that fail to parse emit no rows (the links contract)."""
    return map_pages(pages, DENSITY_SCHEMA, _density_rows, num_parts)


def run_content_density(spark, sf_dir: str) -> DataFrame:
    from .corpus import pages_df

    return content_density_df(pages_df(spark, sf_dir))


def content_density_oracle_sql() -> str:
    """Every block's stats restated as integer arithmetic over the
    template: the six blocks' collapsed-text lengths are closed-form
    functions of host/source/lang/clean/r/doc_id, and the winner argmax
    re-runs the scoring rule relationally."""
    from .corpus import pages_oracle_cte

    return (
        pages_oracle_cte()
        + """
      , blocks as (
        select e.url, b.block_pos, b.tag,
               case b.block_pos
                 when 1 then 9 + length(e.source)
                 when 2 then length(e.host) + 13 + length(e.source)
                 when 3 then e.r * length(d.clean)
                 when 4 then 24 + length(cast(e.doc_id as varchar))
                             + length(e.lang)
                 when 5 then 26
                 -- '&copy;' is NOT in the reference's tiny named-ref
                 -- subset (the byte-identity invariant), so the footer
                 -- keeps it literal: 6 chars, not 1
                 else length(e.host) + 26 end as text_chars,
               case b.block_pos
                 when 1 then 9 + length(e.source)
                 when 4 then 14
                 when 5 then 22
                 when 6 then 12
                 else 0 end as link_chars,
               case b.block_pos when 2 then 1
                                when 3 then e.r
                                else 0 end as p_count
        from expected e
        join derived d on d.doc_id = e.doc_id
        cross join (values (1, 'nav'), (2, 'header'), (3, 'div'),
                    (4, 'table'), (5, 'aside'), (6, 'footer'))
             b(block_pos, tag)
      ),
      scored as (
        select *,
               min(block_pos) filter (
                 where text_chars - 3 * link_chars = best) over (partition by url)
                 as best_pos
        from (
          select *, max(text_chars - 3 * link_chars) over (partition by url)
                   as best
          from blocks
        )
      )
      select url, cast(block_pos as bigint) as block_pos, tag,
             cast(text_chars as bigint) as text_chars,
             cast(link_chars as bigint) as link_chars,
             cast(case when text_chars > 0
                  then (1000 * link_chars) // text_chars
                  else 0 end as bigint) as link_permille,
             cast(p_count as bigint) as p_count,
             cast(case when block_pos = best_pos then 1 else 0 end as bigint)
               as winner
      from scored
    """
    )


# --- per-host structural template clustering ----------------------------------
#
# Crawl extraction pipelines detect per-host page TEMPLATES before they
# strip boilerplate: pages of one host sharing a DOM shape share a
# template, and the shape fingerprint is the standard tool (public
# lineage: Gibson/Punera/Tomkins, "The volume and evolution of web page
# templates", WWW 2005).  The fingerprint here is the md5 of the
# document-order tag walk (element names joined, '#'-synthetic wrappers
# included — they ARE part of our tree shape), so ANY structural change
# — a missing element, a reordered subtree, a different foster-parenting
# outcome — lands a page in a different cluster.
#
# On the synthesized corpus the template is fixed and the tag walk varies
# only with the paragraph-repeat factor r, so the oracle can restate the
# cluster structure (counts, distinct templates, dominant-template share)
# without knowing the hashes — while the Spark side genuinely derives
# them from the parsed trees, pinning the full tree SHAPE of every page.
#
# Scale shape: fingerprint is map-side (same parse batch as everything
# else); the aggregation is a two-level groupBy (host, fp) -> host, so
# partial aggregation bounds the heavy-host skew before the shuffle.

TEMPLATE_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("fp", StringType()),
    ]
)


def _tag_walk_fp(doc) -> str:
    import hashlib

    walk = " ".join(node.name for _, node in descendants(doc)
                    if type(node) is Element)
    return hashlib.md5(walk.encode()).hexdigest()

def _template_rows(url, doc):
    return [(url.split("/")[2], _tag_walk_fp(doc))]


def dom_template_df(pages: DataFrame, num_parts: int | None = None) -> DataFrame:
    """Per host: page count, distinct structural templates, and the
    dominant template's share in permille.  A page that fails to parse, or
    whose url has no host, counts toward no host."""
    import pyspark.sql.functions as F

    per_tpl = (map_pages(pages, TEMPLATE_SCHEMA, _template_rows, num_parts)
               .groupBy("host", "fp").count())
    return (
        per_tpl.groupBy("host")
        .agg(
            F.sum("count").cast("long").alias("n_pages"),
            F.count("*").cast("long").alias("n_templates"),
            F.max("count").cast("long").alias("top_count"),
        )
        .select(
            "host", "n_pages", "n_templates",
            ((F.lit(1000) * F.col("top_count")) / F.col("n_pages"))
            .cast("long").alias("top_share_permille"),
        )
        .orderBy("host")
    )


def run_dom_template(spark, sf_dir: str) -> DataFrame:
    from .corpus import pages_df

    return dom_template_df(pages_df(spark, sf_dir))


def dom_template_oracle_sql() -> str:
    """The cluster structure restated without hashes: on the fixed
    template the tag walk is a function of r alone, so templates-per-host
    = distinct r values and the dominant share = the modal r's share."""
    from .corpus import pages_oracle_cte

    return (
        pages_oracle_cte()
        + """
      , per_r as (
        select e.host, e.r, count(*) as cnt
        from expected e
        group by e.host, e.r
      )
      select host,
             cast(sum(cnt) as bigint) as n_pages,
             cast(count(*) as bigint) as n_templates,
             cast((1000 * max(cnt)) // sum(cnt) as bigint)
               as top_share_permille
      from per_r
      group by host
      order by host
    """
    )
