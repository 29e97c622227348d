"""Structured extraction from the parsed DOM: hyperlinks, page metadata,
the host-level link graph, and PageRank over it.

These operators extend the extraction tier beyond main text: the SAME
tokenize -> tree-build pipeline (htmlgraft.lexer/parse, byte-identical to
the reference parser) feeds a document-order DOM walk — the parse stage's
one walk per page, ``extract.analyze_page``, which also prints the DOM and
extracts the main text — whose links and metadata (the ``links``,
``title``, ``h1`` and ``has_doctype`` columns of
``job.parse_extract(include_links=True)``) feed

* ``extract_links``    — (url, pos, href, anchor) for every <a href=...>;
* ``extract_metadata`` — (url, title, h1, has_doctype, n_links);
* ``link_hostgraph``   — (src_host, dst_host, n_links) with relative hrefs
  resolved to the page host and absolute ``http(s)://`` / protocol-relative
  ``//host`` hrefs to their own authority;
* ``pagerank_hosts``   — integer-arithmetic PageRank over the distinct
  cross-host edges (the iterative production shape, like
  textops.run_dedup_clusters).

Each link-graph decision has one owner per engine; the Spark DataFrame
code and the DuckDB oracle SQL stay two independent spellings:

* the href rule (absolute ``http(s)://`` and ``//host`` hrefs keep their
  authority, anything else resolves to the page host): ``_absolute_href``
  with ``_src_host_col``/``_dst_host_col`` in Spark, the ``resolved`` CTE
  (``_RESOLVED_CTE``) in the oracles — host graph, anchor text and the
  crawl frontier all read it;
* the host graph: ``hostgraph_df``; ``_host_graph`` materializes it for
  the iterative operators and ``_over_hedges`` as the ``hedges`` view the
  cocitation, triangle and HyperBall SQL reads.  Oracle twin:
  ``_hedges_ctes``;
* the cross-host edges and their node set: ``_cross_edges`` and
  ``textops.graph_nodes`` (PageRank, HITS, host components); oracle twin
  ``_cross_edge_ctes`` (PageRank, HITS);
* min-label connected components: ``textops.min_label_components`` in
  Spark and ``textops.min_label_ctes`` unrolled in the oracles, shared
  by host_components and dedup_clusters.

Everything is value-checked by the DuckDB oracle: the corpus synthesizes a
deterministic link skeleton per page (htmlgraft/corpus.py — nav/table/aside/
footer links plus a cross-host "partner" link), so the oracle can state the
exact expected rows relationally while the Spark side must recover them
through the real parse.

Value-hash discipline: PageRank uses SCALED INTEGER arithmetic only
(rank0 = 10^12 per host; contribution = rank div out_degree; damping
0.85 = (85 * x) div 100) so both engines produce bit-identical bigints —
float PageRank would differ in the last ulp across engines/orders.

Scale notes (10^12 documents):
* the link family (``links_df``, ``metadata_df``, ``wat_rows_df``) reads
  the parse stage itself: each is a projection of ``job.parse_extract(...,
  include_dom=False, include_links=True)`` filtered to ``status == "ok"``,
  so a page is parsed once for all three, and a page that fails to decode
  or parse emits no rows.  ``tables_df`` and the domops operators need the
  tree, so they run on ``job.map_pages``: the same url-hash
  partitioning, charset-aware decode, reference parse and worker setup;
* hostgraph is one hash aggregation keyed on (src_host, dst_host); hosts are
  ~10^7-cardinality at web scale, far below doc count;
* PageRank state per iteration is one (host, rank) relation (~16 B/host) and
  one edge join keyed on src — the relation a 1000-executor run would
  checkpoint to reliable storage; here ``localCheckpoint`` truncates lineage
  (same rationale documented at textops.run_dedup_clusters);
* iterations are fixed (ITERS) so the oracle can unroll them as nested CTEs
  (the kmeans/dedup_clusters pattern for value-checking iterative jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .corpus import pages_df, pages_oracle_cte
from .extract import analyze_page, collapse_ws
from .job import map_pages, parse_extract
from .nodes import Element
from .textops import (_d, graph_nodes, h32, min_label_components,
                      min_label_ctes)
from .walk import descendants

# PageRank constants (integer arithmetic; see module docstring)
SCALE = 10**12
DAMP_NUM, DAMP_DEN = 85, 100
BASE = (SCALE * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN  # (1-d) * SCALE
ITERS = 5


def _subtree_text(el) -> str:
    """Whitespace-collapsed raw text of one element subtree (all str
    descendants, including under '#'-wrapper nodes)."""
    return collapse_ws(
        "".join(n for _, n in descendants(el) if type(n) is str)).strip()


def analyze_links(document):
    """Links + metadata of one page, from the same single walk the parse
    stage runs (``extract.analyze_page``; its scoring and text render come
    along and are dropped).

    Returns (links, title, h1, has_doctype) where links is a list of
    (href, anchor) for every <a> carrying an href attribute, title/h1 are
    the collapsed text of the FIRST <title>/<h1> (None when absent), and
    has_doctype is 1 iff the document has a doctype node."""
    return analyze_page(document, False, True)[3:]


TABLES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_idx", LongType()),
        StructField("row_idx", LongType()),
        StructField("cell_idx", LongType()),
        StructField("is_header", LongType()),
        StructField("cell_text", StringType()),
    ]
)


def analyze_tables(document):
    """Document-order walk emitting structured table cells:
    (table_idx, row_idx, cell_idx, is_header, cell_text) for every th/td
    under a tr.  Tables are numbered 1.. in document order; cells are the
    LEAVES of this extraction — a table nested inside a cell is flattened
    into the cell text, not emitted separately.  The open tables are a
    stack keyed by depth, popped at every element (``#`` wrappers
    included), so tables that end up siblings through foster-parenting
    keep their own rows.  Cell text is the whitespace-collapsed subtree
    text, so the parser's implicit-close handling (<tr><th>x<td>y — th
    closed by td, tr by tr, tbody synthesized) is exactly what this
    operator exercises."""
    out = []
    n_tables = 0
    # open tables: [depth, table_idx, row_idx, cell_idx]
    tctx: list[list[int]] = []
    cell_at = -1  # depth of the cell whose subtree is being skipped
    for depth, node in descendants(document):
        if type(node) is not Element:
            continue
        if depth > cell_at >= 0:
            continue  # cells own their subtree; don't double-count nested
        cell_at = -1
        while tctx and tctx[-1][0] >= depth:
            tctx.pop()
        name = node.name
        if name == "table":
            n_tables += 1
            tctx.append([depth, n_tables, 0, 0])
        elif name == "tr" and tctx:
            tctx[-1][2] += 1
            tctx[-1][3] = 0
        elif name in ("th", "td") and tctx and tctx[-1][2]:
            ctx = tctx[-1]
            ctx[3] += 1
            out.append((ctx[1], ctx[2], ctx[3], 1 if name == "th" else 0,
                        _subtree_text(node)))
            cell_at = depth
    return out


def _tables_rows(url, doc):
    return [(url, *cell) for cell in analyze_tables(doc)]


def tables_df(pages: DataFrame) -> DataFrame:
    return map_pages(pages, TABLES_SCHEMA, _tables_rows)


def _parsed(pages: DataFrame) -> DataFrame:
    """The parse stage's one-pass output for the pages that parsed."""
    return parse_extract(
        pages, include_dom=False, include_links=True
    ).where(F.col("status") == "ok")


def _exploded_links(pages: DataFrame) -> DataFrame:
    return _parsed(pages).select(
        "url", "title", F.explode("links").alias("l"))


def links_df(pages: DataFrame) -> DataFrame:
    """(url, html) -> (url, pos, href, anchor), one row per link."""
    return _exploded_links(pages).select(
        "url", "l.pos", "l.href", "l.anchor")


def metadata_df(pages: DataFrame) -> DataFrame:
    return _parsed(pages).select(
        "url", "title", "h1", "has_doctype",
        F.size("links").cast("long").alias("n_links"))


def wat_rows_df(pages: DataFrame) -> DataFrame:
    """The WAT record's (url, title, pos, href, anchor) rows: links and
    title from the same one-pass parse."""
    return _exploded_links(pages).select(
        "url", F.coalesce("title", F.lit("")).alias("title"),
        "l.pos", "l.href", "l.anchor")


# --- host resolution (shared Spark-side fragments) ---------------------------

def _src_host_col():
    return F.split(F.col("url"), "/").getItem(2)


def _absolute_href():
    # absolute http(s):// and protocol-relative //host hrefs carry their own
    # authority (all three put the host at split index 2); anything else
    # resolves against the page host.  Real crawls emit all three absolute
    # spellings; the host graph, anchor text and frontier all test this one
    # predicate (the oracles' twin is _RESOLVED_CTE).
    return F.col("href").rlike("^(https?:)?//")


def _dst_host_col():
    return (
        F.when(_absolute_href(), F.split(F.col("href"), "/").getItem(2))
        .otherwise(_src_host_col())
        .alias("dst_host")
    )


def hostgraph_df(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links): relative hrefs resolve to the page
    host; absolute https:// hrefs to their authority."""
    return (
        links.select(_src_host_col().alias("src_host"), _dst_host_col())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("bigint").alias("n_links"))
    )


ANCHOR_TOP_K = 3


def anchor_text_df(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation: the classic web-graph signal (what OTHER
    pages call a host) — anchors resolve to their destination host, explode
    into tokens, and the top {ANCHOR_TOP_K} terms per host are ranked by
    (count desc, token asc).  One (dst_host, token) hash aggregation plus a
    per-host window over vocabulary-bounded rows — top-k per key, never a
    global sort."""
    toks = (
        links.select(
            _dst_host_col(),
            F.explode(F.split(F.col("anchor"), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("dst_host", "tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    return (
        toks.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANCHOR_TOP_K)
        .select(
            "dst_host",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("tok").alias("term"),
            F.col("n").alias("n"),
        )
    )


def _host_graph(links: DataFrame) -> DataFrame:
    """``hostgraph_df`` as (src, dst, n_links), materialized once: the
    iterative operators read it every round, and the parse must run once."""
    return hostgraph_df(links).toDF("src", "dst", "n_links").localCheckpoint(
        eager=True)


def _cross_edges(hg: DataFrame) -> DataFrame:
    """The cross-host edges (src, dst, n_links) of a ``_host_graph``: one
    row per distinct pair, self-links dropped."""
    return hg.where(F.col("src") != F.col("dst"))


def pagerank_df(links: DataFrame) -> DataFrame:
    """Integer PageRank over distinct cross-host edges (ITERS rounds).

    Iterative production shape: edges+out-degree materialized once; per
    round one join keyed on src + one hash aggregation on dst; the (host,
    rank) relation is lineage-truncated per round (localCheckpoint here,
    a reliable-storage checkpoint on a real cluster)."""
    edges = _cross_edges(_host_graph(links)).select("src", "dst")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = edges.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = graph_nodes(edges)
    ranks = nodes.withColumn("rank", F.lit(SCALE).cast("bigint"))
    for _ in range(ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.id)
            .select(F.col("dst"), F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit(BASE)
                    + F.expr(f"({DAMP_NUM} * coalesce(m, 0)) div {DAMP_DEN}")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("id").alias("host"),
                        F.col("rank").cast("bigint").alias("rank"))


# --- query runners (driver contract: (spark, sf_dir) -> DataFrame) ----------

def run_extract_links(spark, sf_dir: str) -> DataFrame:
    return links_df(pages_df(spark, sf_dir)).select(
        "url", F.col("pos").cast("bigint").alias("pos"), "href", "anchor"
    )


def run_extract_metadata(spark, sf_dir: str) -> DataFrame:
    return metadata_df(pages_df(spark, sf_dir)).select(
        "url",
        "title",
        "h1",
        F.col("has_doctype").cast("bigint").alias("has_doctype"),
        F.col("n_links").cast("bigint").alias("n_links"),
    )


def run_wat_export(spark, sf_dir: str) -> DataFrame:
    """Driver query: WAT metadata-record export — one JSON Envelope record
    per page from a SINGLE parse walk (links + title together), md5-pinned
    against the record the oracle assembles from the relational link/title
    restatement.  Pages that fail to parse emit no record (same contract
    as extract_links); linkless pages would too — the corpus template
    always carries 8 links, and real WAT emits Head-only records there
    (documented relaxation)."""
    wat_rows_df(pages_df(spark, sf_dir)).createOrReplaceTempView("__wat_rows")
    return spark.sql(wat_spark_sql())


def run_extract_tables(spark, sf_dir: str) -> DataFrame:
    return tables_df(pages_df(spark, sf_dir)).select(
        "url",
        F.col("table_idx").cast("bigint").alias("table_idx"),
        F.col("row_idx").cast("bigint").alias("row_idx"),
        F.col("cell_idx").cast("bigint").alias("cell_idx"),
        F.col("is_header").cast("bigint").alias("is_header"),
        "cell_text",
    )


def run_link_hostgraph(spark, sf_dir: str) -> DataFrame:
    return hostgraph_df(links_df(pages_df(spark, sf_dir)))


HITS_ITERS = 3


def hits_df(links: DataFrame) -> DataFrame:
    """Integer HITS (hubs & authorities, Kleinberg) over the distinct
    cross-host edges — PageRank's classic companion: authority = sum of
    in-neighbor hub scores, hub = sum of out-neighbor authority scores,
    {HITS_ITERS} power-iteration rounds.

    Deliberately UNNORMALIZED: each round's normalization in textbook
    HITS is a positive scalar over the whole vector, so raw integer
    power-iteration sums carry the exact same per-round ranking and
    ratios while staying bit-identical across engines (a float L2 norm
    would not).  Values are bounded by degree^(2*ITERS), comfortably
    inside int64 for any host graph whose max degree^6 < 2^63 — a
    production run at higher iteration counts re-scales by max() between
    rounds (still integer); documented, not needed at ITERS=3.

    Same iterative production shape as pagerank_df: edges materialized
    once, two join+agg per round, lineage-truncated state."""
    edges = _cross_edges(_host_graph(links)).select("src", "dst")
    nodes = graph_nodes(edges)
    hub = nodes.withColumn("hub", F.lit(1).cast("bigint"))
    auth = None
    for _ in range(HITS_ITERS):
        a_in = (
            edges.join(hub, edges.src == hub.id)
            .groupBy("dst").agg(F.sum("hub").alias("m"))
        )
        auth = (
            nodes.join(a_in, nodes.id == a_in.dst, "left")
            .select("id", F.coalesce("m", F.lit(0)).cast("bigint")
                    .alias("auth"))
            .localCheckpoint(eager=True)
        )
        h_out = (
            edges.join(auth, edges.dst == auth.id)
            .groupBy("src").agg(F.sum("auth").alias("m"))
        )
        hub = (
            nodes.join(h_out, nodes.id == h_out.src, "left")
            .select("id", F.coalesce("m", F.lit(0)).cast("bigint")
                    .alias("hub"))
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(hub, "id").join(auth, "id")
        .select(F.col("id").alias("host"),
                F.col("hub").cast("bigint").alias("hub"),
                F.col("auth").cast("bigint").alias("auth"))
    )


def hits_oracle_sql() -> str:
    """The HITS rounds unrolled as nested CTEs (pagerank pattern): every
    per-round vector is referenced exactly once by the next round (the
    final select references a{{K}} twice, doubling one level only — not
    the exponential per-round blowup the single-reference rule avoids)."""
    rounds = []
    for k in range(1, HITS_ITERS + 1):
        rounds.append(f"""
      a{k} as (
        select n.host, cast(coalesce(s.m, 0) as bigint) as auth
        from nodes n left join (
          select e.dst as host, sum(h.hub) as m
          from edges e join h{k - 1} h on h.host = e.src
          group by e.dst
        ) s on s.host = n.host
      ),
      h{k} as (
        select n.host, cast(coalesce(s.m, 0) as bigint) as hub
        from nodes n left join (
          select e.src as host, sum(a.auth) as m
          from edges e join a{k} a on a.host = e.dst
          group by e.src
        ) s on s.host = n.host
      )""")
    return (
        _cross_edge_ctes()
        + f""",
      h0 as (select host, cast(1 as bigint) as hub from nodes),
      {",".join(rounds)}
      select h.host, h.hub, a.auth
      from h{HITS_ITERS} h join a{HITS_ITERS} a on a.host = h.host
    """
    )


def run_hits_hosts(spark, sf_dir: str) -> DataFrame:
    return hits_df(links_df(pages_df(spark, sf_dir)))


def run_pagerank_hosts(spark, sf_dir: str) -> DataFrame:
    return pagerank_df(links_df(pages_df(spark, sf_dir)))


def run_anchor_text(spark, sf_dir: str) -> DataFrame:
    return anchor_text_df(links_df(pages_df(spark, sf_dir)))


# host_components: min-label rounds unrolled in the oracle / iterated by the
# Spark runner.  Fixpoint on this corpus measured at 10 rounds (sf0.01; the
# recompute pin in tests/test_linkops.py proves round HC_ITERS is the true
# labeling); 12 leaves margin.  Production note: plain min-label needs
# O(diameter) rounds — a web-scale run uses alternating large-star /
# small-star (Kiveris et al. 2014, public), which converges in O(log n)
# rounds with the same per-round join+min shape.
HC_ITERS = 12
# repeated-linkage threshold: a single cross-host link is incidental (every
# corpus page carries one partner-footer link, which connects the WHOLE host
# graph into one component); hosts linked by >= 2 distinct page links form
# the site families this operator exists to find.
HC_MIN_WEIGHT = 2


def host_components_df(links: DataFrame) -> DataFrame:
    """Site-family detection: connected components over the UNDIRECTED
    repeated-linkage host graph (cross-host edges with >= {HC_MIN_WEIGHT}
    links), labels = lexicographic-min host per component via
    {HC_ITERS} min-label propagation rounds.

    Iterative production shape (the run_dedup_clusters pattern, through
    the same ``textops.min_label_components``): the host graph
    materialized once; each round is one join keyed on the edge end + one
    group-min, the label relation lineage-truncated per round."""
    hg = _host_graph(links)
    strong = _cross_edges(hg).where(F.col("n_links") >= HC_MIN_WEIGHT)
    return min_label_components(strong, hg, HC_ITERS).select(
        F.col("id").alias("host"),
        F.col("lbl").alias("cluster_rep"),
        F.col("n").cast("bigint").alias("cluster_size"),
    )


def run_host_components(spark, sf_dir: str) -> DataFrame:
    return host_components_df(links_df(pages_df(spark, sf_dir))).orderBy("host")


def triangles_sql(duck: bool) -> str:
    """Triangle counting + local clustering over an ``hedges(src_host,
    dst_host)`` relation — the classic graph-structure audit (spam farms
    and boilerplate link rings show up as dense triangle clusters; Suri &
    Vassilvitskii 2011's MapReduce formulation is the public scale
    pattern).  Edges are undirected-deduped and ORIENTED (a < b by name),
    so each triangle is enumerated exactly once as a < b < c via two
    hash joins; per-host counts unfold each triangle onto its three
    corners, and clustering_pct = 200 * tri / (deg * (deg - 1)).

    Scale shape: joins are keyed on single hosts (balanced after the
    orientation halves each edge to its lower endpoint); a production run
    on a skewed web graph orders by DEGREE instead of name — same
    one-line orientation rule, documented here rather than applied since
    the oracle needs name order to be engine-identical."""
    div = _d(duck)["div"]
    return f"""
      uedges as (
        select distinct least(src_host, dst_host) as a,
               greatest(src_host, dst_host) as b
        from hedges where src_host <> dst_host
      ),
      tris as (
        select e1.a, e1.b, e2.b as c
        from uedges e1
        join uedges e2 on e2.a = e1.b
        join uedges e3 on e3.a = e1.a and e3.b = e2.b
      ),
      corners as (
        select a as host from tris
        union all select b from tris
        union all select c from tris
      ),
      per_host as (
        select host, cast(count(*) as bigint) as n_triangles
        from corners group by host
      ),
      ends as (
        select a as host from uedges union all select b from uedges
      ),
      deg as (
        select host, cast(count(*) as bigint) as degree from ends
        group by host
      )
      select d.host, d.degree,
             coalesce(p.n_triangles, 0) as n_triangles,
             cast(case when d.degree >= 2
                  then (200 * coalesce(p.n_triangles, 0))
                       {div} (d.degree * (d.degree - 1))
                  else 0 end as bigint) as clustering_pct
      from deg d left join per_host p on p.host = d.host
      order by d.host
    """


FANIN_CAP = 16  # co-citation sources kept per destination (skew guard)


def cocitation_sql(duck: bool) -> str:
    """Co-citation host similarity (Small 1973, the other classic link
    measure beside HITS/PageRank): two hosts are related when they link
    to the same destinations — how a crawl finds mirror networks and
    content farms sharing a partner ring.  The pair join is the classic
    quadratic hazard (a destination with fan-in F yields F^2/2 pairs;
    this corpus's popular partner host makes the skew real), so each
    destination keeps only its top-{FANIN_CAP} strongest sources
    (deterministic: link count desc, name asc) before the self-join —
    the same bounded-pair contract as host_components' repeated-linkage
    threshold, and the trade is explicit: pairs among a hub's weakest
    sources are sacrificed, pairs through ordinary destinations are
    exact.

    cocite_milli = 1000 * shared / min(out-degree) — containment-style,
    so a small host fully inside a big host's citation set scores 1000.

    Scale: one per-destination window (bounded output, {FANIN_CAP} rows
    per key), one capped self-join, hash aggs — never an uncapped
    destination fan-out."""
    div = _d(duck)["div"]
    return f"""
      uedges as (
        select src_host as src, dst_host as dst, n_links
        from hedges where src_host <> dst_host
      ),
      capped as (
        select dst, src from (
          select dst, src,
                 row_number() over (
                   partition by dst order by n_links desc, src asc
                 ) as rk
          from uedges
        ) r where rk <= {FANIN_CAP}
      ),
      outdeg as (
        select src, count(distinct dst) as deg from uedges group by src
      ),
      pairs as (
        select a.src as host_a, b.src as host_b,
               cast(count(*) as bigint) as n_shared
        from capped a join capped b
          on a.dst = b.dst and a.src < b.src
        group by a.src, b.src
      )
      select p.host_a, p.host_b, p.n_shared,
             cast(da.deg as bigint) as deg_a,
             cast(db.deg as bigint) as deg_b,
             cast((1000 * p.n_shared) {div} least(da.deg, db.deg)
                  as bigint) as cocite_milli
      from pairs p
      join outdeg da on da.src = p.host_a
      join outdeg db on db.src = p.host_b
      order by p.host_a, p.host_b
    """


def _over_hedges(spark, sf_dir: str, sql: str) -> DataFrame:
    """Run ``sql``, a ``*_sql(duck=False)`` body of CTEs and a final
    select, over ``hedges``: the host graph, localCheckpointed, because
    cocitation reads it three times, triangles and hyperball five, and
    Catalyst inlines CTEs — without the checkpoint the mapInPandas PARSE
    would re-run per reference."""
    hostgraph_df(links_df(pages_df(spark, sf_dir))).localCheckpoint(
        eager=True
    ).createOrReplaceTempView("hedges")
    return spark.sql("with " + sql)


def run_host_cocitation(spark, sf_dir: str) -> DataFrame:
    return _over_hedges(spark, sf_dir, cocitation_sql(duck=False))


def run_host_triangles(spark, sf_dir: str) -> DataFrame:
    return _over_hedges(spark, sf_dir, triangles_sql(duck=False))


# --- DuckDB oracles ----------------------------------------------------------
# The corpus link skeleton (document order; htmlgraft/corpus.py _html_expr):
#   1 nav   <a href="/">Home</a>
#   2 nav   <a href=/{source} class=active>{source}</a>
#   3 nav   <a href="/about?a=1&b=2">About</a>   (&b= is not an entity)
#   4 table <a href="/more">more like this</a>
#   5 aside <a href="/r1">related one</a>
#   6 aside <a href="/r2">related two</a>
#   7 foot  <a href="/tos">terms</a>
#   8 foot  <a href="https://{partner}/">partner</a>

_LINK_VALUES = (
    "(values (1, '/', 'Home'), (2, '', ''), (3, '/about?a=1&b=2', 'About'), "
    "(4, '/more', 'more like this'), (5, '/r1', 'related one'), "
    "(6, '/r2', 'related two'), (7, '/tos', 'terms'), (8, '', 'partner')) "
    "as l(pos, href, anchor)"
)


def _lnk_ctes() -> str:
    """The expected pages plus ``lnk(url, pos, href, anchor)``: every
    link the corpus skeleton above puts on each page."""
    return pages_oracle_cte() + "," + f"""
      lnk as (
        select url,
               cast(l.pos as bigint) as pos,
               case l.pos when 2 then concat('/', source)
                          when 8 then concat('https://', partner, '/')
                          else l.href end as href,
               case l.pos when 2 then source else l.anchor end as anchor
        from expected cross join {_LINK_VALUES}
      )"""


def links_oracle_sql() -> str:
    return _lnk_ctes() + " select url, pos, href, anchor from lnk"


def metadata_oracle_sql() -> str:
    return pages_oracle_cte() + """
      select url,
             concat('Doc ', cast(doc_id as varchar), ' — ', source) as title,
             host as h1,
             cast(case when doc_id % 7 = 0 then 0 else 1 end as bigint)
               as has_doctype,
             cast(8 as bigint) as n_links
      from expected
    """


# --- WAT metadata-record export (Common Crawl's third format) -----------------
#
# WAT ships one JSON 'metadata' record per response: an Envelope carrying the
# WARC header fields and the parsed HTML-Metadata (head title, outgoing links).
# The record string is assembled from ONE template rendered for both engines
# (chr(92)/chr(34) spell backslash/quote identically — Spark string literals
# are C-escaped, DuckDB's are not, so literals would diverge); the md5 gate
# then pins the JSON escaping, the link ordering, and the Content-Length
# header math on top of the already-pinned link/title extraction.


def _json_esc(col: str) -> str:
    """Minimal JSON string escaping: backslash, then quote.  Control chars
    cannot reach this point — anchor/title text is whitespace-collapsed by
    ``_subtree_text`` and hrefs/urls are single-line attribute values."""
    return (
        f"replace(replace({col}, chr(92), concat(chr(92), chr(92))), "
        f"chr(34), concat(chr(92), chr(34)))"
    )


def _wat_link_elem(duck: bool, pos: str, href: str, anchor: str) -> str:
    s = _d(duck)["str"]
    return (
        f"concat('{{\"pos\":', cast({pos} as {s}), ',\"url\":\"', "
        f"{_json_esc(href)}, '\",\"text\":\"', {_json_esc(anchor)}, '\"}}')"
    )


def _wat_payload(url: str, title: str, links_json: str) -> str:
    return (
        f"concat('{{\"Envelope\":{{\"WARC-Header-Metadata\":{{"
        f"\"WARC-Target-URI\":\"', {_json_esc(url)}, "
        f"'\",\"WARC-Type\":\"response\"}},\"Payload-Metadata\":{{"
        f"\"HTTP-Response-Metadata\":{{\"HTML-Metadata\":{{"
        f"\"Head\":{{\"Title\":\"', {_json_esc(title)}, "
        f"'\"}},\"Links\":[', {links_json}, ']}}}}}}}}}}')"
    )


def _wat_record(duck: bool, url: str, payload: str) -> str:
    s = _d(duck)["str"]
    return (
        f"concat('WARC/1.0', chr(13), chr(10), "
        f"'WARC-Type: metadata', chr(13), chr(10), "
        f"'WARC-Target-URI: ', {url}, chr(13), chr(10), "
        f"'Content-Type: application/json', chr(13), chr(10), "
        f"'Content-Length: ', cast(length({payload}) as {s}), "
        f"chr(13), chr(10), chr(13), chr(10), {payload}, "
        f"chr(13), chr(10), chr(13), chr(10))"
    )


def wat_payloads_cte(rows: str = "__wat_rows") -> str:
    """The Spark-side with-clause up to ``payloads(url, n_links, payload)``
    — split out so tests can select the raw JSON and json.loads it."""
    elem = _wat_link_elem(False, "s.pos", "s.href", "s.anchor")
    return f"""
      with agg as (
        select url, any_value(title) as title,
               cast(count(*) as bigint) as n_links,
               array_join(transform(
                 array_sort(collect_list(struct(pos, href, anchor))),
                 s -> {elem}), ',') as links_json
        from {rows}
        group by url
      ),
      payloads as (
        select url, n_links,
               {_wat_payload("url", "title", "links_json")} as payload
        from agg
      )
    """


def wat_spark_sql() -> str:
    """Spark side: one hash shuffle on url; link order inside the record is
    pinned by array_sort over (pos, ...) structs (document order, the same
    order string_agg(... order by pos) gives the oracle)."""
    return (
        wat_payloads_cte("__wat_rows")
        + f"""
      select url, n_links,
             cast(length(payload) as bigint) as payload_chars,
             md5({_wat_record(False, "url", "payload")}) as wat_md5
      from payloads
    """
    )


def wat_oracle_sql() -> str:
    elem = _wat_link_elem(True, "pos", "href", "anchor")
    return (
        _lnk_ctes()
        + f""",
      agg as (
        select url, cast(count(*) as bigint) as n_links,
               string_agg({elem}, ',' order by pos) as links_json
        from lnk
        group by url
      ),
      payloads as (
        select e.url, a.n_links,
               {_wat_payload(
                   "e.url",
                   "concat('Doc ', cast(e.doc_id as varchar), ' — ', e.source)",
                   "a.links_json",
               )} as payload
        from expected e join agg a on a.url = e.url
      )
      select url, n_links,
             cast(length(payload) as bigint) as payload_chars,
             md5({_wat_record(True, "url", "payload")}) as wat_md5
      from payloads
    """
    )


def wat_roundtrip_oracle_sql() -> str:
    """Oracle for the on-disk WAT round trip: the reader re-materializes
    exactly the relational facts the envelope was assembled from, so the
    oracle is links ⋈ title — no JSON on the DuckDB side at all (the JSON
    layer must be invisible end to end)."""
    return (
        _lnk_ctes()
        + """
      select l.url,
             concat('Doc ', cast(e.doc_id as varchar), ' — ', e.source)
               as title,
             l.pos, l.href, l.anchor
      from lnk l join expected e on e.url = l.url
    """
    )


# The corpus meta table (corpus.py _html_expr) relies on implicit closes:
#   <table class=meta><tr><th>id<td>{doc_id}<tr><th>lang<td>{lang}
#   <tr><th>link<td><a href="/more">more like this</a></table>
# so the expected cells are a fixed 3x2 grid per page.
_TABLE_CELL_VALUES = (
    "(values (1, 1, 'id'), (1, 2, NULL), (2, 1, 'lang'), (2, 2, NULL), "
    "(3, 1, 'link'), (3, 2, NULL)) as c(row_idx, cell_idx, header_name)"
)


def tables_oracle_sql() -> str:
    return (
        pages_oracle_cte()
        + f"""
      select url,
             cast(1 as bigint) as table_idx,
             cast(c.row_idx as bigint) as row_idx,
             cast(c.cell_idx as bigint) as cell_idx,
             cast(case when c.cell_idx = 1 then 1 else 0 end as bigint)
               as is_header,
             coalesce(c.header_name,
                      case when c.row_idx = 1 then cast(doc_id as varchar)
                           when c.row_idx = 2 then lang
                           else 'more like this' end) as cell_text
      from expected cross join {_TABLE_CELL_VALUES}
    """
    )


# The oracles' href rule (the Spark side's is _absolute_href): absolute
# http(s):// and protocol-relative //host hrefs carry their own authority,
# anything else resolves against the page host ``src``.  ``dst`` is the
# destination host, ``dst_url`` the absolute url the crawl frontier queues.
_RESOLVED_CTE = """
      resolved as (
        select anchor, src,
               case when absolute then split_part(href, '/', 3)
                    else src end as dst,
               case when not absolute then concat('https://', src, href)
                    when href like '//%' then concat('https:', href)
                    else href end as dst_url
        from (
          select href, anchor, split_part(url, '/', 3) as src,
                 href like 'https://%' or href like 'http://%'
                   or href like '//%' as absolute
          from lnk
        ) l
      )"""


def _resolved_ctes() -> str:
    """``_lnk_ctes`` plus ``resolved(anchor, src, dst, dst_url)``: each
    link's anchor, source host, destination host and absolute target."""
    return _lnk_ctes() + "," + _RESOLVED_CTE


def _hedges_ctes() -> str:
    """``_resolved_ctes`` plus ``hedges(src_host, dst_host, n_links)``,
    the host graph (the relation ``_over_hedges`` runs the Spark side's
    graph SQL over)."""
    return _resolved_ctes() + """,
      hedges as (
        select src as src_host, dst as dst_host,
               cast(count(*) as bigint) as n_links
        from resolved group by src, dst
      )"""


def hostgraph_oracle_sql() -> str:
    return _hedges_ctes() + " select src_host, dst_host, n_links from hedges"


def host_cocitation_oracle_sql() -> str:
    return _hedges_ctes() + ",\n" + cocitation_sql(duck=True)


def host_triangles_oracle_sql() -> str:
    return _hedges_ctes() + ",\n" + triangles_sql(duck=True)


def anchor_text_oracle_sql() -> str:
    return (
        _resolved_ctes()
        + f""",
      toks as (
        select dst as dst_host, unnest(string_split(anchor, ' ')) as tok
        from resolved
      ),
      counts as (
        select dst_host, tok, cast(count(*) as bigint) as n
        from toks where tok <> '' group by dst_host, tok
      ),
      ranked as (
        select dst_host, tok, n,
               row_number() over (
                 partition by dst_host order by n desc, tok asc
               ) as rk
        from counts
      )
      select dst_host, cast(rk as bigint) as rank, tok as term, n
      from ranked where rk <= {ANCHOR_TOP_K}
    """
    )


def _cross_edge_ctes() -> str:
    """``_resolved_ctes`` plus the PageRank/HITS graph: the distinct
    cross-host ``edges(src, dst)`` and the ``nodes(host)`` at their ends."""
    return _resolved_ctes() + """,
      edges as (select distinct src, dst from resolved where src <> dst),
      nodes as (
        select distinct host from (
          select src as host from edges union all select dst from edges
        )
      )"""


def pagerank_oracle_sql() -> str:
    """The ITERS PageRank rounds unrolled as nested CTEs (kmeans pattern)."""
    rounds = []
    for k in range(1, ITERS + 1):
        rounds.append(
            f"""
      r{k} as (
        select n.host as host,
               cast({BASE} + ({DAMP_NUM} * coalesce(c.m, 0)) // {DAMP_DEN}
                    as bigint) as rank
        from nodes n left join (
          select e.dst as host, sum(r.rank // o.deg) as m
          from edges e
          join outdeg o on o.src = e.src
          join r{k - 1} r on r.host = e.src
          group by e.dst
        ) c on c.host = n.host
      )"""
        )
    return (
        _cross_edge_ctes()
        + f""",
      outdeg as (select src, count(*) as deg from edges group by src),
      r0 as (select host, cast({SCALE} as bigint) as rank from nodes),
      {",".join(rounds)}
      select host, rank from r{ITERS}
    """
    )



def host_components_oracle_sql() -> str:
    """The HC_ITERS min-label rounds unrolled (``textops.min_label_ctes``,
    the dedup_clusters oracle's builder) over the repeated-linkage edges,
    every host of the host graph a node."""
    return (
        _hedges_ctes()
        + f""",
      hg as (select src_host as src, dst_host as dst, n_links from hedges),
      strong as (
        select src, dst from hg
        where src <> dst and n_links >= {HC_MIN_WEIGHT}
      ),
      {min_label_ctes("strong", "hg", HC_ITERS)}
      select id as host, lbl as cluster_rep,
             cast(n as bigint) as cluster_size
      from comp
      order by host
    """
    )


# --- crawl frontier -----------------------------------------------------------

def frontier_df(links: DataFrame, crawled_urls: DataFrame) -> DataFrame:
    """URL frontier: every link target that resolves OUTSIDE the crawled
    url set, with reference counts — the discovery table a crawler feeds
    back into its fetch queue.  Relative hrefs resolve against the page
    host; absolute ``http(s)://`` hrefs stand alone.

    Scale: one anti-join on the target url (the same size-gated
    broadcast-vs-SMJ decision as the resume anti-join — at 10^12 urls both
    sides shuffle on the url hash) plus one hash aggregation keyed on the
    target; never a global sort (the order-by exists only for the
    sf-scale oracle compare)."""
    href = F.col("href")
    resolved = links.select(
        _src_host_col().alias("src_host"),
        F.when(~_absolute_href(),
               F.concat(F.lit("https://"), _src_host_col(), href))
        # protocol-relative: inherit the scheme (https on a real crawl)
        .when(href.startswith("//"), F.concat(F.lit("https:"), href))
        .otherwise(href)
        .alias("frontier_url"),
    )
    crawled = crawled_urls.select(F.col("url").alias("frontier_url"))
    return (
        resolved.join(crawled, "frontier_url", "left_anti")
        .groupBy("frontier_url")
        .agg(
            F.count("*").cast("bigint").alias("n_refs"),
            F.countDistinct("src_host").cast("bigint").alias("n_ref_hosts"),
        )
        .orderBy("frontier_url")
    )


def run_crawl_frontier(spark, sf_dir: str) -> DataFrame:
    pages = pages_df(spark, sf_dir)
    return frontier_df(links_df(pages), pages.select("url"))


def _frontier_ctes() -> str:
    """Shared CTE chain ending in fagg(frontier_url, n_refs, n_ref_hosts) —
    used by both the frontier oracle and the crawl-schedule oracle so the
    two cannot drift."""
    return (
        _resolved_ctes()
        + """,
      frontier as (
        select r.src as src_host, r.dst_url as frontier_url
        from resolved r
        left join expected e on e.url = r.dst_url
        where e.url is null
      ),
      fagg as (
        select frontier_url,
               cast(count(*) as bigint) as n_refs,
               cast(count(distinct src_host) as bigint) as n_ref_hosts
        from frontier group by frontier_url
      )"""
    )


def frontier_oracle_sql() -> str:
    return _frontier_ctes() + """
      select frontier_url, n_refs, n_ref_hosts
      from fagg order by frontier_url
    """


# politeness scheduling constants.  The per-host delay would come from each
# host's robots.txt crawl-delay in production (see urlops.robots_filter for
# the rule-table shape); here two deterministic classes exercise the math.
N_CRAWL_WORKERS = 8
SLOW_HOST = "popular.example.com"
SLOW_DELAY_S, FAST_DELAY_S = 5, 2


def crawl_schedule_df(frontier: DataFrame) -> DataFrame:
    """Politeness scheduler — turn the discovery frontier into an
    executable fetch plan: every target host is pinned to ONE worker
    (hash affinity, so per-host politeness needs no coordination), urls
    are ranked within their host by reference count (the crawler's
    priority signal), and fetch times space host-mates one crawl-delay
    apart.  Output: (frontier_url, host, worker, slot, fetch_at_seconds).

    Scale: one window partitioned by host (the exact-dedup shuffle shape —
    per-host local state, never a global sort; a 10^6-url host means a
    10^6-row partition-local rank, which is the politeness queue itself);
    worker assignment and delays are pure projections."""
    from pyspark.sql import Window

    host = F.split("frontier_url", "/").getItem(2)
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("frontier_url").asc()
    )
    return (
        frontier.select("frontier_url", "n_refs", host.alias("host"))
        .withColumn("worker", F.expr(h32("host", False) + f" % {N_CRAWL_WORKERS}"))
        .withColumn("slot", F.row_number().over(w).cast("bigint") - 1)
        .withColumn(
            "fetch_at_seconds",
            F.expr(
                f"slot * case when host = '{SLOW_HOST}' "
                f"then {SLOW_DELAY_S} else {FAST_DELAY_S} end"
            ).cast("bigint"),
        )
        .select("frontier_url", "host", "worker", "slot", "fetch_at_seconds")
    )


def run_crawl_schedule(spark, sf_dir: str) -> DataFrame:
    pages = pages_df(spark, sf_dir)
    return crawl_schedule_df(
        frontier_df(links_df(pages), pages.select("url"))
    ).orderBy("frontier_url")


def crawl_schedule_oracle_sql() -> str:
    return _frontier_ctes() + f""",
      sched as (
        select frontier_url, n_refs,
               split_part(frontier_url, '/', 3) as host
        from fagg
      ),
      ranked as (
        select frontier_url, host,
               ({h32("host", True)}) % {N_CRAWL_WORKERS} as worker,
               row_number() over (
                 partition by host
                 order by n_refs desc, frontier_url asc
               ) - 1 as slot
        from sched
      )
      select frontier_url, host,
             cast(worker as bigint) as worker,
             cast(slot as bigint) as slot,
             cast(slot * case when host = '{SLOW_HOST}'
                  then {SLOW_DELAY_S} else {FAST_DELAY_S} end as bigint)
               as fetch_at_seconds
      from ranked
      order by frontier_url
    """


# --- HyperBall neighborhood function (round 5) ------------------------------
#
# Boldi & Vigna, "In-Core Computation of Geometric Centralities with
# HyperBall" (2013, public paper; the HyperANF line of work): the
# neighborhood function N(h, r) = |{hosts reachable from h in <= r hops}|
# for every host AT ONCE, by propagating per-host HyperLogLog registers
# along edges with register-wise max — the only known way to get
# reachability/centrality profiles over a 10^9-host web graph without
# materializing pairs (exact BFS per host is O(V*E); this is O(E*M) per
# radius with a mergeable M-integer state per host, and the register max
# is associative, so every round map-side combines).
#
# Same float-free register geometry as urlops.hll_by_host (M=16, alpha_16
# fixed point, rho over the 28-bit suffix); the raw estimate is reported
# in bigint fixed point with the zero-register count alongside so a
# consumer can apply linear counting, exactly like the other HLL tiers.

HB_M = 16
HB_ALPHA_NUM = int(0.673 * HB_M * HB_M * (1 << 32))
HB_ROUNDS = 2  # radii 0, 1, 2


def hyperball_sql(duck: bool) -> str:
    """HyperBall over ``hedges(src_host, dst_host)``: per-host HLL
    registers of the radius-r out-ball, for r = 0..{HB_ROUNDS}.  Round 0
    sketches {{h}} itself; round t+1 takes the register-wise max of a
    host's own registers and its out-neighbors' round-t registers (one
    equi-join + one group-by max per round — never a transitive-closure
    materialization).  The exact radius-2 ball size is computed alongside
    by an unrolled distinct join as the eval pin (cheap at gate scale,
    NOT part of the production pattern — the sketch is the product).

    Outputs (all bigint/string): the exact pin, the raw fixed-point HLL
    estimates at each radius (monotone non-decreasing by construction),
    the radius-2 zero-register count + register sum, and the densified
    radius-2 register vector md5."""
    d = _d(duck)
    div = d["div"]
    M = HB_M
    rng = d["range_incl"].format("0", str(M - 1))

    def _agg(t: int) -> str:
        return f"""
      agg{t} as (
        select host,
               sum({d['shl1'].format('(32 - r)')})
                 + ({M} - count(*)) * 4294967296 as den
        from sk{t} group by host
      )"""

    def _round(t: int) -> str:
        return f"""
      sk{t} as (
        select host, bucket, max(r) as r from (
          select host, bucket, r from sk{t - 1}
          union all
          select e.src as host, s.bucket, s.r
          from uedges e join sk{t - 1} s on s.host = e.dst
        ) u{t} group by host, bucket
      )"""

    return f"""
      uedges as (
        select distinct src_host as src, dst_host as dst
        from hedges where src_host <> dst_host
      ),
      hosts as (
        select distinct host from (
          select src as host from uedges
          union all select dst from uedges
        ) hh
      ),
      hh as (select host, ({h32('host', duck)}) as hv from hosts),
      sk0 as (
        select host, hv % {M} as bucket,
               case when suffix = 0 then 29 else 29 - {d['blen'].format('suffix')} end as r
        from (select host, hv, hv {div} {M} as suffix from hh) s0
      ),{_round(1)},{_round(2)},{_agg(0)},{_agg(1)},{_agg(2)},
      fin2 as (
        select h.host, a.bucket, coalesce(sk2.r, 0) as r
        from hosts h
        cross join (select {d['explode']}({rng}) as bucket) a
        left join sk2 on sk2.host = h.host and sk2.bucket = a.bucket
      ),
      fagg2 as (
        select host,
               sum(case when r = 0 then 1 else 0 end) as v0,
               sum(r) as register_sum,
               {d['regs_join']} as regs_md5
        from fin2 group by host
      ),
      b1 as (
        select host, host as member from hosts
        union
        select src, dst from uedges
      ),
      b2 as (
        select host, member from b1
        union
        select e.src as host, b.member
        from uedges e join b1 b on b.host = e.dst
      ),
      exact as (
        select host, cast(count(*) as bigint) as n_exact from b2
        group by host
      )
      select x.host,
             x.n_exact as n_exact_r2,
             cast({HB_ALPHA_NUM} {div} a0.den as bigint) as n_est_raw_r0,
             cast({HB_ALPHA_NUM} {div} a1.den as bigint) as n_est_raw_r1,
             cast({HB_ALPHA_NUM} {div} a2.den as bigint) as n_est_raw_r2,
             cast(f.v0 as bigint) as zero_regs_r2,
             cast(f.register_sum as bigint) as register_sum_r2,
             f.regs_md5 as regs_md5_r2
      from exact x
      join agg0 a0 on a0.host = x.host
      join agg1 a1 on a1.host = x.host
      join agg2 a2 on a2.host = x.host
      join fagg2 f on f.host = x.host
      order by x.host
    """


def run_host_hyperball(spark, sf_dir: str) -> DataFrame:
    return _over_hedges(spark, sf_dir, hyperball_sql(duck=False))


def host_hyperball_oracle_sql() -> str:
    return _hedges_ctes() + ",\n" + hyperball_sql(duck=True)
