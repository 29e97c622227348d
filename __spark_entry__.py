"""Driver contract for the htmlgraft PySpark engine.

``entry(spark)`` runs the flagship parse+extract pipeline at sf0.001.
``queries()`` exposes every implemented operator (SURVEY.md §2B/§2C plus the
training-data operators) as (spark, sf_dir) -> DataFrame; ``oracle_sql()``
gives the DuckDB-checkable equivalent; both read one ``_registry()`` row
per query, so a query and its oracle are declared together.  The HTML
corpus itself is synthesized BY SQL from the ``documents`` table
(htmlgraft/corpus.py), which is what makes even the mapInPandas
parse+extract stage value-checkable: the oracle computes the expected
extracted text relationally, the pipeline must reproduce it byte-for-byte
through tokenize -> tree-build -> extract.

All non-string outputs are integers (or exact min/max doubles) so value
hashes are stable across engines; every computed column is aliased
identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from htmlgraft import (
    clusterops, domops, eventops, jsonlops, linkops, media, pdfops,
    pixelops, relops, simops, streaming, textops, urlops, warcops,
)
from htmlgraft.corpus import pages_df, pages_oracle_cte
from htmlgraft.job import parse_extract

_Runner = Callable[[SparkSession, str], DataFrame]
_Oracle = Callable[[], str]  # renders one query's DuckDB oracle SQL


def _results(spark: SparkSession, sf_dir: str, include_dom: bool = False) -> DataFrame:
    """Full pipeline: synthesize pages from documents, parse+extract."""
    return parse_extract(pages_df(spark, sf_dir), include_dom=include_dom)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize+tree-build+extract the sf0.001 corpus."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    res = _results(spark, "/root/testdata/sf0.001", include_dom=True)
    return res.select(
        "url", "lang", "dom", "text", "n_tokens", "n_nodes", "n_errors", "n_bytes"
    )


# --- pipeline queries (corpus-backed, full value oracle) ---------------------

def _q_extract_text(spark, sf_dir):
    return _results(spark, sf_dir).select("url", "text")


def _q_extract_text_charsets(spark, sf_dir):
    """The decode gate: the SAME parse+extract over the charset corpus —
    six byte-level families (UTF-8+BOM with a lying meta, meta-declared
    windows-1252, undeclared windows-1252, plain UTF-8, UTF-16LE+BOM,
    UTF-16BE+BOM) that must all decode to the same expected text.  Covers
    every htmlgraft/encoding.py prescan branch end to end; a blind utf-8
    decode mojibakes the non-ASCII marker in 4 of 6 families and fails
    the hash."""
    from htmlgraft.corpus import pages_charset_df
    from htmlgraft.job import parse_extract

    res = parse_extract(pages_charset_df(spark, sf_dir), include_dom=False)
    return res.select("url", "text")


def _q_wet_export(spark, sf_dir):
    """WET export — Common Crawl's extracted-text sibling format (ISO
    28500 'conversion' records): the record a user downstream of this
    extraction tier actually consumes.  The record string is assembled
    JVM-side from the REAL parse's text (headers + Content-Length + body);
    the oracle assembles the identical record from the relationally-stated
    expected text, so the md5 check pins the header math (Content-Length
    correctness, CRLF framing) on top of the already-pinned extraction.
    Map-only projection over the parse output — no extra shuffle."""
    return _results(spark, sf_dir).selectExpr(
        "url",
        "cast(length(text) as bigint) as content_length",
        f"{_wet_record_expr(duck=False)} as wet_record",
    ).selectExpr(
        "url",
        "content_length",
        "cast(length(wet_record) as bigint) as rec_chars",
        "md5(wet_record) as wet_md5",
    )


def _wet_record_expr(duck: bool) -> str:
    """The WET conversion-record template, rendered from ONE definition for
    both the Spark projection (over the parse's `text`) and the DuckDB
    oracle (over the expected text) — chr(13)||chr(10) spells CRLF
    identically in both engines; only the string type name differs."""
    s = textops._d(duck)["str"]
    return (
        "concat('WARC/1.0', chr(13), chr(10), "
        "'WARC-Type: conversion', chr(13), chr(10), "
        "'WARC-Target-URI: ', url, chr(13), chr(10), "
        "'Content-Type: text/plain', chr(13), chr(10), "
        f"'Content-Length: ', cast(length(text) as {s}), chr(13), chr(10), "
        "chr(13), chr(10), text, chr(13), chr(10), chr(13), chr(10))"
    )


def _q_extract_stats_by_lang(spark, sf_dir):
    return (
        _results(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("text_chars"),
            F.max(F.length("text")).cast("bigint").alias("max_chars"),
        )
    )


def _q_extract_stats_by_host(spark, sf_dir):
    # host = authority component of the url; skew report for the url-hash
    # repartition (one heavy host carries ~20% of pages by construction)
    return (
        _results(spark, sf_dir)
        .withColumn("host", F.split("url", "/").getItem(2))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("text_chars"),
        )
    )


def _q_extract_skew_topk(spark, sf_dir):
    return (
        _results(spark, sf_dir)
        .select("url", F.length("text").cast("bigint").alias("text_chars"))
        .orderBy(F.col("text_chars").desc(), F.col("url"))
        .limit(20)
    )


def _q_resume_antijoin(spark, sf_dir):
    # resumability primitive: pages minus the done-set (broadcast anti-join);
    # done = every even doc_id, as if a prior run committed half the corpus
    pages = pages_df(spark, sf_dir)
    done = pages.filter("doc_id % 2 = 0").select("url")
    return pages.join(F.broadcast(done), "url", "left_anti").select("url", "lang")


def _q_resume_antijoin_large(spark, sf_dir):
    # scale path: a done-set too large (or of unknown size) to broadcast —
    # parse_extract's size gate falls back to the shuffle sort-merge
    # anti-join, and the surviving half parses through the full pipeline
    pages = pages_df(spark, sf_dir)
    done = pages.filter("doc_id % 2 = 0").select("url")
    return parse_extract(pages, done_urls=done).select(
        "url", "lang"
    )


def _q_extract_reconcile(spark, sf_dir):
    # set-op audit: result urls must exactly cover the corpus urls — checked
    # in BOTH directions (spurious results AND silently dropped rows), so a
    # pipeline losing urls cannot pass the audit one-directionally
    pages = pages_df(spark, sf_dir).select("url")
    res = _results(spark, sf_dir).select("url").localCheckpoint(eager=True)
    return res.exceptAll(pages).unionAll(pages.exceptAll(res))


def _q_extract_ratio(spark, sf_dir):
    """Extraction-quality metric: how much of each page's raw bytes the
    main-content extractor keeps.  boilerplate_permille = 1000 * (html
    bytes NOT emitted as text chars) div html bytes — the per-page audit
    number an extraction tier reports.  The oracle recomputes html_bytes
    from corpus.html_expr_duck(), the independent DuckDB page restatement,
    so this query cross-pins page synthesis, parse, and extraction."""
    pages = pages_df(spark, sf_dir)
    res = parse_extract(pages, include_dom=False).select(
        "url", F.length("text").cast("bigint").alias("text_chars")
    )
    sizes = pages.select(
        "url", F.octet_length("html").cast("bigint").alias("html_bytes")
    )
    return res.join(sizes, "url").select(
        "url",
        "html_bytes",
        "text_chars",
        F.expr("(1000 * (html_bytes - text_chars)) div html_bytes")
        .cast("bigint")
        .alias("boilerplate_permille"),
    )


def _q_extract_spans(spark, sf_dir):
    """Span-level extraction output (the north rule's 'extracted text/spans
    per document'): each extracted content block (paragraph line) with its
    [char_start, char_end) offsets into the document's extracted text plus
    the block md5.  The Spark side derives spans from the ACTUAL pipeline
    output (posexplode over the extracted text); the oracle restates them
    INDEPENDENTLY from the corpus repetition factor (span i = the cleaned
    paragraph at offset i*(len+1)) with no splitting at all — so block
    boundaries, offsets, and content are all cross-checked.

    Scale: the offset window is partitioned per url — per-document local
    state, one shuffle on url, never a global sort."""
    res = _results(spark, sf_dir).select("url", "text")
    lines = res.select(
        "url", F.posexplode(F.split("text", "\n")).alias("idx", "span")
    )
    return lines.selectExpr(
        "url",
        "cast(idx as bigint) as span_idx",
        """cast(coalesce(sum(length(span) + 1) over (
             partition by url order by idx
             rows between unbounded preceding and 1 preceding), 0)
           as bigint) as char_start""",
        """cast(coalesce(sum(length(span) + 1) over (
             partition by url order by idx
             rows between unbounded preceding and 1 preceding), 0)
           + length(span) as bigint) as char_end""",
        "md5(span) as span_md5",
    )


def _q_line_dedup(spark, sf_dir):
    # C4/RefinedWeb line-level dedup over the EXTRACTED text: explode lines,
    # count (docs, occurrences) per distinct line, report repeated lines.
    # Chains the real parse into a corpus-level dedup pass; one hash
    # aggregation keyed on the line -- linear at 10^12 docs.
    lines = (
        _results(spark, sf_dir)
        .select("url", F.explode(F.split("text", "\n")).alias("line"))
        .where("line <> ''")
    )
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("url").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_total"),
        )
        .where("n_total > 1")
        .select(F.md5(F.col("line")).alias("line_md5"), "n_docs", "n_total")
    )


def _q_line_scrub(spark, sf_dir):
    """C4-style duplicated-line REMOVAL (not just detection): lines that
    occur more than twice corpus-wide are scrubbed from every document's
    extracted text, and each document re-emits with its cleaned-text digest
    plus kept/dropped line counts.  Repetitious documents (corpus repeat
    factor >= 3) lose their content lines; unique docs pass through — both
    outcomes occur naturally at every sf.

    Scale: one hash agg keyed on the line for the counts, one join back,
    one per-url agg to reassemble (array_sort over the doc's own lines —
    per-document local state, never a global sort).  The parsed relation
    feeds both the counts side and the join-back side, so it is computed
    once."""
    parse_extract(pages_df(spark, sf_dir)).select("url", "text") \
        .localCheckpoint(eager=True).createOrReplaceTempView("__scrub_res")
    return spark.sql("""
      with lines as (
        select url, posexplode(split(text, chr(10))) as (idx, line)
        from __scrub_res
      ),
      counts as (select line, count(*) as n_total from lines group by line),
      flagged as (
        select l.url, l.idx, l.line,
               case when c.n_total > 2 then 0 else 1 end as keep
        from lines l join counts c on c.line = l.line
      )
      select url,
             md5(coalesce(array_join(transform(array_sort(collect_list(
                   case when keep = 1 then struct(idx, line) end)),
                 x -> x.line), chr(10)), '')) as scrub_md5,
             cast(sum(keep) as bigint) as n_kept,
             cast(sum(1 - keep) as bigint) as n_dropped
      from flagged
      group by url
      order by url
    """)


def _q_layout_cluster(spark, sf_dir):
    """Template detection: cluster pages by their DOM layout skeleton — the
    document-order tag-name sequence pulled from the serialized DOM the
    parse stage already emits (element lines of the html5lib-style print;
    text/comment/doctype lines don't match the line-anchored pattern).
    Boilerplate-heavy crawls collapse into a handful of skeletons; the
    cluster table is what a template-stripping tier keys on.

    The oracle restates the expected skeleton INDEPENDENTLY from the corpus
    repeat factor (prefix + ' p b' * r + suffix), so this query cross-pins
    the parser's structural output — tbody synthesis, implicit li/tr/td
    closes, foster-parent splice — against a relational statement of it.

    Scale: map-side regexp over the dom column + ONE hash agg on the
    skeleton digest; the result is template-count-sized."""
    parse_extract(pages_df(spark, sf_dir), include_dom=True) \
        .select("url", "dom").createOrReplaceTempView("__layout_res")
    return spark.sql(r"""
      with skel as (
        select url,
               md5(array_join(regexp_extract_all(dom,
                 '(?m)^\\| *<([a-zA-Z][a-zA-Z0-9-]*)>$', 1), ' '))
                 as skeleton_md5
        from __layout_res
      )
      select skeleton_md5,
             cast(count(*) as bigint) as n_pages,
             min(url) as exemplar_url
      from skel
      group by skeleton_md5
      order by skeleton_md5
    """)


# layout_cluster oracle: the corpus template's parsed tag sequence.  The
# constants below restate what the PARSER must produce for the known page
# template — including the <tbody> the source never contains, the implicit
# <li>/<tr>/<td> closes, and the svg subtree — as a function of the repeat
# factor r alone (attribute differences don't change the skeleton).
_LAYOUT_PRE = (
    "html head meta title style script body nav ul li a li a li a "
    "header h1 p div"
)
_LAYOUT_SUF = (
    " table tbody tr th td tr th td tr th td a aside svg circle desc "
    "ul li a li a footer a a"
)


def _layout_cluster_oracle() -> str:
    return pages_oracle_cte() + f"""
      , skel as (
        select e.url,
               md5('{_LAYOUT_PRE}' || repeat(' p b', d.r) || '{_LAYOUT_SUF}')
                 as skeleton_md5
        from expected e join derived d on d.doc_id = e.doc_id
      )
      select skeleton_md5,
             cast(count(*) as bigint) as n_pages,
             min(url) as exemplar_url
      from skel
      group by skeleton_md5
      order by skeleton_md5
    """


def _line_scrub_oracle() -> str:
    # Same scrub restated over the oracle's expected text: DuckDB's zipped
    # unnest/generate_subscripts gives the line index, string_agg(... order
    # by idx) reassembles kept lines in document order.
    return pages_oracle_cte() + """
      , lines as (
        select url,
               generate_subscripts(string_split(text, chr(10)), 1) - 1 as idx,
               unnest(string_split(text, chr(10))) as line
        from expected
      ),
      counts as (select line, count(*) as n_total from lines group by line),
      flagged as (
        select l.url, l.idx, l.line,
               case when c.n_total > 2 then 0 else 1 end as keep
        from lines l join counts c on c.line = l.line
      )
      select url,
             md5(coalesce(string_agg(case when keep = 1 then line end,
                   chr(10) order by idx), '')) as scrub_md5,
             cast(sum(keep) as bigint) as n_kept,
             cast(sum(1 - keep) as bigint) as n_dropped
      from flagged
      group by url
      order by url
    """


def _q_corpus_build(spark, sf_dir):
    """The end-to-end dataset build a user of this engine actually ships:
    parse+extract the (doubled) crawl, then decide keep/drop per document —
    exact dedup on the EXTRACTED text (string-min url wins), minimum token
    count, stopword presence — emitting the verdict with the first matching
    reject reason and the keeper url for dropped duplicates.

    The multiplier-2 corpus makes every rule fire: each page has one
    content-identical twin under a different url (exact_dup), short docs
    and stopword-free docs occur naturally.

    Scale: one parse pass, one hash shuffle on md5(text) for the keeper
    choice, map-only filters — the same shapes as extract_text +
    dedup_exact composed; nothing new materializes at 10^12 docs."""
    parse_extract(pages_df(spark, sf_dir, multiplier=2)).select(
        "url", "text"
    ).localCheckpoint(eager=True).createOrReplaceTempView("__build_res")
    return spark.sql("""
      with t as (
        select url, text, md5(text) as h,
               size(split(text, '[ \\n]')) as n_tokens,
               size(filter(split(text, '[ \\n]'),
                    x -> x in ('the','a','of','and','to','in'))) as n_stop
        from __build_res
      ),
      keep1 as (select h, min(url) as keeper_url from t group by h),
      verdict as (
        select t.url, t.n_tokens, k.keeper_url,
               case when t.url <> k.keeper_url then 'exact_dup'
                    when t.n_tokens < 30 then 'too_short'
                    when t.n_stop = 0 then 'no_stopwords'
                    else '' end as reject_reason
        from t join keep1 k on k.h = t.h
      )
      select url,
             cast(n_tokens as bigint) as n_tokens,
             cast(case when reject_reason = '' then 1 else 0 end as bigint)
               as keep,
             reject_reason,
             case when reject_reason = 'exact_dup' then keeper_url
                  else '' end as keeper_url
      from verdict
      order by url
    """)


def _corpus_build_oracle() -> str:
    return pages_oracle_cte(multiplier=2) + """
      , t as (
        select url, text, md5(text) as h,
               len(string_split_regex(text, '[ \\n]')) as n_tokens,
               len(list_filter(string_split_regex(text, '[ \\n]'),
                   x -> x in ('the','a','of','and','to','in'))) as n_stop
        from expected
      ),
      keep1 as (select h, min(url) as keeper_url from t group by h),
      verdict as (
        select t.url, t.n_tokens, k.keeper_url,
               case when t.url <> k.keeper_url then 'exact_dup'
                    when t.n_tokens < 30 then 'too_short'
                    when t.n_stop = 0 then 'no_stopwords'
                    else '' end as reject_reason
        from t join keep1 k on k.h = t.h
      )
      select url,
             cast(n_tokens as bigint) as n_tokens,
             cast(case when reject_reason = '' then 1 else 0 end as bigint)
               as keep,
             reject_reason,
             case when reject_reason = 'exact_dup' then keeper_url
                  else '' end as keeper_url
      from verdict
      order by url
    """


def _expected(select: str) -> _Oracle:
    """Oracle builder: ``select`` over the expected-text CTEs."""
    return lambda: pages_oracle_cte() + " " + select


def _extract_ratio_oracle() -> str:
    from htmlgraft.corpus import html_expr_duck

    return pages_oracle_cte() + f""",
      sizes as (
        select doc_id,
               octet_length(encode({html_expr_duck()})) as html_bytes
        from derived
      )
      select e.url,
             cast(s.html_bytes as bigint) as html_bytes,
             cast(length(e.text) as bigint) as text_chars,
             cast((1000 * (s.html_bytes - length(e.text))) // s.html_bytes
                  as bigint) as boilerplate_permille
      from expected e join sizes s on s.doc_id = e.doc_id
    """


def _charset_oracle() -> str:
    from htmlgraft.corpus import CHARSET_MARKER

    return (
        pages_oracle_cte(marker=CHARSET_MARKER)
        + " select url, text from expected"
    )


def _wet_export_oracle() -> str:
    return pages_oracle_cte() + f""" ,
      recs as (
        select url, cast(length(text) as bigint) as content_length,
               {_wet_record_expr(duck=True)} as wet_record
        from expected
      )
      select url, content_length,
             cast(length(wet_record) as bigint) as rec_chars,
             md5(wet_record) as wet_md5
      from recs"""


# --- operator registry --------------------------------------------------------

def _duck(builder) -> _Oracle:
    """Oracle builder: the DuckDB rendering of a dialect builder."""
    return lambda: builder(duck=True)


def _sql(mod, builder) -> tuple[_Runner, _Oracle]:
    """Row of a dialect builder: Spark runs it through ``mod.run`` over
    that module's tables; the oracle is its DuckDB rendering."""
    return (lambda spark, sf_dir: mod.run(spark, sf_dir, builder),
            _duck(builder))


# The driver's correctness gate checks a bounded per-round subset of this
# registry (first 50); order the entries so coverage debt drains first.
# Round-5 ordering per VERDICT.md §Next: (a) brand-new round-5 queries,
# (b) ann_recall (r2 hash-fail, fix landed r3, never re-gated), (c) the 23
# queries never driver-checked in any round, (d) everything whose last
# driver evidence is r2/r1.  Queries green in r4/r3 go to the back.
_GATE_FIRST = [
    # new in round 5
    "content_density",
    "dom_template",
    "media_webp",
    "pixel_orient",
    "pixel_gif_anim",
    "pixel_ico",
    "pixel_apng",
    "pixel_phash_tiff",
    "pixel_phash_bmp",
    "script_mix",
    "host_hyperball",
    "mime_sniff",
    "sample_priority",
    "pixel_phash_prog",
    "pixel_phash_jpeg",
    "pixel_resize_jpeg",
    "pixel_decode_audit",
    "pixel_neardup",
    "pixel_phash_gif",
    "audio_pcm_features",
    # red in r2, fix landed r3, never re-gated since (simops.py ann_recall)
    "ann_recall",
    # never driver-checked in any round (r1-r4)
    "bpe_encode", "cdc_chunk", "charset_sniff", "corpus_filter",
    "dataset_card", "dedup_band_audit", "gopher_filter", "hash_embed",
    "inverted_index", "media_frame_sample", "media_resize",
    "ngram_collocations", "passage_chunk", "phrase_search", "pii_scrub",
    "ppl_bucket", "quality_classify", "seq_pack", "shard_pack",
    "source_mix", "substring_dedup", "text_normalize", "vocab_induct",
    # last driver evidence r2 or r1 (dtype-sensitive ANN/kmeans first)
    "kmeans_assign", "kmeans_centroids", "ann_brute_topk",
    "ann_lsh_buckets", "ann_lsh_topk", "ann_multilsh_topk",
    "ann_ivf_assign", "ann_ivf_topk", "embedding_neardup",
    "lm_score", "repetition_stats", "stratified_sample", "decontaminate",
    "events_hourly", "events_sessionize", "events_top_users",
    "media_features", "pdf_extract_text", "tpch_pricing_summary",
    "tpch_segment_stats", "tpch_region_rollup", "tpch_top_parts",
    "events_rollup",
    # green in r3, two rounds stale
    "dedup_incremental", "dedup_pipeline", "dedup_recall",
    "winnow_fingerprint", "keyword_extract", "latest_snapshot",
    "recrawl_delta", "domain_stats", "crawl_schedule", "host_components",
    "anchor_text",
    # green in r4 (freshest evidence — drain last)
    "events_asof", "events_range_join", "pixel_phash", "pixel_resize",
    "source_temperature", "kn_ngram", "kn_heldout_score", "dsir_weights",
    "ngram_novelty", "host_triangles", "stream_window_metrics",
    "warc_revisit", "ann_pq_codes", "ann_pq_topk", "dedup_containment",
    "events_funnel", "media_exif_scrub", "host_cocitation",
    "robots_optout", "hll_by_host", "epoch_shuffle", "heavy_hitters",
    "jsonl_roundtrip", "feed_parse", "hist_quantiles", "hits_hosts",
    "cms_freq", "hll_card", "bloom_frontier", "sitemap_parse",
    "stream_dedup", "dom_select", "url_surt", "warc_cdxj",
    "wat_roundtrip", "wat_export", "wet_roundtrip", "semdedup",
    "warc_extract_text_http", "extract_text_charsets",
    "warc_extract_text_gz", "dedup_simhash_idf", "bpe_roundtrip",
    "robots_parse", "dataset_split", "stream_host_sessions",
    "badwords_filter", "bm25_search", "bpe_train", "bpe_vocab",
]


def _registry() -> dict[str, tuple[_Runner, _Oracle]]:
    """Every query once, in registration order: name -> (Spark runner,
    builder of its DuckDB oracle).  Nothing here renders SQL; the oracle
    builders run only when ``oracle_sql()`` is called."""
    text = _expected("select url, text from expected")
    odd_docs = _expected("select url, lang from expected where doc_id % 2 = 1")
    return {
        # parse+extract pipeline (SURVEY.md §2A/§2C via mapInPandas, §2B relational)
        "extract_text": (_q_extract_text, text),
        "extract_text_charsets": (_q_extract_text_charsets, _charset_oracle),
        "wet_export": (_q_wet_export, _wet_export_oracle),
        "extract_stats_by_lang": (_q_extract_stats_by_lang, _expected(
            """select lang, count(*) as n_docs,
                  cast(sum(length(text)) as bigint) as text_chars,
                  cast(max(length(text)) as bigint) as max_chars
           from expected group by lang""")),
        "extract_stats_by_host": (_q_extract_stats_by_host, _expected(
            """select host, count(*) as n_docs,
                  cast(sum(length(text)) as bigint) as text_chars
           from expected group by host""")),
        "extract_skew_topk": (_q_extract_skew_topk, _expected(
            """select url, cast(length(text) as bigint) as text_chars
           from expected
           order by text_chars desc, url limit 20""")),
        "resume_antijoin": (_q_resume_antijoin, odd_docs),
        "resume_antijoin_large": (_q_resume_antijoin_large, odd_docs),
        "extract_reconcile": (_q_extract_reconcile,
                              _expected("select url from expected where 1 = 0")),
        "extract_ratio": (_q_extract_ratio, _extract_ratio_oracle),
        "extract_spans": (_q_extract_spans, _expected(
            """, spans as (
             select e.url, d.clean, unnest(generate_series(1, d.r)) as i
             from expected e join derived d on d.doc_id = e.doc_id
           )
           select url,
                  cast(i - 1 as bigint) as span_idx,
                  cast((i - 1) * (length(clean) + 1) as bigint) as char_start,
                  cast((i - 1) * (length(clean) + 1) + length(clean)
                       as bigint) as char_end,
                  md5(clean) as span_md5
           from spans""")),
        "corpus_build": (_q_corpus_build, _corpus_build_oracle),
        # streaming ingest (Structured Streaming file source, exactly-once
        # sink) — same parse UDF, value-checked against the batch oracle
        "stream_extract_text": (streaming.run_stream_extract_text, text),
        # custom stateful streaming (applyInPandasWithState) under the
        # same value gate: final per-host state vs relational rollup
        "stream_host_sessions": (streaming.run_stream_host_sessions,
                                 streaming.stream_host_sessions_oracle_sql),
        "stream_window_metrics": (streaming.run_stream_window_metrics,
                                  streaming.stream_window_metrics_oracle_sql),
        "stream_dedup": (streaming.run_stream_dedup,
                         streaming.stream_dedup_oracle_sql),
        # WARC container ingestion (Common Crawl source format)
        "warc_extract_text": (warcops.run_warc_extract_text, text),
        "warc_extract_text_gz": (warcops.run_warc_extract_text_gz, text),
        "warc_extract_text_http": (warcops.run_warc_extract_text_http, text),
        "warc_stats": (warcops.run_warc_stats, warcops.warc_stats_oracle_sql),
        "warc_cdx": (warcops.run_warc_cdx, warcops.warc_cdx_oracle_sql),
        "wet_roundtrip": (warcops.run_wet_roundtrip, text),
        "wat_roundtrip": (warcops.run_wat_roundtrip,
                          linkops.wat_roundtrip_oracle_sql),
        "jsonl_roundtrip": (jsonlops.run_jsonl_roundtrip,
                            _duck(jsonlops.jsonl_rows_sql)),
        # structured extraction from the parsed DOM (links, metadata, graph)
        "extract_links": (linkops.run_extract_links, linkops.links_oracle_sql),
        "extract_metadata": (linkops.run_extract_metadata,
                             linkops.metadata_oracle_sql),
        "wat_export": (linkops.run_wat_export, linkops.wat_oracle_sql),
        "extract_tables": (linkops.run_extract_tables,
                           linkops.tables_oracle_sql),
        "link_hostgraph": (linkops.run_link_hostgraph,
                           linkops.hostgraph_oracle_sql),
        "pagerank_hosts": (linkops.run_pagerank_hosts,
                           linkops.pagerank_oracle_sql),
        "hits_hosts": (linkops.run_hits_hosts, linkops.hits_oracle_sql),
        "host_components": (linkops.run_host_components,
                            linkops.host_components_oracle_sql),
        "host_triangles": (linkops.run_host_triangles,
                           linkops.host_triangles_oracle_sql),
        "host_hyperball": (linkops.run_host_hyperball,
                           linkops.host_hyperball_oracle_sql),
        "host_cocitation": (linkops.run_host_cocitation,
                            linkops.host_cocitation_oracle_sql),
        "crawl_schedule": (linkops.run_crawl_schedule,
                           linkops.crawl_schedule_oracle_sql),
        "anchor_text": (linkops.run_anchor_text, linkops.anchor_text_oracle_sql),
        "crawl_frontier": (linkops.run_crawl_frontier,
                           linkops.frontier_oracle_sql),
        "line_dedup": (_q_line_dedup, _expected(
            """, lines as (
             select url, unnest(string_split(text, chr(10))) as line
             from expected
           ),
           agg as (
             select line, count(distinct url) as n_docs, count(*) as n_total
             from lines where line <> '' group by line
           )
           select md5(line) as line_md5,
                  cast(n_docs as bigint) as n_docs,
                  cast(n_total as bigint) as n_total
           from agg where n_total > 1""")),
        "line_scrub": (_q_line_scrub, _line_scrub_oracle),
        "layout_cluster": (_q_layout_cluster, _layout_cluster_oracle),
        # deduplication suite (documents table)
        "dedup_exact": _sql(textops, textops.dedup_exact_sql),
        "dedup_ngram_jaccard": _sql(textops, textops.ngram_jaccard_sql),
        "dedup_minhash_lsh": (textops.run_minhash_lsh,
                              _duck(textops.minhash_lsh_sql)),
        "dedup_containment": (textops.run_dedup_containment,
                              _duck(textops.dedup_containment_sql)),
        "dedup_simhash": _sql(textops, textops.simhash_sql),
        "dedup_simhash_idf": _sql(textops, textops.simhash_idf_sql),
        "dedup_simhash_neardup": (textops.run_simhash_neardup,
                                  _duck(textops.simhash_neardup_sql)),
        "dedup_clusters": (textops.run_dedup_clusters,
                           _duck(textops.dedup_clusters_sql)),
        "dedup_incremental": (textops.run_dedup_incremental,
                              _duck(textops.dedup_incremental_sql)),
        "dedup_pipeline": (textops.run_dedup_pipeline,
                           _duck(textops.dedup_pipeline_sql)),
        "dedup_recall": (textops.run_dedup_recall,
                         _duck(textops.dedup_recall_sql)),
        "host_cap": _sql(textops, textops.host_cap_sql),
        # text analysis
        "url_canonicalize": _sql(textops, urlops.url_canonicalize_sql),
        "url_surt": _sql(textops, urlops.url_surt_sql),
        "warc_cdxj": (warcops.run_warc_cdxj, warcops.warc_cdxj_oracle_sql),
        "dom_select": (domops.run_dom_select, domops.dom_select_oracle_sql),
        "content_density": (domops.run_content_density,
                            domops.content_density_oracle_sql),
        "dom_template": (domops.run_dom_template,
                         domops.dom_template_oracle_sql),
        "url_canon_dedup": _sql(textops, urlops.url_canon_dedup_sql),
        "robots_filter": _sql(textops, urlops.robots_filter_sql),
        "robots_parse": _sql(textops, urlops.robots_parse_sql),
        "sitemap_parse": _sql(textops, urlops.sitemap_parse_sql),
        "feed_parse": _sql(textops, urlops.feed_parse_sql),
        "bloom_frontier": _sql(textops, urlops.bloom_frontier_sql),
        "hll_card": _sql(textops, urlops.hll_card_sql),
        "cms_freq": _sql(textops, textops.cms_freq_sql),
        "hist_quantiles": _sql(textops, textops.hist_quantiles_sql),
        "heavy_hitters": _sql(textops, textops.heavy_hitters_sql),
        "latest_snapshot": _sql(textops, urlops.latest_snapshot_sql),
        "recrawl_delta": _sql(textops, urlops.recrawl_delta_sql),
        "warc_revisit": _sql(textops, urlops.warc_revisit_sql),
        "robots_optout": _sql(textops, urlops.robots_optout_sql),
        "hll_by_host": _sql(textops, urlops.hll_by_host_sql),
        "domain_stats": _sql(textops, urlops.domain_stats_sql),
        "filter_funnel": _sql(textops, textops.filter_funnel_sql),
        "dataset_split": _sql(textops, textops.dataset_split_sql),
        "lang_id": _sql(textops, textops.lang_id_sql),
        "quality_score": _sql(textops, textops.quality_sql),
        "token_count": _sql(textops, textops.token_count_sql),
        "fingerprint": _sql(textops, textops.fingerprint_sql),
        "winnow_fingerprint": _sql(textops, textops.winnow_fingerprint_sql),
        "keyword_extract": _sql(textops, textops.keyword_extract_sql),
        "stratified_sample": _sql(textops, textops.stratified_sample_sql),
        "script_mix": _sql(textops, textops.script_mix_sql),
        "sample_priority": _sql(textops, textops.sample_priority_sql),
        "decontaminate": _sql(textops, textops.decontaminate_sql),
        "lm_score": _sql(textops, textops.lm_score_sql),
        "ppl_bucket": (textops.run_ppl_bucket, _duck(textops.ppl_bucket_sql)),
        "repetition_stats": _sql(textops, textops.repetition_stats_sql),
        "text_normalize": _sql(textops, textops.text_normalize_sql),
        "shard_pack": _sql(textops, textops.shard_pack_sql),
        "badwords_filter": _sql(textops, textops.badwords_filter_sql),
        "pii_scrub": _sql(textops, textops.pii_scrub_sql),
        "corpus_filter": _sql(textops, textops.corpus_filter_sql),
        "gopher_filter": _sql(textops, textops.gopher_filter_sql),
        "source_mix": _sql(textops, textops.source_mix_sql),
        "source_temperature": (textops.run_source_temperature,
                               _duck(textops.source_temperature_sql)),
        "kn_ngram": (textops.run_kn_ngram, _duck(textops.kn_ngram_sql)),
        "kn_heldout_score": (textops.run_kn_heldout,
                             _duck(textops.kn_heldout_sql)),
        "dsir_weights": (textops.run_dsir_weights,
                         _duck(textops.dsir_weights_sql)),
        "ngram_novelty": (textops.run_ngram_novelty,
                          _duck(textops.ngram_novelty_sql)),
        "substring_dedup": _sql(textops, textops.substring_dedup_sql),
        "seq_pack": _sql(textops, textops.seq_pack_sql),
        "epoch_shuffle": _sql(textops, textops.epoch_shuffle_sql),
        "passage_chunk": _sql(textops, textops.passage_chunk_sql),
        "quality_classify": (textops.run_quality_classify,
                             _duck(textops.quality_classify_sql)),
        "dataset_card": _sql(textops, textops.dataset_card_sql),
        "vocab_induct": _sql(textops, textops.vocab_induct_sql),
        "bpe_train": (textops.run_bpe_train, _duck(textops.bpe_train_sql)),
        "bpe_vocab": (textops.run_bpe_vocab, _duck(textops.bpe_vocab_sql)),
        "bpe_encode": (textops.run_bpe_encode, _duck(textops.bpe_encode_sql)),
        "bpe_roundtrip": (textops.run_bpe_roundtrip,
                          _duck(textops.bpe_roundtrip_sql)),
        "hash_embed": (textops.run_hash_embed, _duck(textops.hash_embed_sql)),
        "inverted_index": _sql(textops, textops.inverted_index_sql),
        "bm25_search": (textops.run_bm25_search,
                        _duck(textops.bm25_search_sql)),
        "cdc_chunk": _sql(textops, textops.cdc_chunk_sql),
        "phrase_search": (textops.run_phrase_search,
                          _duck(textops.phrase_search_sql)),
        "ngram_collocations": _sql(textops, textops.ngram_collocations_sql),
        "dedup_band_audit": _sql(textops, textops.dedup_band_audit_sql),
        # similarity search (embeddings table)
        "ann_brute_topk": _sql(simops, simops.ann_topk_sql),
        "ann_lsh_buckets": _sql(simops, simops.lsh_buckets_sql),
        "ann_lsh_topk": _sql(simops, simops.ann_lsh_topk_sql),
        "embedding_neardup": _sql(simops, simops.embedding_neardup_sql),
        "semdedup": _sql(simops, simops.semdedup_sql),
        "ann_ivf_assign": _sql(simops, simops.ivf_assign_sql),
        "kmeans_assign": (clusterops.run_kmeans_assign,
                          _duck(clusterops.kmeans_assign_sql)),
        "kmeans_centroids": (clusterops.run_kmeans_centroids,
                             _duck(clusterops.kmeans_centroids_sql)),
        "ann_ivf_topk": _sql(simops, simops.ivf_topk_sql),
        "ann_pq_codes": _sql(simops, simops.pq_codes_sql),
        "ann_pq_topk": _sql(simops, simops.pq_topk_sql),
        "ann_multilsh_topk": _sql(simops, simops.ann_multilsh_topk_sql),
        "ann_recall": _sql(simops, simops.ann_recall_sql),
        # events: windowed rollups / sessionization / top-k
        "events_hourly": _sql(eventops, eventops.events_hourly_sql),
        "events_sessionize": _sql(eventops, eventops.sessionize_sql),
        "events_top_users": _sql(eventops, eventops.top_users_sql),
        "events_asof": _sql(eventops, eventops.asof_join_sql),
        "events_range_join": _sql(eventops, eventops.range_join_sql),
        "events_funnel": _sql(eventops, eventops.funnel_sql),
        # multimodal plumbing (binary column -> mapInPandas feature extract)
        "media_features": (media.media_features,
                           media.media_features_oracle_sql),
        "media_webp": (media.media_webp, media.media_webp_oracle_sql),
        "mime_sniff": (media.mime_sniff, media.mime_sniff_oracle_sql),
        "media_resize": (media.media_resize, media.media_resize_oracle_sql),
        "media_exif_scrub": (media.media_exif_scrub,
                             media.media_exif_scrub_oracle_sql),
        "media_frame_sample": (media.media_frame_sample,
                               media.media_frame_sample_oracle_sql),
        "pixel_phash": (pixelops.pixel_phash, pixelops.pixel_phash_oracle_sql),
        "pixel_resize": (pixelops.pixel_resize,
                         pixelops.pixel_resize_oracle_sql),
        "pixel_phash_jpeg": (pixelops.pixel_phash_jpeg,
                             pixelops.pixel_phash_jpeg_oracle_sql),
        "pixel_resize_jpeg": (pixelops.pixel_resize_jpeg,
                              pixelops.pixel_resize_jpeg_oracle_sql),
        "pixel_decode_audit": (pixelops.pixel_decode_audit,
                               pixelops.pixel_decode_audit_oracle_sql),
        "pixel_neardup": (pixelops.pixel_neardup,
                          pixelops.pixel_neardup_oracle_sql),
        "pixel_phash_bmp": (pixelops.pixel_phash_bmp,
                            pixelops.pixel_phash_bmp_oracle_sql),
        "pixel_phash_tiff": (pixelops.pixel_phash_tiff,
                             pixelops.pixel_phash_tiff_oracle_sql),
        "pixel_orient": (pixelops.pixel_orient,
                         pixelops.pixel_orient_oracle_sql),
        "pixel_gif_anim": (pixelops.pixel_gif_anim,
                           pixelops.pixel_gif_anim_oracle_sql),
        "pixel_ico": (pixelops.pixel_ico, pixelops.pixel_ico_oracle_sql),
        "pixel_apng": (pixelops.pixel_apng, pixelops.pixel_apng_oracle_sql),
        "pixel_phash_gif": (pixelops.pixel_phash_gif,
                            pixelops.pixel_phash_gif_oracle_sql),
        "pixel_phash_prog": (pixelops.pixel_phash_prog,
                             pixelops.pixel_phash_prog_oracle_sql),
        "audio_pcm_features": (media.audio_pcm_features,
                               media.audio_pcm_features_oracle_sql),
        "charset_sniff": _sql(textops, media.charset_sniff_sql),
        # PDF layout parse (binary column -> content-stream text extraction)
        "pdf_extract_text": (pdfops.pdf_extract_text,
                             pdfops.pdf_extract_oracle_sql),
        # relational warehouse queries (broadcast joins, rollup, top-k)
        "tpch_pricing_summary": _sql(relops, relops.pricing_summary_sql),
        "tpch_segment_stats": _sql(relops, relops.segment_stats_sql),
        "tpch_region_rollup": _sql(relops, relops.region_rollup_sql),
        "tpch_top_parts": _sql(relops, relops.top_parts_sql),
        "events_rollup": _sql(relops, relops.events_rollup_sql),
    }


def queries() -> dict[str, _Runner]:
    """Runners: the ``_GATE_FIRST`` names first, then registration order."""
    reg = _registry()
    names = [k for k in _GATE_FIRST if k in reg]
    names += [k for k in reg if k not in names]
    return {k: reg[k][0] for k in names}


def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_, oracle) in _registry().items()}
