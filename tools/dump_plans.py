#!/usr/bin/env python
"""Dump `.explain(formatted)` physical plans for the flagship pipeline and
representative driver queries into PLANS.md — the plan-shape audit trail
(pushed filters, pruned scans, broadcast joins, whole-stage codegen spans).

Run: python tools/dump_plans.py [sf_dir]  (from any directory; PLANS.md is
written at the root of the checkout this script belongs to)
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

PICKS = [
    "extract_text", "extract_stats_by_host", "resume_antijoin", "resume_antijoin_large",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_neardup", "ann_brute_topk",
    "tpch_segment_stats", "tpch_region_rollup", "events_sessionize",
    "ann_ivf_topk", "pdf_extract_text", "media_features", "url_canonicalize", "keyword_extract", "kmeans_assign",
    "extract_links", "link_hostgraph", "pagerank_hosts", "line_dedup",
    "badwords_filter", "pii_scrub",
    "substring_dedup", "seq_pack", "passage_chunk", "quality_classify",
    "extract_tables", "dataset_card", "media_resize", "warc_extract_text",
    "extract_spans", "warc_cdx", "ppl_bucket", "text_normalize",
    "shard_pack", "host_cap", "dedup_recall",
    "gopher_filter", "latest_snapshot", "charset_sniff", "crawl_frontier",
    "bpe_encode", "winnow_fingerprint", "corpus_build",
    "line_scrub", "layout_cluster", "inverted_index",
    "bm25_search", "cdc_chunk",
    "recrawl_delta", "domain_stats", "filter_funnel",
    "phrase_search", "ngram_collocations", "dedup_band_audit",
    "host_components", "crawl_schedule", "wet_export",
    # round 4
    "extract_text_charsets", "warc_extract_text_gz", "dedup_simhash_idf",
    "vocab_induct", "hash_embed", "bpe_roundtrip", "robots_parse",
    "dataset_split", "semdedup",
    # round 4 session 4 (wat_roundtrip/stream_dedup excluded: they return
    # localCheckpoint-materialized results, so their "plan" is a bare
    # checkpoint scan — the interesting upstream shapes are wat_export's
    # and the streaming tests')
    "wat_export", "url_surt", "warc_cdxj", "dom_select",
    "sitemap_parse", "bloom_frontier", "hll_card", "cms_freq",
    "hits_hosts",
    # round 4 session 5 (stream_window_metrics excluded for the same
    # localCheckpoint reason as the other streaming gates)
    "events_asof", "events_range_join", "host_triangles",
    "kn_ngram", "kn_heldout_score", "dsir_weights", "ngram_novelty",
    "source_temperature",
    "warc_revisit", "ann_pq_codes", "ann_pq_topk", "dedup_containment",
    "events_funnel", "media_exif_scrub", "host_cocitation",
    "robots_optout", "hll_by_host",
    # round 5 (the pixel tier is mapInPandas-dominant; pixel_neardup adds
    # the banded hamming join, sample_priority the bounded global top-k)
    "pixel_phash_jpeg", "pixel_neardup", "audio_pcm_features",
    "mime_sniff", "sample_priority", "host_hyperball", "script_mix",
    "pixel_phash_bmp", "pixel_phash_tiff", "content_density", "dom_template", "media_webp", "pixel_orient", "pixel_gif_anim", "pixel_ico", "pixel_apng",
]


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    # the Python workers import htmlgraft too: they inherit PYTHONPATH from
    # the JVM, which inherits it from this process when the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# PLANS — physical plan audit\n",
        f"`.explain(formatted)` for representative queries at `{SF}` "
        "(generated by `tools/dump_plans.py`).\n",
        "Reviewed invariants: scans prune to needed columns (ReadSchema), "
        "dim joins broadcast, aggregations are hash-based with map-side "
        "partials, relational stages sit inside WholeStageCodegen spans, "
        "the only Python boundary is the one MapInPandas parse stage.\n",
    ]
    for name in PICKS:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {name}\n\n```\n{plan}```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PICKS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
