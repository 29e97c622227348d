#!/usr/bin/env python
"""Scale audit #2 (companion to window_audit.py): flag physical-plan nodes
that are scale hazards at 10^12 docs —

* ``BatchEvalPython`` — a row-at-a-time Python UDF.  NEVER allowed: every
  Python boundary in this repo is an Arrow-batched MapInPandas /
  ArrowEvalPython stage (10-100x the throughput).
* ``CartesianProduct`` — an unbounded cross join.  Never allowed.
* ``BroadcastNestedLoopJoin`` — allowed ONLY for queries whose build side
  is provably constant-size (audited one by one; see ALLOWLIST).  Any NEW
  query that introduces one fails the audit until it is consciously
  adjudicated here.
* one ``MapInPandas`` function named twice — the same Python stage runs
  twice over the same input because a relation the query reads twice was
  inlined, not materialized.  Never allowed (two DIFFERENT functions, such
  as a record walk feeding the parse, are a normal two-stage plan).

Exit non-zero if anything outside the allowlist flags.

Usage: python tools/plan_audit.py [sf_dir]
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose BroadcastNestedLoopJoin build sides are CONSTANT-size
# relations (seeds, centroids, scalar aggregates, literal ranges) — the
# nested loop touches each stream row a constant number of times, so the
# node is a map in disguise, not an O(n^2) join.  Adjudicated in the
# round-3 verdict and re-checked when added here.
ALLOWLIST = {
    # scalar-aggregate or threshold broadcast (1-row build side)
    "dedup_minhash_lsh", "dedup_simhash_neardup", "dedup_recall",
    "dedup_band_audit", "dedup_simhash_idf", "dedup_incremental",
    "bm25_search", "phrase_search", "ngram_collocations", "vocab_induct",
    "filter_funnel",
    # constant seed/centroid/codebook relations (k rows, k fixed)
    "ann_brute_topk", "ann_lsh_topk", "ann_multi_lsh_topk", "ann_ivf_topk",
    "ann_ivf_assign", "ann_recall", "kmeans_assign", "kmeans_centroids",
    "semdedup",
    # literal rule/epoch-factor tables (ROBOTS_RULES = 3 rows; source_mix's
    # per-source factor relation is |sources|-bounded and tiny)
    "robots_filter", "source_mix",
    # scalar/taus/tots broadcasts, audited r4s5: kn_* and dsir cross join a
    # 1-row aggregate (n_types / smoothed totals); source_temperature's tau
    # relation is a 3-row literal; hist_quantiles crosses the per-metric
    # total (|metrics|-bounded) onto the quantile literals
    "kn_ngram", "kn_heldout_score", "dsir_weights", "source_temperature",
    "hist_quantiles",
    # same 16-row seeds literal cross join as dedup_minhash_lsh (audited)
    "dedup_containment",
    # 4-row agents literal cross join onto the hosts relation (audited)
    "robots_optout",
    # 16-row bucket literal cross join densifying per-host registers
    "hll_by_host",
    # same 16-row bucket literal densify on the final HyperBall radius
    "host_hyperball",
    # 1-row tau (the (k+1)-th priority scalar aggregate) cross-joined onto
    # the K kept rows — constant build side, audited r5s4
    "sample_priority",
}

PATTERNS = ("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin")


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    flagged = {}
    for name, fn in E.queries().items():
        try:
            plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # a query that cannot even plan is a finding
            flagged[name] = {f"ERROR {type(e).__name__}: {str(e)[:120]}"}
            continue
        hits = {p for p in PATTERNS if re.search(rf"\b{p}\b", plan)}
        stages = re.findall(r"\bMapInPandas (\w+)\(", plan)
        hits |= {f"MapInPandas {f} x{stages.count(f)}"
                 for f in stages if stages.count(f) > 1}
        if hits:
            flagged[name] = hits
    bad = {
        name: hits for name, hits in flagged.items()
        if hits - ({"BroadcastNestedLoopJoin"} if name in ALLOWLIST else set())
    }
    for name, hits in sorted(flagged.items()):
        tag = "FLAGGED" if name in bad else "ALLOWED"
        print(f"{tag} {name}: {', '.join(sorted(hits))}")
    print(f"plan audit: {len(flagged)} with hazard nodes, {len(bad)} outside"
          f" allowlist, {len(E.queries())} queries")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
