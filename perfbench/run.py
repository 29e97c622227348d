#!/usr/bin/env python3
"""perfbench: the repository benchmark for htmlgraft's Spark parse stage.

    python3 perfbench/run.py --workload crawl_onepass --seed 1 --seconds 6 --trace 0

Workloads (see manifest.json): crawl_onepass, resume_job, hostile_mix.

``--trace 0`` measures the end-to-end metrics on local[N]: it stages the
seeded inputs, times Spark set-up (process start to the end of a warm-up
pass on a small slice; input staging excluded), settles the JIT with
untimed full passes, then runs timed passes until ``--seconds`` have
elapsed and at least ``MIN_PASSES`` ran, and checks every output row.
``--trace 1`` is the traced run: per-layer spans from calls into each
module, in one process without Spark, plus the Spark layer read from
Spark's status store after untraced passes.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 0 only when
every check passed; a run that cannot start prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# docs per traced layer-split sample (record + two replays per doc)
LAYER_SAMPLE = 300

# untimed full passes that settle the JVM's JIT before any pass is timed,
# and the fewest timed passes a run makes
SETTLE_PASSES = 1
MIN_PASSES = 3


def import_stack() -> float:
    """Import what a run needs; returns the process age when done (the
    first part of the set-up time)."""
    import pyarrow  # noqa: F401
    import pyspark.sql  # noqa: F401

    import htmlgraft.job  # noqa: F401
    import sparkside

    return sparkside.proc_age_s()


def warm_up(spark, wl) -> None:
    """The uncounted pass over the workload's small warm-up slice."""
    wl.run_pass(spark, sub="warm", tag="warm", state_dir=wl.fresh_state("warm"))


def spark_setup(wl, manifest):
    """Session start plus warm-up; returns (spark, seconds)."""
    import sparkside

    t = time.perf_counter()
    spark = sparkside.start_session(manifest["spark_conf"], manifest["cores"])
    try:
        warm_up(spark, wl)
    except BaseException:
        sparkside.stop_session(spark)
        raise
    return spark, time.perf_counter() - t


def timed_pass(spark, wl, tag: str, rss, catalog=None):
    """One timed pass; returns (seconds, output, per-pass Spark stats)."""
    import sparkside

    state_dir = wl.fresh_state(tag)  # untimed
    if catalog is not None:
        catalog = catalog(state_dir)
    spark.sparkContext.setJobGroup(tag, tag)
    rss.start()
    t = time.perf_counter()
    out = wl.run_pass(spark, tag=tag, state_dir=state_dir, catalog=catalog)
    dt = time.perf_counter() - t
    peak_mb = rss.stop()
    stats = sparkside.group_stats(spark, tag)
    stats["worker_peak_rss_mb"] = peak_mb
    return dt, out, stats


def check_outputs(wl, outputs) -> tuple[int, int, int, list]:
    attempted = failed = ok_docs = 0
    problems = []
    for out in outputs:
        res = wl.check(out)
        attempted += res.attempted
        failed += res.failed
        ok_docs += res.ok_docs
        problems += res.problems
    return attempted, failed, ok_docs, problems


def run_timed(wl, args, manifest, t_imports: float) -> dict:
    import sparkside

    phase = time.perf_counter()
    spark, t_setup = spark_setup(wl, manifest)
    setup_s = t_imports + t_setup
    passes = []
    phases = {"setup": time.perf_counter() - phase}
    phase = time.perf_counter()
    try:
        rss = sparkside.WorkerPeakRss()
        # full passes settle the JVM's JIT before any pass is timed; their
        # output is checked like the others but enters no metric
        settle = [timed_pass(spark, wl, f"settle{k}", rss)
                  for k in range(SETTLE_PASSES)]
        deadline = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            dt, out, stats = timed_pass(spark, wl, f"pass{len(passes)}", rss)
            passes.append((dt, out, stats))
        spelling = wl.spelling_check(spark)
    finally:
        phases["passes"] = time.perf_counter() - phase
        phase = time.perf_counter()
        sparkside.stop_session(spark)
        phases["stop"] = time.perf_counter() - phase
    phase = time.perf_counter()

    problems = wl.build_oracle()
    if spelling:
        problems.append(f"corpus.pages_df and the staged pages differ on {spelling} rows")
    attempted, failed, ok_docs, pass_problems = check_outputs(
        wl, [p[1] for p in settle + passes])
    problems += pass_problems
    phases["check"] = time.perf_counter() - phase
    lost = sum(p[2]["tasks_failed"] for p in settle + passes)
    n_docs = attempted // len(settle + passes)
    rates = [n_docs / p[0] for p in passes]
    metrics = {
        "docs_per_s": {"value": statistics.median(rates), "unit": "docs/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "ok_share": {"value": ok_docs / attempted, "unit": "ratio"},
        "worker_peak_rss_mb": {
            "value": statistics.median(p[2]["worker_peak_rss_mb"] for p in passes),
            "unit": "MB",
        },
    }
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "detail": {
            "failed_share": (attempted - ok_docs) / attempted,
            "tasks_failed": lost,
            "docs_per_pass": n_docs,
            "settle_pass_s": [p[0] for p in settle],
            "pass_s": [p[0] for p in passes],
            "phase_s": phases,
            "spark": [p[2] for p in passes],
            "problems": problems[:20],
        },
    }


def run_traced(wl, args, manifest) -> dict:
    import layers
    import sparkside
    import workloads

    cores = manifest["cores"]
    docs = wl.docs()
    trace_path = os.path.join(sparkside.WORK, "traces", f"{wl.name}-seed{wl.seed}.jsonl")
    if os.path.exists(trace_path):
        os.remove(trace_path)

    # in-process layers: the pipeline over every doc of a pass, untraced and
    # traced, then the isolated layer split on a seeded sample
    pipe = layers.Tracer()
    split_tracer = layers.Tracer()
    sample = random.Random(f"{wl.name}:{wl.seed}:sample").sample(
        docs, min(len(docs), LAYER_SAMPLE))
    with layers.gc_off():
        # a first pass warms the interpreter's caches; then untraced and
        # traced passes alternate (U T T U U T) so that drift cancels out of
        # the overhead; the spans kept are the first traced pass's
        layers.serial_pipeline(docs, wl.include_dom, wl.include_links, None)
        untraced_s = traced_s = 0.0
        for k, traced in enumerate((False, True, True, False, False, True)):
            tracer = (pipe if k == 1 else layers.Tracer()) if traced else None
            dt = layers.serial_pipeline(docs, wl.include_dom, wl.include_links, tracer)
            if traced:
                traced_s += dt / 3
            else:
                untraced_s += dt / 3
        split = layers.layer_split(sample, split_tracer)
    batch_s, arrow_s = layers.job_batch(
        sample, wl.include_dom, wl.include_links, split_tracer,
        int(manifest["spark_conf"]["spark.sql.execution.arrow.maxRecordsPerBatch"]))
    batch_over_s = batch_s / len(sample)
    arrow_per_doc_s = arrow_s / len(sample)

    # Spark: untraced passes read through the status store, the no-parse
    # control plan, and (run_job only) the sink spans
    sink = layers.Tracer()
    spark, _ = spark_setup(wl, manifest)
    try:
        rss = sparkside.WorkerPeakRss()
        passes = [timed_pass(spark, wl, f"pass{k}", rss) for k in range(2)]
        wall, _, stats = passes[-1]
        # the control: the same entry point and plan with a no-parse UDF
        state_dir = wl.fresh_state("passthrough")
        spark.sparkContext.setJobGroup("passthrough", "passthrough")
        with workloads.passthrough_udf():
            t = time.perf_counter()
            out = wl.run_pass(spark, tag="passthrough", state_dir=state_dir)
            passthrough_s = time.perf_counter() - t
        n_pass = wl.output_rows(spark, out, "passthrough")
        sink_s = {}
        if wl.name == "resume_job":
            from htmlgraft.job import ParquetCatalog

            cats = []

            def timed_catalog(state_dir):
                cats.append(layers.TimedCatalog(ParquetCatalog(spark, state_dir), sink, "run_job"))
                return cats[-1]
            passes.append(timed_pass(spark, wl, "sink", rss, catalog=timed_catalog))
            sink_s = {op: cats[-1].seconds(op)
                      for op in ("read_state", "append_progress", "append_state")}
    finally:
        sparkside.stop_session(spark)

    oracle_problems = wl.build_oracle()
    attempted, failed, _ok, problems = check_outputs(wl, [p[1] for p in passes])
    problems = oracle_problems + problems
    if n_pass != len(docs):
        problems.append(f"passthrough returned {n_pass} rows for {len(docs)} docs")
    if split["replay_mismatch"]:
        problems.append(f"{split['replay_mismatch']} docs replay to another tree")
    failed += split["replay_mismatch"]
    attempted += split["docs"]

    in_udf_s = (sum(pipe.total_ns(layer)
                    for layer in ("encoding", "lex_parse", "extract", "linkops")) / 1e9
                + len(docs) * (batch_over_s + arrow_per_doc_s))
    n, kb = max(split["docs"], 1), max(split["kb"], 1e-9)
    m = {
        "encoding.us_per_doc": (split["enc"] / 1e3 / n, "us/doc"),
        "lexer.us_per_kb": (split["lexer"] / 1e3 / kb, "us/KB"),
        "lexer.tokens_per_kb": (split["tokens"] / kb, "tokens/KB"),
        "parse.us_per_kb": (split["parse"] / 1e3 / kb, "us/KB"),
        "parse.nodes_per_kb": (split["nodes"] / kb, "nodes/KB"),
        "lex_parse.us_per_kb": (split["live"] / 1e3 / kb, "us/KB"),
        "lex_parse.split_gap_us_per_kb": (
            (split["live"] - split["lexer"] - split["parse"]) / 1e3 / kb, "us/KB"),
        "extract.dom_us_per_doc": (split["dom"] / 1e3 / n, "us/doc"),
        "extract.text_us_per_doc": (split["text"] / 1e3 / n, "us/doc"),
        "extract.dom_bytes_per_input_byte": (
            split["dom_bytes"] / max(split["in_bytes"], 1), "B/B"),
        "linkops.us_per_doc": (split["links"] / 1e3 / n, "us/doc"),
        "linkops.links_per_doc": (split["n_links"] / n, "links/doc"),
        "job.batch_us_per_doc": (batch_over_s * 1e6, "us/doc"),
        "job.arrow_out_us_per_doc": (arrow_per_doc_s * 1e6, "us/doc"),
        "spark.passthrough_s": (passthrough_s, "s"),
        "spark.unattributed_share": (1 - in_udf_s / (wall * cores), "ratio"),
        "spark.task_skew": (stats["task_skew"], "ratio"),
        "spark.shuffle_write_mb": (stats["shuffle_write_mb"], "MB"),
        "spark.tasks_failed": (sum(p[2]["tasks_failed"] for p in passes), "count"),
        "sink.resume_read_s": (sink_s.get("read_state", 0.0), "s"),
        "sink.progress_write_s": (sink_s.get("append_progress", 0.0), "s"),
        "sink.state_write_s": (sink_s.get("append_state", 0.0), "s"),
        "serial.docs_per_s": (len(docs) / untraced_s, "docs/s"),
        "trace.overhead_share": (traced_s / untraced_s - 1, "ratio"),
    }
    pipe.dump(trace_path, "pipeline")
    split_tracer.dump(trace_path, "layer_split")
    sink.dump(trace_path, "sink")
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "detail": {
            "spark_pass_s": wall,
            "spark": [p[2] for p in passes],
            "sample_docs": split["docs"],
            "error_lane_docs_in_sample": split["error_lane"],
            "traces": os.path.relpath(trace_path, ROOT),
            "problems": problems[:20],
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "htmlgraft", "job.py")):
        print(f"perfbench: no htmlgraft package under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import sparkside

    shutil.rmtree(os.path.join(sparkside.WORK, "tmp"), ignore_errors=True)
    sparkside.configure_env()
    t_imports = import_stack()
    import workloads

    manifest = workloads.MANIFEST
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    window = {"before": sparkside.window_probe()}
    wl = workloads.WORKLOADS[args.workload](args.seed, sparkside.WORK)
    wl.prepare()
    try:
        if args.trace:
            result = run_traced(wl, args, manifest)
        else:
            result = run_timed(wl, args, manifest, t_imports)
    finally:
        sparkside.reap_descendants()
        wl.cleanup()
    window["after"] = sparkside.window_probe()

    detail = result.pop("detail")
    record = {"workload": wl.name, "seed": wl.seed, "trace": args.trace,
              "seconds": args.seconds, "window": window, **result, "detail": detail}
    runs = os.path.join(sparkside.WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{wl.name}-seed{wl.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"workload": wl.name, "seed": wl.seed, "window": window,
                      "detail": detail}))
    for name, m in result["metrics"].items():
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}")
    if "failed_share" in detail:
        print(f"{wl.name} failed_share = {detail['failed_share']:.6g} ratio")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
