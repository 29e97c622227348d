"""Structured Streaming ingest: continuously parse+extract pages as they
arrive (file source standing in for Kafka/Kinesis in the sandbox), with
exactly-once sinks and watermarked windowed metrics.

The batch pipeline (job.py) is the primary path per SURVEY.md §1 — each
document is independent, so resumability comes from state tables, not
streaming.  This module covers the streaming-ingest deployment shape: a
crawler drops page files; the stream picks them up, runs the SAME parse
stage as the batch job (``job.parse_extract``: the ``parse_batch`` row
function on ``job.row_batches``; mapInPandas is fully supported on streaming
DataFrames), and appends to a parquet/Iceberg sink whose checkpoint gives
exactly-once file-level semantics.  ``availableNow`` triggers turn the same
query into an incremental backfill job.

Scale notes: the parse stage is stateless (no shuffle in the stream), so
throughput scales with executors exactly like the batch job; the windowed
metrics stream is the only stateful operator and keys its state by
(window, lang) — bounded cardinality, watermark-expired."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from .job import parse_extract

PAGE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def stream_pages(spark, input_dir: str, max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming source over a drop directory of page parquet files."""
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_parse_extract(pages: DataFrame) -> DataFrame:
    """The batch parse stage applied to a streaming DataFrame (stateless
    map, no repartition): the same columns, transport charset included."""
    return parse_extract(pages, include_dom=False, pre_partitioned=True)


def start_results_sink(results: DataFrame, out_dir: str, checkpoint_dir: str):
    """Exactly-once parquet sink (Iceberg writeTo in prod), triggered
    ``availableNow``: it drains what the source holds, then stops."""
    return (
        results.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_metrics(pages: DataFrame) -> DataFrame:
    """Watermarked per-hour ingest metrics by lang: late pages beyond 2h are
    dropped from state; (window, lang) keys keep state bounded."""
    return (
        pages.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("hour"), "lang", "n_pages", "n_bytes"
        )
    )


# --- custom stateful operator: per-host crawl-session tracking --------------

HOST_STATE_SCHEMA = (
    "n_pages BIGINT, n_bytes BIGINT, first_ts TIMESTAMP, last_ts TIMESTAMP"
)
HOST_OUT_SCHEMA = (
    "host STRING, n_pages BIGINT, n_bytes BIGINT, "
    "first_seen TIMESTAMP, last_seen TIMESTAMP, closed BOOLEAN"
)
HOST_IDLE_TIMEOUT_MS = 30 * 60 * 1000  # close a host session after 30 min idle


def _host_session_fn(key, pdfs, state):
    """applyInPandasWithState update function: accumulate per-host page and
    byte counts; emit a snapshot each micro-batch and a final closed=True
    row when the processing-time timeout fires."""
    import pandas as pd

    (host,) = key
    cols = ["host", "n_pages", "n_bytes", "first_seen", "last_seen", "closed"]
    if state.hasTimedOut:
        n_pages, n_bytes, first_ts, last_ts = state.get
        state.remove()
        yield pd.DataFrame(
            [[host, n_pages, n_bytes, first_ts, last_ts, True]], columns=cols
        )
        return
    n_pages, n_bytes, first_ts, last_ts = (
        state.get if state.exists else (0, 0, None, None)
    )
    first = last = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n_pages += len(pdf)
        n_bytes += int(pdf["n_bytes"].sum())
        ts_min, ts_max = pdf["warc_ts"].min(), pdf["warc_ts"].max()
        first = ts_min if first is None else min(first, ts_min)
        last = ts_max if last is None else max(last, ts_max)
    # first_ts is set once on session open and persisted for the session's
    # lifetime, so both snapshots and the timeout close row report the true
    # session start (not the batch-local minimum)
    if first is not None and (first_ts is None or first < first_ts):
        first_ts = first
    if last is not None and (last_ts is None or last > last_ts):
        last_ts = last
    state.update((n_pages, n_bytes, first_ts, last_ts))
    try:
        state.setTimeoutDuration(HOST_IDLE_TIMEOUT_MS)
    except Exception:
        # NoTimeout mode (bounded availableNow runs): arming a timer is
        # illegal there, and there is nothing to arm — sessions close with
        # the query instead of by idleness
        pass
    yield pd.DataFrame(
        [[host, n_pages, n_bytes, first_ts, last_ts, False]], columns=cols
    )


def host_sessions(pages: DataFrame, timeout: bool = True) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-host crawl statistics with idle-timeout session close.  State is
    keyed by host — bounded by the crawl frontier, and each key holds three
    scalars, so a 10^12-page crawl carries state proportional to distinct
    hosts only.

    ``timeout=False`` disables the idle-close (NoTimeout): needed under an
    ``availableNow`` trigger that must TERMINATE — with processing-time
    timeouts armed, the engine keeps scheduling empty batches so the idle
    timers can eventually fire, and the query never finishes (measured:
    35+ zero-row batches at sf0.001).  A continuous production stream
    keeps the default; the bounded-backfill/gate path disables it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = pages.select(
        F.expr("split(url, '/')[2]").alias("host"),
        F.col("warc_ts"),
        F.length("html").cast("bigint").alias("n_bytes"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        _host_session_fn,
        outputStructType=HOST_OUT_SCHEMA,
        stateStructType=HOST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout if timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_dedup(pages: DataFrame) -> DataFrame:
    """Streaming url dedup: dropDuplicatesWithinWatermark on the url key —
    a re-crawled url arriving within the watermark horizon is suppressed
    before it pays the parse.  State holds one row per url seen within the
    horizon and is expired by the watermark (bounded by crawl rate x
    horizon, not by corpus size — the indefinitely-growing exact-dedup
    state belongs to the batch resume table, job.run_job)."""
    return pages.withWatermark("warc_ts", "2 hours").dropDuplicatesWithinWatermark(
        ["url"]
    )


def _run_stream_query(spark, sf_dir: str, build, final_select,
                      stage=None) -> DataFrame:
    """Shared gated-stream harness: stage the corpus to a drop dir (or
    call ``stage(drop_dir)``, for gates that need a doctored drop dir), run
    ``build(stream_pages(...))`` through the exactly-once sink to
    completion (fail LOUDLY on timeout — a partial sink surfaces as a
    baffling hash mismatch), then ``final_select(sink_df)``, lineage-cut
    so the temp tree can be removed."""
    import shutil
    import tempfile

    from .corpus import pages_df

    base = tempfile.mkdtemp(prefix="graft_stream_q_")
    drop, out, ckpt = f"{base}/pages", f"{base}/out", f"{base}/ckpt"
    try:
        if stage is None:
            pages_df(spark, sf_dir).select(
                "url", "warc_ts", "html", "text", "lang"
            ).repartition(4).write.parquet(drop)
        else:
            stage(drop)
        q = start_results_sink(
            build(stream_pages(spark, drop, max_files_per_trigger=2)),
            out, ckpt,
        )
        try:
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError(
                    "streaming query did not finish within 600s; "
                    "sink is partial"
                )
        except Exception:
            if q.isActive:
                q.stop()
            raise
        # localCheckpoint cuts lineage INSIDE the try: once it returns, the
        # rows no longer reference the temp tree, and the finally can
        # remove it on success and failure alike (a failed run otherwise
        # leaks the full staged corpus per invocation on a shared box).
        return final_select(spark.read.parquet(out)).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def run_stream_dedup(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: streaming url dedup
    (``dropDuplicatesWithinWatermark``) under the full value oracle.  The
    staged drop dir carries every page TWICE — the original at a BOUNDED
    event time (corpus spread re-keyed into one hour) and a re-crawl of
    the same url 30 minutes later.  The whole stream spans < 90 minutes
    of event time against a 2-hour horizon, so the watermark can never
    expire dedup state mid-run regardless of micro-batch file order: the
    gate is batching-deterministic, and the result must be exactly one
    (url, lang) row per url.  Both copies of a url are identical in the
    emitted columns, so WHICH copy survives cannot leak into the hash.

    Scale: state is one row per url within (crawl rate × horizon) — the
    production knob — not per corpus; expiry is the watermark's job."""
    from .corpus import pages_df

    p = pages_df(spark, sf_dir).select(
        "url",
        F.expr("timestamp_seconds(1709251200 + doc_id % 3600)")
        .alias("warc_ts"),
        "html", "text", "lang",
    )
    dup = p.withColumn("warc_ts", F.expr("warc_ts + interval 30 minutes"))
    return _run_stream_query(
        spark, sf_dir,
        lambda s: streaming_dedup(s).select("url", "lang"),
        lambda df: df.select("url", "lang"),
        stage=lambda drop: p.unionAll(dup).repartition(4).write.parquet(drop),
    )


def stream_dedup_oracle_sql() -> str:
    from .corpus import pages_oracle_cte

    return pages_oracle_cte() + " select url, lang from expected"


def run_stream_host_sessions(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: the CUSTOM STATEFUL streaming operator
    (``host_sessions``, applyInPandasWithState) under the full value
    oracle.  The per-batch snapshots are batching-dependent, but the
    accumulated state is monotone — n_pages/n_bytes only grow, first_seen
    only shrinks, last_seen only grows — so the per-host extremes over the
    sink equal the FINAL state, which must match the relational per-host
    rollup (the oracle recomputes page bytes from the independent DuckDB
    html spelling, cross-pinning the byte accounting yet again).

    Scale: state is |hosts|-bounded (three scalars per host); the final
    rollup is one hash agg over snapshot rows."""

    def final(df):
        return (
            df.groupBy("host")
            .agg(
                F.max("n_pages").cast("bigint").alias("n_pages"),
                F.max("n_bytes").cast("bigint").alias("n_bytes"),
                F.min(F.unix_timestamp("first_seen")).cast("bigint")
                .alias("first_s"),
                F.max(F.unix_timestamp("last_seen")).cast("bigint")
                .alias("last_s"),
            )
            .orderBy("host")
        )

    return _run_stream_query(
        spark, sf_dir, lambda pages: host_sessions(pages, timeout=False),
        final,
    )


def stream_host_sessions_oracle_sql() -> str:
    """Relational restatement of the final stateful-session state: per-host
    doc count, SUMMED page bytes recomputed from corpus.html_expr_duck()
    (the independent DuckDB page spelling), and capture-time extremes."""
    from .corpus import html_expr_duck, pages_oracle_cte

    return (
        pages_oracle_cte()
        + f"""
      select host,
             cast(count(*) as bigint) as n_pages,
             cast(sum(octet_length(encode({html_expr_duck()})))
                  as bigint) as n_bytes,
             cast(min(ts_seconds) as bigint) as first_s,
             cast(max(ts_seconds) as bigint) as last_s
      from derived
      group by host
      order by host
    """
    )


def run_stream_extract_text(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: the STREAMING ingest path end-to-end under
    the value-level oracle — pages written to a drop directory, picked up
    by the file-source stream in bounded micro-batches, parsed by the SAME
    mapInPandas UDF as the batch job, committed exactly-once to the
    parquet sink, and read back.  The result must be value-hash-identical
    to the batch ``extract_text`` oracle, so the streaming deployment
    shape (checkpointing, micro-batch re-chunking, sink commit protocol)
    is pinned by the same byte-identity gate as the batch path.

    Scale: the stream is a stateless map — no shuffle, no state store;
    throughput scales with executors exactly like the batch job, and
    ``availableNow`` makes the identical query an incremental backfill."""
    return _run_stream_query(
        spark, sf_dir, stream_parse_extract,
        lambda df: df.select("url", "text"),
    )


WINDOW_BASE_ES = 1709251200  # 2024-03-01 00:00:00 UTC, hour-aligned


def run_stream_window_metrics(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: the WATERMARKED WINDOWED AGGREGATION
    (``windowed_metrics``: 1-hour event-time windows by lang, 2-hour
    watermark, append mode) under the full value oracle — the third leg
    of the streaming tier beside dedup state and custom sessions.

    Append mode only emits a window once the watermark passes its end, so
    the gate must CLOSE every real window deterministically: real pages
    are re-keyed into a < 2-hour event-time span (two adjacent hour
    windows; the span being under the horizon means no real row can ever
    be late, whatever the micro-batch file order), and a single sentinel
    page one day ahead is staged in a SECOND parquet write committed
    after a wall-clock pause, so the file source (mod-time ordered)
    processes it last and its watermark flushes both real windows on the
    closing no-data micro-batch.  The sentinel's own window never closes
    and is additionally filtered by lang.

    Scale: state is (windows-in-horizon x langs) rows — bounded by the
    watermark horizon, not the corpus; the shuffle keys on (window, lang)
    with map-side partial aggregation."""
    import time

    from .corpus import pages_df

    def stage(drop):
        pages_df(spark, sf_dir).select(
            "url",
            F.expr(
                f"timestamp_seconds({WINDOW_BASE_ES} + (doc_id % 2) * 3600"
                " + doc_id % 3600)"
            ).alias("warc_ts"),
            "html", "text", "lang",
        ).repartition(4).write.parquet(drop)
        time.sleep(2)  # distinct mtime: the file source must see this last
        spark.range(1).select(
            F.lit("sentinel://wm").alias("url"),
            F.expr(f"timestamp_seconds({WINDOW_BASE_ES} + 86400)")
            .alias("warc_ts"),
            F.lit(bytearray(b"")).cast("binary").alias("html"),
            F.lit("").alias("text"),
            F.lit("__wm__").alias("lang"),
        ).coalesce(1).write.mode("append").parquet(drop)

    return _run_stream_query(
        spark, sf_dir, windowed_metrics,
        lambda df: df.where(F.col("lang") != "__wm__").select(
            F.unix_timestamp("hour").cast("bigint").alias("hour_es"),
            "lang",
            F.col("n_pages").cast("bigint").alias("n_pages"),
            F.col("n_bytes").cast("bigint").alias("n_bytes"),
        ).orderBy("hour_es", "lang"),
        stage=stage,
    )


def stream_window_metrics_oracle_sql() -> str:
    """Relational restatement: the doctored event time is a pure function
    of doc_id, so each (hour, lang) cell is an independent count + the
    html_expr_duck byte recompute."""
    from .corpus import html_expr_duck, pages_oracle_cte

    return (
        pages_oracle_cte()
        + f"""
      select cast({WINDOW_BASE_ES} + (doc_id % 2) * 3600 as bigint)
               as hour_es,
             lang,
             cast(count(*) as bigint) as n_pages,
             cast(sum(octet_length(encode({html_expr_duck()})))
                  as bigint) as n_bytes
      from derived
      group by 1, 2
      order by hour_es, lang
    """
    )
