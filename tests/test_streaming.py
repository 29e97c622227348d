"""Streaming ingest: the stream over a drop directory must produce exactly
the batch pipeline's results (same UDF, exactly-once sink), and restarting
the same checkpoint must not duplicate."""

import duckdb
import pyspark.sql.functions as F
import pytest

from htmlgraft.corpus import pages_df, pages_oracle_cte
from htmlgraft.job import parse_extract
from htmlgraft.streaming import (
    start_results_sink, stream_pages, stream_parse_extract,
    windowed_metrics,
)


@pytest.fixture(scope="module")
def drop_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drops") / "pages")
    # the "crawler": several files dropped into the directory
    pages_df(spark, sf_dir).select(
        "url", "warc_ts", "html", "text", "lang"
    ).repartition(4).write.parquet(d)
    return d


def test_stream_matches_batch(spark, sf_dir, drop_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_results_sink(
        stream_parse_extract(stream_pages(spark, drop_dir, max_files_per_trigger=2)),
        out, ckpt,
    )
    q.awaitTermination(120)
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(out).select("url", "text").collect()
    }
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{sf_dir}/documents.parquet'")
    want = dict(
        con.execute(pages_oracle_cte() + " select url, text from expected").fetchall()
    )
    assert got == want

    # restart on the same checkpoint: no new files -> no duplicates
    q2 = start_results_sink(
        stream_parse_extract(stream_pages(spark, drop_dir)), out, ckpt
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == len(want)


def test_windowed_metrics(spark, sf_dir, drop_dir):
    # complete mode (memory sink): every window visible regardless of the
    # watermark, so totals must equal the batch rollup exactly.  Append-mode
    # emission (watermark-gated) is exercised by the results-sink test.
    q = (
        windowed_metrics(stream_pages(spark, drop_dir, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("graft_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    m = spark.table("graft_metrics")
    batch = pages_df(spark, sf_dir)
    assert m.agg({"n_pages": "sum"}).collect()[0][0] == batch.count()
    assert (
        m.agg({"n_bytes": "sum"}).collect()[0][0]
        == batch.selectExpr("sum(length(html)) as s").collect()[0]["s"]
    )
    assert set(r["lang"] for r in m.select("lang").distinct().collect()) == {
        "en", "de", "es", "fr", "zh"
    }


def test_streaming_dedup(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark on url: a re-crawled url arriving
    within the watermark horizon is suppressed before the parse.  The drop
    dir carries every page TWICE (two file sets, identical url + warc_ts —
    a crawler re-emitting its frontier); the deduped stream must equal the
    batch distinct."""
    from htmlgraft.streaming import stream_pages, streaming_dedup

    d = str(tmp_path / "dedup_drops")
    base = pages_df(spark, sf_dir).select(
        "url", F.to_timestamp(F.lit("2026-03-01 00:00:00")).alias("warc_ts"),
        "html", "text", "lang",
    )
    base.repartition(3).write.mode("append").parquet(d)
    base.repartition(2).write.mode("append").parquet(d)
    q = (
        streaming_dedup(stream_pages(spark, d, max_files_per_trigger=2))
        .select("url")
        .writeStream.format("memory")
        .queryName("graft_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("graft_dedup")
    n_batch = base.select("url").distinct().count()
    assert spark.read.parquet(d).count() == 2 * n_batch  # dups really exist
    assert got.count() == got.select("url").distinct().count() == n_batch


def test_host_sessions_stateful(spark, sf_dir, drop_dir):
    """applyInPandasWithState: running per-host stats accumulate across
    micro-batches; final snapshots must equal the batch rollup.

    Runs the NoTimeout variant: with processing-time timeouts armed,
    availableNow never terminates (the engine keeps scheduling empty
    batches so the idle timers can fire) — this test previously masked
    that by ignoring awaitTermination's return and reading the memory
    sink after a dead 120 s wait."""
    from htmlgraft.streaming import host_sessions

    q = (
        host_sessions(
            stream_pages(spark, drop_dir, max_files_per_trigger=1),
            timeout=False,
        )
        .writeStream.format("memory")
        .queryName("graft_hosts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "bounded stateful stream must terminate"
    snaps = spark.table("graft_hosts")
    # last snapshot per host (largest n_pages; counts are monotone)
    final = {
        r["host"]: (r["n_pages"], r["n_bytes"])
        for r in snaps.orderBy("n_pages").collect()
    }
    batch = {
        r["host"]: (r["n"], r["b"])
        for r in pages_df(spark, sf_dir)
        .selectExpr("split(url, '/')[2] as host", "length(html) as len")
        .groupBy("host")
        .agg(F.count("*").alias("n"), F.sum("len").cast("bigint").alias("b"))
        .collect()
    }
    assert final == batch
    assert final["popular.example.com"][0] == 100  # the skewed host
    # first_seen is persisted in state: every snapshot of a host reports the
    # session-wide first timestamp (equal to the batch-wide min), not the
    # micro-batch-local one — even in snapshots emitted by later batches
    final_first = {
        r["host"]: r["first_seen"]
        for r in snaps.orderBy("n_pages").collect()  # last row per host wins
    }
    batch_min = {
        r["host"]: r["mn"]
        for r in pages_df(spark, sf_dir)
        .selectExpr("split(url, '/')[2] as host", "warc_ts")
        .groupBy("host").agg(F.min("warc_ts").alias("mn")).collect()
    }
    for host, mn in batch_min.items():
        assert final_first[host] == mn, host
    assert snaps.where(F.col("first_seen").isNull()).count() == 0


def test_host_session_fn_timeout_close_branch():
    """The idle-timeout close path (hasTimedOut -> emit closed=True, drop
    state) cannot fire inside a bounded test run (30-min timer), so it is
    pinned directly against the update function with a fake GroupState."""
    import pandas as pd

    from htmlgraft.streaming import _host_session_fn

    class FakeState:
        def __init__(self, value, timed_out):
            self._v, self.hasTimedOut, self.removed = value, timed_out, False
            self.updated = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            raise RuntimeError("NoTimeout mode: arming a timer is illegal")

    ts1, ts2 = pd.Timestamp("2026-01-01"), pd.Timestamp("2026-01-02")
    st = FakeState((7, 4096, ts1, ts2), timed_out=True)
    (out,) = _host_session_fn(("h.example",), iter([]), st)
    assert st.removed
    assert out.iloc[0].tolist() == ["h.example", 7, 4096, ts1, ts2, True]

    # accumulation branch must survive setTimeoutDuration raising (the
    # NoTimeout gate/backfill mode)
    st2 = FakeState(None, timed_out=False)
    pdf = pd.DataFrame({
        "host": ["h.example"] * 2,
        "warc_ts": [ts2, ts1],
        "n_bytes": [10, 20],
    })
    (out2,) = _host_session_fn(("h.example",), iter([pdf]), st2)
    assert st2.updated == (2, 30, ts1, ts2)
    assert out2.iloc[0].tolist() == ["h.example", 2, 30, ts1, ts2, False]


def test_stream_window_metrics_closes_all_real_windows(spark, sf_dir):
    """The sentinel protocol must close BOTH real hour windows (append
    mode emits nothing for a window the watermark never passes), emit
    exactly one row per (hour, lang), keep the sentinel's own lang out,
    and agree with a batch recompute of the same doctored event times."""
    from collections import Counter

    from htmlgraft import streaming

    rows = streaming.run_stream_window_metrics(spark, sf_dir).collect()
    hours = sorted({r["hour_es"] for r in rows})
    assert hours == [streaming.WINDOW_BASE_ES,
                     streaming.WINDOW_BASE_ES + 3600]
    assert all(r["lang"] != "__wm__" for r in rows)
    keys = [(r["hour_es"], r["lang"]) for r in rows]
    assert len(keys) == len(set(keys))

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang").collect()
    )
    want = Counter(
        (streaming.WINDOW_BASE_ES + (r["doc_id"] % 2) * 3600, r["lang"])
        for r in docs
    )
    got = {(r["hour_es"], r["lang"]): r["n_pages"] for r in rows}
    assert got == dict(want)
    assert all(r["n_bytes"] > 0 for r in rows)


def test_stream_parse_extract_keeps_transport_charset(spark):
    """A pages frame's ``charset`` column (the HTTP Content-Type hint
    ``read_warc_pages`` carries) reaches the stream's decode as it does the
    batch job's: koi8-r bytes with no meta tag come back as Cyrillic."""
    html = ("<html><body><div id=main><p>Привет мир, это текст.</p></div>"
            "</body></html>").encode("koi8-r")
    pages = spark.createDataFrame(
        [("http://k.example/", html, "koi8-r")],
        "url string, html binary, charset string",
    )
    (row,) = stream_parse_extract(pages).collect()
    assert "Привет мир, это текст." in row["text"]
