"""Distributed pipeline tests at sf0.001: DuckDB-oracle value identity,
partitioning invariance, resume idempotence, and plan shape."""

import duckdb
import pytest

from htmlgraft.corpus import pages_df, pages_oracle_cte
from htmlgraft.job import parse_extract, partition_metrics, run_job


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_df(spark, sf_dir)
    df.cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def expected_map(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf_dir}/documents.parquet'"
    )
    rows = con.execute(
        pages_oracle_cte() + " select url, text from expected"
    ).fetchall()
    return dict(rows)


def test_results_match_oracle(spark, pages, expected_map):
    res = parse_extract(pages, num_parts=8)
    rows = res.select("url", "text", "n_errors", "n_nodes").collect()
    assert len(rows) == len(expected_map) == 500
    assert sum(r["n_errors"] for r in rows) == 0
    for r in rows:
        assert r["text"] == expected_map[r["url"]], r["url"]
        assert r["n_nodes"] > 10


def test_partitioning_invariance(spark, pages, expected_map):
    """Identical (url, text) results regardless of partition count."""
    a = {
        r["url"]: r["text"]
        for r in parse_extract(pages, num_parts=3).select("url", "text").collect()
    }
    b = {
        r["url"]: r["text"]
        for r in parse_extract(pages, num_parts=17).select("url", "text").collect()
    }
    assert a == b == expected_map


def test_resume_idempotent(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    half = pages.filter("doc_id % 2 = 0")
    run_job(spark, half, out, run_id="r1", num_parts=4, include_dom=False)
    n_half = spark.read.parquet(out + "/results").count()
    # resume with the full corpus: only the missing half is parsed, no dupes
    run_job(spark, pages, out, run_id="r2", num_parts=4, include_dom=False)
    res = spark.read.parquet(out + "/results")
    assert res.count() == pages.count()
    assert res.select("url").distinct().count() == pages.count()
    assert n_half < pages.count()
    # progress table covers both runs
    prog = spark.read.parquet(out + "/progress")
    assert set(r["run_id"] for r in prog.select("run_id").distinct().collect()) == {
        "r1",
        "r2",
    }


def test_partition_metrics(spark, pages):
    res = parse_extract(pages, num_parts=8, include_dom=False)
    m = partition_metrics(res).collect()
    assert sum(r["n_docs"] for r in m) == 500
    assert all(r["n_tokens"] > 0 for r in m)


def test_resume_antijoin_size_gate(spark, pages):
    """The resume anti-join must never unconditionally broadcast: a known
    small done-set broadcasts, a large or UNKNOWN-size one takes the shuffle
    sort-merge anti-join (the only shape that survives a 10^12-url state
    table)."""
    done = pages.filter("doc_id % 2 = 0").select("url")
    small = parse_extract(pages, done_urls=done, done_count=10)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    for df in (
        parse_extract(pages, done_urls=done),  # unknown size -> shuffle
        parse_extract(pages, done_urls=done, done_count=10**9),  # too big
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan


def test_resume_parse_stage_keeps_num_parts(spark, pages):
    """After the sort-merge resume anti-join, whose shuffle AQE may
    coalesce, the parse stage still runs on ``num_parts`` partitions
    (num_parts=None: the session's shuffle partitions)."""
    done = pages.filter("doc_id % 2 = 0").select("url")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for num_parts in (None, 3):
        res = parse_extract(pages, num_parts=num_parts, done_urls=done,
                            include_dom=False)
        sizes = res.rdd.glom().map(len).collect()
        assert len(sizes) == (num_parts or n)
        assert sum(sizes) == pages.count() - done.count()


def test_run_job_incremental_state(spark, pages, tmp_path):
    """Resume reads the compact state table, not the full results; metrics
    rows cover only each run's own partitions; results are partitioned by
    run_id so per-run reads prune."""
    out = str(tmp_path / "out")
    half = pages.filter("doc_id % 2 = 0")
    run_job(spark, half, out, run_id="r1", num_parts=4, include_dom=False)
    state = spark.read.parquet(out + "/state_urls")
    assert state.count() == half.count()
    assert set(state.columns) == {"url", "part_id"}
    run_job(spark, pages, out, run_id="r2", num_parts=4, include_dom=False)
    state = spark.read.parquet(out + "/state_urls")
    assert state.count() == pages.count()
    # per-run metrics: r2 processed only the missing half
    prog = spark.read.parquet(out + "/progress")
    n_by_run = {
        r["run_id"]: r["n"]
        for r in prog.groupBy("run_id").sum("n_docs")
        .withColumnRenamed("sum(n_docs)", "n").collect()
    }
    assert n_by_run["r1"] == half.count()
    assert n_by_run["r2"] == pages.count() - half.count()


def test_numeric_looking_run_ids_stay_apart(spark, pages, tmp_path):
    """Run ids "1" and "01" are different runs: the results partition
    column reads back as a string, so neither run's rows leak into the
    other's metrics or state."""
    from htmlgraft.job import ParquetCatalog

    out = str(tmp_path / "out")
    half = pages.filter("doc_id % 2 = 0")
    run_job(spark, half, out, run_id="1", num_parts=4, include_dom=False)
    results = run_job(spark, pages, out, run_id="01", num_parts=4,
                      include_dom=False)
    assert dict(results.dtypes)["run_id"] == "string"
    n_half, n_all = half.count(), pages.count()
    cat = ParquetCatalog(spark, out)
    urls_01 = {r["url"] for r in cat.read_run_results("01").collect()}
    assert len(urls_01) == n_all - n_half
    assert not urls_01 & {r["url"] for r in half.select("url").collect()}
    prog = spark.read.parquet(out + "/progress")
    n_by_run = {
        r["run_id"]: r["n"]
        for r in prog.groupBy("run_id").sum("n_docs")
        .withColumnRenamed("sum(n_docs)", "n").collect()
    }
    assert n_by_run == {"1": n_half, "01": n_all - n_half}
    state = cat.read_state()
    assert state.count() == state.select("url").distinct().count() == n_all


def test_scan_is_pruned(spark, sf_dir):
    """Column pruning must reach the parquet scan: parsing selects only
    (url, lang, html); the scan must not read the documents 'text' column
    twice nor carry unused derived columns through the exchange."""
    spark.catalog.clearCache()  # avoid plan-fragment reuse from cached fixtures
    pages = pages_df(spark, sf_dir)
    res = parse_extract(pages, num_parts=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # derived columns (ts_seconds, warc_ts, host, r) are pruned before the
    # exchange; the scan reads only the four needed document columns
    assert "ts_seconds" not in plan
    assert "n_chars" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>" in plan


def test_read_pages_dispatch():
    """Input routing: iceberg:-prefixed identifiers go through the Iceberg
    DataSourceV2 with the PREFIX STRIPPED (the identifier Iceberg sees is
    catalog.db.table); everything else reads as a parquet path.  Stubbed —
    no Iceberg runtime jars exist in this sandbox."""
    from htmlgraft.job import read_pages

    calls = []

    class _Reader:
        def format(self, fmt):
            calls.append(("format", fmt))
            return self

        def load(self, ident):
            calls.append(("load", ident))
            return "iceberg-df"

        def parquet(self, path):
            calls.append(("parquet", path))
            return "parquet-df"

    class _Spark:
        read = _Reader()

    assert read_pages(_Spark(), "iceberg:warehouse.crawl.pages") == "iceberg-df"
    assert calls == [("format", "iceberg"), ("load", "warehouse.crawl.pages")]
    calls.clear()
    assert read_pages(_Spark(), "/data/pages.parquet") == "parquet-df"
    assert calls == [("parquet", "/data/pages.parquet")]


def test_iceberg_catalog_write_paths():
    """The production sink seam: first write of a table goes through
    writeTo(tbl).partitionedBy(run_id).create() (results) or
    writeTo(tbl).create() (progress/state); subsequent writes go through
    writeTo(tbl).append().  Faked — no Iceberg jars in this sandbox; the
    fake records the exact DataFrameWriterV2 call chain."""
    from htmlgraft.job import IcebergCatalog, make_catalog

    calls = []

    class _WriterV2:
        def __init__(self, tbl):
            self.tbl = tbl

        def partitionedBy(self, col):
            calls.append(("partitionedBy", self.tbl))
            return self

        def append(self):
            calls.append(("append", self.tbl))

        def create(self):
            calls.append(("create", self.tbl))

    class _DF:
        def writeTo(self, tbl):
            calls.append(("writeTo", tbl))
            return _WriterV2(tbl)

    class _SparkCatalog:
        def __init__(self):
            self.existing = set()

        def tableExists(self, tbl):
            return tbl in self.existing

    class _Spark:
        def __init__(self):
            self.catalog = _SparkCatalog()

        def table(self, tbl):
            calls.append(("table", tbl))
            return "table-df"

    spark = _Spark()
    cat = make_catalog(spark, "iceberg:warehouse.crawl.htmlgraft")
    assert isinstance(cat, IcebergCatalog)
    assert cat.results_tbl == "warehouse.crawl.htmlgraft_results"

    # cold catalog: no state table yet -> resume sees None
    assert cat.read_state() is None

    # first write: create, results partitioned by run_id
    cat.append_results(_DF())
    assert calls == [
        ("writeTo", "warehouse.crawl.htmlgraft_results"),
        ("partitionedBy", "warehouse.crawl.htmlgraft_results"),
        ("create", "warehouse.crawl.htmlgraft_results"),
    ]
    calls.clear()
    cat.append_state(_DF())
    assert calls == [
        ("writeTo", "warehouse.crawl.htmlgraft_state_urls"),
        ("create", "warehouse.crawl.htmlgraft_state_urls"),
    ]
    calls.clear()

    # tables now exist: appends must use writeTo(...).append()
    spark.catalog.existing = {
        "warehouse.crawl.htmlgraft_results",
        "warehouse.crawl.htmlgraft_state_urls",
    }
    cat.append_results(_DF())
    cat.append_state(_DF())
    assert calls == [
        ("writeTo", "warehouse.crawl.htmlgraft_results"),
        ("append", "warehouse.crawl.htmlgraft_results"),
        ("writeTo", "warehouse.crawl.htmlgraft_state_urls"),
        ("append", "warehouse.crawl.htmlgraft_state_urls"),
    ]
    calls.clear()

    # state table exists -> resume reads it through the session catalog
    assert cat.read_state() == "table-df"
    assert calls == [("table", "warehouse.crawl.htmlgraft_state_urls")]


def test_make_catalog_parquet_default(spark, tmp_path):
    """Non-iceberg outputs route to the parquet catalog rooted at out_dir."""
    from htmlgraft.job import ParquetCatalog, make_catalog

    cat = make_catalog(spark, str(tmp_path / "state"))
    assert isinstance(cat, ParquetCatalog)
    assert cat.read_state() is None


@pytest.mark.parametrize("corpus", ["pages_df", "pages_charset_df"])
def test_one_pass_links_match_standalone_ops(spark, sf_dir, pages, corpus):
    """include_links=True: the production job emits links + metadata from
    the SAME parse; rows must agree exactly with an in-process
    ``analyze_links`` over each page's own decode and parse, on UTF-8 pages
    and on the charset corpus (cp1252, UTF-16 and BOM'd UTF-8 pages)."""
    from pyspark.sql import functions as F

    from htmlgraft.corpus import pages_charset_df
    from htmlgraft.encoding import decode_html
    from htmlgraft.linkops import analyze_links
    from htmlgraft.parse import parse

    if corpus == "pages_charset_df":
        pages = pages_charset_df(spark, sf_dir)
    full = parse_extract(pages, num_parts=8, include_links=True)
    one_pass_links = {
        (r["url"], r["l"]["pos"], r["l"]["href"], r["l"]["anchor"])
        for r in full.select("url", F.explode("links").alias("l")).collect()
    }
    charset = F.col("charset") if "charset" in pages.columns else F.lit(None)
    standalone, standalone_meta = set(), set()
    for r in pages.select("url", "html", charset.alias("cs")).collect():
        links, title, h1, has_doctype = analyze_links(
            parse(decode_html(bytes(r["html"]), r["cs"])))
        standalone |= {(r["url"], k, href, anchor)
                       for k, (href, anchor) in enumerate(links, start=1)}
        standalone_meta.add((r["url"], title, h1, has_doctype))
    assert one_pass_links == standalone and len(standalone) == 500 * 8

    one_pass_meta = {
        (r["url"], r["title"], r["h1"], r["has_doctype"])
        for r in full.select("url", "title", "h1", "has_doctype").collect()
    }
    assert one_pass_meta == standalone_meta
    # and the text/dom columns are unchanged by the extended schema
    base = dict(
        parse_extract(pages, num_parts=8).select("url", "text").collect()
    )
    for r in full.select("url", "text").collect():
        assert r["text"] == base[r["url"]]


def _zip_finders():
    import sys
    import zipimport

    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]


def test_parse_batch_drops_zip_finders(tmp_path, monkeypatch):
    """PySpark's worker calls importlib.invalidate_caches() before every
    task, which makes each cached zipimporter re-read its archive; the
    parse stage drops those finders, and imports from the zip still work
    afterwards without the archive being read again."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import pandas as pd

    from htmlgraft.job import make_parse_batch

    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/a.py", "X = 1\n")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/b.py", "Y = 2\n")
    saved_path, saved_modules = list(sys.path), set(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zpkg.a").X == 1
        assert _zip_finders()

        frame = pd.DataFrame({"url": ["u"], "lang": [None], "html": [b"<p>hi"],
                              "charset": [None], "part_id": [0]})
        out = list(make_parse_batch()(iter([frame])))
        assert out[0]["status"].tolist() == ["ok"]
        assert not _zip_finders()

        def no_reread(path):
            raise AssertionError(f"re-read {path}")

        monkeypatch.setattr(zipimport, "_read_directory", no_reread)
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.sub.b").Y == 2
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.parametrize("was_enabled", [True, False])
@pytest.mark.parametrize("close_early", [False, True])
def test_parse_batch_restores_gc_state(was_enabled, close_early):
    """The parse stage runs with the cyclic GC off and hands the reused
    worker back with GC as it found it, whether the generator is
    exhausted or closed after its first batch."""
    import gc

    import pandas as pd

    from htmlgraft.job import make_parse_batch

    frames = [pd.DataFrame({"url": [f"u{k}"], "lang": [None], "html": [b"<p>hi"],
                            "charset": [None], "part_id": [0]})
              for k in range(2)]
    prior = gc.isenabled()
    (gc.enable if was_enabled else gc.disable)()
    try:
        gen = make_parse_batch()(iter(frames))
        first = next(gen)
        assert first["url"].tolist() == ["u0"]
        assert not gc.isenabled()
        if close_early:
            gen.close()
        else:
            assert [f["url"].tolist() for f in gen] == [["u1"]]
        assert gc.isenabled() is was_enabled
    finally:
        (gc.enable if prior else gc.disable)()


def test_parse_batch_null_html_takes_error_lane():
    """A null html is a typed error row with no bytes; its frame goes on."""
    import pandas as pd

    from htmlgraft.job import make_parse_batch

    frame = pd.DataFrame({"url": ["u0", "u1"], "lang": [None, None],
                          "html": [None, b"<p>hi"], "charset": [None, None],
                          "part_id": [0, 0]})
    (out,) = make_parse_batch()(iter([frame]))
    assert out[["status", "n_errors", "n_bytes"]].values.tolist() == [
        ["error:TypeError", 1, 0], ["ok", 0, 5]]


# one frame through the parse stage in a child process that caps its own
# address space: a page that outgrows the cap fails the child (MemoryError),
# not the test run
_BUDGET_CHILD = r"""
import json, resource, sys
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
import pandas as pd
from htmlgraft.job import make_parse_batch

pages = json.load(sys.stdin)


def run(include_dom, urls):
    n = len(urls)
    frame = pd.DataFrame({"url": urls, "lang": [None] * n,
                          "html": [pages[u].encode() for u in urls],
                          "charset": [None] * n, "part_id": [0] * n})
    (out,) = make_parse_batch(include_dom, include_links=True)(iter([frame]))
    return out.drop(columns="parse_ms").to_dict("records")


json.dump({"frame": run(True, list(pages)),
           "solo": [run(True, [u])[0] for u in pages],
           "deep_no_dom": run(False, ["deep"])[0]}, sys.stdout, default=int)
"""


def test_dom_budget_keeps_deep_page_in_its_frame():
    """"<table><tr><td>" * 16000 (240 KB) prints a 4.1 GB DOM: the print
    stops at DOM_BUDGET_BYTES, the page takes the error:dom_budget lane
    with its text and links still extracted, and its frame's neighbours
    (an error-lane page among them) read as they do alone.  The deep page
    carries a link before the nesting and text and a link inside it.  The
    child runs under a 1 GiB address-space limit.  Every adversarial
    family at its largest size rides along and keeps its whole DOM."""
    import json
    import pathlib
    import random
    import subprocess
    import sys

    from htmlgraft.parse import parse
    from htmlgraft.walk import print_tree

    root = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    from tools import gen_adversarial_pages

    rng = random.Random(12)
    adversarial = {fam: gen(rng, 2) for fam, gen
                   in sorted(gen_adversarial_pages.FAMILIES.items())}
    with open(root / "fixtures" / "pages_sample.jsonl", encoding="utf-8") as fh:
        sample = [json.loads(line)["html"] for line in fh][:2]
    deep_html = "<p>lead <a href=/x>a</a>" + "<table><tr><td>" * 16000 + \
        "deep <a href=/y>b</a>"
    pages = {"first": sample[0], "deep": deep_html,
             "thrower": "<constructor>", "last": sample[1], **adversarial}
    res = subprocess.run(
        [sys.executable, "-c", _BUDGET_CHILD], input=json.dumps(pages),
        capture_output=True, text=True, cwd=root, timeout=300, check=True)
    got = json.loads(res.stdout)
    frame = {r["url"]: r for r in got["frame"]}
    assert list(frame) == list(pages)
    deep, no_dom = frame["deep"], got["deep_no_dom"]
    assert (deep["status"], deep["n_errors"], deep["dom"]) == (
        "error:dom_budget", 1, "")
    assert no_dom["status"] == "ok" and no_dom["dom"] == ""
    keep = ("text", "links", "title", "h1", "has_doctype", "n_tokens",
            "n_nodes", "n_bytes")
    assert {k: deep[k] for k in keep} == {k: no_dom[k] for k in keep}
    assert deep["text"] == "deep b" and len(deep["links"]) == 2
    for solo in got["solo"]:
        if solo["url"] != "deep":
            assert frame[solo["url"]] == solo
    assert frame["thrower"]["status"].startswith("error:")
    assert frame["first"]["status"] == frame["last"]["status"] == "ok"
    for fam, html in adversarial.items():
        assert frame[fam]["status"] == "ok", fam
        assert frame[fam]["dom"] == print_tree(parse(html)), fam


# --- the shared row-map loop (job.row_batches / job.map_rows) ----------------

def _explode(n, tag):
    """Row function for the loop tests: ``n`` output rows per input row."""
    return [(tag, k) for k in range(n)]


def test_row_batches_maps_zero_one_and_many_rows():
    import pandas as pd

    from htmlgraft.job import row_batches

    frame = pd.DataFrame({"n": [0, 1, 3], "tag": ["a", "b", "c"]})
    out = list(row_batches(_explode, ["n", "tag"], ["tag", "k"])(iter([frame])))
    assert len(out) == 1
    assert list(out[0].itertuples(index=False, name=None)) == [
        ("b", 0), ("c", 0), ("c", 1), ("c", 2)]


def test_row_batches_empty_batch_keeps_column_names():
    import pandas as pd

    from htmlgraft.job import row_batches

    frame = pd.DataFrame({"n": [0, 0], "tag": ["a", "b"]})
    out = list(row_batches(_explode, ["n", "tag"], ["tag", "k"])(iter([frame])))
    assert len(out) == 1 and len(out[0]) == 0
    assert list(out[0].columns) == ["tag", "k"]


def test_row_batches_byte_cap_splits_frames(monkeypatch):
    """A frame is cut once its rows carried MAX_BATCH_BYTES of binary and
    string values, in and out; the rows and their order are unchanged."""
    import pandas as pd

    from htmlgraft import job

    def size_row(doc_id, blob):
        return [(doc_id, len(blob))]

    frame = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5],
                          "blob": [b"x" * 6, b"x" * 6, b"x" * 20, b"", b"x"]})
    batch = job.row_batches(size_row, ["doc_id", "blob"], ["doc_id", "n"])
    (whole,) = batch(iter([frame]))
    monkeypatch.setattr(job, "MAX_BATCH_BYTES", 10)
    out = list(batch(iter([frame])))
    assert [f["doc_id"].tolist() for f in out] == [[1, 2], [3], [4, 5]]
    assert pd.concat(out).values.tolist() == whole.values.tolist()

    # small blobs in, long strings out: the output bytes cut the frames
    def grow_row(doc_id, blob):
        return [(doc_id, "y" * 6 * len(blob))]

    frame = pd.DataFrame({"doc_id": [1, 2, 3, 4], "blob": [b"x", b"", b"x", b"x"]})
    out = list(job.row_batches(grow_row, ["doc_id", "blob"], ["doc_id", "s"])(
        iter([frame])))
    assert [f["doc_id"].tolist() for f in out] == [[1, 2, 3], [4]]
    assert [s for f in out for s in f["s"]] == ["y" * 6, "", "y" * 6, "y" * 6]


def test_map_rows_names_the_stage_after_the_row_function(spark):
    from htmlgraft.job import map_rows

    def explode_rows(n, tag):  # local: the workers cannot import tests/
        return [(tag, k) for k in range(n)]

    df = spark.createDataFrame([(0, "a"), (3, "c")], "n long, tag string")
    out = map_rows(df, ["n", "tag"], "tag string, k long", explode_rows)
    assert sorted(out.collect()) == [("c", 0), ("c", 1), ("c", 2)]
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "MapInPandas" in plan and "explode_rows(" in plan
