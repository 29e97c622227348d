"""Replicates the driver's correctness gate: every ``queries()`` entry runs
on Spark and is compared value-for-value (order-insensitive, columns sorted
by name) against its ``oracle_sql()`` DuckDB equivalent."""

import re

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from conftest import _rows_digest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if str(out[c].dtype).startswith(("int", "uint")) or str(
            out[c].dtype
        ) in ("object",):
            pass
        if "datetime" in str(out[c].dtype):
            out[c] = out[c].astype("datetime64[us]")
    # ints: unify to int64 where possible
    for c in cols:
        try:
            if str(out[c].dtype) not in ("object", "string"):
                if "int" in str(out[c].dtype).lower():
                    out[c] = out[c].astype("int64")
        except TypeError:
            pass
    return out.sort_values(cols).reset_index(drop=True)


QUERY_NAMES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    got = _normalize(q(spark, sf_dir).toPandas())
    want = _normalize(duck.execute(sql).df())
    assert list(got.columns) == list(want.columns), (
        got.columns,
        want.columns,
    )
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"url", "dom", "text"} <= set(df.columns)


def test_oracle_keys_cover_queries():
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


# ``_rows_digest`` of the Spark output and of the DuckDB oracle output at
# sf0.001 for every query whose runner materializes a relation it reads
# more than once (dedup_clusters and dedup_pipeline are pinned with the
# link-graph queries in test_linkops).  Both engines must hash to the pinned
# value, so a change to how a runner materializes its pre-pass that moves
# one output row, column name or value fails here.
_MATERIALIZED_DIGESTS = {
    "dedup_minhash_lsh":
        "65eb293646cacb94ab9ae7904cd6af3c755f2a9fb5de6ffd6a982e9adce1f35c",
    "dedup_recall":
        "94e6112813885482bbd4404fea9da50246057c396c3b78b7ae904d0733615fa3",
    "dedup_containment":
        "511fe7b720d3160656b9c99109e79b48d8ae34185d3755cc9c8ff2a104448215",
    "dedup_incremental":
        "02e2b68155f43cfb7c425ed369147ad5c123b675c22de3a1c2454015891febc4",
    "dedup_simhash_neardup":
        "2f355a624fbb5a5777e350e037e884b27cc7fd23400db0bd686ad7fe8a692182",
    "ppl_bucket":
        "c50bea5c4fa9777309c84389c75e55f3e8fc635e56fbea1d254ff1330f9582e3",
    "bm25_search":
        "2ef4bd3bce0d4c4ecc948954a649f71f61a2d41ca56f159542f6d1b9f7d18f31",
    "phrase_search":
        "a223a79e111363532894910b281ef37ba9cfeefcb6a119cd106260ea1a16659a",
    "source_temperature":
        "3414d085a76fb7ad3fb815e87a4ca03cc2cfb61f476c1d2264bd59fc9b8d5265",
    "kn_ngram":
        "1c9859303685678e5093c2f715b7f96266b9d30561dfd7cdc5e68640a66898a0",
    "kn_heldout_score":
        "6451f6cf3c81bb9633b268c114f1c1d885d77a88d5d91a78969ea5883f077a3e",
    "dsir_weights":
        "f76afcbadce5dcdfd7500e99ee4baae2142f259d1c5e444547112a1aad098f6e",
    "ngram_novelty":
        "f5b7943fd05f801584a5857653725a025e937716ebfe2b25ea1b0b8d9e18618f",
    "bpe_train":
        "a7b9a06922e6c904ec4047dd2f94cd7158e2522e308c344bfb7924a8cb91b3ad",
    "bpe_vocab":
        "ef70185c433f3539f64b33eebf9cd7406f07e76805cd6b969444531eaecb020d",
    "bpe_encode":
        "c176bed1f76e87411d375c0cc5fbf2a95dd647319716f2ed840c39384e8833c7",
    "bpe_roundtrip":
        "013e7ffd3bbc3aafd72321dd3837746c3a6d178bbb92d71198b27c08ed956367",
    "kmeans_assign":
        "c350fce6476c0ab08db0740688bef0ac4bd5a53e2601b12794c13f8aae8956fd",
    "kmeans_centroids":
        "94c600f51a3b1a6bea904cc41b02645bd9e358211c811a7149b056fbea192041",
    "warc_cdxj":
        "abb395733f1cee42f00c769d30eed676d88561164e755564dfbd6b8d18dd21c0",
    "line_scrub":
        "1fa82f4e98be262d78195f1ff451894b252945979337ad345e8025c25396c934",
    "corpus_build":
        "9ea89c31d3bf51c13ad11d14c3549beadcaab50f526e3f63610bace57309ee75",
    "extract_reconcile":
        "6d1f181e8238afc23b5bb8ab744d062e2de33ac448c21b5988bb308886d8909c",
    "jsonl_roundtrip":
        "075bac9f70be68aac3facda4d700afcb579de333727a8897e5191988307ccbca",
    "wat_roundtrip":
        "6bb992427aef40f18b98d980612b7b1cd0a1dbe80ffd631e3c60e6f00b099ab6",
    "wet_roundtrip":
        "3f84fc92e4c0ab3e5c487b7173b097cb034344537e1d261a2c45255b0f43ae56",
}


def test_materialized_query_digests(spark, sf_dir, duck):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    got = {}
    for name in sorted(_MATERIALIZED_DIGESTS):
        df = qs[name](spark, sf_dir)
        cur = duck.execute(oracles[name])
        got[name] = (
            _rows_digest(df.columns, df.collect()),
            _rows_digest([c[0] for c in cur.description], cur.fetchall()),
        )
    assert got == {n: (d, d) for n, d in _MATERIALIZED_DIGESTS.items()}


def test_read_many_relations_are_materialized(spark, sf_dir):
    """A relation the query reads more than once is computed once: the
    shingle / simhash / score / word-dict pre-passes leave no parquet scan
    in the plan that follows, and no Python stage runs twice."""
    qs = entrymod.queries()

    def plan(name):
        return (qs[name](spark, sf_dir)._jdf.queryExecution()
                .executedPlan().toString())

    scans = {
        name: plan(name).count("FileScan")
        for name in ("dedup_minhash_lsh", "dedup_recall", "dedup_containment",
                     "dedup_incremental", "dedup_simhash_neardup",
                     "ppl_bucket", "bpe_vocab")
    }
    assert scans == dict.fromkeys(scans, 0)
    stages = {
        name: re.findall(r"MapInPandas (\w+)\(", plan(name))
        for name in ("extract_reconcile", "corpus_build", "line_scrub",
                     "warc_cdxj")
    }
    assert {n: s for n, s in stages.items() if len(s) != len(set(s))} == {}
