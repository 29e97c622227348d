import hashlib

import pytest


def _rows_digest(cols, rows) -> str:
    """sha256 over name-sorted columns and sorted rows: the order-free
    fingerprint a query output is pinned by (Spark rows and DuckDB tuples
    alike; non-string values compare as ints)."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    norm = [tuple(None if r[i] is None else r[i] if isinstance(r[i], str)
                  else int(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda r: tuple((v is None, 0 if v is None else v)
                                  for v in r))
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("htmlgraft-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
