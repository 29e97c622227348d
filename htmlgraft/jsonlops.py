"""JSONL shard sink + source — the interchange format LLM training-data
pipelines actually hand to trainers (one JSON object per line, gzipped
shard files; cf. the public C4/Pile/Dolma releases, all ``.json.gz`` /
``.jsonl.gz`` shards).

Sink: reuses warcops' record-file machinery (one file per partition,
each record its own gzip member — still a single valid ``.jsonl.gz`` to
any standard gzip reader, and random-accessible by compressed offset like
the WARC members).  Source: ``binaryFile`` → streaming gunzip → line
split → a REAL ``json.loads`` per line.

The gated query ``jsonl_roundtrip`` pipes a doctored corpus relation
(text + a ``meta`` column packed with every JSON-escaping hazard: quote,
backslash, newline, tab, a C0 control, non-ASCII and an astral plane
char) through disk and back under a DuckDB oracle that restates the
relation WITHOUT any JSON machinery — so the writer's escaping and the
reader's unescaping must be exact mutual inverses byte-for-byte.

Scale: the sink is a map-only pass (file count = upstream partition
count, the knob real pipelines shard with); the source is one task per
file with downstream repartition, same shape as the WARC/WET readers.
"""

from __future__ import annotations

import gzip
import io
import json

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .job import map_rows
from .textops import _d, _register_documents
from .warcops import GZIP_MAGIC, _scratch_roundtrip, _write_record_files

# Every JSON string-escaping class in one value: two-char escapes
# (" \\ \n \t), a \u00XX C0 control, a 2-byte non-ASCII char, and an
# astral char (surrogate-pair escape when the writer emits ASCII).
_HAZARD = "\"q\\b\nn\tt\x01cée\U0001f4a9a"
_HAZARD_SQL_SPARK = (
    "concat('\"q\\\\b', chr(10), 'n', chr(9), 't', chr(1), 'c', "
    "'ée\U0001f4a9a')"
)
_HAZARD_SQL_DUCK = (
    "concat('\"q\\b', chr(10), 'n', chr(9), 't', chr(1), 'c', "
    "'ée', chr(128169), 'a')"
)


def jsonl_rows_sql(duck: bool) -> str:
    """The relation the round trip carries: (doc_id, url, text, meta)
    with meta = source || every escaping hazard.  Dual-dialect so the
    Spark side builds the write input and the DuckDB side restates the
    expected read-back without touching JSON."""
    d = _d(duck)
    s = d["str"]
    hazard = _HAZARD_SQL_DUCK if duck else _HAZARD_SQL_SPARK
    return f"""
      select doc_id,
             concat('https://', {d['host']}, '/', source, '/',
                    cast(doc_id as {s})) as url,
             text,
             concat(source, '#', {hazard}) as meta
      from documents
      order by doc_id
    """


def jsonl_record_bytes(doc_id: int, url: str, text: str, meta: str) -> bytes:
    """One JSONL line.  ``ensure_ascii=True`` (the default) keeps the
    on-disk bytes pure ASCII — astral chars become surrogate-pair escapes
    — and ``sort_keys`` makes the byte stream deterministic."""
    return (
        json.dumps(
            {"doc_id": int(doc_id), "url": url, "text": text, "meta": meta},
            sort_keys=True,
        )
        + "\n"
    ).encode("ascii")


def write_jsonl_files(rows_df: DataFrame, out_dir: str,
                      compress: bool = True) -> DataFrame:
    """Write (doc_id, url, text, meta) rows as ``.jsonl`` / ``.jsonl.gz``
    shard files; same sharding/manifest contract as ``write_wet_files``."""
    suffix = ".jsonl.gz" if compress else ".jsonl"
    return _write_record_files(
        rows_df, out_dir, suffix, compress,
        ("doc_id", "url", "text", "meta"), jsonl_record_bytes,
    )


JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("meta", StringType()),
    ]
)

def _jsonl_rows(blob):
    """Rows of one shard, split at ``\\n``: a gzip shard streams whole (a
    C4 or Dolma shard is one member of hundreds of MB) with no limit."""
    data = bytes(blob)
    lines = io.BytesIO(data)
    if data[:2] == GZIP_MAGIC:
        lines = gzip.GzipFile(fileobj=lines)
    rows = []
    for line in lines:
        if not line.strip():
            continue
        obj = json.loads(line)
        rows.append((int(obj["doc_id"]), obj["url"], obj["text"], obj["meta"]))
    return rows


def read_jsonl_rows(spark, path: str) -> DataFrame:
    """(doc_id, url, text, meta) from a directory of ``.jsonl`` /
    ``.jsonl.gz`` shards — the read side of ``write_jsonl_files`` (gzip
    members detected by magic; plain text passes through).  One file per
    task like the WARC/WET readers; downstream repartitions rebalance."""
    files = spark.read.format("binaryFile").load(path).select("content")
    return map_rows(files, ["content"], JSONL_SCHEMA, _jsonl_rows)


def run_jsonl_roundtrip(spark, sf_dir: str) -> DataFrame:
    """Driver query: doctored corpus relation → ``.jsonl.gz`` sink →
    JSONL source → (doc_id, url, text, meta).  The oracle restates the
    relation straight from the documents table with zero JSON machinery,
    so writer escaping and reader unescaping must be exact mutual
    inverses (a mangled surrogate pair, a swallowed control char, or a
    line-split slip inside an escaped newline all break the value hash;
    sink and source through ``warcops._scratch_roundtrip``)."""
    _register_documents(spark, sf_dir)
    return _scratch_roundtrip(spark, spark.sql(jsonl_rows_sql(duck=False)),
                              write_jsonl_files, read_jsonl_rows)
