"""On-disk pins for the JSONL shard sink + source (htmlgraft/jsonlops.py).

The value-level oracle agreement of the gated ``jsonl_roundtrip`` query is
covered by tests/test_entry.py; these tests pin the I/O machinery itself:
escaping fidelity byte-for-byte, both compression modes, standard-gzip
compatibility of the per-record-member framing, the manifest contract,
and reader tolerance (blank lines, plain-text files).
"""

import gzip
import json
import zlib

import pandas as pd
import pytest

from htmlgraft.jsonlops import (
    _HAZARD,
    JSONL_SCHEMA,
    jsonl_record_bytes,
    read_jsonl_rows,
    run_jsonl_roundtrip,
    write_jsonl_files,
)


def _rows_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "url", "text", "meta"]),
        schema=JSONL_SCHEMA,
    )


HAZARD_ROWS = [
    (1, "https://a.example/1", "plain words", _HAZARD),
    (2, "https://a.example/2", 'quote " backslash \\ done', "tab\there"),
    (3, "https://b.example/3", "new\nline and \x00 nul", "ée\U0001f4a9"),
]


def test_record_bytes_are_ascii_and_loadable():
    for r in HAZARD_ROWS:
        b = jsonl_record_bytes(*r)
        assert b.endswith(b"\n") and b[:-1].decode("ascii")
        obj = json.loads(b)
        assert (obj["doc_id"], obj["url"], obj["text"], obj["meta"]) == r


@pytest.mark.parametrize("compress", [True, False])
def test_disk_round_trip_preserves_hazards(spark, tmp_path, compress):
    out = str(tmp_path / ("gz" if compress else "plain"))
    man = write_jsonl_files(
        _rows_df(spark, HAZARD_ROWS).repartition(2), out, compress=compress
    ).toPandas()
    # manifest: only non-empty files, counts add up
    assert man.n_records.sum() == len(HAZARD_ROWS)
    assert (man.n_records > 0).all() and (man.n_bytes > 0).all()
    suffix = ".jsonl.gz" if compress else ".jsonl"
    assert man.path.str.endswith(suffix).all()
    back = (
        read_jsonl_rows(spark, out)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert [tuple(r) for r in back.itertuples(index=False)] == HAZARD_ROWS


def test_gz_shards_readable_by_standard_gzip(spark, tmp_path):
    """Per-record gzip members must still be ONE valid .jsonl.gz to a
    stock gzip reader — the property that makes the shards portable to
    consumers that never heard of member framing."""
    out = str(tmp_path / "gz")
    write_jsonl_files(_rows_df(spark, HAZARD_ROWS), out).collect()
    got = []
    for p in sorted((tmp_path / "gz").iterdir()):
        with gzip.open(p, "rb") as fh:
            for line in fh.read().splitlines():
                got.append(json.loads(line))
    assert sorted(o["doc_id"] for o in got) == [1, 2, 3]
    by_id = {o["doc_id"]: o for o in got}
    assert by_id[1]["meta"] == _HAZARD
    assert by_id[3]["text"] == "new\nline and \x00 nul"


def test_reader_tolerates_blank_lines_and_plain_files(spark, tmp_path):
    p = tmp_path / "mix"
    p.mkdir()
    (p / "a.jsonl").write_bytes(
        b"\n" + jsonl_record_bytes(7, "u", "t", "m") + b"\n\n"
    )
    back = read_jsonl_rows(spark, str(p)).toPandas()
    assert len(back) == 1 and back.doc_id[0] == 7


def test_single_member_shard_past_the_decode_limit_reads():
    """A public shard is one gzip member that can inflate past the binary
    decoders' limit; the reader streams it whole.  Each line pads its
    object with 4 MiB of JSON whitespace, so the shard is large and the
    rows are not."""
    from htmlgraft.bmpops import _DECODE_LIMIT
    from htmlgraft.jsonlops import _jsonl_rows

    pad = b" " * (4 << 20)
    n = _DECODE_LIMIT // len(pad) + 1
    c = zlib.compressobj(1, zlib.DEFLATED, 31)
    shard = b"".join(
        c.compress(b'{"doc_id": %d,' % i + pad + b'"meta": "m", "text": "t",'
                   b' "url": "u"}\n') for i in range(n)) + c.flush()
    assert shard[:2] == b"\x1f\x8b" and n * len(pad) > _DECODE_LIMIT
    assert _jsonl_rows(shard) == [(i, "u", "t", "m") for i in range(n)]


def test_roundtrip_query_survives_scratch_cleanup(spark, sf_dir):
    """run_jsonl_roundtrip removes its scratch dir before returning; the
    localCheckpoint must make re-collection independent of the files."""
    df = run_jsonl_roundtrip(spark, sf_dir)
    n1 = df.count()
    pdf = df.toPandas()  # second action replays the checkpoint, not disk
    assert n1 == len(pdf) > 0
    assert pdf.meta.str.contains("\n").all()
    assert pdf.meta.str.endswith("\U0001f4a9a").all()
