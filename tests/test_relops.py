"""Relational operators: physical-plan shape (broadcast joins must
broadcast; scans must prune) and the error-status path of the parse
pipeline."""

import pyspark.sql.functions as F
import pytest

from htmlgraft import relops
from htmlgraft.job import parse_extract


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_segment_stats_broadcasts(spark, sf_dir):
    df = relops.run(spark, sf_dir, relops.segment_stats_sql)
    df.collect()
    assert "BroadcastHashJoin" in _plan(df)


def test_region_rollup_broadcasts_dims(spark, sf_dir):
    df = relops.run(spark, sf_dir, relops.region_rollup_sql)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Expand" in plan  # rollup grouping sets


def test_pricing_summary_prunes_scan(spark, sf_dir):
    df = relops.run(spark, sf_dir, relops.pricing_summary_sql)
    df.collect()
    plan = _plan(df)
    # only 4 of 11 lineitem columns may reach the scan
    assert "l_returnflag" in plan and "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_parse_error_rows(spark):
    """Inputs the reference parser throws on must surface as status=error
    rows with n_errors=1, not kill the partition (poison-pill isolation)."""
    rows = [
        ("https://ok.example/1", "en", bytearray(b"<p>fine</p>")),
        # the reference throws on <math><font>x (undefined-rule quirk)
        ("https://bad.example/2", "en", bytearray(b"<math><font>x")),
        # U+0080 hits the undefined eqClass entry -> lexer error
        ("https://bad.example/3", "en",
         # undeclared bytes now decode as windows-1252 (round-4
         # prescan), so the U+0080 must arrive via DECLARED utf-8
         bytearray(('<meta charset="utf-8">pre\u0080post').encode())),
    ]
    pages = spark.createDataFrame(rows, "url string, lang string, html binary")
    res = {r["url"]: r for r in parse_extract(pages, num_parts=2).collect()}
    assert res["https://ok.example/1"]["status"] == "ok"
    assert res["https://ok.example/1"]["n_errors"] == 0
    for bad in ("https://bad.example/2", "https://bad.example/3"):
        assert res[bad]["n_errors"] == 1
        assert res[bad]["status"].startswith("error:")
        assert res[bad]["text"] == ""
    # metrics roll up the poison pills
    agg = parse_extract(pages, num_parts=2).agg(F.sum("n_errors")).collect()[0][0]
    assert agg == 2


def test_dedup_clusters_fixpoint(sf_dir):
    """The CC_ITERS truncation in dedup_clusters must BE the fixpoint:
    one fewer propagation round yields the identical component labeling
    (near-dup components are near-cliques, diameter <= 2), so the unrolled
    oracle computes true connected components, not a truncation artifact.
    Also pins keeper semantics: keeper_id is the component minimum."""
    import duckdb

    from htmlgraft import textops

    con = duckdb.connect()
    con.execute(
        "create view documents as "
        f"select * from read_parquet('{sf_dir}/documents.parquet')"
    )
    full = con.execute(textops.dedup_clusters_sql(duck=True)).df()
    saved = textops.CC_ITERS
    try:
        textops.CC_ITERS = saved - 1
        fewer = con.execute(textops.dedup_clusters_sql(duck=True)).df()
    finally:
        textops.CC_ITERS = saved
    assert full.equals(fewer), "label propagation had not converged"
    mins = full.groupby("keeper_id")["doc_id"].min()
    assert (mins.index == mins.values).all(), "keeper is not the min doc_id"
    assert (full["keeper_id"] <= full["doc_id"]).all()
    # every cluster has >= 2 members and contains its keeper
    sizes = full.groupby("keeper_id").size()
    assert (sizes >= 2).all()
    assert set(full["keeper_id"]) <= set(full["doc_id"])


# --- round-3 textops semantic pins (oracle parity lives in test_entry) -------

def test_dedup_incremental_semantics(spark, sf_dir):
    """Every exact copy (doc_id+1M, every 10th) and appended near-dup
    (doc_id+2M, every 17th) must be flagged against its ORIGINAL state doc;
    no state-state or batch-batch pairs appear."""
    from htmlgraft import textops

    rows = textops.run_dedup_incremental(spark, sf_dir).collect()
    pairs = {(r["new_id"], r["state_id"]) for r in rows}
    assert all(n >= 1_000_000 > s for n, s in pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for d in ids:
        if d % 10 == 0:
            assert (d + 1_000_000, d) in pairs  # exact copy found
        if d % 17 == 0:
            assert (d + 2_000_000, d) in pairs  # 3-word-appended near-dup found


def test_pii_scrub_redacts_exactly(spark, sf_dir):
    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.pii_scrub_sql).collect()
    for r in rows:
        if r["doc_id"] % 3 == 0:
            assert r["n_emails"] == 1 and r["n_phones"] == 1
            assert "<EMAIL>" in r["redacted"] and "<PHONE>" in r["redacted"]
            assert "@" not in r["redacted"] and "+1-555-" not in r["redacted"]
        else:
            assert r["n_emails"] == 0 and r["n_phones"] == 0
            assert "<EMAIL>" not in r["redacted"]


def test_corpus_filter_reason_priority(spark, sf_dir):
    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.corpus_filter_sql).collect()
    reasons = {r["reject_reason"] for r in rows}
    assert reasons == {"", "too_short", "badwords", "no_stopwords"}
    for r in rows:
        assert (r["keep"] == 1) == (r["reject_reason"] == "")
        if r["n_tokens"] < 30:
            assert r["reject_reason"] == "too_short"  # priority over badwords


def test_substring_dedup_covers_exact_copies(spark, sf_dir):
    """An exact copy pair (original doc_id%10==0 and its +1M twin) shares
    every span, so both sides must show full duplicated-span coverage
    starting at position 1."""
    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.substring_dedup_sql).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        if r["doc_id"] >= 1_000_000 and r["doc_id"] < 2_000_000:
            orig = by_id[r["doc_id"] - 1_000_000]
            for side in (r, orig):
                assert side["n_dup_spans"] == side["n_spans"]
                assert side["first_dup_pos"] == 1


def test_seq_pack_reconstructs(spark, sf_dir):
    """Offsets must be the shard-local running token sum mod CTX, and packs
    must fill sequentially: recompute the concatenate-and-split layout in
    pandas and require exact agreement."""
    from htmlgraft import textops
    from htmlgraft.textops import PACK_CTX, PACK_SHARDS

    df = textops.run(spark, sf_dir, textops.seq_pack_sql).toPandas()
    assert (df["shard"] == df["doc_id"] % PACK_SHARDS).all()
    assert df["pack_offset"].between(0, PACK_CTX - 1).all()
    for _, g in df.sort_values("doc_id").groupby("shard"):
        cum = g["n_tokens"].cumsum() - g["n_tokens"]
        assert (g["pack_id"] == cum // PACK_CTX).all()
        assert (g["pack_offset"] == cum % PACK_CTX).all()


def test_passage_chunk_windows(spark, sf_dir):
    """Chunk grid must match the (W, S) window rule and chunk_md5 must be
    the md5 of the actual word slice."""
    import hashlib

    from htmlgraft import textops
    from htmlgraft.textops import CHUNK_S, CHUNK_W

    df = textops.run(spark, sf_dir, textops.passage_chunk_sql).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    )
    checked = 0
    for doc_id, g in df.groupby("doc_id"):
        ws = docs[doc_id].split(" ")
        n = len(ws)
        assert len(g) == 1 + (n - 1) // CHUNK_S
        g = g.sort_values("chunk_id")
        assert list(g["start_tok"]) == [
            1 + j * CHUNK_S for j in range(len(g))
        ]
        if checked < 20:  # full text verification on a sample
            for _, r in g.iterrows():
                j = r["chunk_id"] - 1
                words = ws[j * CHUNK_S : j * CHUNK_S + CHUNK_W]
                assert r["n_toks"] == len(words)
                want = hashlib.md5(" ".join(words).encode()).hexdigest()
                assert r["chunk_md5"] == want
            checked += 1


def test_quality_classify_recomputes(spark, sf_dir):
    """Recompute the hash-bucket linear score in pure Python for a sample of
    documents (md5-derived bucket, surrogate weight formula) and require
    exact agreement — pins the cross-engine feature hashing."""
    import hashlib

    from htmlgraft import textops
    from htmlgraft.textops import QC_BUCKETS, QC_MULT

    df = textops.run(spark, sf_dir, textops.quality_classify_sql).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").limit(25).toPandas()
    )
    by_id = df.set_index("doc_id")
    for _, d in docs.iterrows():
        score = 0
        toks = d["text"].split(" ")
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            score += (h % QC_BUCKETS) * QC_MULT % 2001 - 1000
        row = by_id.loc[d["doc_id"]]
        assert row["n_tokens"] == len(toks)
        assert row["score"] == score
        assert row["keep"] == (1 if score >= 0 else 0)


def test_dataset_card_percentiles(spark, sf_dir):
    """The histogram-cumsum percentile must equal the naive sorted-list
    percentile (lower median; p90 = value at rank ceil(0.9 n))."""
    from htmlgraft import textops

    df = textops.run(spark, sf_dir, textops.dataset_card_sql).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    docs["n_tok"] = docs["text"].str.split(" ").str.len()
    for _, row in df.iterrows():
        sub = sorted(docs[docs["lang"] == row["lang"]]["n_tok"])
        n = len(sub)
        assert row["n_docs"] == n
        assert row["n_tokens"] == sum(sub)
        assert row["min_tokens"] == sub[0]
        assert row["max_tokens"] == sub[-1]
        assert row["median_tokens"] == sub[(n + 1) // 2 - 1]
        assert row["p90_tokens"] == sub[(9 * n + 9) // 10 - 1]


def test_dedup_pipeline_verdicts(spark, sf_dir):
    """Composed verdict semantics: exact copies (+1M) report exact_dup with
    the original as keeper; appended near-dups (+2M) report near_dup with a
    smaller keeper; kept rows are always their own keeper; exact_dup takes
    priority over near_dup."""
    from htmlgraft import textops

    rows = textops.run_dedup_pipeline(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        if r["keep"] == 1:
            assert r["reason"] == "" and r["keeper_id"] == r["doc_id"]
        if 1_000_000 <= r["doc_id"] < 2_000_000:
            assert r["reason"] == "exact_dup"  # priority over near_dup
            assert r["keeper_id"] == r["doc_id"] - 1_000_000
        if r["doc_id"] >= 2_000_000:
            assert r["reason"] == "near_dup"
            assert r["keeper_id"] < r["doc_id"]
    # the originals of exact copies stay kept (they are the keepers)
    kept = sum(r["keep"] for r in rows)
    assert kept > 0 and by_id[0]["keep"] == 1


def test_robots_longest_match_semantics(spark, sf_dir):
    """RFC 9309 prefix semantics pinned: '/src1' blocks src1 AND src10..19
    (prefix, not path-segment), EXCEPT src13 where the longer allow rule
    wins; '/src2' is blocked only on the host-scoped popular host."""
    from htmlgraft import textops, urlops

    rows = textops.run(spark, sf_dir, urlops.robots_filter_sql).collect()
    docs = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source").collect()
    }
    for r in rows:
        src = docs[r["doc_id"]]
        if src == "src13":
            assert r["allow"] == 1 and r["matched_len"] == 6
        elif src.startswith("src1"):
            assert r["allow"] == 0 and r["matched_len"] == 5
        elif src == "src2" and r["host"] == "popular.example.com":
            assert r["allow"] == 0
        else:
            assert r["allow"] == 1 and r["matched_len"] == 0


def test_source_mix_epochs(spark, sf_dir):
    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.source_mix_sql).collect()
    assert len(rows) == 20  # src0..src19
    # the max-token source up-samples exactly 1000 permille (1 epoch)
    assert min(r["epochs_permille"] for r in rows) == 1000
    assert all(r["epochs_permille"] >= 1000 for r in rows)


def test_text_normalize_rules(spark, sf_dir):
    """Each normalization rule pinned by Python recompute: curly quotes ->
    ASCII, em-dash folded, zero-width stripped, NBSP -> space, whitespace
    collapsed.  The +3M/+4M dirty variants must normalize to the exact
    byte strings the rules predict."""
    import hashlib
    import re

    from htmlgraft import textops

    got = {
        r["doc_id"]: r
        for r in textops.run(spark, sf_dir, textops.text_normalize_sql).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect()
    }

    def norm(s: str) -> str:
        s = s.translate(str.maketrans("“”‘’—–",
                                      "\"\"''--"))
        for zw in "​‌‍﻿":
            s = s.replace(zw, "")
        s = s.replace(" ", " ")
        return re.sub(r"[\t\n\r ]+", " ", s).strip()

    for d, text in docs.items():
        base = norm(text)
        assert got[d]["norm_md5"] == hashlib.md5(base.encode()).hexdigest()
        if d % 7 == 0:
            v = norm("“" + text + "”​—x")
            assert v == '"' + base + '"-x'
            assert got[d + 3_000_000]["norm_md5"] == hashlib.md5(
                v.encode()
            ).hexdigest()
            assert got[d + 3_000_000]["changed"] == 1
        if d % 11 == 0:
            v = norm("a b\t" + text + "\r\n")
            assert v == "a b " + base
            assert got[d + 4_000_000]["norm_md5"] == hashlib.md5(
                v.encode()
            ).hexdigest()
            assert got[d + 4_000_000]["bytes_out"] == len(
                v.encode()
            )


def test_shard_pack_greedy_recompute(spark, sf_dir):
    """The shard manifest must equal a pure-Python greedy byte-packing of
    each lane in doc_id order; oversized docs land in exactly one shard."""
    from htmlgraft import textops

    rows = sorted(
        textops.run(spark, sf_dir, textops.shard_pack_sql).collect(),
        key=lambda r: r["doc_id"],
    )
    cum = {}
    for r in rows:
        lane = r["doc_id"] % textops.SHARD_LANES
        before = cum.get(lane, 0)
        assert r["lane"] == lane
        assert r["shard_seq"] == before // textops.SHARD_TARGET
        assert r["shard_offset"] == before % textops.SHARD_TARGET
        cum[lane] = before + r["n_bytes"]
    assert max(cum.values()) > textops.SHARD_TARGET  # multiple shards exist


def test_ppl_bucket_thirds(spark, sf_dir):
    """head/middle/tail assignment recomputed from the lm_score relation:
    the bucketing key is the LENGTH-NORMALIZED average bigram logit
    (bounded value domain — the raw sum's domain grows with the corpus),
    and a doc is 'head' iff the cumulative doc count down the sorted
    (desc) normalized domain is <= 1/3 of the corpus at its value."""
    from htmlgraft import textops

    norm = {
        r["doc_id"]: r["lm_score"] // r["n_bigrams"]
        for r in textops.run(spark, sf_dir, textops.lm_score_sql).collect()
    }
    got = {
        r["doc_id"]: r["bucket"]
        for r in textops.run(spark, sf_dir, textops.ppl_bucket_sql).collect()
    }
    assert set(got) == set(norm)
    from collections import Counter

    by_val = Counter(norm.values())
    cum, label = 0, {}
    total = len(norm)
    for v in sorted(by_val, reverse=True):
        cum += by_val[v]
        label[v] = (
            "head" if 3 * cum <= total
            else "middle" if 3 * cum <= 2 * total
            else "tail"
        )
    for d, s in norm.items():
        assert got[d] == label[s], (d, s)
    assert {"head", "middle", "tail"} == set(got.values())
    # the normalized domain is structurally bounded: avg logit in [0, S]
    assert all(0 <= v <= textops.LM_SCALE for v in norm.values())


def test_extract_spans_reassemble(spark, sf_dir):
    """Spans must tile the extracted text exactly: ordered by span_idx they
    reconstruct text.split('\\n') with contiguous [start, end) offsets."""
    import __spark_entry__ as entrymod

    spans = {}
    for r in entrymod.queries()["extract_spans"](spark, sf_dir).collect():
        spans.setdefault(r["url"], []).append(r)
    from htmlgraft.corpus import pages_df
    from htmlgraft.job import parse_extract

    texts = {
        r["url"]: r["text"]
        for r in parse_extract(pages_df(spark, sf_dir)).select("url", "text")
        .collect()
    }
    assert set(spans) == set(texts)
    for url, rs in spans.items():
        rs.sort(key=lambda r: r["span_idx"])
        parts = texts[url].split("\n")
        assert len(rs) == len(parts)
        pos = 0
        for r, p in zip(rs, parts):
            assert r["char_start"] == pos
            assert r["char_end"] == pos + len(p)
            pos = r["char_end"] + 1


def test_dedup_recall_full_on_duped_corpus(spark, sf_dir):
    """Banding recall audit: ground truth must equal the ngram_jaccard
    pair count, and on this corpus 8x2 banding surfaces EVERY true pair
    (n_hits == n_true) while over-generating some candidates that the
    verify join then discards (n_cand >= n_true)."""
    from htmlgraft import textops

    (row,) = textops.run(spark, sf_dir, textops.dedup_recall_sql).collect()
    n_jaccard = textops.run(spark, sf_dir, textops.ngram_jaccard_sql).count()
    assert row["n_true"] == n_jaccard > 0
    assert row["n_hits"] == row["n_true"]  # full candidate recall
    assert row["n_cand"] >= row["n_true"]


def test_host_cap_recompute(spark, sf_dir):
    """The two-phase (lane-bounded) cap must equal the naive per-host
    top-K by doc_id, computed directly in Python."""
    from collections import defaultdict

    from htmlgraft import textops

    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").collect()
    )
    by_host = defaultdict(list)
    for d in ids:
        host = (
            "popular.example.com" if d % 5 == 0
            else f"site-{d % 211}.example.org"
        )
        by_host[host].append(d)
    want = {
        (d, h, i + 1)
        for h, ds in by_host.items()
        for i, d in enumerate(sorted(ds)[: textops.HOST_CAP_K])
    }
    got = {
        (r["doc_id"], r["host"], r["host_rank"])
        for r in textops.run(spark, sf_dir, textops.host_cap_sql).collect()
    }
    assert got == want
    per_host = defaultdict(int)
    for _d, h, _rk in got:
        per_host[h] += 1
    assert max(per_host.values()) <= textops.HOST_CAP_K


def test_bpe_train_pure_python_recompute(spark, sf_dir):
    """Third independent implementation: recompute the full BPE merge
    sequence in pure Python (Counter word dict, padded-string bounded-pass
    merge, count-desc/lexicographic argmax) and require the iterative Spark
    runner to agree row-for-row, plus the final vocab table."""
    import re
    from collections import Counter

    from htmlgraft import textops
    from htmlgraft.textops import BPE_MERGES, BPE_REPLACE_PASSES

    texts = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text").toPandas()["text"].tolist()
    )
    wc = Counter(t for txt in texts for t in txt.split(" ") if t != "")
    rep = {
        w: re.sub(r"(.)", r"\1 ", w).strip(" ") for w in wc
    }
    merges = []
    for t in range(1, BPE_MERGES + 1):
        pairs = Counter()
        for w, cnt in wc.items():
            ss = rep[w].split(" ")
            for i in range(len(ss) - 1):
                pairs[(ss[i], ss[i + 1])] += cnt
        if not pairs:
            break
        (l, r), c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((t, l, r, c))
        pat, sub = f" {l} {r} ", f" {l}{r} "
        for w in rep:
            s = " " + rep[w] + " "
            for _ in range(BPE_REPLACE_PASSES):
                s = s.replace(pat, sub)
            rep[w] = s.strip(" ")

    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in textops.run_bpe_train(spark, sf_dir).collect()
    ]
    assert got == merges

    vocab, nw = Counter(), Counter()
    for w, cnt in wc.items():
        syms = rep[w].split(" ")
        for s in syms:
            vocab[s] += cnt
        for s in set(syms):
            nw[s] += 1
    vgot = {
        r["sym"]: (r["freq"], r["n_words"])
        for r in textops.run_bpe_vocab(spark, sf_dir).collect()
    }
    assert vgot == {s: (vocab[s], nw[s]) for s in vocab}


def test_bpe_encode_pure_python_recompute(spark, sf_dir):
    """Tokenizer application pinned end-to-end: retrain the merge table in
    pure Python (same loop as the bpe_train pin), encode every document
    with it, and require the Spark encode's counts, fertility, and the
    position-ordered stream md5 to agree per doc."""
    import hashlib
    import re
    from collections import Counter

    from htmlgraft import textops
    from htmlgraft.textops import BPE_MERGES, BPE_REPLACE_PASSES

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").toPandas()
    )
    wc = Counter(
        t for txt in docs["text"] for t in txt.split(" ") if t != ""
    )
    rep = {w: re.sub(r"(.)", r"\1 ", w).strip(" ") for w in wc}
    for _t in range(BPE_MERGES):
        pairs = Counter()
        for w, cnt in wc.items():
            ss = rep[w].split(" ")
            for i in range(len(ss) - 1):
                pairs[(ss[i], ss[i + 1])] += cnt
        if not pairs:
            break
        (left, right), _c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        pat, sub = f" {left} {right} ", f" {left}{right} "
        for w in rep:
            s = " " + rep[w] + " "
            for _ in range(BPE_REPLACE_PASSES):
                s = s.replace(pat, sub)
            rep[w] = s.strip(" ")

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_subwords"], r["fertility_x100"],
            r["stream_md5"],
        )
        for r in textops.run_bpe_encode(spark, sf_dir).collect()
    }
    assert len(got) == len(docs)
    for _, d in docs.iterrows():
        toks = [t for t in d["text"].split(" ") if t != ""]
        stream = " ".join(rep[t] for t in toks)
        nsub = sum(len(rep[t].split(" ")) for t in toks)
        want = (
            len(toks), nsub, (100 * nsub) // len(toks),
            hashlib.md5(stream.encode()).hexdigest(),
        )
        assert got[d["doc_id"]] == want, d["doc_id"]


def test_hash_embed_pure_python_recompute(spark, sf_dir):
    """Feature-hashing embedding pinned by per-token recompute (md5-derived
    bucket + sign bit) for a sample of documents, including the absence of
    untouched-bucket rows."""
    import hashlib
    from collections import defaultdict

    from htmlgraft import textops

    df = textops.run(spark, sf_dir, textops.hash_embed_sql).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").limit(20).toPandas()
    )
    for _, d in docs.iterrows():
        want = defaultdict(int)
        for tok in d["text"].split(" "):
            if tok == "":
                continue
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            want[h % 16] += 1 if (h // 16) % 2 == 0 else -1
        rows = df[df["doc_id"] == d["doc_id"]]
        got = dict(zip(rows["dim"], rows["val"]))
        assert got == {k: v for k, v in want.items()}


def test_source_temperature_pure_python_recompute(spark, sf_dir):
    """Every (tau, source) row pinned by pure-Python integer recompute:
    tau=1 weight = token count, tau=2 weight = math.isqrt (pinning the
    float-sqrt +/-1 correction), tau=inf weight = 1; ppm and quota are the
    exact bigint divisions.  Also pins the sampling semantics: tau=1 ppm
    is proportional, tau=inf ppm is uniform, tau=2 strictly between for
    the largest and smallest sources."""
    import math
    from collections import defaultdict

    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.source_temperature_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "text").collect()
    )
    n_docs = defaultdict(int)
    n_tok = defaultdict(int)
    for r in docs:
        n_docs[r["source"]] += 1
        n_tok[r["source"]] += len(r["text"].split(" "))
    total_docs = sum(n_docs.values())

    weight_of = {
        "1": lambda n: n,
        "2": lambda n: math.isqrt(n),
        "inf": lambda n: 1,
    }
    assert len(rows) == 3 * len(n_docs)
    ppm = {}
    for tau, fn in weight_of.items():
        total_w = sum(fn(n) for n in n_tok.values())
        for r in rows:
            if r["tau"] != tau:
                continue
            s = r["source"]
            w = fn(n_tok[s])
            assert (r["n_docs"], r["n_tokens"], r["weight"]) == (
                n_docs[s], n_tok[s], w
            ), (tau, s)
            assert r["ppm"] == (w * 1_000_000) // total_w
            assert r["quota_docs"] == (total_docs * w) // total_w
            ppm[(tau, s)] = r["ppm"]
    big = max(n_tok, key=n_tok.get)
    small = min(n_tok, key=n_tok.get)
    # temperature ordering: uniform < sqrt < proportional for the biggest
    # source, and the reverse for the smallest
    assert ppm[("inf", big)] < ppm[("2", big)] < ppm[("1", big)]
    assert ppm[("1", small)] < ppm[("2", small)] < ppm[("inf", small)]


def test_kn_ngram_pure_python_recompute(spark, sf_dir):
    """The full Kneser-Ney bigram relation pinned by independent Python
    recompute: bigram counts, context totals c(w1), fan-out N1+(w1 *),
    continuation N1+(* w2), and the exact fixed-point p_kn_ppm formula for
    EVERY row; plus the KN identities sum(n1fwd) == sum(n1bwd) ==
    n_bigram_types and discounted-mass positivity (D < 1 <= c)."""
    from collections import Counter, defaultdict

    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.kn_ngram_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text").collect()
    )
    bc = Counter()
    for r in docs:
        ws = r["text"].split(" ")
        for i in range(len(ws) - 1):
            bc[(ws[i], ws[i + 1])] += 1
    c1 = defaultdict(int)
    n1fwd = defaultdict(int)
    n1bwd = defaultdict(int)
    for (w1, w2), c in bc.items():
        c1[w1] += c
        n1fwd[w1] += 1
        n1bwd[w2] += 1
    n_types = len(bc)
    assert sum(n1fwd.values()) == sum(n1bwd.values()) == n_types
    D = textops.KN_D_MILLI
    assert len(rows) == n_types
    for r in rows:
        key = (r["w1"], r["w2"])
        c = bc[key]
        assert (r["c"], r["c1"], r["n1fwd"], r["n1bwd"]) == (
            c, c1[key[0]], n1fwd[key[0]], n1bwd[key[1]]
        ), key
        want = ((c * 1000 - D) * 1_000_000) // (c1[key[0]] * 1000) + (
            ((D * n1fwd[key[0]] * 1_000_000) // (c1[key[0]] * 1000))
            * ((n1bwd[key[1]] * 1_000_000) // n_types)
        ) // 1_000_000
        assert r["p_kn_ppm"] == want, key
        assert r["p_kn_ppm"] > 0  # D < 1000 permille keeps mass positive


def test_events_asof_pure_python_recompute(spark, sf_dir):
    """The as-of join pinned row-for-row by an independent bisect
    recompute: per user, sorted (second, value-of-max-event_id) purchase
    states; every non-purchase event must carry the latest state at or
    before its second (cents + lag), -1 sentinels before the first
    purchase.  Also asserts both join outcomes actually occur."""
    import bisect
    from collections import defaultdict

    from htmlgraft import eventops

    rows = eventops.run(spark, sf_dir, eventops.asof_join_sql).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()

    states = defaultdict(dict)  # user -> es -> (event_id, value)
    probes = []
    for r in ev:
        es = int(r["ts"].timestamp())
        if r["event_type"] == "purchase":
            cur = states[r["user_id"]].get(es)
            if cur is None or r["event_id"] > cur[0]:
                states[r["user_id"]][es] = (r["event_id"], r["value"])
        else:
            probes.append((r["event_id"], r["user_id"], es, r["event_type"]))
    sorted_states = {
        u: sorted((es, v) for es, (_, v) in d.items())
        for u, d in states.items()
    }
    want = {}
    for event_id, user_id, es, etype in probes:
        st = sorted_states.get(user_id, [])
        i = bisect.bisect_right([s[0] for s in st], es)
        if i == 0:
            want[event_id] = (user_id, es, etype, -1, -1)
        else:
            ses, sval = st[i - 1]
            import math
            want[event_id] = (
                user_id, es, etype,
                int(math.floor(sval * 100 + 0.5)), es - ses,
            )
    assert len(rows) == len(want)
    got = {
        r["event_id"]: (r["user_id"], r["es"], r["event_type"],
                        r["asof_cents"], r["lag_s"])
        for r in rows
    }
    assert got == want
    assert any(v[3] == -1 for v in want.values())  # pre-first-purchase
    assert any(v[3] >= 0 for v in want.values())   # matched probes


def test_events_range_join_pure_python_recompute(spark, sf_dir):
    """The interval join pinned by full Python recompute: sessions built
    with the 1800 s gap rule, incident windows = hours with >=
    INCIDENT_MIN_ERRORS errors, closed-interval overlap seconds.  The
    Spark bucketed-explode plan and the DuckDB IEJoin must both equal
    this."""
    from collections import defaultdict

    from htmlgraft import eventops

    rows = eventops.run(spark, sf_dir, eventops.range_join_sql).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()

    per_user = defaultdict(list)
    err_hours = defaultdict(int)
    for r in ev:
        es = int(r["ts"].timestamp())
        per_user[r["user_id"]].append((es, r["event_id"]))
        if r["event_type"] == "error":
            err_hours[es // 3600] += 1
    windows = sorted(
        h for h, n in err_hours.items()
        if n >= eventops.INCIDENT_MIN_ERRORS
    )
    assert windows, "corpus must produce at least one incident window"

    sessions = []  # (user_id, sid, s0, s1)
    for u, evs in per_user.items():
        evs.sort()
        sid = 0
        s0 = s1 = None
        prev = None
        for es, _ in evs:
            if prev is None or es - prev > eventops.SESSION_GAP_S:
                if s0 is not None:
                    sessions.append((u, sid, s0, s1))
                sid += 1
                s0 = es
            s1 = es
            prev = es
        sessions.append((u, sid, s0, s1))

    want = {}
    for u, sid, s0, s1 in sessions:
        hits = [
            (h, min(s1, h * 3600 + 3599) - max(s0, h * 3600) + 1)
            for h in windows
            if s0 <= h * 3600 + 3599 and h * 3600 <= s1
        ]
        if hits:
            want[(u, sid)] = (
                s0, s1, len(hits), sum(o for _, o in hits), hits[0][0]
            )
    got = {
        (r["user_id"], r["sid"]): (
            r["s0"], r["s1"], r["n_incidents"], r["overlap_s"],
            r["first_hour_id"],
        )
        for r in rows
    }
    assert got == want


def test_kn_heldout_backoff_branches_constructed(spark):
    """The driver corpus's 31-token vocabulary rarely leaves the full-hit
    branch, so a constructed corpus pins all three scoring branches: a
    held-out doc of train bigrams (hit), one with a seen context but
    unseen bigram (backoff, including a zero-continuation w2), and one
    with an out-of-vocabulary context (oov).  Spark and DuckDB must agree
    value-for-value, and every row must equal an independent Python
    recompute of the ppm formulas."""
    from collections import Counter, defaultdict

    import duckdb
    import pandas as pd

    from htmlgraft import textops

    train = {i: "a b a c b a" for i in range(1, 5)}
    train[5] = "c a b d"          # adds bigrams c-a, b-d
    held = {
        0: "a b a c",             # all bigrams in train -> hit
        10: "a d d c",            # a-d, d-d, d-c unseen; contexts a,d...
        20: "z a q q",            # z OOV context; q never a continuation
    }
    docs = pd.DataFrame(
        [{"doc_id": k, "text": v} for k, v in {**train, **held}.items()]
    )

    spark.createDataFrame(docs).createOrReplaceTempView("documents")
    got = (
        spark.sql(textops.kn_heldout_sql(duck=False))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", docs)
    want = (
        con.execute(textops.kn_heldout_sql(duck=True))
        .df().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_dtype=False
    )

    # independent Python recompute
    bc = Counter()
    for t in train.values():
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            bc[(ws[i], ws[i + 1])] += 1
    c1, n1f, n1b = defaultdict(int), defaultdict(int), defaultdict(int)
    for (w1, w2), c in bc.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    T = len(bc)
    D = textops.KN_D_MILLI

    def p_ppm(w1, w2):
        pc = (n1b.get(w2, 0) * 1_000_000) // T
        if (w1, w2) in bc:
            c = bc[(w1, w2)]
            return (
                ((c * 1000 - D) * 1_000_000) // (c1[w1] * 1000)
                + (((D * n1f[w1] * 1_000_000) // (c1[w1] * 1000)) * pc)
                // 1_000_000,
                0,
            )
        if w1 in c1:
            return (
                (((D * n1f[w1] * 1_000_000) // (c1[w1] * 1000)) * pc)
                // 1_000_000,
                1,
            )
        return pc, 2

    by_doc = {}
    for d, t in held.items():
        ws = t.split(" ")
        cnt = Counter((ws[i], ws[i + 1]) for i in range(len(ws) - 1))
        n = [0, 0, 0]
        score = 0
        minp = None
        for (w1, w2), c in cnt.items():
            p, br = p_ppm(w1, w2)
            n[br] += c
            score += c * p
            minp = p if minp is None else min(minp, p)
        by_doc[d] = (sum(n), n[0], n[1], n[2], score, minp)
    for _, r in got.iterrows():
        assert by_doc[r["doc_id"]] == (
            r["n_bigrams"], r["n_hit"], r["n_backoff"], r["n_oov"],
            r["score_ppm"], r["min_p_ppm"],
        ), r["doc_id"]
    assert by_doc[0][1] > 0 and by_doc[0][2] == by_doc[0][3] == 0
    assert by_doc[10][2] > 0      # backoff branch fires
    assert by_doc[20][3] > 0      # oov branch fires
    assert by_doc[20][5] == 0     # q never continues anything: pcont == 0


def test_dsir_weights_pure_python_recompute(spark, sf_dir):
    """DSIR importance ratios pinned by full Python recompute (md5 bucket
    hash, add-one ppb histograms, the exact integer ratio chain) for
    every document; plus the semantic check that the target subset
    (lang='en') out-scores the rest on average — the whole point of
    importance resampling."""
    import hashlib
    from collections import Counter

    from htmlgraft import textops

    rows = textops.run(spark, sf_dir, textops.dsir_weights_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang").collect()
    )
    B = textops.DSIR_BUCKETS

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    raw_h, tgt_h = Counter(), Counter()
    toks = {}
    for r in docs:
        bs = [bucket(t) for t in r["text"].split(" ") if t != ""]
        toks[r["doc_id"]] = bs
        raw_h.update(bs)
        if r["lang"] == "en":
            tgt_h.update(bs)
    raw_tot = sum(raw_h.values()) + B
    tgt_tot = sum(tgt_h.values()) + B
    r_ppm = {
        b: (((tgt_h.get(b, 0) + 1) * 1_000_000_000 // tgt_tot) * 1_000_000)
        // max((raw_h[b] + 1) * 1_000_000_000 // raw_tot, 1)
        for b in raw_h
    }
    got = {r["doc_id"]: r for r in rows}
    assert len(got) == len([d for d in toks.values() if d])
    lang = {r["doc_id"]: r["lang"] for r in docs}
    en_avgs, other_avgs = [], []
    for d, bs in toks.items():
        if not bs:
            continue
        s = sum(r_ppm[b] for b in bs)
        r = got[d]
        assert (r["n_tokens"], r["sum_rat_ppm"], r["avg_rat_ppm"],
                r["keep"]) == (
            len(bs), s, s // len(bs), 1 if s // len(bs) >= 1_000_000 else 0
        ), d
        (en_avgs if lang[d] == "en" else other_avgs).append(s // len(bs))
    assert en_avgs and other_avgs
    assert (sum(en_avgs) / len(en_avgs)
            > sum(other_avgs) / len(other_avgs)), (
        "target subset must out-score the rest"
    )


def test_ngram_novelty_pure_python_recompute(spark, sf_dir):
    """Novelty pinned by Python recompute of the full relation (distinct
    4-gram shingles, min-doc_id first-seen, integer percentage), plus the
    semantic corners on a constructed corpus: an exact later copy scores
    0, fresh text scores 100, a half-overlap scores in between."""
    from collections import defaultdict

    import duckdb
    import pandas as pd

    from htmlgraft import textops

    K = textops.NOVELTY_K
    rows = textops.run(spark, sf_dir, textops.ngram_novelty_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect()
    )
    sh = {}
    for r in docs:
        ws = r["text"].split(" ")
        sh[r["doc_id"]] = {
            " ".join(ws[i:i + K]) for i in range(len(ws) - K + 1)
        }
    first = {}
    for d in sorted(sh):
        for s in sh[d]:
            first.setdefault(s, d)
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_pct"])
           for r in rows}
    assert len(got) == len([d for d, s in sh.items() if s])
    for d, s in sh.items():
        if not s:
            continue
        novel = sum(1 for x in s if first[x] == d)
        assert got[d] == (len(s), novel, (100 * novel) // len(s)), d

    # constructed corners, cross-checked Spark vs DuckDB
    corpus = pd.DataFrame([
        {"doc_id": 1, "text": "p q r s t u"},         # fresh -> 100
        {"doc_id": 2, "text": "p q r s t u"},         # exact copy -> 0
        {"doc_id": 3, "text": "p q r s x y z w v"},   # partial overlap
        {"doc_id": 4, "text": "m n"},                 # too short: no row
    ])
    spark.createDataFrame(corpus).createOrReplaceTempView("documents")
    g = {
        r["doc_id"]: (r["n_novel"], r["novelty_pct"])
        for r in spark.sql(textops.ngram_novelty_sql(duck=False)).collect()
    }
    con = duckdb.connect()
    con.register("documents", corpus)
    w = {
        r[0]: (r[2], r[3])
        for r in con.execute(textops.ngram_novelty_sql(duck=True)).fetchall()
    }
    assert g == w
    assert g[1] == (3, 100)
    assert g[2] == (0, 0)
    assert 0 < g[3][1] < 100 and 4 not in g


def test_dedup_containment_constructed(spark):
    """Containment semantics pinned on a constructed corpus with the full
    LSH pipeline recomputed in Python (shingles -> 16 min-hashes -> 8
    bands -> candidates -> containment verdicts): an engineered
    subset/superset pair that provably shares a band must surface as
    'a_in_b' (NOT 'dup' — the superset is >2x larger), and an exact copy
    pair as 'dup'.  Spark and DuckDB must both equal the recompute."""
    import hashlib
    from itertools import count

    import duckdb
    import pandas as pd

    from htmlgraft import textops

    K = 3
    N_HASHES = 16

    def shingles(text):
        ws = text.split(" ")
        return {" ".join(ws[i:i + K]) for i in range(len(ws) - K + 1)}

    def bands(sh):
        mh = [
            min(hashlib.md5(f"{s}#{g}".encode()).hexdigest() for g in sh)
            for s in range(N_HASHES)
        ]
        return [(b, mh[2 * b] + mh[2 * b + 1]) for b in range(N_HASHES // 2)]

    base = "a1 a2 a3 a4 a5 a6"
    sup = None
    for j in count():
        cand = base + " " + " ".join(f"x{j}y{i}" for i in range(20))
        if set(bands(shingles(base))) & set(bands(shingles(cand))):
            sup = cand
            break
        assert j < 200, "no band collision found"
    corpus = pd.DataFrame([
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": sup},
        {"doc_id": 3, "text": base},      # exact copy of 1 -> dup
        {"doc_id": 4, "text": "q1 q2 q3 q4 q5"},  # unrelated
    ])

    # Python recompute of the full relation
    sh = {r["doc_id"]: shingles(r["text"]) for _, r in corpus.iterrows()}
    bd = {d: set(bands(s)) for d, s in sh.items()}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if not (bd[a] & bd[b]):
                continue
            inter = len(sh[a] & sh[b])
            na, nb = len(sh[a]), len(sh[b])
            if 2 * inter >= na + nb - inter:
                v = "dup"
            elif (1000 * inter) // na >= textops.CONTAIN_MILLI:
                v = "a_in_b"
            elif (1000 * inter) // nb >= textops.CONTAIN_MILLI:
                v = "b_in_a"
            else:
                v = "partial"
            want[(a, b)] = (na, nb, inter, (1000 * inter) // na,
                            (1000 * inter) // nb, v)

    spark.createDataFrame(corpus).createOrReplaceTempView("documents")
    got = {
        (r["a_id"], r["b_id"]): (
            r["n_a"], r["n_b"], r["n_inter"], r["cont_a_milli"],
            r["cont_b_milli"], r["verdict"],
        )
        for r in spark.sql(
            textops.dedup_containment_sql(duck=False)
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", corpus)
    duck = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(
            textops.dedup_containment_sql(duck=True)
        ).fetchall()
    }
    assert got == want and duck == want
    assert want[(1, 2)][5] == "a_in_b" and want[(1, 2)][3] == 1000
    assert want[(1, 3)][5] == "dup"


def test_events_funnel_pure_python_recompute(spark, sf_dir):
    """The ordered funnel pinned row-for-row by Python recompute: first
    view, first click strictly after it, first purchase strictly after
    that; every reach tier must actually occur in the corpus."""
    from collections import defaultdict

    from htmlgraft import eventops

    rows = eventops.run(spark, sf_dir, eventops.funnel_sql).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    per = defaultdict(lambda: defaultdict(list))
    for r in ev:
        if r["event_type"] in eventops.FUNNEL_STEPS:
            per[r["user_id"]][r["event_type"]].append(
                int(r["ts"].timestamp())
            )
    want = {}
    for u, d in per.items():
        if not d.get("view"):
            continue
        t0 = min(d["view"])
        t1 = min((t for t in d.get("click", []) if t > t0), default=None)
        t2 = None
        if t1 is not None:
            t2 = min((t for t in d.get("purchase", []) if t > t1),
                     default=None)
        want[u] = (
            t0, t1 if t1 is not None else -1,
            t2 if t2 is not None else -1,
            "purchase" if t2 is not None
            else ("click" if t1 is not None else "view"),
            t2 - t0 if t2 is not None else -1,
        )
    got = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"],
                       r["reached"], r["convert_s"])
        for r in rows
    }
    assert got == want
    tiers = {v[3] for v in want.values()}
    assert "purchase" in tiers and tiers <= {"view", "click", "purchase"}


def test_events_funnel_ordering_corners_constructed(spark):
    """The driver corpus is dense enough that every user converts, so the
    partial tiers and the STRICT ordering rule are pinned on a
    constructed event log, cross-checked Spark vs DuckDB: a purchase
    BEFORE the first qualifying click must not count, a user with no
    view has no funnel row, and both -1 sentinels appear."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from htmlgraft import eventops

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, t(10), "view"),                      # view only
        (2, t(10), "view"), (2, t(5), "purchase"),   # purchase BEFORE view
        (2, t(20), "click"),                     # ... and before click
        (3, t(10), "view"), (3, t(20), "click"),
        (3, t(15), "purchase"),                  # between view and click: no
        (3, t(30), "purchase"),                  # after click: converts
        (4, t(10), "click"), (4, t(20), "purchase"),  # no view: excluded
    ]
    df = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
    spark.createDataFrame(df).createOrReplaceTempView("events")
    got = {
        r["user_id"]: (r["t_click"], r["t_purchase"], r["reached"],
                       r["convert_s"])
        for r in spark.sql(eventops.funnel_sql(duck=False)).collect()
    }
    con = duckdb.connect()
    con.register("events", df)
    want = {
        r[0]: (r[2], r[3], r[4], r[5])
        for r in con.execute(eventops.funnel_sql(duck=True)).fetchall()
    }
    assert got == want
    assert set(got) == {1, 2, 3}
    assert got[1] == (-1, -1, "view", -1)
    assert got[2][2] == "click" and got[2][1] == -1
    assert got[3][2] == "purchase" and got[3][3] == 20
