"""Semantic pins for the crawl-tier operators added in round 3 session 4:
gopher_filter (quality rules), latest_snapshot (recrawl collapse),
charset_sniff (WHATWG prescan subset), crawl_frontier (link discovery).

The value-level oracle agreement is covered by tests/test_entry.py; these
tests pin the SEMANTICS — that each rule/branch fires for the row it was
designed to catch — so a threshold or synthesis drift cannot silently turn
an operator into a no-op while both dialects still agree."""

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return entrymod.queries()[name](spark, sf_dir).toPandas()

    return run


def test_gopher_rules_each_fire(q):
    df = q("gopher_filter").set_index("doc_id")
    want = {
        0: "word_count",
        1: "mean_word_length",
        2: "symbol_ratio",
        3: "alpha_ratio",
        4: "stopwords",
    }
    for doc_id, row in df.iterrows():
        m = doc_id % 17
        if m in want:
            assert row.reject_reason == want[m], (doc_id, dict(row))
            assert row.keep == 0
    # the clean corpus mostly survives: every keep row passed every rule
    kept = df[df.keep == 1]
    assert len(kept) > 0
    assert (kept.n_words >= 8).all()
    assert kept.mean_wlen_x10.between(25, 100).all()
    assert (kept.symbol_permille <= 100).all()
    assert (kept.alpha_permille >= 700).all()
    assert (kept.n_stop >= 1).all()


def test_latest_snapshot_picks_newest(q):
    df = q("latest_snapshot")
    doc_ids = df.url.str.rsplit("/", n=1).str[1].astype(int)
    assert (df.n_captures == 1 + doc_ids % 3).all()
    # newest capture == highest index; ts carries the day offset
    assert (df.latest_capture == df.n_captures - 1).all()
    assert (
        df.latest_ts_seconds
        == 1709251200 + (doc_ids % 31536000) + df.latest_capture * 86400
    ).all()


def test_charset_sniff_branches(q):
    df = q("charset_sniff").set_index("doc_id")
    want = {
        0: ("bom", "utf-8"),
        1: ("bom", "utf-16be"),
        2: ("bom", "utf-16le"),
        3: ("meta", "iso-8859-7"),
        4: ("meta", "shift_jis"),
        5: ("default", "windows-1252"),
    }
    for doc_id, row in df.iterrows():
        src, cs = want[doc_id % 6]
        assert (row.sniff_src, row.charset) == (src, cs), (doc_id, dict(row))
    # the % 6 == 5 head DOES declare koi8-r — but beyond the 1024-byte
    # prescan budget, so the detector must not have seen it
    beyond = df[df.index % 6 == 5]
    assert len(beyond) > 0 and (beyond.charset == "windows-1252").all()


def test_winnow_fingerprint_pure_python_recompute(q, spark, sf_dir):
    """Third independent implementation of winnowing: per doc, hash every
    k-gram (md5-derived 32-bit, the shared h32), slide the W-window, select
    each window's minimum with rightmost tie-break, dedupe — and require
    the Spark/window-function result to agree exactly.  Also pins the
    paper's guarantee on the corpus duplicates: identical texts select
    identical fingerprint (hash, pos) sets."""
    import hashlib
    from collections import defaultdict

    from htmlgraft.textops import WINNOW_K, WINNOW_W

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").toPandas()
    )
    want = defaultdict(set)
    texts = {}
    for _, d in docs.iterrows():
        ws = d["text"].split(" ")
        texts[d["doc_id"]] = d["text"]
        if len(ws) < WINNOW_K:
            continue
        grams = [
            " ".join(ws[i:i + WINNOW_K])
            for i in range(len(ws) - WINNOW_K + 1)
        ]
        codes = [
            h32(g) * 1048576 + (1048576 - (i + 1))
            for i, g in enumerate(grams)
        ]
        for s in range(len(codes) - WINNOW_W + 1):
            m = min(codes[s:s + WINNOW_W])
            want[d["doc_id"]].add((m // 1048576, 1048576 - (m % 1048576)))

    got = defaultdict(set)
    for r in q("winnow_fingerprint").itertuples():
        got[r.doc_id].add((r.fp_hash, r.fp_pos))
    assert dict(got) == {k: v for k, v in want.items() if v}
    # identical text => identical fingerprint set (the dedup guarantee)
    by_text = defaultdict(list)
    for doc_id, t in texts.items():
        by_text[t].append(doc_id)
    for _t, ids in by_text.items():
        if len(ids) > 1:
            sets = [got[i] for i in ids]
            assert all(s == sets[0] for s in sets)


def test_crawl_frontier_excludes_crawled(q, spark, sf_dir):
    from htmlgraft.corpus import pages_df

    frontier = q("crawl_frontier")
    crawled = {
        r.url for r in pages_df(spark, sf_dir).select("url").collect()
    }
    assert crawled, "corpus empty?"
    assert not (set(frontier.frontier_url) & crawled)
    # the partner link surfaces uncrawled roots, incl. the heavy host's
    assert "https://popular.example.com/" in set(frontier.frontier_url)
    # every crawled host contributes its relative-path targets
    tos = frontier[frontier.frontier_url.str.endswith("/tos")]
    assert len(tos) > 0 and (tos.n_ref_hosts == 1).all()


def test_recrawl_delta_tiers(q):
    df = q("recrawl_delta")
    doc_ids = df.url.str.rsplit("/", n=1).str[1].astype(int)
    # single-capture urls (doc_id % 3 == 0) never appear
    assert (doc_ids % 3 != 0).all()
    assert (df.n_captures == 1 + doc_ids % 3).all()
    # every designed tier occurs and lands on the designed rows
    rewritten = (doc_ids % 7 == 0)
    assert (df.tier[rewritten] == "major").all()
    assert rewritten.any()
    identical = (doc_ids % 5 == 0) & ~rewritten
    assert (df.tier[identical] == "unchanged").all()
    assert (df.jaccard_permille[identical] == 1000).all()
    assert identical.any()
    drifted = ~rewritten & ~identical
    assert (df.tier[drifted] == "minor").all()
    assert drifted.any()
    # minor drift = exactly the one rq<k> token added on the latest capture
    assert (df.n_union[drifted] - df.n_shared[drifted] == 1).all()
    # the full rewrite shares nothing with the base text
    assert (df.n_shared[rewritten] == 0).all()
    assert (df.jaccard_permille <= 1000).all()


def test_domain_stats_psl_semantics(q):
    df = q("domain_stats").set_index("reg_domain")
    # longest suffix wins: foo-*.co.uk grouped under co.uk, never bare uk
    co_uk = df[df.suffix == "co.uk"]
    assert len(co_uk) > 0 and not (df.suffix == "uk").any()
    assert co_uk.index.str.match(r"foo-\d+\.co\.uk$").all()
    # private suffix: each github.io user is its OWN registrable domain
    gh = df[df.suffix == "github.io"]
    assert len(gh) > 1
    assert (gh.n_hosts == 1).all()
    assert gh.index.str.match(r"user-\d+\.github\.io$").all()
    # deep subdomains (a.b.site-m.deep.org) collapse to one domain
    assert df.loc["deep.org", "n_hosts"] > 1
    # host-count and doc-count accounting are consistent
    assert (df.n_docs >= df.n_hosts).all()
    assert df.n_docs.sum() == 500


def test_filter_funnel_accounting(q):
    df = q("filter_funnel").sort_values("stage_idx").reset_index(drop=True)
    assert list(df.stage_name) == [
        "min_tokens", "has_stopword", "distinct_tokens",
        "mean_word_len", "max_tokens",
    ]
    # flow conservation: stage k's out feeds stage k+1's in, no leaks
    assert (df.n_in - df.n_rejected == df.n_out).all()
    assert (df.n_in.shift(-1).dropna() == df.n_out[:-1]).all()
    assert df.n_in.iloc[0] == 500
    # sequential rejects never exceed the stage's unconditional bite
    assert (df.n_rejected <= df.n_fail_uncond).all()
    # every stage has real marginal bite on this corpus
    assert (df.n_fail_uncond > 0).all()
    # the report's tuning signal occurs: a stage shadowed by earlier ones
    shadowed = df[(df.n_rejected == 0) & (df.n_fail_uncond > 0)]
    assert "mean_word_len" in set(shadowed.stage_name)


def test_crawl_schedule_politeness(q):
    df = q("crawl_schedule")
    frontier = q("crawl_frontier")
    # host affinity: every host pinned to exactly one worker
    assert (df.groupby("host").worker.nunique() == 1).all()
    assert df.worker.between(0, 7).all()
    # slots are a dense 0..n-1 queue per host (politeness positions)
    for host, g in df.groupby("host"):
        assert sorted(g.slot) == list(range(len(g))), host
    # fetch spacing: one crawl-delay apart, slow host slower
    slow = df[df.host == "popular.example.com"]
    fast = df[df.host != "popular.example.com"]
    assert len(slow) > 1 and (slow.fetch_at_seconds == slow.slot * 5).all()
    assert (fast.fetch_at_seconds == fast.slot * 2).all()
    # priority: within a host, slot order follows n_refs desc (url tiebreak)
    refs = dict(zip(frontier.frontier_url, frontier.n_refs))
    for host, g in df.groupby("host"):
        ordered = g.sort_values("slot")
        keys = [(-refs[u], u) for u in ordered.frontier_url]
        assert keys == sorted(keys), host
    # the schedule covers the frontier exactly
    assert set(df.frontier_url) == set(frontier.frontier_url)


def test_robots_parse_semantics(spark, sf_dir):
    """RFC 9309 grammar corners recomputed by hand: consecutive
    User-agent lines share ONE group (every rule of the tail group
    appears under BOTH graftbot and otherbot), inline comments are
    stripped, the empty Disallow survives with value '', and directive
    names are case-folded."""
    from htmlgraft import textops, urlops

    rows = textops.run(spark, sf_dir, urlops.robots_parse_sql).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)

    hosts = sorted(by_host)
    assert "popular.example.com" in hosts
    for host, rs in by_host.items():
        agents = {r["agent"] for r in rs}
        # the tail group's two consecutive UA lines both carry its rule
        tail = [r for r in rs if r["directive"] == "disallow"
                and r["value"] == "/"]
        assert {t["agent"] for t in tail} == {"graftbot", "otherbot"}, host
        # directive names are folded to lowercase
        assert all(r["directive"] == r["directive"].lower() for r in rs)
        # the wildcard group's rules are attributed to '*' only
        star = [r for r in rs if r["agent"] == "*"]
        assert star and all(r["agent"] == "*" for r in star)

    # family 2 hosts: inline comment stripped from the value
    fam2 = [
        r for rs in by_host.values() for r in rs
        if r["value"] == "/tmp/"
    ]
    assert fam2, "inline-comment family missing"
    assert all("#" not in r["value"] for r in fam2)
    # family 1 hosts: the EMPTY Disallow (means allow-all) survives as ''
    fam1 = [
        r for rs in by_host.values() for r in rs
        if r["agent"] == "*" and r["directive"] == "disallow"
        and r["value"] == ""
    ]
    assert fam1, "empty-disallow family missing"
    # family 3: crawl-delay parsed as its own directive
    delays = [r for rs in by_host.values() for r in rs
              if r["directive"] == "crawl-delay"]
    assert delays and all(r["value"] == "5" for r in delays)


def test_dataset_split_is_deterministic_and_pure(spark, sf_dir):
    """The split must be a pure function of doc_id: two runs agree row for
    row, bands are 90/5/5 by residue, and REMOVING documents never moves a
    surviving doc between splits (the leak-proofness property)."""
    from htmlgraft import textops

    a = {r["doc_id"]: (r["residue"], r["split"])
         for r in textops.run(spark, sf_dir, textops.dataset_split_sql).collect()}
    b = {r["doc_id"]: (r["residue"], r["split"])
         for r in textops.run(spark, sf_dir, textops.dataset_split_sql).collect()}
    assert a == b
    for doc_id, (residue, split) in a.items():
        want = ("train" if residue < 900 else "val" if residue < 950
                else "test")
        assert split == want, doc_id
    assert {s for _, s in a.values()} == {"train", "val", "test"}

    # subset invariance: run over half the corpus, assignments unchanged
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where("doc_id % 2 = 0").createOrReplaceTempView("half_docs")
    half = {r["doc_id"]: (r["residue"], r["split"])
            for r in spark.sql(
                textops.dataset_split_sql(duck=False, docs="half_docs")
            ).collect()}
    assert half == {k: v for k, v in a.items() if k % 2 == 0}


def test_url_surt_collapses_equivalents(q):
    """SURT semantics: case/default-port/fragment/query-order variants of
    the same resource share ONE key; the genuinely different :8080
    trailing-slash variant does not, and keeps its port in the key."""
    df = q("url_surt")
    assert (~df.surt_key.str.contains("#")).all()
    assert (~df.surt_key.str.contains("www")).all()
    for doc_id, grp in df.groupby("doc_id"):
        eq = grp[~grp.url_raw.str.contains(":8080")]
        assert len(eq) == 2 and eq.surt_key.nunique() == 1, doc_id
        key = eq.surt_key.iloc[0]
        assert key.startswith("org,example,"), key
        assert key.endswith("?a=1&b=2"), key  # sorted, lowercased query
        other = grp[grp.url_raw.str.contains(":8080")]
        if doc_id % 3 == 0:
            assert len(other) == 1
            k8 = other.surt_key.iloc[0]
            assert ":8080)" in k8 and k8 != key
            assert not k8.endswith("/")  # trailing slash stripped
        else:
            assert len(other) == 0


def test_warc_cdxj_surt_and_ts_recompute(q):
    """Independent pure-Python recompute of every CDXJ SURT key from the
    raw url, plus ts14 round-trip against the gated warc_cdx seconds."""
    import calendar
    import time

    def py_surt(url):
        host, _, path = url.removeprefix("https://").partition("/")
        host = host[4:] if host.startswith("www.") else host
        return ",".join(reversed(host.split("."))) + ")/" + path.lower()

    df = q("warc_cdxj")
    assert (df.surt_key == df.url.map(py_surt)).all()
    assert df.ts14.str.fullmatch(r"\d{14}").all()
    ts = {r.url: r.ts_seconds for r in q("warc_cdx").itertuples()}
    got = df.ts14.map(
        lambda s: calendar.timegm(time.strptime(s, "%Y%m%d%H%M%S"))
    )
    assert (got == df.url.map(ts)).all()
    assert df.cdxj_md5.str.fullmatch(r"[0-9a-f]{32}").all()


def test_sitemap_parse_recovers_entries(q):
    """Sitemap round trip: every document appears exactly once under its
    host, lastmod is the capture date, priority decile is doc_id-keyed,
    and the skewed host really aggregates one fifth of the corpus into
    one sitemap document."""
    df = q("sitemap_parse")
    locs = df["loc"]  # bracket access: .loc is the pandas indexer
    ids = locs.str.rsplit("/", n=1).str[1].astype(int)
    assert ids.is_unique
    assert (df.priority_decile == ids % 9 + 1).all()
    assert df.lastmod.str.fullmatch(r"\d{4}-\d{2}-\d{2}").all()
    pop = df[df.host == "popular.example.com"]
    assert len(pop) == (ids % 5 == 0).sum() and len(pop) > 0
    # loc host always matches the grouping host (entries never leak
    # across sitemap documents)
    assert (locs.str.split("/").str[2] == df.host).all()


def test_feed_parse_both_formats_round_trip(q):
    """Feed round trip: every document appears exactly once under its
    host, BOTH wire formats are exercised (host-hash parity), fields are
    per-format (RSS link/pubDate RFC-822 vs Atom href/updated ISO-8601),
    and entries never leak across a host's feed document."""
    df = q("feed_parse")
    ids = df.link.str.rsplit("/", n=1).str[1].astype(int)
    assert ids.is_unique and len(df) > 0
    assert set(df.feed_fmt) == {"rss", "atom"}
    # one format per host, and the skewed host aggregates a fifth of the
    # corpus into one feed document
    assert (df.groupby("host").feed_fmt.nunique() == 1).all()
    pop = df[df.host == "popular.example.com"]
    assert len(pop) == (ids % 5 == 0).sum() and len(pop) > 0
    assert (df.link.str.split("/").str[2] == df.host).all()
    assert (df.title == "Post " + ids.astype(str)).all()
    rss, atom = df[df.feed_fmt == "rss"], df[df.feed_fmt == "atom"]
    assert rss.published.str.fullmatch(
        r"[A-Z][a-z]{2}, \d{2} [A-Z][a-z]{2} \d{4} \d{2}:\d{2}:\d{2} GMT"
    ).all()
    assert atom.published.str.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"
    ).all()
    # pos is the 1-based doc_id rank within the host's feed
    for _, g in df.groupby("host"):
        got = g.sort_values("pos")
        assert list(got.pos) == list(range(1, len(g) + 1))
        lids = got.link.str.rsplit("/", n=1).str[1].astype(int)
        assert list(lids) == sorted(lids)


def test_bloom_frontier_no_false_negatives(q):
    """The Bloom contract: every truly-seen url MUST probe maybe_seen=1
    (false negatives impossible); unseen urls are mostly rejected with a
    small deterministic false-positive rate bounded well under the
    m/n regime's expectation."""
    df = q("bloom_frontier")
    seen = df[df.truly_seen == 1]
    unseen = df[df.truly_seen == 0]
    assert len(seen) == len(unseen) > 0
    assert (seen.maybe_seen == 1).all()          # no false negatives
    fp = (unseen.maybe_seen == 1).mean()
    assert fp < 0.05, fp                          # 65536 bits, k=3, n small
    assert (unseen.maybe_seen == 0).any()         # filter actually filters


def test_hll_card_registers_and_corrected_estimate(q, spark, sf_dir):
    """Independent pure-Python recompute of the full register vector
    (hash, bucket split, leading-zero rank) must reproduce regs_md5; the
    consumer-side small-range correction (linear counting, the float ln
    the integer gate deliberately excludes) must land within 25% of the
    exact cardinality."""
    import hashlib
    import math

    row = q("hll_card").iloc[0]
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source").toPandas()
    )
    regs = [0] * 256
    n_urls = 0
    for r in docs.itertuples():
        host = ("popular.example.com" if r.doc_id % 5 == 0
                else f"site-{r.doc_id % 211}.example.org")
        url = f"https://{host}/{r.source}/{r.doc_id}"
        n_urls += 1
        h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
        b, suffix = h % 256, h // 256
        rho = 25 - suffix.bit_length() if suffix else 25
        regs[b] = max(regs[b], rho)
    assert row.n_exact == n_urls
    want_md5 = hashlib.md5(",".join(map(str, regs)).encode()).hexdigest()
    assert row.regs_md5 == want_md5
    assert row.register_sum == sum(regs)
    assert row.n_zero_registers == regs.count(0)
    est = row.n_est_raw
    if est <= 2.5 * 256 and row.n_zero_registers > 0:
        est = 256 * math.log(256 / row.n_zero_registers)
    assert abs(est - n_urls) / n_urls < 0.25, (est, n_urls)


def test_cms_freq_contract_and_recompute(q, spark, sf_dir):
    """CMS contract: estimates never under-count; with 31 tokens hashed
    into 32-wide rows collisions are real, so some estimates strictly
    over-count and min-over-rows strictly improves on any single row.
    Full independent pure-Python sketch recompute."""
    import hashlib
    from collections import Counter, defaultdict

    from htmlgraft.textops import CMS_D, CMS_W

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text").toPandas()
    )
    tf = Counter(t for txt in docs.text for t in txt.split(" "))
    cms = defaultdict(int)
    for tok, n in tf.items():
        for j in range(1, CMS_D + 1):
            cms[(j, h32(f"{tok}#{j}") % CMS_W)] += n
    want = {
        tok: (n, min(cms[(j, h32(f"{tok}#{j}") % CMS_W)]
                     for j in range(1, CMS_D + 1)))
        for tok, n in tf.items()
    }
    df = q("cms_freq")
    got = {r.token: (r.n_exact, r.n_est) for r in df.itertuples()}
    assert got == want
    assert (df.n_est >= df.n_exact).all()       # never under-counts
    assert (df.n_est > df.n_exact).any()        # collisions really occur


def test_hist_quantiles_contract_and_recompute(q, spark, sf_dir):
    """Quantile-sketch contract: full independent pure-Python recompute of
    the bucket keys, the rank selection, and the lower-bound estimates;
    the estimate never exceeds the exact quantile and the relative error
    is bounded by 2^-HQ_M (the HdrHistogram guarantee); the histogram
    merges across shards by cell-wise sum (what makes it a sketch)."""
    from collections import Counter

    from htmlgraft.textops import HQ_M, HQ_QS, HQ_SUB

    def key(v):
        b = v.bit_length()
        return b * HQ_SUB + (v >> max(b - HQ_M - 1, 0))

    def lower_bound(k):
        b = k // HQ_SUB
        return (k % HQ_SUB) << max(b - HQ_M - 1, 0)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text", "n_chars").toPandas()
    )
    vals = {
        "tokens": sorted(len(t.split(" ")) for t in docs.text),
        "chars": sorted(int(c) for c in docs.n_chars),
    }
    df = q("hist_quantiles")
    assert len(df) == 2 * len(HQ_QS)
    for row in df.itertuples():
        vs = vals[row.metric]
        n = len(vs)
        assert row.n_rows == n
        r = (row.q * n + 99) // 100
        exact = vs[r - 1]
        # the selected bucket is exactly the r-th order statistic's bucket
        hist = Counter(key(v) for v in vs)
        cum, picked = 0, None
        for k in sorted(hist):
            cum += hist[k]
            if cum >= r:
                picked = k
                break
        assert row.bucket_key == picked
        assert row.v_est == lower_bound(picked)
        # error contract: lower bound, relative error <= 2^-HQ_M
        assert row.v_est <= exact
        assert (exact - row.v_est) / exact <= 2 ** -HQ_M, (row, exact)
    # mergeability: cell-wise sum of per-shard histograms == full histogram
    vs = vals["tokens"]
    full = Counter(key(v) for v in vs)
    merged = Counter(key(v) for v in vs[::2])
    merged.update(key(v) for v in vs[1::2])
    assert merged == full


def test_hist_quantiles_key_is_monotone():
    """key(v) monotone in v is what makes rank selection over the
    histogram exact — pin it over a dense small range plus octave edges."""
    from htmlgraft.textops import HQ_M, HQ_SUB

    def key(v):
        b = v.bit_length()
        return b * HQ_SUB + (v >> max(b - HQ_M - 1, 0))

    vals = list(range(1, 4096)) + [
        (1 << e) + d for e in range(12, 40) for d in (-1, 0, 1)
    ]
    keys = [key(v) for v in sorted(vals)]
    assert keys == sorted(keys)
    # values below 2^(HQ_M+1) are exact: distinct keys
    small = [key(v) for v in range(1, 1 << (HQ_M + 1))]
    assert len(set(small)) == len(small)


def test_heavy_hitters_contract_and_recompute(q, spark, sf_dir):
    """Misra-Gries merge: recompute every shard summary in pure Python
    (per-shard keep iff c*(K+1) > N_s, merged est = sum of kept counts)
    and pin the value columns, the lower-bound contract, and the classic
    guarantee (every globally-heavy token surfaces in >= 1 shard)."""
    from collections import Counter

    import pandas as pd

    from htmlgraft.textops import HH_K, HH_SHARDS

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    shard_counts = {s: Counter() for s in range(HH_SHARDS)}
    for doc_id, text in zip(docs.doc_id, docs.text):
        shard_counts[doc_id % HH_SHARDS].update(text.split(" "))
    est, n_shards = Counter(), Counter()
    for s, cnt in shard_counts.items():
        n_s = sum(cnt.values())
        for tok, c in cnt.items():
            if c * (HH_K + 1) > n_s:
                est[tok] += c
                n_shards[tok] += 1
    exact = Counter()
    for cnt in shard_counts.values():
        exact.update(cnt)
    n_total = sum(exact.values())

    df = q("heavy_hitters").set_index("token")
    want = {
        t for t in exact
        if exact[t] * (HH_K + 1) > n_total or t in est
    }
    assert set(df.index) == want and len(want) > 0
    for tok, row in df.iterrows():
        assert row.n_exact == exact[tok]
        assert row.n_est_lower == est.get(tok, 0)
        assert row.n_shards == n_shards.get(tok, 0)
        assert row.is_heavy_global == int(
            exact[tok] * (HH_K + 1) > n_total
        )
        # lower-bound contract
        assert row.n_est_lower <= row.n_exact
        # the Misra-Gries guarantee: globally heavy => surfaced somewhere
        if row.is_heavy_global:
            assert row.n_shards >= 1 and row.n_est_lower > 0
    # the gate corpus band genuinely straddles the bar: both decisions
    # occur, and at least one surfaced token is NOT globally heavy (a
    # shard-local keep), so the merge logic is really exercised
    assert df.is_heavy_global.nunique() == 2 or (
        (df.n_shards < HH_SHARDS) & (df.n_shards > 0)
    ).any()


def test_heavy_hitters_discriminates_skewed_corpus(spark):
    """On a corpus WITH a Zipf head (the driver table has none — see
    CLAUDE.md), the summary keeps the head and drops the tail: head
    tokens are heavy in every shard with est == exact; tail tokens never
    surface at all."""
    import pandas as pd

    from htmlgraft import textops
    from htmlgraft.textops import HH_SHARDS

    rows = []
    for i in range(200):
        head = "alpha " * 20 + "beta " * 10
        tail = f"rare{i} rare{i + 1000} "
        rows.append((i, "src", head + tail + "gamma"))
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    ).createOrReplaceTempView("hh_docs")
    df = (
        spark.sql(textops.heavy_hitters_sql(False, docs="hh_docs"))
        .toPandas()
        .set_index("token")
    )
    assert set(df.index) == {"alpha", "beta"}
    assert (df.is_heavy_global == 1).all()
    assert (df.n_shards == HH_SHARDS).all()
    # every shard kept them, so the merged lower bound is exact
    assert (df.n_est_lower == df.n_exact).all()


def test_warc_revisit_pure_python_recompute(spark, sf_dir):
    """Revisit planning pinned by full Python recompute of the capture
    universe (same synthesis as recrawl_delta): per (url, digest) the
    earliest capture is the response, every later identical capture a
    revisit pointing at it; changed captures are fresh responses.  The
    unchanged tier must actually produce revisits and the major/minor
    tiers fresh responses."""
    import hashlib

    from htmlgraft import textops, urlops

    rows = textops.run(spark, sf_dir, urlops.warc_revisit_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source").collect()
    )
    want = {}
    by_tier = {"unchanged_revisits": 0, "responses": 0}
    for r in docs:
        d = r["doc_id"]
        host = ("popular.example.com" if d % 5 == 0
                else f"site-{d % 211}.example.org")
        url = f"https://{host}/{r['source']}/{d}"
        firsts = {}
        for k in range(d % 3 + 1):
            if d % 7 == 0 and k == d % 3 and d % 3 >= 1:
                ctext = "cq1 cq2 cq3 cq4 cq5 cq6 cq7 cq8"
            elif d % 5 == 0:
                ctext = r["text"]
            elif k == d % 3:
                ctext = r["text"] + f" rq{k}"
            else:
                ctext = r["text"]
            ts = 1709251200 + (d % 31536000) + k * 86400
            dig = hashlib.md5(ctext.encode()).hexdigest()
            if (url, dig) in firsts:
                want[(url, k)] = (ts, dig, "revisit", firsts[(url, dig)],
                                  len(ctext))
            else:
                firsts[(url, dig)] = ts
                want[(url, k)] = (ts, dig, "response", -1, 0)
    got = {
        (r["url"], r["capture_idx"]): (
            r["ts_seconds"], r["digest"], r["record_type"],
            r["refers_to_ts"], r["bytes_saved"],
        )
        for r in rows
    }
    assert got == want
    n_rev = sum(1 for v in want.values() if v[2] == "revisit")
    assert n_rev > 0, "unchanged tier must produce revisits"
    assert sum(1 for v in want.values() if v[2] == "response") > n_rev


def test_robots_optout_semantics(spark, sf_dir):
    """Group selection + audit semantics pinned against the known
    synthesis: graftbot/otherbot share the explicit Disallow-/ group
    (root_blocked=1, group_used=self), trainbot is never named and falls
    back to the wildcard group (never root-blocked; family-dependent
    rule counts; crawl-delay only in family 3), and '*' equals
    trainbot's verdicts everywhere."""
    from htmlgraft import textops, urlops

    rows = textops.run(spark, sf_dir, urlops.robots_optout_sql).collect()
    by = {(r["host"], r["agent"]): r for r in rows}
    hosts = {r["host"] for r in rows}
    assert hosts and len(by) == 4 * len(hosts)
    for h in hosts:
        for a in ("graftbot", "otherbot"):
            r = by[(h, a)]
            assert (r["group_used"], r["root_blocked"],
                    r["n_path_rules"]) == (a, 1, 1), (h, a)
        t = by[(h, "trainbot")]
        w = by[(h, "*")]
        assert t["group_used"] == "*" and w["group_used"] == "*"
        for col in ("root_blocked", "n_path_rules", "crawl_delay_s"):
            assert t[col] == w[col], (h, col)
        assert t["root_blocked"] == 0
        if t["crawl_delay_s"] != -1:
            assert t["crawl_delay_s"] == 5


def test_hll_by_host_registers_and_mergeability(spark, sf_dir):
    """Per-host registers pinned by pure-Python recompute (bucket, rho,
    max) for EVERY host; the mergeability contract pinned by computing
    the sketch over two arbitrary halves of the captures and
    register-wise max-merging — must equal the full sketch exactly.
    Linear-counting-corrected estimates (consumer-side float, like
    hll_card) must land within 40% for every host with n_exact >= 8."""
    import hashlib
    import math
    from collections import defaultdict

    from htmlgraft import textops, urlops

    rows = textops.run(spark, sf_dir, urlops.hll_by_host_sql).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source").collect()
    )
    M = urlops.HLL_HOST_M
    urls = []
    for r in docs:
        d = r["doc_id"]
        host = ("popular.example.com" if d % 5 == 0
                else f"site-{d % 211}.example.org")
        # capture multiset repeats the url 1 + d%3 times; registers only
        # see the distinct url once per value, so one entry suffices
        urls.append((host, f"https://{host}/{r['source']}/{d}"))

    def reg_of(pairs):
        regs = defaultdict(lambda: [0] * M)
        for host, u in pairs:
            hv = int(hashlib.md5(u.encode()).hexdigest()[:8], 16)
            bucket, suffix = hv % M, hv // M
            rho = 29 if suffix == 0 else 29 - suffix.bit_length()
            regs[host][bucket] = max(regs[host][bucket], rho)
        return regs

    full = reg_of(urls)
    got = {r["host"]: r for r in rows}
    assert set(got) == set(full)
    for host, regs in full.items():
        md5 = hashlib.md5(",".join(map(str, regs)).encode()).hexdigest()
        assert got[host]["regs_md5"] == md5, host
        assert got[host]["register_sum"] == sum(regs)

    half = len(urls) // 2
    a, b = reg_of(urls[:half]), reg_of(urls[half:])
    merged = {
        h: [max(a.get(h, [0] * M)[i], b.get(h, [0] * M)[i])
            for i in range(M)]
        for h in full
    }
    assert merged == dict(full)

    for host, r in got.items():
        n = r["n_exact"]
        if n < 8:
            continue
        v0 = r["n_zero_registers"]
        est = float(r["n_est_raw"])  # alpha*m^2 / sum(2^-r), natural units
        if est <= 2.5 * M and v0 > 0:
            est = M * math.log(M / v0)  # linear counting
        assert abs(est - n) / n < 0.4, (host, n, est)
