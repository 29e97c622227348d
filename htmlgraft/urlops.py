"""URL canonicalization operators — the crawl-pipeline primitive that decides
which pages are "the same" before any content dedup runs.

``url_canonicalize``: scheme+host lowercased, default ports stripped
(http:80, https:443), fragment dropped, trailing path slash removed (except
root), query parameters sorted — all as ONE dual-dialect SQL projection
(Spark via Catalyst, DuckDB as the oracle), no UDFs: string surgery is
exactly what whole-stage codegen is good at, and at 10^12 urls a per-row
Python canonicalizer would dominate the job.

``url_canon_dedup``: groups the canonical form — messy variants of the same
resource collapse to one key; the group-by is a single hash shuffle on the
canonical url (the same shape as exact text dedup).

The messy inputs are synthesized deterministically per document (two
guaranteed-equivalent variants per doc: upper-cased scheme/host + explicit
:80 + fragment + unsorted query vs the clean spelling; every third doc adds
a third NON-equivalent variant on port 8080 with a trailing slash), so the
oracle independently verifies every canonicalization rule.
"""

from __future__ import annotations

from .textops import _d, h32


def _messy_urls_cte(duck: bool) -> str:
    d = _d(duck)
    p = f"concat(source, '/', cast(doc_id as {d['str']}))"
    return f"""
      raw as (select doc_id, source, {p} as p from documents),
      urls as (
        select doc_id,
               concat('HTTP://WWW.', upper(source), '.EXAMPLE.ORG:80/', p,
                      '?b=2&a=1#frag') as url
        from raw
        union all
        select doc_id,
               concat('http://www.', source, '.example.org/', p, '?a=1&b=2')
        from raw
        union all
        select doc_id,
               concat('https://www.', source, '.example.org:8080/', p, '/')
        from raw where doc_id % 3 = 0
      )"""


def _canon_ctes(duck: bool) -> str:
    """CTE chain: urls(doc_id, url) -> canon(doc_id, url_raw, url_canon,
    host, n_params).  Step names follow the canonicalization rules."""
    d = _d(duck)
    strpos = d["strpos"]
    split_hash = d["split_on"].format("url", "'#'")
    split_amp = d["split_on"].format("query", "'&'")
    sort_join = d["join"].format(d["sort"].format(split_amp), "'&'")
    nq = f"{d['len']}({split_amp})"
    return f"""
      c_frag as (  -- rule: drop the fragment
        select doc_id, url, {d['elem'].format(split_hash, '1')} as nofrag
        from urls),
      c_q as (
        select doc_id, url, nofrag, {strpos.format('nofrag', "'?'")} as qpos
        from c_frag),
      c_split as (  -- split base vs query
        select doc_id, url,
               case when qpos > 0 then substr(nofrag, 1, qpos - 1)
                    else nofrag end as base,
               case when qpos > 0 then substr(nofrag, qpos + 1)
                    else '' end as query
        from c_q),
      c_scheme as (  -- rule: lowercase the scheme
        select doc_id, url, query,
               lower(substr(base, 1, {strpos.format('base', "'://'")} - 1))
                 as scheme,
               substr(base, {strpos.format('base', "'://'")} + 3) as rest
        from c_split),
      c_auth as (
        select doc_id, url, query, scheme,
               case when {strpos.format('rest', "'/'")} > 0
                    then substr(rest, 1, {strpos.format('rest', "'/'")} - 1)
                    else rest end as hostport,
               case when {strpos.format('rest', "'/'")} > 0
                    then substr(rest, {strpos.format('rest', "'/'")})
                    else '/' end as path
        from c_scheme),
      c_host as (  -- rule: lowercase host, split off the port
        select doc_id, url, query, scheme, path,
               lower(case when {strpos.format('hostport', "':'")} > 0
                    then substr(hostport, 1,
                                {strpos.format('hostport', "':'")} - 1)
                    else hostport end) as host,
               case when {strpos.format('hostport', "':'")} > 0
                    then substr(hostport, {strpos.format('hostport', "':'")} + 1)
                    else '' end as port
        from c_auth),
      c_port as (  -- rule: strip scheme-default ports only
        select doc_id, url, query, scheme, host, path,
               case when port = '' or (scheme = 'http' and port = '80')
                         or (scheme = 'https' and port = '443')
                    then '' else concat(':', port) end as portsuf
        from c_host),
      canon as (  -- rules: strip trailing path slash (not root), sort params
        select doc_id, url as url_raw, host,
               concat(scheme, '://', host, portsuf,
                      case when path <> '/'
                                and substr(path, length(path), 1) = '/'
                           then substr(path, 1, length(path) - 1)
                           else path end,
                      case when query = '' then ''
                           else concat('?', {sort_join}) end) as url_canon,
               cast(case when query = '' then 0 else {nq} end as bigint)
                 as n_params
        from c_port)"""


def url_canonicalize_sql(duck: bool) -> str:
    return f"""
      with {_messy_urls_cte(duck)},
      {_canon_ctes(duck)}
      select doc_id, url_raw, url_canon, host, n_params
      from canon
      order by doc_id, url_raw
    """


def url_canon_dedup_sql(duck: bool) -> str:
    """Variants of the same resource collapse onto one canonical key: one
    hash-shuffle group-by, the scale shape of crawl-frontier dedup."""
    return f"""
      with {_messy_urls_cte(duck)},
      {_canon_ctes(duck)}
      select url_canon, count(*) as n_variants, min(doc_id) as first_doc
      from canon
      group by url_canon
      having count(*) > 1
      order by url_canon
    """


def _surt_cte(duck: bool) -> str:
    """SURT (Sort-friendly URI Reordering Transform) — the key scheme web
    archives and the Common Crawl CDXJ index sort by: scheme dropped,
    leading ``www.`` stripped, host labels reversed and comma-joined, then
    ``)`` + path (trailing slash stripped, lowercased) + sorted lowercased
    query.  Built on the ``c_port`` canonicalization stage so scheme-default
    port stripping and fragment dropping feed the key for free.  Pure
    string surgery in both dialects — at index scale the key is computed
    inside whole-stage codegen, never in Python."""
    d = _d(duck)
    h = "case when host like 'www.%' then substr(host, 5) else host end"
    rev = d["join"].format(d["reverse"].format(d["split_dot"].format(h)), "','")
    split_amp = d["split_on"].format("query", "'&'")
    sort_join = d["join"].format(d["sort"].format(split_amp), "'&'")
    return f"""
      surt as (
        select doc_id, url as url_raw, host,
               concat({rev}, portsuf, ')',
                      lower(case when path <> '/'
                                 and substr(path, length(path), 1) = '/'
                            then substr(path, 1, length(path) - 1)
                            else path end),
                      case when query = '' then ''
                           else concat('?', lower({sort_join})) end)
                 as surt_key
        from c_port)"""


def surt_ctes(duck: bool) -> str:
    """Full chain ``urls(doc_id, url)`` → ``surt(doc_id, url_raw, host,
    surt_key)`` for callers that bring their own ``urls`` CTE (the CDXJ
    index builder joins this back on url_raw)."""
    return _canon_ctes(duck) + "," + _surt_cte(duck)


def url_surt_sql(duck: bool) -> str:
    """Gated query: SURT keys over the messy url corpus — equivalent
    spellings (case, default port, fragment, unsorted query) must collapse
    to ONE key while the genuinely different :8080 variant must not."""
    return f"""
      with {_messy_urls_cte(duck)},
      {surt_ctes(duck)}
      select doc_id, url_raw, surt_key
      from surt
      order by doc_id, url_raw
    """


# Simplified robots rule table: (host '*' = every host, path_prefix, allow).
# Deliberately exercises the two hard semantics: LONGEST-match-wins
# ('/src1' blocked but '/src13' allowed — a '/src13/...' path matches both
# and the longer rule decides) and host-scoped overrides.
ROBOTS_RULES = (
    ("*", "/src1", 0),
    ("*", "/src13", 1),
    ("popular.example.com", "/src2", 0),
)


def robots_filter_sql(duck: bool) -> str:
    """Robots-style URL filtering (RFC 9309 longest-match semantics): each
    corpus url matches the rule with the LONGEST matching path prefix whose
    host scope applies ('*' or exact); ties prefer allow (the RFC's
    least-restrictive tie-break); no match means allow.  The rule table is
    robots.txt-sized (tiny — Spark broadcasts it), so at 10^12 urls this is
    one map-side join plus a per-url top-1 window over a handful of matched
    rules — never a shuffle wider than the urls themselves."""
    d = _d(duck)
    rows = ", ".join(f"('{h}', '{p}', {a})" for h, p, a in ROBOTS_RULES)
    return f"""
      with raw as (
        select doc_id, {d['host']} as host,
               concat('/', source, '/', cast(doc_id as {d['str']})) as path
        from documents
      ),
      rules as (select * from (values {rows}) as r(rhost, prefix, allow)),
      matched as (
        select u.doc_id, u.host, u.path, r.prefix, r.allow,
               row_number() over (
                 partition by u.doc_id
                 order by length(r.prefix) desc, r.allow desc, r.prefix asc
               ) as rk
        from raw u join rules r
          on (r.rhost = '*' or r.rhost = u.host)
         and substr(u.path, 1, length(r.prefix)) = r.prefix
      )
      select u.doc_id, u.host, u.path,
             cast(coalesce(m.allow, 1) as bigint) as allow,
             cast(coalesce(length(m.prefix), 0) as bigint) as matched_len
      from raw u
      left join (select * from matched where rk = 1) m
        on m.doc_id = u.doc_id
      order by u.doc_id
    """


def _captures_cte(duck: bool) -> str:
    """Shared deterministic capture synthesis — caps(doc_id, text, url,
    capture_idx): 1 + doc_id % 3 captures per URL.  Used by BOTH
    ``latest_snapshot_sql`` (which ignores text) and ``recrawl_delta_sql``
    (which perturbs it per capture), so the two operators provably
    describe the same recrawl universe."""
    d = _d(duck)
    ks = d["range_incl"].format("0", "doc_id % 3")
    return f"""caps as (
        select doc_id, text,
               concat('https://', {d['host']}, '/', source, '/',
                      cast(doc_id as {d['str']})) as url,
               {d['explode']}({ks}) as capture_idx
        from documents
      )"""


def latest_snapshot_sql(duck: bool) -> str:
    """Newest-capture-per-URL selection — the recrawl collapse a
    Common-Crawl-style pipeline runs before any content processing (each
    crawl re-fetches URLs; training data wants exactly one, the freshest,
    snapshot per URL).

    Captures are synthesized deterministically (`_captures_cte`: 1 +
    doc_id % 3 per URL, one day apart, so ties are impossible and both
    engines agree on the winner); the query itself sees only
    (url, capture_idx, ts_seconds) and must pick row_number() == 1 per url
    ordered by ts desc.

    Scale: ONE window partitioned by url — the same hash shuffle as exact
    dedup, per-url local state, never a global sort.  At 10^12 captures the
    url key is near-unique (fan-in <= crawl count), so no skew."""
    return f"""
      with {_captures_cte(duck)},
      stamped as (
        select url, capture_idx,
               1709251200 + (doc_id % 31536000) + capture_idx * 86400
                 as ts_seconds
        from caps
      ),
      ranked as (
        select url, capture_idx, ts_seconds,
               row_number() over (partition by url order by ts_seconds desc)
                 as rk,
               count(*) over (partition by url) as n_captures
        from stamped
      )
      select url,
             cast(n_captures as bigint) as n_captures,
             cast(capture_idx as bigint) as latest_capture,
             cast(ts_seconds as bigint) as latest_ts_seconds
      from ranked where rk = 1
      order by url
    """


def _captext_cte(duck: bool) -> str:
    """Per-capture TEXT over ``caps`` — the change-tier synthesis shared
    by ``recrawl_delta_sql`` (which derives Jaccard tiers from it) and
    ``warc_revisit_sql`` (which derives payload digests): full rewrite /
    byte-identical / one-token append, exactly as documented on
    recrawl_delta_sql.  Keeps doc_id so consumers can derive the capture
    timestamp (latest_snapshot's formula)."""
    d = _d(duck)
    rewrite = "'cq1 cq2 cq3 cq4 cq5 cq6 cq7 cq8'"
    return f"""captext as (
        select doc_id, url, capture_idx,
               case
                 when doc_id % 7 = 0 and capture_idx = doc_id % 3
                      and doc_id % 3 >= 1 then {rewrite}
                 when doc_id % 5 = 0 then text
                 when capture_idx = doc_id % 3
                   then concat(text, ' rq', cast(capture_idx as {d['str']}))
                 else text
               end as ctext
        from caps
      )"""


def warc_revisit_sql(duck: bool) -> str:
    """WARC revisit-record planning (ISO 28500 / WARC 1.1
    identical-payload-digest profile) — the dedup layer real web archives
    apply at WRITE time: a capture whose payload digest was already
    archived for that URL is stored as a tiny ``revisit`` record pointing
    at the first ``response`` record instead of repeating the body.  Runs
    on the same capture universe as latest_snapshot / recrawl_delta
    (shared ``caps``/``captext`` CTEs), so the unchanged tier produces
    real digest collisions.  Per capture: the digest, response-or-revisit
    verdict, the referred-to capture's timestamp (-1 for responses), and
    the payload bytes the revisit saves.

    Scale: one md5 projection, one (url, digest) group-by for the first
    capture, one equi-join back — the exact-dedup shuffle shape keyed on
    (url, digest); no windows, no skew (fan-in <= crawl count per url)."""
    return f"""
      with {_captures_cte(duck)},
      {_captext_cte(duck)},
      stamped as (
        select url, capture_idx, md5(ctext) as digest,
               length(ctext) as payload_len,
               1709251200 + (doc_id % 31536000) + capture_idx * 86400
                 as ts_seconds
        from captext
      ),
      firsts as (
        select url, digest, min(ts_seconds) as first_ts
        from stamped group by url, digest
      )
      select s.url,
             cast(s.capture_idx as bigint) as capture_idx,
             cast(s.ts_seconds as bigint) as ts_seconds,
             s.digest,
             case when s.ts_seconds = f.first_ts
                  then 'response' else 'revisit' end as record_type,
             cast(case when s.ts_seconds = f.first_ts
                  then -1 else f.first_ts end as bigint) as refers_to_ts,
             cast(case when s.ts_seconds = f.first_ts
                  then 0 else s.payload_len end as bigint) as bytes_saved
      from stamped s
      join firsts f on f.url = s.url and f.digest = s.digest
      order by s.url, s.capture_idx
    """


def recrawl_delta_sql(duck: bool) -> str:
    """Content-change detection between the two most recent captures of
    each URL — the signal a crawler uses to set per-URL recrawl frequency
    (unchanged pages get crawled less; churning pages more) and a dedup
    tier uses to decide whether a recrawl is a new document at all.

    Captures come from the same `_captures_cte` fragment
    ``latest_snapshot`` runs on (1 + doc_id % 3 captures per URL), with
    per-capture TEXT added:
      * doc_id % 7 == 0 and latest capture  -> a full rewrite (8 fresh
        tokens sharing nothing with the base text)        => tier 'major'
      * doc_id % 5 == 0                     -> byte-identical recrawls
                                                            => 'unchanged'
      * otherwise the LATEST capture appends one token rq<k> => 'minor'
        (earlier captures are the plain base text; one added token keeps
        Jaccard = 1000B/(B+1) >= 800 down to B = 4 distinct base tokens,
        clear of this corpus's floor of 6)
    so every tier occurs and both engines derive identical inputs.

    Delta metric: token-SET Jaccard between the latest two captures,
    integer permille (1000*|A∩B| div |A∪B|); tier thresholds 1000 /
    >= 800 / < 800.  URLs with a single capture have no delta and are
    excluded.

    Scale: ONE window partitioned by url picks the latest two captures
    (per-url local state); the token explode touches <= 2 captures per
    url; the Venn count is one hash agg keyed (url, tok) and the rollup
    one keyed url — the exact-dedup shuffle shape, never a global sort."""
    d = _d(duck)
    tok_col = f"{d['explode']}({d['split'].format('ctext')})"
    div = d["div"]
    return f"""
      with {_captures_cte(duck)},
      {_captext_cte(duck)},
      ranked as (
        select url, capture_idx, ctext,
               row_number() over (partition by url
                                  order by capture_idx desc) as rk,
               count(*) over (partition by url) as n_captures
        from captext
      ),
      pairtoks as (
        select distinct url, n_captures, rk, {tok_col} as tok
        from ranked where rk <= 2 and n_captures >= 2
      ),
      venn as (
        select url, min(n_captures) as n_captures, tok, count(*) as c
        from pairtoks group by url, tok
      )
      select url,
             cast(min(n_captures) as bigint) as n_captures,
             cast(sum(case when c = 2 then 1 else 0 end) as bigint)
               as n_shared,
             cast(count(*) as bigint) as n_union,
             cast((1000 * sum(case when c = 2 then 1 else 0 end))
                  {div} count(*) as bigint)
               as jaccard_permille,
             case
               when sum(case when c = 2 then 1 else 0 end) = count(*)
                 then 'unchanged'
               when (1000 * sum(case when c = 2 then 1 else 0 end))
                    {div} count(*) >= 800 then 'minor'
               else 'major'
             end as tier
      from venn
      group by url
      order by url
    """


# Public-suffix rules (a tiny deterministic stand-in for the Mozilla
# Public Suffix List, which is what a production build would broadcast;
# 'github.io' models a PRIVATE suffix — every user subdomain is its own
# registrable domain).
PSL_SUFFIXES = ("com", "org", "uk", "co.uk", "github.io")


def domain_stats_sql(duck: bool) -> str:
    """Registrable-domain (eTLD+1) aggregation — crawl policies, host caps,
    and per-site quality stats all key on the REGISTRABLE domain, not the
    host: www.a.foo.co.uk and b.foo.co.uk are one site (foo.co.uk), while
    user-1.github.io and user-2.github.io are two (github.io is a private
    suffix).  Implements the Public Suffix List algorithm (public,
    publicsuffix.org): longest matching suffix wins, registrable domain =
    matched suffix plus one more label.

    Hosts are synthesized at four label depths so every rule fires:
    ``site-m.example.com`` (plain), ``www.site-m.foo-j.co.uk`` (two-label
    suffix must beat 'uk'), ``user-j.github.io`` (private suffix),
    ``a.b.site-m.deep.org`` (deep subdomains collapse).

    Scale: hosts are first reduced to a (host, n_docs) relation (one hash
    agg — the host domain is ~10^7, not 10^12); candidate suffixes explode
    <= 3 short rows per HOST; the suffix rules are PSL-sized (broadcast);
    the final rollup aggregates the host-sized relation.  Unmatched hosts
    would inner-join away — a production build adds an 'unknown' lane."""
    d = _d(duck)
    m = f"cast(doc_id % 37 as {d['str']})"
    j = f"cast(doc_id % 23 as {d['str']})"
    vals = ", ".join(f"('{s}')" for s in PSL_SUFFIXES)
    suffixes = d["values"].format(vals, "v(suffix)")
    split_host = d["split_dot"].format("host")
    n = f"{d['len']}(labels)"
    i_col = f"{d['explode']}({d['range_incl'].format('1', f'least({n} - 1, 3)')})"
    cand = d["slice_join"].format("labels", f"{n} - i + 1", n, "i", "'.'")
    label_above = d["elem"].format("labels", f"{n} - i")
    return f"""
      with psl as ({suffixes}),
      pages as (
        select doc_id,
               case
                 when doc_id % 4 = 0
                   then concat('site-', {m}, '.example.com')
                 when doc_id % 4 = 1
                   then concat('www.site-', {m}, '.foo-', {j}, '.co.uk')
                 when doc_id % 4 = 2
                   then concat('user-', {j}, '.github.io')
                 else concat('a.b.site-', {m}, '.deep.org')
               end as host
        from documents
      ),
      hostagg as (
        select host, count(*) as n_docs from pages group by host
      ),
      labeled as (
        select host, n_docs, {split_host} as labels from hostagg
      ),
      exploded as (
        select host, n_docs, labels, {i_col} as i from labeled
      ),
      cands as (
        select host, n_docs, labels, i, {cand} as cand from exploded
      ),
      matched as (
        select c.host, c.n_docs, c.i, s.suffix,
               concat({label_above}, '.', s.suffix) as reg_domain,
               row_number() over (partition by c.host
                                  order by c.i desc) as rk
        from cands c join psl s on c.cand = s.suffix
      )
      select reg_domain, suffix,
             cast(count(*) as bigint) as n_hosts,
             cast(sum(n_docs) as bigint) as n_docs
      from matched where rk = 1
      group by reg_domain, suffix
      order by reg_domain
    """


def sitemap_parse_sql(duck: bool) -> str:
    """Sitemap PARSER — the third leg of crawl discovery next to
    robots_parse and crawl_frontier: per-host ``sitemap.xml`` documents
    (sitemaps.org protocol) are synthesized deterministically, then the
    Spark side must recover every ``<url>`` entry's loc/lastmod/priority
    by actually PARSING the XML text (regexp entry split + field
    extraction inside whole-stage codegen — sitemap XML is rigid
    machine-generated markup, exactly what a regex grammar is right for).
    The DuckDB oracle never parses: it restates the expected relation
    directly from the documents table, so synthesis and parse must be
    exact mutual inverses.

    Corpus urls/dates contain no ``&<>`` so no XML entity escaping is
    exercised (documented scope; real sitemaps pct-encode urls anyway).

    Scale: one hash agg per host to build, one map to parse — sitemap
    files are per-host and |host|-bounded like the robots relation."""
    ts = "1709251200 + doc_id % 31536000"
    pr = "doc_id % 9 + 1"
    host = _d(duck)["host"]
    if duck:
        return f"""
      with d as (
        select doc_id, source, {host} as host from documents
      )
      select host,
             concat('https://', host, '/', source, '/',
                    cast(doc_id as varchar)) as loc,
             strftime(make_timestamp(cast({ts} as bigint) * 1000000),
                      '%Y-%m-%d') as lastmod,
             cast({pr} as bigint) as priority_decile
      from d
    """
    return f"""
      with d as (
        select doc_id, source, {host} as host from documents
      ),
      d2 as (
        select doc_id, host,
               concat('https://', host, '/', source, '/',
                      cast(doc_id as string)) as url,
               date_format(timestamp_seconds({ts}), 'yyyy-MM-dd')
                 as lastmod,
               concat('0.', cast({pr} as string)) as pr
        from d
      ),
      sm as (
        select host,
               concat('<?xml version="1.0" encoding="UTF-8"?>',
                      '<urlset xmlns=',
                      '"http://www.sitemaps.org/schemas/sitemap/0.9">',
                      array_join(transform(
                        array_sort(collect_list(
                          struct(doc_id, url, lastmod, pr))),
                        s -> concat('<url><loc>', s.url,
                                    '</loc><lastmod>', s.lastmod,
                                    '</lastmod><priority>', s.pr,
                                    '</priority></url>')), ''),
                      '</urlset>') as xml
        from d2
        group by host
      ),
      entries as (
        select host,
               explode(regexp_extract_all(xml, '<url>(.*?)</url>', 1))
                 as entry
        from sm
      )
      select host,
             regexp_extract(entry, '<loc>([^<]*)</loc>', 1) as loc,
             regexp_extract(entry, '<lastmod>([^<]*)</lastmod>', 1)
               as lastmod,
             cast(regexp_extract(entry, '<priority>0[.]([0-9])</priority>',
                                 1) as bigint) as priority_decile
      from entries
    """


BLOOM_BITS = 65536   # m = 2048 x 32-bit words (32-bit: DuckDB range-checks
BLOOM_K = 3          # signed shifts, so 1 << 63 would overflow there)


def bloom_frontier_sql(duck: bool) -> str:
    """Bloom-filter membership for frontier dedup — the sketch that makes
    "have I crawled this url?" affordable at 10^12 urls: the seen-set
    compresses to a {BLOOM_BITS}-bit relation (<= 2048 (word, bits) rows,
    kilobytes — broadcast it), so the frontier probe is a map + broadcast
    join instead of resume_antijoin's full shuffle against the crawl
    state.  The price is deterministic false positives (a never-crawled
    url whose k={BLOOM_K} bits all collide is skipped); false NEGATIVES
    are impossible — the property the gate pins, since every truly-seen
    candidate must come out maybe_seen=1 in the value hash.

    All integer/bit arithmetic (md5-derived 32-bit hashes, shifts,
    bit_or aggregation) is engine-identical, so the exact bit pattern —
    and therefore the exact false-positive set — is value-checked."""
    d = _d(duck)
    s, div = d["str"], d["div"]
    j3 = f"{d['explode']}({d['array'].format('1, 2, 3')}) as j"

    def bitpos(url: str) -> str:
        h = h32(f"concat({url}, '#', cast(j as {s}))", duck)
        return f"({h}) % {BLOOM_BITS}"

    return f"""
      with d0 as (
        select doc_id, source, {d['host']} as host
        from documents
      ),
      seen as (
        select concat('https://', host, '/', source, '/',
                      cast(doc_id as {s})) as url
        from d0
      ),
      cand as (
        select url, 1 as truly from seen
        union all
        select concat(url, '?page=2'), 0 from seen
      ),
      spos as (
        select {bitpos('url')} as bit
        from (select url, {j3} from seen)
      ),
      bloom as (
        select bit {div} 32 as word,
               bit_or({d['shl1'].format('bit % 32')}) as bits
        from spos
        group by bit {div} 32
      ),
      ppos as (
        select url, truly, {bitpos('url')} as bit
        from (select url, truly, {j3} from cand)
      ),
      hits as (
        select p.url, p.truly,
               min(case when b.bits is not null
                         and {d['bit'].format('b.bits', '(p.bit % 32)')} = 1
                    then 1 else 0 end) as hit
        from ppos p left join bloom b on b.word = p.bit {div} 32
        group by p.url, p.truly
      )
      select url,
             cast(truly as bigint) as truly_seen,
             cast(hit as bigint) as maybe_seen
      from hits
    """


HLL_B = 8                     # 2^8 = 256 registers
HLL_M = 1 << HLL_B
# alpha_m * m^2 * 2^32 as a PRE-COMPUTED integer constant (compile-time
# Python float, never runtime SQL float — the estimate division is pure
# bigint arithmetic in both engines)
HLL_ALPHA_NUM = int(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * (1 << 32))


def hll_card_sql(duck: bool) -> str:
    """HyperLogLog cardinality registers over the recrawl capture multiset
    (each url appears 1–3 times; the sketch must estimate DISTINCT urls).
    The register relation is the whole point at 10^12 rows: 256 integers,
    mergeable across partitions/shards by register-wise max — a
    count(distinct) needs a full shuffle on the key, the sketch needs one
    map plus a 256-group aggregation, and union-ing two crawls' sketches
    is free.

    Everything emitted is integer and engine-identical: bucket = low
    {HLL_B} hash bits, rho = leading-zero rank of the remaining 24 bits
    computed via the BINARY-STRING length (length(bin(x)) /
    printf('%b') — no float log2), the raw estimate is
    alpha_m2_scaled div sum(2^(32-r)) in bigint fixed point, and the full
    register vector is pinned by an order-joined md5.  The small-range
    (linear-counting) correction needs ln() — float, so it lives in the
    consumer (pinned in tests by a pure-Python recompute), not the gate.

    Which branch the gated scale factors exercise (measured 2026-08-19):
    at sf0.001/sf0.01 the raw estimate (552) sits BELOW the 2.5*m = 640
    small-range threshold with 36 zero registers, so a consumer takes the
    linear-counting branch; at sf0.1 the estimate (4827) is above it with
    0 zero registers — the raw-HLL branch.  The driver gate therefore pins
    the register relation under both correction regimes across its sfs."""
    d = _d(duck)
    div = d["div"]
    rng = d["range_incl"].format("0", str(HLL_M - 1))
    return f"""
      with {_captures_cte(duck)},
      h as (select ({h32('url', duck)}) as hv from caps),
      br as (
        select hv % {HLL_M} as bucket, suffix,
               case when suffix = 0 then 25 else 25 - {d['blen'].format('suffix')} end as rho
        from (select hv, hv {div} {HLL_M} as suffix from h)
      ),
      regs as (select bucket, max(rho) as r from br group by bucket),
      full_regs as (
        select a.bucket, coalesce(regs.r, 0) as r
        from (select {d['explode']}({rng}) as bucket) a
        left join regs on regs.bucket = a.bucket
      ),
      agg as (
        select sum({d['shl1'].format('(32 - r)')}) as den,
               sum(case when r = 0 then 1 else 0 end) as v0,
               sum(r) as register_sum,
               {d['regs_join']} as regs_md5
        from full_regs
      )
      select cast((select count(distinct url) from caps) as bigint)
               as n_exact,
             cast({HLL_ALPHA_NUM} {div} den as bigint) as n_est_raw,
             cast(v0 as bigint) as n_zero_registers,
             cast(register_sum as bigint) as register_sum,
             regs_md5
      from agg
    """


HLL_HOST_M = 16  # registers per host (per-group sketches stay tiny)
HLL_HOST_ALPHA_NUM = int(0.673 * HLL_HOST_M * HLL_HOST_M * (1 << 32))


def hll_by_host_sql(duck: bool) -> str:
    """GROUPED HyperLogLog: per-host distinct-url registers over the
    recrawl capture multiset — the group-state form of ``hll_card`` and
    the reason sketches exist at 10^12 rows: per-host distinct counts as
    a {HLL_HOST_M}-integer vector per host that merges across
    partitions, shards, and whole crawls by register-wise max (the
    map-side combine IS the sketch), where count(distinct) per host
    needs the full (host, url) shuffle every time.

    Same float-free machinery as hll_card (suffix here is 28 bits ->
    rho = 29 - binary-string length, 29 for zero); registers are
    value-pinned per host via the order-joined md5, the raw estimate in
    bigint fixed point (alpha_16 = 0.673); small-range correction lives
    in the consumer (pinned in tests)."""
    d = _d(duck)
    div = d["div"]
    M = HLL_HOST_M
    host = d["part"].format("url", "'/'", "3")
    rng = d["range_incl"].format("0", str(M - 1))
    return f"""
      with {_captures_cte(duck)},
      hu as (
        select {host} as host, url, ({h32('url', duck)}) as hv from caps
      ),
      br as (
        select host, hv % {M} as bucket,
               case when suffix = 0 then 29 else 29 - {d['blen'].format('suffix')} end as rho
        from (select host, hv, hv {div} {M} as suffix from hu)
      ),
      regs as (
        select host, bucket, max(rho) as r from br group by host, bucket
      ),
      hosts as (select distinct host from hu),
      full_regs as (
        select h.host, a.bucket, coalesce(regs.r, 0) as r
        from hosts h
        cross join (select {d['explode']}({rng}) as bucket) a
        left join regs on regs.host = h.host and regs.bucket = a.bucket
      ),
      agg as (
        select host,
               sum({d['shl1'].format('(32 - r)')}) as den,
               sum(case when r = 0 then 1 else 0 end) as v0,
               sum(r) as register_sum,
               {d['regs_join']} as regs_md5
        from full_regs group by host
      ),
      exact as (
        select host, cast(count(distinct url) as bigint) as n_exact
        from hu group by host
      )
      select e.host, e.n_exact,
             cast({HLL_HOST_ALPHA_NUM} {div} a.den as bigint) as n_est_raw,
             cast(a.v0 as bigint) as n_zero_registers,
             cast(a.register_sum as bigint) as register_sum,
             a.regs_md5
      from exact e join agg a on a.host = e.host
      order by e.host
    """


def robots_parse_sql(duck: bool) -> str:
    """robots.txt PARSER (RFC 9309 grammar, public spec) — the missing
    half of ``robots_filter``, which consumes a rules RELATION: this
    operator produces that relation from raw robots.txt TEXT.

    Per-host robots.txt documents are synthesized deterministically (four
    shape families by host id covering the grammar's corners: inline and
    whole-line comments, case-variant directive names, LWS around the
    colon, an EMPTY Disallow value, Crawl-delay, and a group declared by
    two CONSECUTIVE User-agent lines — RFC 9309 §2.1: consecutive
    user-agent lines share one group).  Parsing is pure dual-dialect SQL:

    * line split + positional explode (document-local positions);
    * comment strip (first '#'), blank/colon-less line skip;
    * directive = lowercase(trimmed head before the first ':'), value =
      trimmed tail;
    * GROUP assembly: a user-agent line opens a new group only when the
      previous parsed line was NOT a user-agent line (lag + running sum —
      both windows partitioned by host, bounded by one robots.txt's line
      count);
    * every rule row joins to EVERY agent of its group.

    Output: (host, agent, line_no, directive, value), strings/ints only.

    Scale: robots.txt documents are per-host and tiny; all windows are
    host-partitioned and line-bounded.  At 10^12 pages the robots
    relation is |hosts|-sized — the same broadcast-side table
    robots_filter already assumes."""
    d = _d(duck)
    s = d["str"]
    nl = "chr(10)"
    hid = f"cast(hid as {s})"
    fam = "((hid + 211) % 4)"
    txt = f"""concat(
        '# robots for ', host, {nl},
        'User-Agent: *', {nl},
        case {fam}
          when 0 then concat('Disallow: /private/', {nl},
                             'Allow: /private/ok', {nl})
          when 1 then concat('disallow:', {nl})
          when 2 then concat('Disallow: /tmp/ # inline comment', {nl})
          else concat('Crawl-Delay: 5', {nl}, 'Disallow: /q', {nl})
        end,
        {nl},
        'User-agent: graftbot', {nl},
        'User-agent: otherbot', {nl},
        'Disallow: /', {nl})"""
    # line explode with document-local positions (the positional-token
    # pattern used throughout textops)
    ls = d["split_on"].format("txt", nl)
    n = f"{d['len']}(ls)"
    line_i = d["elem"].format("ls", "i")
    strpos = d["strpos"]
    nocomment = d["elem"].format(d["split_on"].format("line", "'#'"), "1")
    return f"""
      with hostids as (
        select distinct
               case when doc_id % 5 = 0 then -1 else doc_id % 211 end as hid
        from documents
      ),
      hosts as (
        select hid,
               case when hid = -1 then 'popular.example.com'
                    else concat('site-', {hid}, '.example.org') end as host
        from hostids
      ),
      robots as (select hid, host, {txt} as txt from hosts),
      rl as (
        select host, ls, {d['explode']}(
                 {d['range_incl'].format('1', n)}) as i
        from (select host, {ls} as ls from robots)
      ),
      lines as (select host, i as ln, {line_i} as line from rl),
      noc as (
        select host, ln, trim({nocomment}) as body from lines
      ),
      parsed as (
        select host, ln,
               lower(trim(substr(body, 1, {strpos.format('body', "':'")} - 1)))
                 as directive,
               trim(substr(body, {strpos.format('body', "':'")} + 1)) as value
        from noc
        where {strpos.format('body', "':'")} > 0
      ),
      flagged as (
        select host, ln, directive, value,
               case when directive = 'user-agent' then 1 else 0 end as is_ua,
               coalesce(lag(case when directive = 'user-agent' then 1
                            else 0 end) over (
                 partition by host order by ln), 0) as prev_ua
        from parsed
      ),
      grouped as (
        select host, ln, directive, value,
               sum(case when is_ua = 1 and prev_ua = 0 then 1 else 0 end)
                 over (partition by host order by ln
                       rows between unbounded preceding and current row)
                 as grp,
               is_ua
        from flagged
      ),
      agents as (
        select host, grp, value as agent from grouped where is_ua = 1
      ),
      rules as (
        select host, grp, ln, directive, value
        from grouped
        where is_ua = 0
          and directive in ('disallow', 'allow', 'crawl-delay')
      )
      select r.host, a.agent,
             cast(r.ln as bigint) as line_no,
             r.directive, r.value
      from rules r join agents a on a.host = r.host and a.grp = r.grp
      order by r.host, a.agent, line_no
    """


OPTOUT_AGENTS = ("*", "graftbot", "otherbot", "trainbot")


def robots_optout_sql(duck: bool) -> str:
    """Crawler opt-out audit — the compliance report a training-data
    pipeline runs before ingesting a host: for each agent of interest
    (including one the robots.txt never names), which rule group applies
    under RFC 9309 group selection (the agent's own group if present,
    else ``*``), whether the site root is blocked, how many path rules
    bind, and the crawl delay.  Layered directly on the
    ``robots_parse_sql`` rules RELATION (the parser is the single source
    of truth; this query adds only group selection + aggregation).

    Root-blocked here means an exact ``Disallow: /`` in the selected
    group (the synthesis carries no ``Allow: /``); full longest-match
    path semantics live in ``robots_filter``, documented division of
    labor.  Scale: the rules relation is |hosts|-bounded and tiny; the
    agent list is a literal — everything after the parse is broadcast-
    sized."""
    inner = robots_parse_sql(duck)
    agents = " union all ".join(
        f"select '{a}' as agent" for a in OPTOUT_AGENTS
    )
    return f"""
      with rules as ({inner}),
      want as ({agents}),
      hosts as (select distinct host from rules),
      self_g as (select distinct host, agent from rules),
      pick as (
        select h.host, w.agent,
               case when s.agent is not null then w.agent else '*' end
                 as grp
        from hosts h
        cross join want w
        left join self_g s on s.host = h.host and s.agent = w.agent
      ),
      grules as (
        select p.host, p.agent, p.grp, r.directive, r.value
        from pick p
        join rules r on r.host = p.host and r.agent = p.grp
      )
      select host, agent, min(grp) as group_used,
             cast(max(case when directive = 'disallow' and value = '/'
                      then 1 else 0 end) as bigint) as root_blocked,
             cast(sum(case when directive in ('allow', 'disallow')
                            and value <> '' then 1 else 0 end) as bigint)
               as n_path_rules,
             cast(coalesce(max(case when directive = 'crawl-delay'
                               then cast(value as int) end), -1) as bigint)
               as crawl_delay_s
      from grules
      group by host, agent
      order by host, agent
    """


def feed_parse_sql(duck: bool) -> str:
    """RSS/Atom feed PARSER — the fourth leg of crawl discovery next to
    robots_parse, sitemap_parse, and crawl_frontier: real crawlers poll
    syndication feeds to find fresh urls between full recrawls.  Per-host
    feed documents are synthesized deterministically in BOTH of the wire
    formats that matter (host-hash parity picks one per host): RSS 2.0
    (``<item><title/><link/><pubDate RFC-822/>``) and Atom
    (``<entry><title/><link href/><updated ISO-8601/>``).  The Spark side
    must recover every entry's (link, title, published) by actually
    PARSING the XML — a combined backreference-free entry split
    ``<(item|entry)>(.*?)</(item|entry)>`` (group 2) plus per-format field
    regexes, all inside whole-stage codegen like sitemap_parse.

    The DuckDB oracle never parses: it restates the expected relation
    straight from the documents table — including the RFC-822/ISO-8601
    timestamp STRINGS (``strftime`` vs ``date_format`` must agree
    byte-for-byte on day-of-week and month abbreviations, which pins the
    formatter parity both synthesis paths rely on).  Titles/urls carry no
    ``&<>`` so XML entity escaping is out of scope (same documented scope
    as sitemap_parse).

    Scale: one hash agg per host to build, one map + explode to parse —
    feeds are per-host and |host|-bounded like robots and sitemaps."""
    ts = "1709251200 + doc_id % 31536000"
    host = _d(duck)["host"]
    fsel = f"({h32('host', duck)}) % 2"
    if duck:
        return f"""
      with d as (
        select doc_id, source, {host} as host from documents
      ),
      d2 as (
        select doc_id, host, {fsel} as f,
               row_number() over (partition by host order by doc_id) as pos,
               concat('https://', host, '/', source, '/',
                      cast(doc_id as varchar)) as url,
               concat('Post ', cast(doc_id as varchar)) as title,
               strftime(make_timestamp(cast({ts} as bigint) * 1000000),
                        '%a, %d %b %Y %H:%M:%S GMT') as pub,
               strftime(make_timestamp(cast({ts} as bigint) * 1000000),
                        '%Y-%m-%dT%H:%M:%SZ') as upd
        from d
      )
      select host,
             case when f = 0 then 'rss' else 'atom' end as feed_fmt,
             cast(pos as bigint) as pos,
             url as link, title,
             case when f = 0 then pub else upd end as published
      from d2
      order by host, pos
    """
    return f"""
      with d as (
        select doc_id, source, {host} as host from documents
      ),
      d2 as (
        select doc_id, host,
               concat('https://', host, '/', source, '/',
                      cast(doc_id as string)) as url,
               concat('Post ', cast(doc_id as string)) as title,
               date_format(timestamp_seconds({ts}),
                           'EEE, dd MMM yyyy HH:mm:ss') || ' GMT' as pub,
               date_format(timestamp_seconds({ts}),
                           "yyyy-MM-dd'T'HH:mm:ss'Z'") as upd
        from d
      ),
      feeds as (
        select host,
               case when ({fsel}) = 0 then
                 concat('<?xml version="1.0" encoding="UTF-8"?>',
                        '<rss version="2.0"><channel><title>', host,
                        '</title>',
                        array_join(transform(array_sort(collect_list(
                          struct(doc_id, url, title, pub))),
                          e -> concat('<item><title>', e.title,
                                      '</title><link>', e.url,
                                      '</link><pubDate>', e.pub,
                                      '</pubDate></item>')), ''),
                        '</channel></rss>')
               else
                 concat('<feed xmlns="http://www.w3.org/2005/Atom">',
                        '<title>', host, '</title>',
                        array_join(transform(array_sort(collect_list(
                          struct(doc_id, url, title, upd))),
                          e -> concat('<entry><title>', e.title,
                                      '</title><link href="', e.url,
                                      '"/><updated>', e.upd,
                                      '</updated></entry>')), ''),
                        '</feed>')
               end as xml
        from d2
        group by host
      ),
      entries as (
        select host,
               case when instr(xml, '<rss') > 0 then 'rss' else 'atom' end
                 as feed_fmt,
               posexplode(regexp_extract_all(
                 xml, '<(item|entry)>(.*?)</(item|entry)>', 2))
                 as (pos0, entry)
        from feeds
      )
      select host, feed_fmt,
             cast(pos0 + 1 as bigint) as pos,
             case when feed_fmt = 'rss'
                  then regexp_extract(entry, '<link>([^<]*)</link>', 1)
                  else regexp_extract(entry, '<link href="([^"]*)"/>', 1)
             end as link,
             regexp_extract(entry, '<title>([^<]*)</title>', 1) as title,
             case when feed_fmt = 'rss'
                  then regexp_extract(entry, '<pubDate>([^<]*)</pubDate>', 1)
                  else regexp_extract(entry, '<updated>([^<]*)</updated>', 1)
             end as published
      from entries
      order by host, pos
    """
