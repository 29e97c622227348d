"""Training-data text operators over the ``documents`` table: deduplication
(exact, n-gram Jaccard, MinHash+LSH, SimHash), language-ID, quality scoring,
token counting, and document fingerprinting.

Each operator is ONE logical plan written as a SQL template rendered for two
dialects: Spark SQL (executed through Catalyst — whole-stage codegen, no
Python in the hot path) and DuckDB SQL (the driver's value-level oracle).
Sharing the template is what makes the oracle a real byte-level check: both
engines agree on md5() (hex string of the UTF-8 bytes), 1-based list
indexing (``element_at`` / ``l[i]``), and integer arithmetic, so every
operator below emits only strings/integers — no floats — and is
hash-comparable across engines.

The dialect table (``SPARK`` / ``DUCK`` below, picked by ``_d(duck)``) is
the one place a dialect spelling lives, for every query builder in the
package: a builder writes ``d["div"]``, ``d["explode"]``, ``d["len"]``
and so on, and never chooses between ``//`` and ``div`` itself.  To add
a spelling, give both tables the same key: a plain string, or a
``str.format`` template whose positional fields mean the same in both
(a dialect may ignore a field, as ``slice`` does).  A builder keeps its
own branch on ``duck`` only where the two plans differ in structure, not
in spelling (``aggregate`` vs ``list_sum``, an ASOF join vs a window
carry), or where a spelling occurs once and its two forms do not share
a template.  ``tools/sql_digest.py --diff`` checks that moving a
spelling into the table leaves every rendered query unchanged.

Scale notes (100 TB / 10^12 docs):
* shingle explode multiplies rows ~100x but stays narrow (doc_id, shingle)
  and aggregates map-side before the shuffle on shingle/doc_id;
* the all-pairs shingle self-join (``ngram_jaccard``) is the small-scale
  oracle path; at scale candidate pairs come from ``minhash_lsh`` banding
  (shuffle on band key ~ O(n), not O(n^2)) and only candidates are verified;
* hot shingles (stopword 3-grams) would skew the self-join — the LSH path
  avoids it entirely, and the verify join is pre-filtered to candidates;
* simhash is a pure map + two hash aggregations (doc_id, bit) — linear.
"""

from __future__ import annotations

from .corpus import HOST_EXPR, HOST_EXPR_DUCK

SPARK = {
    "str": "string",
    # 32-bit int from the first 8 hex chars of md5
    "h32_open": "cast(conv(substr(md5(",
    "h32_close": "),1,8),16,10) as bigint)",
    "host": HOST_EXPR,
    "div": "div",
    "explode": "explode",
    "len": "size",
    "epoch": "unix_timestamp({0})",  # whole seconds
    "one": "cast(1 as bigint)",
    "shl": "shiftleft({0}, {1})",
    "shr": "shiftright({0}, {1})",
    "shl1": "shiftleft(cast(1 as bigint), {0})",
    "bit": "(shiftright({0}, {1}) & 1)",
    "xor": "({0} ^ {1})",
    "blen": "length(bin({0}))",  # bit length of a positive integer
    "octets": "octet_length({0})",
    "split": "split({0}, ' ')",
    # split on a quoted literal; Spark's split takes a regex, so the
    # separator must be free of metacharacters (split_dot covers '.')
    "split_on": "split({0}, {1})",
    "split_dot": "split({0}, '[.]')",
    "part": "element_at(split({0}, {1}), {2})",
    "elem": "element_at({0}, {1})",
    "array": "array({0})",
    "join": "array_join({0}, {1})",
    "sort": "array_sort({0})",
    "reverse": "reverse({0})",
    "filter": "filter({0}, {1})",
    "distinct": "array_distinct({0})",
    # list {0} from 1-based {1} to {2} inclusive ({3} items); slice_join
    # then joins it with separator {4}
    "slice": "slice({0}, {1}, {3})",
    "slice_join": "array_join(slice({0}, {1}, {3}), {4})",
    "range_incl": "sequence({0}, {1})",  # guarded: only used when hi >= lo
    "lambda": "{0} -> {1}",
    "transform": "transform({0}, {1})",
    "values": "select * from values {0} as {1}",
    "not_in": "not ({0} in ({1}))",
    "argmax": "max_by",
    "hint": "/*+ {0} */",
    "strpos": "instr({0}, {1})",
    "re_count": "regexp_count({0}, {1})",
    "re_full": "{0} rlike '^{1}$'",
    "re_g": "",  # regexp_replace is global by default
    "re_ref1": "$1",
    "uclass": "\\\\p{{Is{0}}}",
    # a regex backslash inside a string literal: Spark SQL literals
    # process backslash escapes, DuckDB's pass them through
    "bs": "\\\\",
    # md5 of the comma-joined registers r in bucket order
    "regs_join": (
        "md5(array_join(transform(array_sort(collect_list("
        "struct(bucket, r))), x -> cast(x.r as string)), ','))"
    ),
}

DUCK = {
    "str": "varchar",
    "h32_open": "(('0x' || substr(md5(",
    "h32_close": "),1,8))::bigint)",
    "host": HOST_EXPR_DUCK,
    "div": "//",
    "explode": "unnest",
    "len": "len",
    # floor(): epoch() keeps fractional seconds and the double->bigint
    # cast rounds
    "epoch": "floor(epoch({0}))",
    "one": "(1::bigint)",
    "shl": "({0} << {1})",
    "shr": "({0} >> {1})",
    "shl1": "((1::bigint) << {0})",
    "bit": "(({0} >> {1}) & 1)",
    "xor": "xor({0}, {1})",
    "blen": "length(printf('%b', {0}))",
    "octets": "octet_length(encode({0}))",  # octet_length takes BLOB only
    "split": "string_split({0}, ' ')",
    "split_on": "string_split({0}, {1})",
    "split_dot": "string_split({0}, '.')",
    "part": "split_part({0}, {1}, {2})",
    "elem": "{0}[{1}]",
    "array": "[{0}]",
    "join": "array_to_string({0}, {1})",
    "sort": "list_sort({0})",
    "reverse": "list_reverse({0})",
    "filter": "list_filter({0}, {1})",
    "distinct": "list_distinct({0})",
    "slice": "list_slice({0}, {1}, {2})",
    "slice_join": "array_to_string({0}[{1}:{2}], {4})",
    "range_incl": "generate_series({0}, {1})",
    "lambda": "{0} -> {1}",
    "transform": "list_transform({0}, {1})",
    "values": "select * from (values {0}) {1}",
    "not_in": "{0} not in ({1})",
    "argmax": "arg_max",
    "hint": "",
    "strpos": "strpos({0}, {1})",
    "re_count": "len(regexp_extract_all({0}, {1}))",
    "re_full": "regexp_full_match({0}, '{1}')",
    "re_g": ", 'g'",
    "re_ref1": "\\1",
    "uclass": "\\p{{{0}}}",
    "bs": "\\",
    "regs_join": "md5(string_agg(cast(r as varchar), ',' order by bucket))",
}


def _d(duck: bool) -> dict:
    return DUCK if duck else SPARK


def h32(expr: str, duck: bool) -> str:
    """Deterministic 32-bit token hash shared by both engines."""
    d = _d(duck)
    return d["h32_open"] + expr + d["h32_close"]


# --- shared relational fragments -------------------------------------------

def duped_docs_cte(duck: bool) -> str:
    """Deterministic dedup corpus: the documents table plus exact copies
    (doc_id%10=0 -> +1_000_000) and near-duplicates with 3 words appended
    (doc_id%17=0 -> +2_000_000).  No RNG, both dialects identical."""
    return """
      ddocs as (
        select doc_id, text from documents
        union all
        select doc_id + 1000000, text from documents where doc_id % 10 = 0
        union all
        select doc_id + 2000000, concat(text, ' zq1 zq2 zq3')
        from documents where doc_id % 17 = 0
      )"""


def _kgrams_sql(duck: bool, k: int, head: str, alias: str, src: str,
               ws: str = "ws") -> str:
    """``select {head}<k-gram> as {alias} from {src}`` over the word array
    ``ws`` of ``src``: one row per k-gram i = ws[i]..ws[i+k-1] for i in
    1..len(ws)-k+1 (1-based in both engines), through one explode of a
    transform over positions.  Docs with fewer than k words give none."""
    d = _d(duck)
    parts = " || ' ' || ".join(
        d["elem"].format(ws, f"i + {j}") if j else d["elem"].format(ws, "i")
        for j in range(k)
    )
    n = f"{d['len']}({ws})"
    mk = d["transform"].format(
        d["range_incl"].format("1", f"{n} - {k - 1}"),
        d["lambda"].format("i", parts),
    )
    return (f"select {head}{d['explode']}({mk}) as {alias}"
            f" from {src} where {n} >= {k}")


def _positions_sql(duck: bool, k: int, alias: str, src: str) -> str:
    """``select doc_id, ws, <i> as {alias} from {src}``: one row per start
    position i = 1..len(ws)-k+1 of a word k-gram in the word array ``ws``
    of ``src`` (k = 1: every word position)."""
    d = _d(duck)
    n = f"{d['len']}(ws)"
    hi = f"{n} - {k - 1}" if k > 1 else n
    return (f"select doc_id, ws, {d['explode']}({d['range_incl'].format('1', hi)})"
            f" as {alias} from {src} where {n} >= {k}")


def _postings_ctes(duck: bool, words: str, name: str) -> str:
    """``{words}``(doc_id, ws) and ``{name}``(doc_id, pos, tok): every word
    of every doc with its 1-based position."""
    d = _d(duck)
    return f"""{words} as (select doc_id, {d["split"].format("text")} as ws from documents),
      {name} as (
        select doc_id, pos, {d['elem'].format('ws', 'pos')} as tok
        from (
          {_positions_sql(duck, 1, "pos", words)}
        )
      )"""


def shingles_cte(
    duck: bool, src: str = "ddocs", k: int = 3, prefix: str = ""
) -> str:
    """Distinct word k-gram shingles per doc (``_kgrams_sql``).
    ``prefix`` renames the emitted CTEs ({prefix}words / {prefix}shingles)
    so two shingle relations can coexist in one query."""
    w, sh = prefix + "words", prefix + "shingles"
    return f"""
      {w} as (select doc_id, {_d(duck)["split"].format("text")} as ws from {src}),
      {sh} as (
        {_kgrams_sql(duck, k, "distinct doc_id, ", "shingle", w)}
      )"""


def _shingles_with(duck: bool, shingles_ref: str | None) -> str:
    """``with`` head ending in a (doc_id, shingle) ``shingles`` relation:
    the duped corpus's k-gram shingles, or a pre-materialized relation."""
    if shingles_ref is not None:
        return f"with shingles as (select doc_id, shingle from {shingles_ref}),"
    return f"with {duped_docs_cte(duck)},\n      {shingles_cte(duck)},"


def tokens_cte(duck: bool, src: str = "documents") -> str:
    """All word tokens per doc (with multiplicity)."""
    d = _d(duck)
    return (f"tokens as (select doc_id, {d['explode']}({d['split'].format('text')})"
            f" as tok from {src})")


# --- operators ---------------------------------------------------------------

def dedup_exact_sql(duck: bool) -> str:
    """Exact dedup: hash-groupBy on md5(text); one shuffle on the hash.
    Output: duplicate groups with the kept (minimum) doc_id."""
    return f"""
      with {duped_docs_cte(duck)}
      select md5(text) as text_md5,
             count(*) as n_copies,
             min(doc_id) as keeper_id
      from ddocs
      group by md5(text)
      having count(*) > 1
      order by text_md5
    """


def ngram_jaccard_sql(duck: bool) -> str:
    """Near-dup pairs by word-3-gram Jaccard >= 0.5 (2*inter >= union; pure
    integer output so both engines hash identically).  All-pairs shingle
    self-join — correct at any scale but O(pairs); the scale path is
    minhash_lsh_sql below."""
    return f"""
      with {duped_docs_cte(duck)},
      {shingles_cte(duck)},
      sizes as (select doc_id, count(*) as n from shingles group by doc_id),
      inter as (
        select a.doc_id as a_id, b.doc_id as b_id, count(*) as n_inter
        from shingles a join shingles b
          on a.shingle = b.shingle and a.doc_id < b.doc_id
        group by a.doc_id, b.doc_id
      )
      select a_id, b_id, n_inter,
             sa.n + sb.n - n_inter as n_union
      from inter
      join sizes sa on sa.doc_id = a_id
      join sizes sb on sb.doc_id = b_id
      where 2 * n_inter >= sa.n + sb.n - n_inter
      order by a_id, b_id
    """


N_HASHES = 16
N_BANDS = 8  # 2 rows per band


def _minhash_bands_cte(duck: bool) -> str:
    """CTE fragment seeds -> mh -> bands over an in-scope ``shingles``
    relation: 16 min-hashes, 8 x 2-row band keys per doc."""
    d = _d(duck)
    seeds = d["range_incl"].format("0", str(N_HASHES - 1))
    cast_seed = f"cast(seed as {d['str']})"
    return f"""seeds as (select {d['explode']}({seeds}) as seed),
      mh as (
        select doc_id, seed,
               min(md5(concat({cast_seed}, '#', shingle))) as h
        from shingles cross join seeds
        group by doc_id, seed
      ),
      bands as (
        -- floor(): '/' is float division in DuckDB (and double in Spark),
        -- and DuckDB's double->int cast ROUNDS while Spark's truncates
        select doc_id, cast(floor(seed / 2) as int) as band,
               concat(max(case when seed % 2 = 0 then h end),
                      max(case when seed % 2 = 1 then h end)) as band_key
        from mh group by doc_id, cast(floor(seed / 2) as int)
      )"""


def _minhash_cand_cte(duck: bool) -> str:
    """``_minhash_bands_cte`` plus ``cand``: the pairs sharing a band key.
    Shared by ``minhash_lsh_sql`` (verifies candidates) and
    ``dedup_recall_sql`` (measures candidate recall)."""
    return f"""{_minhash_bands_cte(duck)},
      cand as (
        select distinct a.doc_id as a_id, b.doc_id as b_id
        from bands a join bands b
          on a.band = b.band and a.band_key = b.band_key
         and a.doc_id < b.doc_id
      )"""


def minhash_lsh_sql(duck: bool, shingles_ref: str | None = None) -> str:
    """MinHash+LSH near-dup detection, the 100 TB-scale path:
    shingle -> 16 min-hashes (min of md5(seed||'#'||shingle), lexicographic)
    -> 8 bands x 2 rows -> candidates share a band key -> verified by exact
    Jaccard (2*inter >= union) computed ONLY for candidate pairs.
    Shuffles: groupBy(doc_id, seed), groupBy(band key), candidate verify join
    — all ~O(n), never all-pairs.

    ``shingles_ref``: name of a pre-materialized (doc_id, shingle) relation.
    The shingle set is referenced three times (min-hashing, set sizes, the
    verify join); SQL engines inline CTEs, so without materialization the
    explode is computed three times — ``run_minhash_lsh`` computes it once
    on the Spark side."""
    return f"""
      {_shingles_with(duck, shingles_ref)}
      {_minhash_cand_cte(duck)},
      sizes as (select doc_id, count(*) as n from shingles group by doc_id),
      inter as (
        select c.a_id, c.b_id, count(*) as n_inter
        from cand c
        join shingles sa on sa.doc_id = c.a_id
        join shingles sb on sb.doc_id = c.b_id and sb.shingle = sa.shingle
        group by c.a_id, c.b_id
      )
      select i.a_id, i.b_id
      from inter i
      join sizes sa on sa.doc_id = i.a_id
      join sizes sb on sb.doc_id = i.b_id
      where 2 * i.n_inter >= sa.n + sb.n - i.n_inter
      order by i.a_id, i.b_id
    """


CONTAIN_MILLI = 800  # containment threshold (per-side, permille)


def dedup_containment_sql(duck: bool, shingles_ref: str | None = None) -> str:
    """ASYMMETRIC near-dup: shingle CONTAINMENT (Broder 1997's other
    measure) over the same LSH candidate pairs as ``minhash_lsh_sql`` —
    resemblance misses subset relations (a quote inside a long page reads
    as dissimilar), containment |A∩B|/|A| catches them, which is how a
    pipeline distinguishes "same doc" from "doc embedded in doc".  Per
    candidate pair: both set sizes, the intersection, both per-side
    containment permilles, and the verdict (dup by the symmetric Jaccard
    rule; a_in_b / b_in_a at >= {CONTAIN_MILLI} permille one-sided;
    partial otherwise).

    Scale contract identical to minhash_lsh: banding bounds the pair set,
    the verify join touches candidates only, and ``shingles_ref`` lets the
    runner compute the one shingle explode once (three consumers)."""
    div = _d(duck)["div"]
    C = CONTAIN_MILLI
    return f"""
      {_shingles_with(duck, shingles_ref)}
      {_minhash_cand_cte(duck)},
      sizes as (select doc_id, count(*) as n from shingles group by doc_id),
      inter as (
        select c.a_id, c.b_id, count(*) as n_inter
        from cand c
        join shingles sa on sa.doc_id = c.a_id
        join shingles sb on sb.doc_id = c.b_id and sb.shingle = sa.shingle
        group by c.a_id, c.b_id
      )
      select i.a_id, i.b_id,
             cast(sa.n as bigint) as n_a,
             cast(sb.n as bigint) as n_b,
             cast(i.n_inter as bigint) as n_inter,
             cast((1000 * i.n_inter) {div} sa.n as bigint) as cont_a_milli,
             cast((1000 * i.n_inter) {div} sb.n as bigint) as cont_b_milli,
             case
               when 2 * i.n_inter >= sa.n + sb.n - i.n_inter then 'dup'
               when (1000 * i.n_inter) {div} sa.n >= {C} then 'a_in_b'
               when (1000 * i.n_inter) {div} sb.n >= {C} then 'b_in_a'
               else 'partial'
             end as verdict
      from inter i
      join sizes sa on sa.doc_id = i.a_id
      join sizes sb on sb.doc_id = i.b_id
      order by i.a_id, i.b_id
    """


def run_dedup_containment(spark, sf_dir: str):
    """Spark runner over the shingle relation computed once
    (run_minhash_lsh pattern, three consumers)."""
    ref = _persisted_shingles(spark, sf_dir)
    return spark.sql(dedup_containment_sql(duck=False, shingles_ref=ref))


def _simhash_expr(duck: bool) -> str:
    """32-bit SimHash of the token-hash array column ``hv`` as ONE scalar
    expression: for each bit, every token hash votes +1/-1; the bit is set
    iff the vote sum is > 0.  A single projection over the row's own array —
    zero shuffles, zero row explosion (the previous formulation exploded
    every token hash into 32 (doc_id, bit) rows through two hash
    aggregations; same values, 32x the intermediate)."""
    d = _d(duck)
    bitexpr = d["bit"].format("h", "i")
    shl = d["shl1"].format("i")
    vote = f"case when {bitexpr} = 1 then 1 else -1 end"
    bits = d["range_incl"].format("0", "31")
    if duck:
        inner = f"list_sum(list_transform(hv, h -> {vote}))"
        return (
            f"cast(list_sum(list_transform({bits}, i -> "
            f"case when {inner} > 0 then {shl} else (0::bigint) end)) as bigint)"
        )
    inner = f"aggregate(hv, 0, (a, h) -> a + {vote})"
    return (
        f"cast(aggregate({bits}, cast(0 as bigint), (acc, i) -> "
        f"acc + case when {inner} > 0 then {shl} "
        f"else cast(0 as bigint) end) as bigint)"
    )


def _hashed_tokens_cte(duck: bool, src: str = "documents") -> str:
    """Per-doc array of 32-bit token hashes (with multiplicity), built by a
    pure projection: split -> transform(h32)."""
    d = _d(duck)
    ws = d["split"].format("text")
    th = h32("t", duck)
    tf = d["transform"].format(ws, d["lambda"].format("t", th))
    return f"hv_docs as (select doc_id, {tf} as hv from {src})"


def simhash_sql(duck: bool, docs: str = "documents") -> str:
    """32-bit SimHash per document — a single narrow map stage (split,
    hash, per-bit vote, pack) with no joins and no shuffle; linear and
    ideal at 10^12 docs."""
    return f"""
      with {_hashed_tokens_cte(duck, docs)}
      select doc_id, {_simhash_expr(duck)} as simhash
      from hv_docs
      order by doc_id
    """


def _simhash_idf_ctes(duck: bool, src: str = "documents") -> str:
    """CTE chain ending in ``shidf``(doc_id, simhash): IDF-WEIGHTED SimHash
    (the weighted-vote variant of Charikar's scheme, per Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW'07 — public paper):
    each token's per-bit vote counts its weight instead of ±1, so the
    ubiquitous template tokens that bias every document's bits the same
    way (the measured cause of the hot (band, byte) buckets the band audit
    reports) stop dominating the votes.

    Weight = bit length of N/df (an integer-only IDF surrogate,
    floor(log2(N/df)) + 1, via length(bin(...)) in both dialects):
    stopwords present in every doc get 1, rare tokens get up to bits(N) —
    monotone in idf with the classic log scale, hash-stable across engines
    (no float math, per the module contract).

    Corpus caveat, measured: the driver's synthetic documents table has a
    31-token vocabulary with df ~= 0.8N for EVERY token — no Zipf tail, so
    idf is near-constant there and the band-audit deltas are small
    (max_bucket 142 -> 141 at sf0.01).  The de-biasing effect the scheme
    exists for is pinned instead by tests/test_corpusops.py on a
    constructed template+rare-token corpus, where the unweighted scheme
    collapses most docs into one bucket and this one does not.

    Scale shape: one token explode, one vocabulary-sized df aggregation
    (map-side combined), a tok-keyed join back (the weight relation is
    vocabulary-bounded — broadcastable when it fits), then ONE hash
    aggregation per doc computing all 32 weighted bit-votes as conditional
    sums (map-side combined; no 32x row blowup, no array regroup)."""
    d = _d(duck)
    ws = d["split"].format("text")
    th = h32("t.tok", duck)
    v_cols = ",\n               ".join(
        f"sum(case when {d['bit'].format('h', i)} = 1 then w else -w end)"
        f" as v{i}"
        for i in range(32)
    )
    pack = " + ".join(
        f"case when v{i} > 0 then {d['shl1'].format(i)}"
        " else cast(0 as bigint) end"
        for i in range(32)
    )
    return f"""itoks as (
        select doc_id, {d['explode']}({ws}) as tok from {src}
      ),
      idfreq as (
        select tok, count(distinct doc_id) as df from itoks group by tok
      ),
      intot as (select count(*) as n from {src}),
      itw as (
        select tok,
               cast(length(bin(n {d['div']} df)) as bigint) as w
        from idfreq cross join intot
      ),
      ijoined as (
        select t.doc_id, {th} as h, tw.w as w
        from itoks t join itw tw on tw.tok = t.tok
      ),
      ivotes as (
        select doc_id,
               {v_cols}
        from ijoined group by doc_id
      ),
      shidf as (
        select doc_id, cast({pack} as bigint) as simhash from ivotes
      )"""


def simhash_idf_sql(duck: bool, docs: str = "documents") -> str:
    """IDF-weighted 32-bit SimHash per document (see ``_simhash_idf_ctes``)
    — the dataset-side fix for the band-bias the ``dedup_band_audit``
    metric measures on the unweighted scheme."""
    return f"""
      with {_simhash_idf_ctes(duck, docs)}
      select doc_id, simhash from shidf
      order by doc_id
    """


# 3 = the distance for which 4-byte banding guarantees candidate recall
# (<=3 flipped bits cannot touch all 4 bytes)
SIMHASH_NEARDUP_MAX_HAMMING = 3


def _simhash_bytebands_cte(duck: bool, prefix: str = "",
                           src: str = "sh") -> str:
    """CTE fragment {prefix}bands -> {prefix}sizes over an in-scope
    ``{src}``(doc_id, simhash) relation: the 4 byte-bands per doc and the
    per-(band, byte) bucket sizes.  Shared by ``simhash_neardup_sql``
    (candidate generation + the overflow-cap decision) and
    ``dedup_band_audit_sql`` (the skew metric, which also points it at the
    IDF-weighted relation), so the audit measures exactly the banding the
    operator runs.  ``prefix`` renames the CTEs so the audit can hold this
    alongside the minhash fragment's ``bands``."""
    d = _d(duck)
    byte_key = f"cast(({d['shr'].format('simhash', '8 * b.band')} & 255) as int)"
    bands, sizes = prefix + "bands", prefix + "sizes"
    return f"""{bands} as (
        select doc_id, simhash, b.band, {byte_key} as byte_key
        from {src} cross join (
          select {d['explode']}({d['range_incl'].format('0', '3')}) as band
        ) b
      ),
      {sizes} as (
        select band, byte_key, count(*) as n
        from {bands} group by band, byte_key
      )"""


# skew guard: (band, byte) buckets bigger than this are re-banded on the
# remaining 24 bits before the self-join (see simhash_neardup_sql docstring)
SIMHASH_BUCKET_CAP = 64


def simhash_neardup_sql(duck: bool, sh_ref: str | None = None) -> str:
    """SimHash near-dup detection: Hamming-distance banding over the duped
    corpus.  The 32-bit simhash splits into 4 byte-bands; docs sharing any
    (band, byte) pair become candidates (guaranteed to catch every pair
    within Hamming distance 3, since <=3 flipped bits leave >=1 of 4 bytes
    intact); candidates are verified by popcount(xor) <= {max}.

    Skew guard (measured, not assumed): simhash bits are corpus-biased on
    template-heavy text (common tokens dominate the per-bit votes), so
    byte buckets are NOT near-uniform — at sf0.1 the hottest (band, byte)
    bucket held 1,543 of 5,795 docs (~27%), i.e. ~1.2M in-bucket pairs,
    and that blowup is quadratic in corpus scale.  Buckets larger than
    SIMHASH_BUCKET_CAP therefore take an overflow lane: members are
    RE-BANDED on the 24 bits outside the matched band (4 sub-bands x 6
    bits) and self-join on (band, byte, sub, sub_key).  The recall
    guarantee survives by the same pigeonhole: a pair with <=3 total flips
    shares the outer band intact and has <=3 flips across the 4 sub-bands,
    so it still shares >=1 sub-bucket — the candidate set shrinks but the
    verified OUTPUT is provably identical.  Measured at sf0.1: max bucket
    1,543 -> 574 docs, total in-bucket pairs 3.7M -> 1.9M per refinement
    level; production recurses the same split until buckets fit (the
    fixpoint is exact-value grouping), since each level keeps the
    guarantee.  The residual hotness is intrinsic bit bias; the
    dataset-side fix is IDF-weighted simhash votes (Manku et al.'s
    weighted features), which is a different operator contract.

    Scale shape: 4 rows per doc into the band join (+4 sub-rows for
    overflow members) — O(n) shuffle keyed by (band, byte[, sub]).

    ``sh_ref``: name of a pre-materialized (doc_id, simhash) relation.  The
    bands relation self-joins, and SQL engines inline CTEs — without
    materialization the per-token vote aggregation runs TWICE;
    ``run_simhash_neardup`` computes it once on the Spark side."""
    d = _d(duck)
    shl, shr = d["shl"], d["shr"]
    xor = d["xor"].format("a_sh", "b_sh")
    # the 24 bits outside band b, packed into one bigint
    rem = (
        f"{shl.format(shr.format('b.simhash', '8 * b.band + 8'), '8 * b.band')}"
        f" | (b.simhash & ({shl.format(d['one'], '8 * b.band')} - 1))"
    )
    sub_key = f"cast(({shr.format('rem', '6 * sb.sub')} & 63) as int)"
    if sh_ref is None:
        pre = f"""with {duped_docs_cte(duck)},
      {_hashed_tokens_cte(duck, "ddocs")},
      sh as (select doc_id, {_simhash_expr(duck)} as simhash from hv_docs),"""
    else:
        pre = f"with sh as (select doc_id, simhash from {sh_ref}),"
    return f"""
      {pre}
      {_simhash_bytebands_cte(duck)},
      small as (
        select b.doc_id, b.simhash, b.band, b.byte_key
        from bands b join sizes s
          on s.band = b.band and s.byte_key = b.byte_key
        where s.n <= {SIMHASH_BUCKET_CAP}
      ),
      big as (
        select b.doc_id, b.simhash, b.band, b.byte_key, {rem} as rem
        from bands b join sizes s
          on s.band = b.band and s.byte_key = b.byte_key
        where s.n > {SIMHASH_BUCKET_CAP}
      ),
      sub as (
        select doc_id, simhash, band, byte_key, sb.sub, {sub_key} as sub_key
        from big cross join (
          select {d['explode']}({d['range_incl'].format('0', '3')}) as sub
        ) sb
      ),
      raw_pairs as (
        select a.doc_id as a_id, b.doc_id as b_id,
               a.simhash as a_sh, b.simhash as b_sh
        from small a join small b
          on a.band = b.band and a.byte_key = b.byte_key
         and a.doc_id < b.doc_id
        union all
        select a.doc_id, b.doc_id, a.simhash, b.simhash
        from sub a join sub b
          on a.band = b.band and a.byte_key = b.byte_key
         and a.sub = b.sub and a.sub_key = b.sub_key
         and a.doc_id < b.doc_id
      ),
      cand as (
        -- hamming filter BEFORE the distinct: a pair sharing k buckets
        -- appears k times, and in template-heavy corpora band buckets are
        -- large — deduplicate only the pairs that already verified
        select distinct a_id, b_id,
               cast(bit_count({xor}) as bigint) as hamming
        from raw_pairs
        where bit_count({xor}) <= {SIMHASH_NEARDUP_MAX_HAMMING}
      )
      select a_id, b_id, hamming
      from cand
      order by a_id, b_id
    """


# min-label propagation rounds for connected components.  After t rounds a
# node holds the min doc_id within graph distance t; near-dup components are
# near-cliques (diameter <= 2 measured at sf0.01 and sf0.1 — fixpoint after
# ONE productive round), so 3 rounds carry a full safety margin, and
# tests/test_relops.py pins the fixpoint (round CC_ITERS == round
# CC_ITERS-1) so the truncation is provably the true components.
CC_ITERS = 3


def min_label_ctes(edges: str, graph: str, rounds: int) -> str:
    """Connected components by ``rounds`` min-label rounds, unrolled as
    CTEs ending in ``comp(id, lbl, n)``: each node's label (the least
    node id its component reaches within ``rounds`` hops) and the size of
    its label's component.  The graph is undirected: its edges are
    ``edges(src, dst)`` in either direction, its nodes every ``src`` and
    ``dst`` of ``graph``.  ``sedges`` holds both directions of each edge
    plus a self-loop per node, so round k is one join + group-min over
    the closed neighbourhood that reads round k-1 once (engines inline
    CTEs: a round that read its predecessor twice would double the plan
    per round).  Integer-only, identical SQL in both dialects; the Spark
    runners iterate the same rounds in ``min_label_components``."""
    parts = [
        f"""sedges as (
        select src, dst from {edges}
        union select dst, src from {edges}
        union select src, src from {graph}
        union select dst, dst from {graph}
      )""",
        "l0 as (select distinct src as id, src as lbl from sedges)",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""l{k} as (
        select e.src as id, min(q.lbl) as lbl
        from sedges e join l{k - 1} q on q.id = e.dst
        group by e.src
      )""")
    parts.append(f"""comp as (
        select l.id, l.lbl, s.n
        from l{rounds} l
        join (select lbl, count(*) as n from l{rounds} group by lbl) s
          on s.lbl = l.lbl
      )""")
    return ",\n      ".join(parts)


def graph_nodes(edges):
    """The distinct ``id``s at either end of ``edges(src, dst)``,
    materialized once: every iteration round joins against them."""
    from pyspark.sql import functions as F

    return (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def min_label_components(edges, graph, rounds: int):
    """The Spark runners' ``min_label_ctes``: (id, lbl, n) over the
    undirected graph of ``edges(src, dst)`` whose nodes are the ends of
    ``graph(src, dst)``.  The symmetric edges are materialized once; each
    round is one join keyed on the edge end + one group-min, its labels
    lineage-truncated by ``localCheckpoint`` (a reliable-storage
    ``checkpoint()`` on a real cluster: without it every round's plan
    embeds all earlier rounds)."""
    from pyspark.sql import functions as F

    und = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = graph_nodes(graph).withColumn("lbl", F.col("id"))
    for _ in range(rounds):
        prop = und.join(labels, und.src == labels.id).select(
            F.col("dst").alias("id"), "lbl")
        labels = (
            labels.unionAll(prop)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.join(labels.groupBy("lbl").agg(F.count("*").alias("n")),
                       "lbl")


def _lsh_components(duck: bool) -> str:
    """``pairs(src, dst)``, the MinHash+LSH near-dup pairs, and their
    components ``comp(id, lbl, n)`` after CC_ITERS rounds."""
    return (f"pairs as (select a_id as src, b_id as dst "
            f"from ({minhash_lsh_sql(duck)}) p),\n      "
            + min_label_ctes("pairs", "pairs", CC_ITERS))


def dedup_clusters_sql(duck: bool) -> str:
    """Cluster-level dedup keeper selection: near-dup PAIRS (from the
    MinHash+LSH scale path) -> connected components via iterative min-id
    label propagation -> (doc_id, keeper_id, cluster_size), which is the
    relation a training pipeline actually consumes (keep keeper_id rows,
    drop the rest).

    Scale shape: each round is one (src-keyed) hash join + one group-min —
    O(E) shuffle per round, O(diameter) rounds.  Near-dup components are
    near-cliques (every member pairs with the original), so the constant
    CC_ITERS bound holds; a production run on adversarial graphs would
    alternate large-star/small-star steps (same per-round shuffle shape,
    O(log n) rounds) and stop on a changed-labels==0 check.  The DuckDB
    oracle unrolls the identical rounds as nested CTEs (the same
    iterative-algorithm oracle pattern as clusterops kmeans)."""
    return f"""
      with {_lsh_components(duck)}
      select id as doc_id,
             cast(lbl as bigint) as keeper_id,
             cast(n as bigint) as cluster_size
      from comp
      order by doc_id
    """


def dedup_pipeline_sql(duck: bool) -> str:
    """The COMPOSED corpus-dedup product: every document of the duped
    corpus gets a final (keep, reason, keeper_id) verdict combining exact
    dedup (md5 group minimum) with near-dup cluster keepers (MinHash+LSH
    pairs -> connected components).  Reason priority: exact_dup beats
    near_dup (an exact copy is also a near-dup of its original; the
    stronger evidence wins the audit column).  keep = 1 iff the document
    is its own exact keeper AND (unclustered or its own cluster keeper) —
    i.e. exactly the rows a training pipeline feeds downstream.

    This SQL is the value oracle (CC rounds unrolled); the Spark runner
    renders the same verdict over the ITERATIVE run_dedup_clusters — two
    hash shuffles beyond the cluster step, linear at any scale."""
    return _dedup_verdict_sql(
        duck,
        f"""{_lsh_components(duck)},
      clusters as (select id as doc_id, lbl as cluster_keeper from comp)""",
    )


def _dedup_verdict_sql(duck: bool, clusters: str) -> str:
    """dedup_pipeline's verdict over the duped corpus, given CTEs
    ``clusters`` that end in ``clusters``(doc_id, cluster_keeper)."""
    return f"""
      with {duped_docs_cte(duck)},
      {clusters},
      hd as (select doc_id, md5(text) as h from ddocs),
      ex as (select h, min(doc_id) as exact_keeper from hd group by h),
      base as (
        select hd.doc_id, ex.exact_keeper, c.cluster_keeper
        from hd
        join ex on ex.h = hd.h
        left join clusters c on c.doc_id = hd.doc_id
      ),
      verdict as (
        select doc_id, exact_keeper, cluster_keeper,
               case when doc_id <> exact_keeper then 'exact_dup'
                    when cluster_keeper is not null
                         and doc_id <> cluster_keeper then 'near_dup'
                    else '' end as reason
        from base
      )
      select doc_id,
             cast(case when reason = '' then 1 else 0 end as bigint) as keep,
             reason,
             cast(case reason when 'exact_dup' then exact_keeper
                              when 'near_dup' then cluster_keeper
                              else doc_id end as bigint) as keeper_id
      from verdict
      order by doc_id
    """


def run_dedup_pipeline(spark, sf_dir: str):
    """Spark runner for the composed verdict: ``dedup_pipeline_sql``'s
    verdict over the keeper relation of the iterative run_dedup_clusters
    (localCheckpoint-truncated rounds), not the unrolled CTEs."""
    run_dedup_clusters(spark, sf_dir).createOrReplaceTempView("__dp_clusters")
    return spark.sql(_dedup_verdict_sql(
        False,
        "clusters as (select doc_id, keeper_id as cluster_keeper "
        "from __dp_clusters)",
    ))


# deterministic marker profiles for the n-gram language-ID heuristic; the
# corpus vocabulary is synthetic, so "language" here means "which profile
# matches best" — the heuristic itself is the operator under test
LANG_MARKERS = {
    "en": ("the", "a", "line"),
    "de": ("data", "stream", "group"),
    "es": ("query", "row", "table"),
    "fr": ("join", "merge", "sort"),
    "zh": ("hash", "key", "batch"),
}


def lang_id_sql(duck: bool) -> str:
    """Language-ID by marker-token counting: explode tokens, join a tiny
    inline marker table (broadcast in Spark), count hits per candidate
    language, argmax with lexicographic tiebreak; zero-hit docs -> 'und'."""
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in sorted(LANG_MARKERS.items()) for w in ws
    )
    markers = f"(values {rows}) as m(mlang, mtok)"
    return f"""
      with {tokens_cte(duck)},
      hits as (
        select t.doc_id, m.mlang, count(*) as n_hits
        from tokens t join {markers} on t.tok = m.mtok
        group by t.doc_id, m.mlang
      ),
      best as (
        select doc_id, mlang, n_hits,
               row_number() over (
                 partition by doc_id order by n_hits desc, mlang asc
               ) as rk
        from hits
      )
      select d.doc_id,
             coalesce(b.mlang, 'und') as pred_lang,
             cast(coalesce(b.n_hits, 0) as bigint) as n_hits
      from documents d
      left join best b on b.doc_id = d.doc_id and b.rk = 1
      order by d.doc_id
    """


STOPWORDS = ("the", "a", "of", "and", "to", "in")


def quality_sql(duck: bool) -> str:
    """Quality scoring: token/char counts, distinct-token and stopword
    ratios as integer percents (floor(100*x) — identical in both engines)."""
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
      with {tokens_cte(duck)},
      stats as (
        select doc_id,
               count(*) as n_tokens,
               count(distinct tok) as n_distinct,
               sum(case when tok in ({stop_in}) then 1 else 0 end) as n_stop
        from tokens group by doc_id
      )
      select d.doc_id,
             cast(length(d.text) as bigint) as n_chars,
             cast(s.n_tokens as bigint) as n_tokens,
             cast(s.n_distinct as bigint) as n_distinct,
             cast(s.n_stop as bigint) as n_stop,
             cast(floor(100.0 * s.n_distinct / s.n_tokens) as bigint) as distinct_pct,
             cast(floor(100.0 * s.n_stop / s.n_tokens) as bigint) as stop_pct
      from documents d join stats s on s.doc_id = d.doc_id
      order by d.doc_id
    """


def token_count_sql(duck: bool) -> str:
    """Token counting: whitespace tokens plus a BPE-ish regex token count
    (letter runs / digit runs / single punctuation)."""
    d = _d(duck)
    ws = d["split"].format("text")
    n_ws = f"{d['len']}({ws})"
    n_sub = d["re_count"].format("text", "'[a-z]+|[0-9]+|[^a-z0-9 ]'")
    return f"""
      select doc_id,
             cast({n_ws} as bigint) as ws_tokens,
             cast({n_sub} as bigint) as subword_tokens,
             cast(length(text) as bigint) as n_chars
      from documents
      order by doc_id
    """


def fingerprint_sql(duck: bool) -> str:
    """Document fingerprinting: whole-text md5 plus a winnowing-style
    min-hash over word 4-grams (rolling window); short docs fall back to
    the whole-text hash."""
    return f"""
      with src as (select doc_id, text from documents),
      {shingles_cte(duck, "src", 4)},
      mins as (select doc_id, min(md5(shingle)) as min_sh from shingles group by doc_id)
      select d.doc_id,
             md5(d.text) as fp,
             coalesce(m.min_sh, md5(d.text)) as winnow_fp
      from documents d left join mins m on m.doc_id = d.doc_id
      order by d.doc_id
    """


# --- Spark-side runners -------------------------------------------------------

def _register_documents(spark, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )


CMS_D = 4    # hash rows
CMS_W = 32   # counters per row — DELIBERATELY smaller than the corpus
             # vocabulary so per-row collisions are real and the
             # min-over-rows reduction actually earns its keep


def cms_freq_sql(duck: bool) -> str:
    """Count-Min sketch token-frequency estimation — the frequency member
    of the sketch tier (bloom_frontier = membership, hll_card =
    cardinality): a {CMS_D}x{CMS_W} integer counter matrix replaces the
    full (token, count) relation.  At web scale the matrix is the point —
    counters merge by cell-wise SUM across partitions/shards/crawls
    (one tiny agg), point queries are d lookups, and the relation
    broadcast to estimate ANY key's frequency is {CMS_D * CMS_W} rows
    regardless of vocabulary size.

    Counters are built from the pre-aggregated term frequencies (same
    cell sums as streaming increments, one shuffle on the token instead
    of d x corpus rows).  Every estimate carries the CMS contract —
    n_est >= n_exact, never under — which the value hash pins per token
    alongside the exact counts (the gate corpus's 31-token vocabulary
    against {CMS_W}-wide rows forces real collisions, so over-estimates
    genuinely occur and min-over-rows genuinely shrinks them)."""
    d = _d(duck)
    s = d["str"]
    rng = d["range_incl"].format("1", str(CMS_D))
    # generator in the projection, not a cross join against a row relation:
    # keeps the d-fold expansion a Generate node (a map), so the plan never
    # grows a BroadcastNestedLoopJoin (tools/plan_audit.py enforces this)
    j_exp = f"{d['explode']}({rng}) as j"
    col = f"({h32(f'concat(tok, chr(35), cast(j as {s}))', duck)}) % {CMS_W}"
    return f"""
      with {tokens_cte(duck)},
      tf as (select tok, count(*) as n from tokens group by tok),
      tfj as (select tok, n, {j_exp} from tf),
      cells as (select j, {col} as col, n from tfj),
      cms as (select j, col, sum(n) as c from cells group by j, col),
      probe as (select tok, n, j, {col} as col from tfj)
      select p.tok as token,
             cast(p.n as bigint) as n_exact,
             cast(min(c.c) as bigint) as n_est
      from probe p join cms c on c.j = p.j and c.col = p.col
      group by p.tok, p.n
    """


HQ_M = 4              # mantissa bits -> relative error <= 2^-4 = 6.25%
HQ_SUB = 1 << (HQ_M + 1)   # sub-buckets per bit-length octave
HQ_QS = (50, 90, 99)  # reported percentiles


def hist_quantiles_sql(duck: bool) -> str:
    """Log-bucketed histogram quantiles (the HdrHistogram scheme) — the
    QUANTILE member of the sketch tier (bloom_frontier = membership,
    hll_card = cardinality, cms_freq = frequency).  An exact percentile of
    doc lengths at 10^12 rows is a global sort; the histogram replaces it
    with one hash aggregation over a VALUE-DOMAIN-bounded key space
    (64 bit-lengths x {HQ_SUB} sub-buckets), mergeable across
    partitions/shards/crawls by cell-wise SUM, with a hard relative-error
    contract.

    Bucketing: for v >= 1, b = bit_length(v) (binary-STRING length — the
    hll_card idiom, no float log2), shift = max(b - {HQ_M + 1}, 0), key =
    b * {HQ_SUB} + (v >> shift).  The key is monotone in v, so the bucket
    of the r-th order statistic is found exactly by the first bucket whose
    cumulative count reaches r; the reported estimate is the bucket's
    LOWER BOUND ((key % {HQ_SUB}) << shift), giving
    0 <= (true - est) / true <= 2^-{HQ_M} (values below 2^{HQ_M + 1} are
    exact).  Two metrics (tokens and chars per doc) share the plan, so the
    cumulative window is hash-partitioned by metric — and its input is the
    bounded bucket relation, never the corpus.

    Everything is integer: target rank r = ceil(q*n/100) in bigint, the
    window is a bigint running sum, and the estimate reconstruction is a
    shift.  Tests pin the error contract against exact quantiles and the
    cell-wise-sum mergeability on split corpora."""
    d = _d(duck)
    iv, ln = d["div"], d["len"]
    ws = d["split"].format("text")
    blen = d["blen"].format("v")
    qs = ", ".join(str(q) for q in HQ_QS)
    q_exp = f"{d['explode']}({d['array'].format(qs)}) as q"
    shift = f"greatest(b - {HQ_M + 1}, 0)"
    pow2_shift = d["shl1"].format(shift)
    shift2 = f"greatest((key {iv} {HQ_SUB}) - {HQ_M + 1}, 0)"
    pow2_shift2 = d["shl1"].format(shift2)
    return f"""
      with vals as (
        select 'tokens' as metric,
               cast({ln}({ws}) as bigint) as v from documents
        union all
        select 'chars' as metric, cast(n_chars as bigint) as v from documents
      ),
      keyed as (
        select metric,
               cast(b * {HQ_SUB} + (v {iv} {pow2_shift}) as bigint) as key
        from (select metric, v, {blen} as b from vals where v >= 1) t
      ),
      hist as (
        select metric, key, count(*) as cnt from keyed group by metric, key
      ),
      cum as (
        select metric, key,
               sum(cnt) over (partition by metric order by key asc) as c
        from hist
      ),
      tot as (select metric, sum(cnt) as n from hist group by metric),
      qs as (select {q_exp}),
      tgt as (
        select t.metric, qs.q,
               cast((qs.q * t.n + 99) {iv} 100 as bigint) as r,
               cast(t.n as bigint) as n
        from qs cross join tot t
      ),
      pick as (
        select t.metric, t.q, t.n, min(c.key) as key
        from tgt t join cum c on c.metric = t.metric and c.c >= t.r
        group by t.metric, t.q, t.n
      )
      select metric, cast(q as bigint) as q,
             cast(key as bigint) as bucket_key,
             cast((key % {HQ_SUB}) * {pow2_shift2} as bigint) as v_est,
             n as n_rows
      from pick
      order by metric, q
    """


HH_K = 29        # Misra-Gries counters -> per-shard keep iff c*(K+1) > N_s
HH_SHARDS = 8    # deterministic shard = doc_id % HH_SHARDS


def heavy_hitters_sql(duck: bool, docs: str = "documents") -> str:
    """Misra-Gries heavy hitters — the DETERMINISTIC-guarantee member of
    the sketch tier (bloom = membership, hll = cardinality, cms =
    frequency, hist = quantiles): per shard, a token survives iff its
    count exceeds the shard total over K+1 — exactly the set a K-counter
    Misra-Gries pass retains — so each shard's summary is <= {HH_K} rows
    whatever the vocabulary, summaries merge by summing the surviving
    counts, and the classic guarantee survives the merge: any token with
    GLOBAL count > N/(K+1) must clear the per-shard bar somewhere
    (pigeonhole: if it cleared none, summing the per-shard bounds caps
    its global count at N/(K+1)).  At 10^12 docs that turns "find every
    >{100 // (HH_K + 1)}%-of-corpus token" into one map-side-combinable
    agg + a {HH_K}-row-per-shard merge, no global token shuffle.

    The output drives from the EXACT tf relation (small-scale audit side,
    like cms_freq's exact column) left-joined to the merged summary, kept
    where the token is globally heavy OR surfaced by the sketch — so a
    guarantee violation is value-visible as an is_heavy_global=1 row with
    n_shards=0, and the lower-bound contract (n_est_lower <= n_exact) is
    hashed per token.  K={HH_K} puts the 1/(K+1) bar inside the gate
    corpus's 3.1-3.5% near-uniform token band, so per-shard keep/drop
    decisions genuinely disagree; the discriminating behavior on a SKEWED
    vocabulary is pinned on a constructed corpus in tests (the driver
    table has no Zipf tail — see CLAUDE.md)."""
    t = HH_K + 1
    return f"""
      with {tokens_cte(duck, docs)},
      tks as (select doc_id % {HH_SHARDS} as shard, tok from tokens),
      ns as (select shard, count(*) as n_s from tks group by shard),
      cs as (select shard, tok, count(*) as c from tks group by shard, tok),
      kept as (
        select cs.shard, cs.tok, cs.c
        from cs join ns on ns.shard = cs.shard
        where cs.c * {t} > ns.n_s
      ),
      merged as (
        select tok, sum(c) as est, count(*) as n_shards
        from kept group by tok
      ),
      tf as (select tok, count(*) as n from tks group by tok),
      tot as (select count(*) as n from tks)
      select tf.tok as token,
             cast(tf.n as bigint) as n_exact,
             cast(coalesce(m.est, 0) as bigint) as n_est_lower,
             cast(coalesce(m.n_shards, 0) as bigint) as n_shards,
             cast(case when tf.n * {t} > (select n from tot) then 1 else 0
                  end as bigint) as is_heavy_global
      from tf left join merged m on m.tok = tf.tok
      where tf.n * {t} > (select n from tot) or m.tok is not null
      order by token
    """


def run(spark, sf_dir: str, sql_builder):
    """Execute one textops plan on Spark over the sf_dir documents table."""
    _register_documents(spark, sf_dir)
    return spark.sql(sql_builder(duck=False))


def _load_weights_view(spark, weights_path: str, view: str) -> str:
    """Register a trained (bucket, w) parquet model as a temp view; the
    relation is model-sized (QC_BUCKETS rows), so Spark auto-broadcasts
    the scoring join."""
    spark.read.parquet(weights_path).selectExpr(
        "cast(bucket as bigint) as bucket", "cast(w as bigint) as w"
    ).createOrReplaceTempView(view)
    return view


def run_quality_classify(spark, sf_dir: str, weights_path: str | None = None):
    """quality_classify with an optionally swapped-in trained model:
    ``weights_path`` points at a (bucket, w) parquet; without it the
    deterministic surrogate weights keep the plan oracle-checkable."""
    _register_documents(spark, sf_dir)
    ref = (
        _load_weights_view(spark, weights_path, "__qc_weights")
        if weights_path else None
    )
    return spark.sql(quality_classify_sql(duck=False, weights_ref=ref))


def run_hash_embed(spark, sf_dir: str, weights_path: str | None = None):
    """hash_embed with an optional (bucket, w) model relation (idf-weighted
    hashing trick); default is the unweighted plan, unchanged."""
    _register_documents(spark, sf_dir)
    ref = (
        _load_weights_view(spark, weights_path, "__he_weights")
        if weights_path else None
    )
    return spark.sql(hash_embed_sql(duck=False, weights_ref=ref))


def run_minhash_lsh(spark, sf_dir: str):
    """Spark-side MinHash+LSH over the shingle relation, computed once
    (``_persisted_shingles``): min-hashing, sizes and the verify join all
    read it."""
    ref = _persisted_shingles(spark, sf_dir)
    return spark.sql(minhash_lsh_sql(duck=False, shingles_ref=ref))


def _persisted_shingles(spark, sf_dir: str) -> str:
    """The duped corpus's (doc_id, shingle) relation, computed once by
    ``_persisted_pass``; returns its view name."""
    return _persisted_pass(
        spark, sf_dir, "__dd_shingles",
        f"with {duped_docs_cte(False)}, {shingles_cte(False)} "
        "select doc_id, shingle from shingles",
    )


def run_dedup_recall(spark, sf_dir: str):
    """Spark-side banding-recall eval over the shingle relation computed
    once (five consumers: min-hashing, both sides of the all-pairs join,
    both size lookups)."""
    ref = _persisted_shingles(spark, sf_dir)
    return spark.sql(dedup_recall_sql(duck=False, shingles_ref=ref))


def run_ppl_bucket(spark, sf_dir: str):
    """Spark-side perplexity bucketing over the doc_scores relation
    computed once (it feeds the value-domain histogram AND the per-doc
    labeling join)."""
    ref = _persisted_pass(
        spark, sf_dir, "__ppl_scores",
        f"with {lm_scored_cte(False)} select * from doc_scores",
    )
    return spark.sql(ppl_bucket_sql(duck=False, scores_ref=ref))


def run_simhash_neardup(spark, sf_dir: str):
    """Spark-side SimHash near-dup over the (doc_id, simhash) relation
    computed once: both sides of the banding self-join read it, so the
    O(32 * tokens) vote runs once."""
    ref = _persisted_pass(
        spark, sf_dir, "__sh_simhash",
        f"with {duped_docs_cte(False)}, {_hashed_tokens_cte(False, 'ddocs')} "
        f"select doc_id, {_simhash_expr(False)} as simhash from hv_docs",
    )
    return spark.sql(simhash_neardup_sql(duck=False, sh_ref=ref))


def run_dedup_clusters(spark, sf_dir: str):
    """Spark-side connected-components keeper selection, the iterative
    production shape: the LSH candidate pairs are materialized ONCE (they
    feed every propagation round), then ``min_label_components`` runs the
    CC_ITERS rounds the oracle unrolls — the state a 1000-executor run
    would keep is the (id, lbl) label relation, ~16 bytes/doc.

    Convergence within that bound is pinned by tests (near-dup components
    are near-cliques).  Production variant: loop until a changed-labels==0
    count, alternating large-star/small-star on adversarial diameters."""
    from pyspark.sql import functions as F

    pairs = (
        run_minhash_lsh(spark, sf_dir)
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .localCheckpoint(eager=True)
    )
    return (
        min_label_components(pairs, pairs, CC_ITERS)
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").cast("bigint").alias("keeper_id"),
            F.col("n").cast("bigint").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def keyword_extract_sql(duck: bool) -> str:
    """Keyword extraction: top-3 tokens per document ranked by
    (term frequency DESC, document frequency ASC, token ASC) — the exact
    integer ordering surrogate for tf-idf (rare-in-corpus but
    frequent-in-doc), chosen over the float formula so both engines hash
    identically.

    Scale shape: one shuffle to (doc_id, tok) counts; the document-frequency
    relation is vocabulary-sized (broadcast-joinable); top-k via a window
    partitioned by doc_id — never a global sort."""
    return f"""
      with {tokens_cte(duck)},
      tf as (
        select doc_id, tok, count(*) as tf
        from tokens group by doc_id, tok
      ),
      df as (
        select tok, count(distinct doc_id) as df
        from tokens group by tok
      ),
      ranked as (
        select tf.doc_id, tf.tok, tf.tf, df.df,
               row_number() over (
                 partition by tf.doc_id
                 order by tf.tf desc, df.df asc, tf.tok asc
               ) as rk
        from tf join df on df.tok = tf.tok
      )
      select doc_id, cast(rk as bigint) as rank,
             tok as keyword,
             cast(tf as bigint) as tf,
             cast(df as bigint) as df
      from ranked
      where rk <= 3
      order by doc_id, rk
    """


SAMPLE_MOD = 8  # keep 1/8 of documents per stratum


def stratified_sample_sql(duck: bool) -> str:
    """Deterministic stratified sampling: keep the documents whose 32-bit
    content-independent hash of doc_id falls in one residue class — a pure
    filter (no shuffle, no RNG, reproducible across runs and engines), with
    per-language stratum accounting.  The per-row decision is exactly what
    a 100 TB sampling pass must be: no global count, no sort, no state."""
    h = h32(f"cast(doc_id as {_d(duck)['str']})", duck)
    return f"""
      with sampled as (
        select doc_id, lang from documents
        where {h} % {SAMPLE_MOD} = 0
      )
      select lang,
             count(*) as n_sampled,
             min(doc_id) as min_doc_id,
             max(doc_id) as max_doc_id
      from sampled
      group by lang
      order by lang
    """


PRIORITY_K = 32           # sample size
PRIORITY_U = 4294967296   # 2^32 fixed-point denominator for u


def sample_priority_sql(duck: bool) -> str:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield-Lund-Thorup, JACM 2007): weight w = token count (length-
    proportional corpus subsampling), u = (h32(doc_id)+1)/2^32 as exact
    fixed point, priority q = w/u computed as w*2^32 {div} (h+1) in pure
    int64 (w*2^32 <= ~2^43, no overflow in either engine), keep the top
    {k} priorities, and report the UNBIASED weight estimator
    w_hat = max(w, tau) with tau = the (k+1)-th priority — the estimator
    whose per-item variance priority sampling proves near-optimal.
    Deterministic: no RNG, same hash both engines, ties broken by doc_id.

    Scale shape: the per-row (w, q) computation is map-only; the global
    top-(k+1) is an ORDER BY .. LIMIT, which Spark compiles to
    ``TakeOrderedAndProject`` — per-partition partial top-(k+1) merged on
    a single (k+1)-row task, NO window and NO global sort (plan-audited).
    tau = min priority of the top-(k+1) set (sorted desc, the last row
    has the set's min; 0 when the corpus has <= k rows, where the sample
    is exhaustive and w_hat = w).  Exactly what a 10^12-doc weighted
    subsample must do: one streaming pass, k rows of state."""
    d = _d(duck)
    div = d["div"]
    h = h32(f"cast(doc_id as {d['str']})", duck)
    nw = f"{d['len']}(ws)"
    return f"""
      with base as (
        select doc_id, {d['split'].format('text')} as ws from documents
      ),
      prios as (
        select doc_id, {nw} as w,
               ({nw} * {PRIORITY_U}) {div} ({h} + 1) as q
        from base
      ),
      topk1 as (
        select doc_id, w, q from prios
        order by q desc, doc_id asc limit {PRIORITY_K + 1}
      ),
      tau as (
        select case when count(*) > {PRIORITY_K} then min(q) else 0 end
               as tau
        from topk1
      ),
      kept as (
        select doc_id, w, q from topk1
        order by q desc, doc_id asc limit {PRIORITY_K}
      )
      select doc_id,
             cast(w as bigint) as w,
             cast(q as bigint) as priority,
             cast(greatest(w, tau) as bigint) as est_w
      from kept cross join tau
      order by doc_id
    """


SCRIPT_LANES = 6
#: (lane name, body) — non-ASCII bodies exercise each Unicode script
#: class; lane 4 is the classic homoglyph attack (Cyrillic а/е/о inside
#: Latin words), the signal mixed-script spam filters exist for.
_SCRIPT_BODIES = (
    ("latin", "the quick brown fox jumps over the lazy dog"),
    ("cyrillic", "съешь же ещё этих мягких французских булок"),
    ("han", "天地玄黄 宇宙洪荒 日月盈昃 辰宿列张"),
    ("arabic", "النص العربي لتحليل جودة البيانات"),
    ("confusable", "pаypаl аccount sеcurе lоgin vеrify"),
    ("greek", "ελληνικό κείμενο για ανάλυση"),
)


def _script_cls(name: str, duck: bool) -> str:
    """Unicode script character class for each engine's regex dialect:
    RE2 spells it \\p{Cyrillic}, Java \\p{IsCyrillic}; Spark SQL string
    literals additionally process backslash escapes (_pii_pat note)."""
    return _d(duck)["uclass"].format(name)


def script_mix_sql(duck: bool) -> str:
    """Unicode SCRIPT histogram + mixed-script spam signal — the
    script-level language filter multilingual corpus pipelines run
    (CCNet/mC4 lineage) and the homoglyph detector abuse pipelines run:
    per-document counts of Latin / Cyrillic / Han / Arabic / Greek
    letters, the dominant script, how many scripts appear, and the count
    of Latin-Cyrillic ADJACENT bigrams (inside-word confusables — the
    phishing/spam fingerprint; digits are script-Common and stay out of
    every count).

    The corpus is synthesized in-SQL ({SCRIPT_LANES} script lanes,
    repeat factor doc_id %% 3) so both engines build identical strings;
    the oracle twin is genuinely independent here — Java's and RE2's
    Unicode script tables must agree character by character.

    Scale shape: pure regexp projection, map-only, no shuffle — a
    10^12-doc script audit is one codegen'd pass."""
    d = _d(duck)
    s, g = d["str"], d["re_g"]
    lanes = " ".join(
        f"when {i} then '{body}'" for i, (_, body) in enumerate(_SCRIPT_BODIES)
    )

    def cnt(name: str) -> str:
        cls = _script_cls(name, duck)
        return (f"(length(stext) - length(regexp_replace(stext, "
                f"'[{cls}]', ''{g})))")

    la = _script_cls("Latin", duck)
    cy = _script_cls("Cyrillic", duck)
    conf_pat = f"'[{la}][{cy}]|[{cy}][{la}]'"
    n_conf = d["re_count"].format("stext", conf_pat)
    return f"""
      with sdocs as (
        select doc_id,
               concat(repeat(concat(case doc_id % {SCRIPT_LANES} {lanes}
                                    end, ' '), 1 + doc_id % 3),
                      cast(doc_id as {s})) as stext
        from documents
      ),
      counted as (
        select doc_id,
               cast(length(stext) as bigint) as n_chars,
               cast({cnt('Latin')} as bigint) as n_latin,
               cast({cnt('Cyrillic')} as bigint) as n_cyrillic,
               cast({cnt('Han')} as bigint) as n_han,
               cast({cnt('Arabic')} as bigint) as n_arabic,
               cast({cnt('Greek')} as bigint) as n_greek,
               cast({n_conf} as bigint) as n_confusable_bigrams
        from sdocs
      )
      select doc_id, n_chars, n_latin, n_cyrillic, n_han, n_arabic,
             n_greek,
             cast((case when n_latin > 0 then 1 else 0 end)
                + (case when n_cyrillic > 0 then 1 else 0 end)
                + (case when n_han > 0 then 1 else 0 end)
                + (case when n_arabic > 0 then 1 else 0 end)
                + (case when n_greek > 0 then 1 else 0 end)
                as bigint) as n_scripts,
             n_confusable_bigrams,
             case
               when n_latin >= n_cyrillic and n_latin >= n_han
                    and n_latin >= n_arabic and n_latin >= n_greek
                 then 'latin'
               when n_cyrillic >= n_han and n_cyrillic >= n_arabic
                    and n_cyrillic >= n_greek then 'cyrillic'
               when n_han >= n_arabic and n_han >= n_greek then 'han'
               when n_arabic >= n_greek then 'arabic'
               else 'greek'
             end as dominant_script,
             cast(case when n_confusable_bigrams > 0 then 1 else 0 end
                  as bigint) as confusable_flag
      from counted
      order by doc_id
    """


DECONTAM_K = 13  # the classic 13-gram contamination window
EVAL_MOD = 50    # fake benchmark set: every 50th document


def decontaminate_sql(duck: bool) -> str:
    """Benchmark decontamination: flag training documents sharing any word
    {k}-gram with the held-out eval set (here: every {mod}th document
    stands in for the benchmark).  The eval-side shingle relation is tiny
    (benchmark-sized — broadcast-joinable); the train side streams through
    one hash join keyed on the shingle, so the pass is linear in the corpus
    like every production decontamination sweep.  Output: contaminated
    doc_id with the count of distinct shared {k}-grams."""
    return f"""
      with train as (
        select doc_id, text from documents where doc_id % {EVAL_MOD} <> 0
      ),
      evalset as (
        select doc_id, text from documents where doc_id % {EVAL_MOD} = 0
      ),
      {shingles_cte(duck, "train", DECONTAM_K, prefix="train_")},
      {shingles_cte(duck, "evalset", DECONTAM_K, prefix="eval_")},
      eval_grams as (select distinct shingle from eval_shingles)
      select t.doc_id,
             count(distinct t.shingle) as n_shared_grams
      from train_shingles t join eval_grams e on e.shingle = t.shingle
      group by t.doc_id
      order by t.doc_id
    """


def bigrams_cte(duck: bool) -> str:
    """Consecutive word bigrams per doc WITH multiplicity (unlike the
    distinct shingle relation): one explode over a transform of positions."""
    return f"""
      bg_words as (select doc_id, {_d(duck)["split"].format("text")} as ws from documents),
      bigrams as (
        {_kgrams_sql(duck, 2, "doc_id, ", "bg", "bg_words")}
      )"""


def _bigram_word(duck: bool, i: int) -> str:
    """Word i (1 or 2) of the bigram string column ``bg``."""
    d = _d(duck)
    return d["elem"].format(d["split"].format("bg"), str(i))


LM_SCALE = 1_000_000


def lm_scored_cte(duck: bool) -> str:
    """CTE chain ending in ``doc_scores`` (doc_id, n_bigrams, lm_score,
    min_logit): the self-trained bigram LM scoring relation shared by
    ``lm_score_sql`` (reports it) and ``ppl_bucket_sql`` (buckets on it)."""
    return f"""{bigrams_cte(duck)},
      model as (
        select bg, count(*) as c2 from bigrams group by bg
      ),
      prefixes as (
        select {_bigram_word(duck, 1)} as w1, bg, c2
        from model
      ),
      prefix_totals as (
        select w1, sum(c2) as c1 from prefixes group by w1
      ),
      scored as (
        select p.bg,
               cast(floor({LM_SCALE}.0 * p.c2 / t.c1) as bigint) as logit
        from prefixes p join prefix_totals t on t.w1 = p.w1
      ),
      doc_scores as (
        select b.doc_id,
               count(*) as n_bigrams,
               cast(sum(s.logit) as bigint) as lm_score,
               cast(min(s.logit) as bigint) as min_logit
        from bigrams b join scored s on s.bg = b.bg
        group by b.doc_id
      )"""


def lm_score_sql(duck: bool) -> str:
    """N-gram language-model quality scoring (self-trained): a bigram model
    is counted over the corpus itself, then every document is scored by the
    sum of its bigram conditional frequencies — the KenLM-filter shape
    (score docs by how typical their n-grams are) with integer surrogate
    math: each bigram contributes floor({scale} * count(w1 w2) /
    count(w1-as-prefix)), exact in both engines (numerators < 2^53).

    Scale shape: the model relation is vocabulary^2-bounded (shuffle on the
    bigram key with map-side partials); scoring is one hash join of doc
    bigrams against the model — linear in the corpus."""
    return f"""
      with {lm_scored_cte(duck)}
      select doc_id, n_bigrams, lm_score, min_logit
      from doc_scores
      order by doc_id
    """


def ppl_bucket_sql(duck: bool, scores_ref: str | None = None) -> str:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public): split
    the corpus into head/middle/tail thirds by LM typicality — CCNet keeps
    the low-perplexity head for training and uses the buckets as curriculum
    labels.  Our integer surrogate ``lm_score`` is a typicality (higher =
    more in-distribution), so head = the top third of scores.

    Bucketing key = the LENGTH-NORMALIZED score ``lm_score div
    n_bigrams`` (the average bigram logit, i.e. per-token typicality), for two reasons that are one
    reason at scale: (a) semantics — CCNet buckets by per-token
    perplexity, not total log-prob, so a long document is not inherently
    "tail"; (b) the raw lm_score is a SUM over bigrams, whose distinct-
    value domain grows with the corpus (~one value per doc at 10^12 docs
    — a round-4 audit caught the cumulative window running over it),
    while the average logit lives in the STRUCTURALLY bounded domain
    [0, {LM_SCALE}] — at most ~10^6 histogram rows no matter the
    corpus size.

    Scale shape (the dataset_card percentile pattern): thresholds come
    from a histogram over that bounded VALUE DOMAIN, the cumulative
    window runs over the tiny histogram relation ordered descending, and
    each bucket boundary maps back onto docs with one hash join.  The
    window never sees 10^12 rows; ties share a normalized value and
    therefore a bucket, so the labeling is deterministic in both engines.

    ``scores_ref`` names a pre-materialized doc_scores relation: it feeds
    both the histogram and the per-doc labeling join, and Catalyst's CTE
    inlining would otherwise run the whole bigram-model pipeline twice —
    ``run_ppl_bucket`` computes it once."""
    if scores_ref is None:
        pre = f"with {lm_scored_cte(duck)},"
    else:
        pre = (
            "with doc_scores as (select doc_id, n_bigrams, lm_score, "
            f"min_logit from {scores_ref}),"
        )
    norm = f"lm_score {_d(duck)['div']} n_bigrams"
    return f"""
      {pre}
      normed as (
        select doc_id, lm_score, {norm} as avg_logit from doc_scores
      ),
      hist as (
        select avg_logit as v, count(*) as c from normed group by avg_logit
      ),
      cum as (
        select v,
               sum(c) over (order by v desc
                            rows between unbounded preceding and current row)
                 as cdocs,
               sum(c) over () as total
        from hist
      ),
      buckets as (
        select v,
               case when 3 * cdocs <= total then 'head'
                    when 3 * cdocs <= 2 * total then 'middle'
                    else 'tail' end as bucket
        from cum
      )
      select d.doc_id, d.lm_score, b.bucket
      from normed d join buckets b on b.v = d.avg_logit
      order by d.doc_id
    """


SPLIT_TRAIN_PERMILLE = 900
SPLIT_VAL_PERMILLE = 950


def dataset_split_sql(duck: bool, docs: str = "documents") -> str:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs to be REPRODUCIBLE and leak-proof: the split is a pure
    function of the document key (hash residue mod 1000), so re-running
    the pipeline, adding documents, or changing partitioning can never
    move an existing document between splits (contrast a random split or
    a row_number cut, both of which reshuffle under insertion).  Bands:
    residue < 900 -> train, < 950 -> val, else test (90/5/5).

    Used together with ``decontaminate``: held-out splits are what the
    13-gram overlap check protects.

    Scale: a map-only projection — no shuffle, no state; the split of
    10^12 docs costs exactly one scan."""
    s = _d(duck)["str"]
    h = h32(f"cast(doc_id as {s})", duck)
    return f"""
      with d as (
        select doc_id, {h} % 1000 as residue from {docs}
      )
      select doc_id,
             cast(residue as bigint) as residue,
             case when residue < {SPLIT_TRAIN_PERMILLE} then 'train'
                  when residue < {SPLIT_VAL_PERMILLE} then 'val'
                  else 'test' end as split
      from d
      order by doc_id
    """


def _octets(expr: str, duck: bool) -> str:
    """UTF-8 byte length: DuckDB's octet_length only accepts BLOB."""
    return _d(duck)["octets"].format(expr)


def _norm_expr(expr: str, duck: bool) -> str:
    """Unicode text-normalization expression over ``expr`` (both dialects):
    curly quotes / en–em dashes -> ASCII via a 1:1 translate, zero-width
    characters (ZWSP/ZWNJ/ZWJ/BOM) stripped, NBSP -> space, then whitespace
    collapsed and trimmed.

    Multibyte characters are embedded as UTF-8 LITERALS in the SQL text for
    both dialects: Spark's chr() is mod-256 ("chr(8220)" silently yields
    U+001C!), so chr()-built codepoints would diverge from DuckDB — caught
    by the bytes_in oracle column when this operator was first built."""
    fancy = "“”‘’—–"  # “ ” ‘ ’ — –
    x = f"translate({expr}, '{fancy}', '\"\"''''--')"
    for zw in ("​", "‌", "‍", "﻿"):  # ZWSP ZWNJ ZWJ BOM
        x = f"replace({x}, '{zw}', '')"
    x = f"replace({x}, ' ', ' ')"
    d = _d(duck)
    bs = d["bs"]
    return f"trim(regexp_replace({x}, '[{bs}t{bs}n{bs}r ]+', ' '{d['re_g']}))"


def messy_docs_cte(duck: bool) -> str:
    """Deterministic dirty-text corpus for the normalizer: the documents
    table plus variants wrapped in curly quotes + zero-width + em-dash
    (doc_id%7 -> +3_000_000) and NBSP/tab/CRLF-polluted copies
    (doc_id%11 -> +4_000_000).  Multibyte chars are UTF-8 literals (see
    ``_norm_expr``); tab/CR/LF use chr(), which is codepoint-exact below
     256 in both dialects."""
    return f"""
      mdocs as (
        select doc_id, text from documents
        union all
        select doc_id + 3000000,
               '“' || text || '”​—x'
        from documents where doc_id % 7 = 0
        union all
        select doc_id + 4000000,
               'a b' || chr(9) || text || chr(13) || chr(10)
        from documents where doc_id % 11 = 0
      )"""


def text_normalize_sql(duck: bool) -> str:
    """Corpus text normalization (the OSCAR/C4 cleanup pass): Unicode
    punctuation folding, zero-width stripping, NBSP and whitespace
    normalization, as ONE map-only projection — no UDF, no shuffle, linear
    at 10^12 docs.  Runs over a synthesized dirty corpus (messy_docs_cte)
    so every rule is pinned by rows that actually exercise it; emits the
    md5 of the normalized text plus byte deltas so the oracle checks the
    exact output bytes."""
    return f"""
      with {messy_docs_cte(duck)}
      select doc_id,
             md5({_norm_expr('text', duck)}) as norm_md5,
             cast({_octets('text', duck)} as bigint) as bytes_in,
             cast({_octets(_norm_expr('text', duck), duck)} as bigint)
               as bytes_out,
             cast(case when {_norm_expr('text', duck)} = text then 0 else 1
                  end as bigint) as changed
      from mdocs
      order by doc_id
    """


SHARD_LANES = 8       # parallel writer lanes; windows are lane-local
SHARD_TARGET = 2048   # target shard size (bytes) per output file


def shard_pack_sql(duck: bool) -> str:
    """Size-targeted output sharding (the dataset-writer manifest): assign
    every document to an output shard of ~{SHARD_TARGET} bytes so training
    dataloaders see uniform files.  Documents pack greedily in doc_id order
    within a writer lane (doc_id % {SHARD_LANES}); shard_seq = floor(bytes
    written before this doc / target), shard_offset = the doc's byte
    position inside its shard's running stream.  A document larger than the
    target still lands in exactly one shard (greedy split points are
    pre-doc, so oversized docs spill past the target rather than being
    torn).

    Scale shape: the running-sum window is LANE-local — one shuffle on the
    lane key, never a global sort; on a 1000-executor run lanes are
    thousands of independent window partitions and shards stay globally
    unique via (lane, shard_seq).  Same shape as seq_pack but over OUTPUT
    BYTES -- this is the writer side, seq_pack is the tokenizer side."""
    div = _d(duck)["div"]
    return f"""
      with sized as (
        select doc_id,
               cast(doc_id % {SHARD_LANES} as bigint) as lane,
               cast({_octets('text', duck)} as bigint) as n_bytes
        from documents
      ),
      runs as (
        select doc_id, lane, n_bytes,
               sum(n_bytes) over (
                 partition by lane order by doc_id
                 rows between unbounded preceding and current row
               ) as cum
        from sized
      )
      select doc_id, lane, n_bytes,
             cast((cum - n_bytes) {div} {SHARD_TARGET} as bigint) as shard_seq,
             cast((cum - n_bytes) % {SHARD_TARGET} as bigint) as shard_offset
      from runs
      order by doc_id
    """


def dedup_recall_sql(duck: bool, shingles_ref: str | None = None) -> str:
    """MinHash-LSH candidate-recall evaluation — the dedup analogue of
    ann_recall ("measure, don't guess"): compare the LSH CANDIDATE pair set
    (pre-verification banding output) against ground truth = ALL pairs with
    Jaccard >= 1/3 from the exact all-pairs path.  One row: true pair
    count, candidate count, and how many true pairs banding surfaced —
    candidate recall and the verify-join's precision workload in one place.

    Eval-only query: the all-pairs shingle self-join is the documented
    small-scale oracle path (quadratic); at 100 TB one runs this on a
    sampled slice to validate banding parameters, never on the corpus.
    ``shingles_ref`` names a pre-materialized shingle relation (five
    consumers here — ``run_dedup_recall`` computes it once)."""
    return f"""
      {_shingles_with(duck, shingles_ref)}
      {_minhash_cand_cte(duck)},
      sizes as (select doc_id, count(*) as n from shingles group by doc_id),
      inter_all as (
        select sa.doc_id as a_id, sb.doc_id as b_id, count(*) as n_inter
        from shingles sa
        join shingles sb on sb.shingle = sa.shingle and sa.doc_id < sb.doc_id
        group by sa.doc_id, sb.doc_id
      ),
      true_pairs as (
        select i.a_id, i.b_id
        from inter_all i
        join sizes sa on sa.doc_id = i.a_id
        join sizes sb on sb.doc_id = i.b_id
        where 2 * i.n_inter >= sa.n + sb.n - i.n_inter
      )
      select
        (select cast(count(*) as bigint) from true_pairs) as n_true,
        (select cast(count(*) as bigint) from cand) as n_cand,
        (select cast(count(*) as bigint)
         from true_pairs t join cand c
           on c.a_id = t.a_id and c.b_id = t.b_id) as n_hits
    """


HOST_CAP_K = 8        # max documents kept per host
HOST_CAP_LANES = 4    # phase-1 lanes bounding the skewed-host window


def host_cap_sql(duck: bool) -> str:
    """Per-host document cap (the C4/crawl-curation anti-domination pass):
    keep at most {HOST_CAP_K} documents per host, smallest doc_id first.
    The synthesized host map is skewed by construction (one heavy host
    carries ~20% of the corpus), which is exactly the case that breaks the
    naive one-window-per-host plan at scale.

    Scale shape — two bounded windows instead of one skewed one: phase 1
    ranks per (host, doc_id%{HOST_CAP_LANES}) and keeps {HOST_CAP_K} per
    lane (any global top-K doc is necessarily in its own lane's top K, so
    no survivor is lost); phase 2 re-ranks the <= K*lanes survivors per
    host.  The heavy host's window shrinks from its full document count to
    {HOST_CAP_K}*{HOST_CAP_LANES} rows; both shuffles stay O(n).

    Which branch the gated scale factors exercise (measured 2026-08-19):
    at sf0.001/sf0.01 (the driver's gate sfs) exactly ONE host — the
    constructed heavy host, 100 docs — exceeds K=8, so the lane-prune +
    drop branch fires for it while the other 211 hosts take the
    keep-everything branch; at sf0.1 every host (hottest 1000 docs)
    exceeds the cap, exercising the all-hosts-saturated branch.  Both
    regimes sweep green (ROUND5.md)."""
    return f"""
      with hosted as (
        select doc_id, {_d(duck)["host"]} as host,
               doc_id % {HOST_CAP_LANES} as lane
        from documents
      ),
      r1 as (
        select doc_id, host, lane,
               row_number() over (partition by host, lane order by doc_id)
                 as lrk
        from hosted
      ),
      surv as (select doc_id, host from r1 where lrk <= {HOST_CAP_K}),
      r2 as (
        select doc_id, host,
               row_number() over (partition by host order by doc_id) as rk
        from surv
      )
      select doc_id, host, cast(rk as bigint) as host_rank
      from r2
      where rk <= {HOST_CAP_K}
      order by doc_id
    """


def repetition_stats_sql(duck: bool) -> str:
    """Gopher-style repetition filters (Rae et al. 2021, public): fraction
    of tokens taken by the most frequent token and by the most frequent
    bigram, as integer floor-percents.  Two bounded aggregations — linear,
    and the per-doc tops come from a window max, never a global sort."""
    return f"""
      with {tokens_cte(duck)},
      {bigrams_cte(duck)},
      tok_counts as (
        select doc_id, tok, count(*) as c from tokens group by doc_id, tok
      ),
      tok_stats as (
        select doc_id, sum(c) as n_tokens, max(c) as top_tok
        from tok_counts group by doc_id
      ),
      bg_counts as (
        select doc_id, bg, count(*) as c from bigrams group by doc_id, bg
      ),
      bg_stats as (
        select doc_id, sum(c) as n_bigrams, max(c) as top_bg
        from bg_counts group by doc_id
      )
      select t.doc_id,
             cast(t.n_tokens as bigint) as n_tokens,
             cast(t.top_tok as bigint) as top_token_count,
             cast(floor(100.0 * t.top_tok / t.n_tokens) as bigint)
               as top_token_pct,
             cast(b.top_bg as bigint) as top_bigram_count,
             cast(floor(100.0 * 2 * b.top_bg / t.n_tokens) as bigint)
               as top_bigram_token_pct
      from tok_stats t join bg_stats b on b.doc_id = t.doc_id
      order by t.doc_id
    """


# --- C4/RefinedWeb-style corpus filters --------------------------------------

BADWORDS = ("slow", "dup", "leak")


def badwords_filter_sql(duck: bool) -> str:
    """Blocklist filter (C4-style "bad words" pass): count blocklisted
    tokens per document and emit a keep flag.  The blocklist is a tiny
    inline relation -- Spark broadcasts it, so at 10^12 docs this is one
    map-side join plus one hash aggregation, linear in corpus size."""
    rows = ", ".join(f"('{w}')" for w in BADWORDS)
    return f"""
      with {tokens_cte(duck)},
      hits as (
        select t.doc_id, count(*) as n
        from tokens t join (values {rows}) as b(word) on t.tok = b.word
        group by t.doc_id
      )
      select d.doc_id,
             cast(coalesce(h.n, 0) as bigint) as n_bad,
             cast(case when coalesce(h.n, 0) = 0 then 1 else 0 end as bigint)
               as keep
      from documents d left join hits h on h.doc_id = d.doc_id
      order by d.doc_id
    """


# PII patterns shared by both engines (Java regex / RE2 common subset).
PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
PII_PHONE = r"\+1-555-[0-9]{4}"


def _pii_pat(pat: str, duck: bool) -> str:
    """Quoted pattern literal: Spark SQL string literals process backslash
    escapes (corpus.py CLEAN_SPARK note), DuckDB passes them through."""
    return "'" + pat.replace("\\", _d(duck)["bs"]) + "'"


def pii_scrub_sql(duck: bool) -> str:
    """PII detection + redaction: count email/phone matches and emit the
    redacted text.  PII-bearing text is synthesized deterministically
    (doc_id % 3 == 0 gets an email + phone appended) so the oracle can
    verify the exact redaction output.  Pure regexp projection -- no
    shuffle at all; at 10^12 docs this is a map-only pass."""
    d = _d(duck)
    s = d["str"]
    email, phone = _pii_pat(PII_EMAIL, duck), _pii_pat(PII_PHONE, duck)
    g = d["re_g"]
    redacted = (
        f"regexp_replace(regexp_replace(text, {email}, '<EMAIL>'{g}), "
        f"{phone}, '<PHONE>'{g})"
    )
    n_emails = d["re_count"].format("text", email)
    n_phones = d["re_count"].format("text", phone)
    return f"""
      with pii as (
        select doc_id,
               case when doc_id % 3 = 0 then
                 concat(text, ' contact user', cast(doc_id as {s}),
                        '@mail-', cast(doc_id % 7 as {s}),
                        '.example.com or call +1-555-',
                        lpad(cast(doc_id % 10000 as {s}), 4, '0'), ' now')
               else text end as text
        from documents
      )
      select doc_id,
             cast({n_emails} as bigint) as n_emails,
             cast({n_phones} as bigint) as n_phones,
             {redacted} as redacted
      from pii
      order by doc_id
    """


def corpus_filter_sql(duck: bool) -> str:
    """Composed keep/drop verdict (the C4/RefinedWeb filter-pipeline shape):
    one pass computes token count, stopword presence, and blocklist hits,
    then emits keep + the FIRST matching reject reason in a fixed priority
    order (too_short > badwords > no_stopwords).  Everything is two hash
    aggregations over the token explode plus projections -- linear at
    10^12 docs, and the reason column gives the per-rule audit a real
    pipeline needs for its dataset card."""
    rows = ", ".join(f"('{w}')" for w in BADWORDS)
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
      with {tokens_cte(duck)},
      stats as (
        select doc_id,
               count(*) as n_tokens,
               sum(case when tok in ({stop_in}) then 1 else 0 end) as n_stop
        from tokens group by doc_id
      ),
      bad as (
        select t.doc_id, count(*) as n_bad
        from tokens t join (values {rows}) as b(word) on t.tok = b.word
        group by t.doc_id
      ),
      verdict as (
        select s.doc_id, s.n_tokens, s.n_stop, coalesce(b.n_bad, 0) as n_bad,
               case when s.n_tokens < 30 then 'too_short'
                    when coalesce(b.n_bad, 0) > 0 then 'badwords'
                    when s.n_stop = 0 then 'no_stopwords'
                    else '' end as reject_reason
        from stats s left join bad b on b.doc_id = s.doc_id
      )
      select doc_id,
             cast(n_tokens as bigint) as n_tokens,
             cast(n_bad as bigint) as n_bad,
             cast(case when reject_reason = '' then 1 else 0 end as bigint)
               as keep,
             reject_reason
      from verdict
      order by doc_id
    """


STATE_ID_MAX = 1000000  # duped corpus: originals < 1M, synthetic copies >= 1M


def dedup_incremental_sql(duck: bool, shingles_ref: str | None = None) -> str:
    """Incremental MinHash dedup -- the daily-crawl-increment shape: the
    duped corpus splits into STATE (originals, doc_id < 1M) and a NEW BATCH
    (the synthetic exact copies and near-dups, doc_id >= 1M); emit every
    (new_id, state_id) pair where a new document duplicates state.

    Same banding/verify machinery as ``minhash_lsh_sql``, but the candidate
    join is state x batch instead of a self-join.  At 10^12 docs the state
    bands are a precomputed table maintained across runs; an increment
    shingles/hashes ONLY its own documents and joins its bands against the
    state band table -- O(batch), not O(corpus), per increment."""
    return f"""
      {_shingles_with(duck, shingles_ref)}
      {_minhash_bands_cte(duck)},
      cand as (
        select distinct a.doc_id as state_id, b.doc_id as new_id
        from bands a join bands b
          on a.band = b.band and a.band_key = b.band_key
        where a.doc_id < {STATE_ID_MAX} and b.doc_id >= {STATE_ID_MAX}
      ),
      sizes as (select doc_id, count(*) as n from shingles group by doc_id),
      inter as (
        select c.new_id, c.state_id, count(*) as n_inter
        from cand c
        join shingles sa on sa.doc_id = c.state_id
        join shingles sb on sb.doc_id = c.new_id and sb.shingle = sa.shingle
        group by c.new_id, c.state_id
      )
      select i.new_id, i.state_id
      from inter i
      join sizes sa on sa.doc_id = i.state_id
      join sizes sb on sb.doc_id = i.new_id
      where 2 * i.n_inter >= sa.n + sb.n - i.n_inter
      order by i.new_id, i.state_id
    """


def run_dedup_incremental(spark, sf_dir: str):
    """Spark runner over the shingle relation computed once, as in
    ``run_minhash_lsh`` (it feeds min-hashing, sizes and the verify
    join)."""
    ref = _persisted_shingles(spark, sf_dir)
    return spark.sql(dedup_incremental_sql(duck=False, shingles_ref=ref))


def positioned_spans_cte(duck: bool) -> str:
    """Word ``SPAN_K``-gram spans of ``ddocs`` WITH their 1-based start
    position: span i = ws[i]..ws[i+SPAN_K-1].  Unlike ``shingles_cte``
    (distinct, position-free, for set-similarity), this keeps every
    occurrence and where it starts, which substring-level dedup needs to
    say WHICH bytes to cut."""
    d = _d(duck)
    k = SPAN_K
    span = d["slice_join"].format("ws", "i", f"i + {k - 1}", k, "' '")
    return f"""
      pwords as (select doc_id, {d["split"].format("text")} as ws from ddocs),
      pspans as (
        select doc_id, pos, span from (
          select doc_id, i as pos, {span} as span
          from (
            {_positions_sql(duck, k, "i", "pwords")}
          )
        )
      )"""


SPAN_K = 8  # fixed span width (tokens) for substring-level dedup


def substring_dedup_sql(duck: bool) -> str:
    """Substring-level duplication map (the ExactSubstr shape of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    public): find every {SPAN_K}-token span occurring in MORE THAN ONE
    document of the duped corpus, and report per document how much of it is
    covered by cross-document duplicated spans plus where the first such
    span starts.  Fixed-width spans are the distributable relaxation of the
    paper's suffix-array arbitrary-length match: any shared substring of
    >= {SPAN_K} tokens is guaranteed to contain a shared {SPAN_K}-span, so
    recall at the {SPAN_K}-token granularity is exact.

    Scale shape (100 TB): the span relation is ~n_tokens rows but narrow
    (doc_id, pos, md5) and aggregates map-side; duplicated-span detection is
    ONE shuffle keyed on the span hash; the report joins spans back on the
    same key — linear, no self-join, no suffix array to build."""
    return f"""
      with {duped_docs_cte(duck)},
      {positioned_spans_cte(duck)},
      hashed as (
        select doc_id, pos, md5(span) as h from pspans
      ),
      dup_spans as (
        select h from hashed group by h
        having count(distinct doc_id) > 1
      ),
      per_doc as (
        select s.doc_id,
               count(*) as n_dup_spans,
               min(s.pos) as first_dup_pos
        from hashed s join dup_spans d on d.h = s.h
        group by s.doc_id
      ),
      spans_per_doc as (
        select doc_id, count(*) as n_spans from hashed group by doc_id
      )
      select t.doc_id,
             cast(t.n_spans as bigint) as n_spans,
             cast(coalesce(p.n_dup_spans, 0) as bigint) as n_dup_spans,
             cast(coalesce(p.first_dup_pos, 0) as bigint) as first_dup_pos
      from spans_per_doc t left join per_doc p on p.doc_id = t.doc_id
      order by t.doc_id
    """


PACK_CTX = 512   # training context length (tokens)
PACK_SHARDS = 32  # writer shards; windows are shard-local


def seq_pack_sql(duck: bool) -> str:
    """Sequence packing for training batches (the GPT-style concatenate-and-
    split shape): documents are concatenated in deterministic order within a
    writer shard and split at {PACK_CTX}-token boundaries; each document
    learns which pack it starts in and at what offset.  Output is the
    (doc -> shard, pack, offset) map a tokenizing writer consumes.

    Scale shape: shard = doc_id % {PACK_SHARDS} keeps the running-sum window
    SHARD-LOCAL — one shuffle on the shard key, never a global sort; packs
    are globally unique via (shard, pack_id).  On a 1000-executor run shards
    are thousands of independent window partitions."""
    d = _d(duck)
    n_tok = f"{d['len']}({d['split'].format('text')})"
    div = d["div"]
    return f"""
      with per_doc as (
        select doc_id, doc_id % {PACK_SHARDS} as shard,
               cast({n_tok} as bigint) as n_tokens
        from documents
      ),
      runs as (
        select doc_id, shard, n_tokens,
               sum(n_tokens) over (
                 partition by shard order by doc_id
                 rows between unbounded preceding and current row
               ) as cum
        from per_doc
      )
      select doc_id,
             cast(shard as bigint) as shard,
             n_tokens,
             cast((cum - n_tokens) {div} {PACK_CTX} as bigint) as pack_id,
             cast((cum - n_tokens) % {PACK_CTX} as bigint) as pack_offset
      from runs
      order by doc_id
    """


EPOCH_N = 2          # epochs emitted by the gated query
EPOCH_BLOCKS = 64    # hash blocks -> rank windows are block-local
EPOCH_READERS = 4    # data-loader workers the permutation is sliced for


def epoch_shuffle_sql(duck: bool) -> str:
    """Deterministic training-epoch shuffle — the data-loading-side
    operator every trainer needs over a packed corpus: for each epoch, a
    seeded pseudorandom PERMUTATION of the documents plus the contiguous
    reader slice each data-loader worker consumes, computable statelessly
    by any worker from (seed, epoch) alone.

    Scale shape (the reason this is not ``order by md5(...)``): a global
    rank over 10^12 rows is a single-partition sort.  Instead the
    permutation is BLOCK-MAJOR — block = hash % {EPOCH_BLOCKS} (at real
    scale, thousands), rank WITHIN block by the same hash (a partitioned
    window), block offset by a prefix sum over the {EPOCH_BLOCKS}-row
    block-count relation (bounded window) — position = offset + rank - 1.
    Because the block is itself derived from the seeded hash, block-major
    concatenation of hash-ordered blocks IS the order a full sort by
    (block, hash) would give: a genuine permutation, shuffled per epoch,
    no global sort anywhere.  Reader slices are contiguous position
    ranges (floor(pos * {EPOCH_READERS} / N)), the standard stateless
    worker-sharding contract.

    The gate pins both epochs' full permutations by value: every
    (epoch, doc_id, pos, reader) row is hashed, so an unstable tie-break,
    a biased block split, or an epoch-mixing slip all break the hash.
    Ties are impossible by construction (the hash input embeds the unique
    doc_id)."""
    d = _d(duck)
    s, div = d["str"], d["div"]
    epochs = d["range_incl"].format("0", str(EPOCH_N - 1))
    e_exp = f"{d['explode']}({epochs}) as epoch"
    hkey = f"md5(concat('ep', cast(epoch as {s}), '#', cast(doc_id as {s})))"
    return f"""
      with items as (select doc_id, {e_exp} from documents),
      hashed as (
        select epoch, doc_id, {hkey} as hkey,
               ({h32(hkey, duck)}) % {EPOCH_BLOCKS} as block
        from items
      ),
      ranked as (
        select epoch, doc_id, block, hkey,
               row_number() over (
                 partition by epoch, block order by hkey
               ) as rk
        from hashed
      ),
      bcounts as (
        select epoch, block, count(*) as c
        from hashed group by epoch, block
      ),
      boffsets as (
        select epoch, block,
               sum(c) over (
                 partition by epoch order by block
                 rows between unbounded preceding and current row
               ) - c as off
        from bcounts
      ),
      tot as (select epoch, count(*) as n from hashed group by epoch),
      pos as (
        select r.epoch, r.doc_id, b.off + r.rk - 1 as p
        from ranked r
        join boffsets b on b.epoch = r.epoch and b.block = r.block
      )
      select cast(p.epoch as bigint) as epoch, p.doc_id,
             cast(p.p as bigint) as pos,
             cast((p.p * {EPOCH_READERS}) {div} t.n as bigint) as reader
      from pos p join tot t on t.epoch = p.epoch
      order by p.epoch, pos
    """


CHUNK_W = 64   # passage window (tokens)
CHUNK_S = 48   # stride (tokens) -> 16-token overlap


def passage_chunk_sql(duck: bool) -> str:
    """Overlapping passage chunking (the RAG/embedding-index shape): split
    each document into {CHUNK_W}-token windows every {CHUNK_S} tokens
    (16-token overlap), emitting per chunk its start, length and content
    md5.  Chunk j covers words 1+j*{CHUNK_S} .. j*{CHUNK_S}+{CHUNK_W};
    j ranges to (n_words-1) div {CHUNK_S}, so a trailing partial window is
    kept (deterministic; a production indexer might drop fully-contained
    tails — documented, not hidden).

    Scale shape: pure per-row explode + projection — a map-only pass, no
    shuffle at all; the md5 stands in for the chunk text so the output
    stays narrow and engine-hashable."""
    d = _d(duck)
    ws = d["split"].format("text")
    n, un, div = f"{d['len']}(ws)", d["explode"], d["div"]
    if duck:
        chunk = f"array_to_string(ws[(1 + j * {CHUNK_S}):(j * {CHUNK_S} + {CHUNK_W})], ' ')"
    else:
        chunk = f"array_join(slice(ws, 1 + j * {CHUNK_S}, {CHUNK_W}), ' ')"
    return f"""
      with words as (
        select doc_id, {ws} as ws from documents
      ),
      chunks as (
        select doc_id, j, {chunk} as chunk_text,
               least({CHUNK_W}, {n} - j * {CHUNK_S}) as n_toks
        from (
          select doc_id, ws,
                 {un}({d['range_incl'].format('0', f'({n} - 1) {div} {CHUNK_S}')}) as j
          from words where {n} >= 1
        )
      )
      select doc_id,
             cast(j + 1 as bigint) as chunk_id,
             cast(1 + j * {CHUNK_S} as bigint) as start_tok,
             cast(n_toks as bigint) as n_toks,
             md5(chunk_text) as chunk_md5
      from chunks
      order by doc_id, chunk_id
    """


QC_BUCKETS = 4096          # feature hash space
QC_MULT = 2654435761       # Knuth multiplicative constant (public)


def quality_classify_sql(duck: bool, weights_ref: str | None = None) -> str:
    """Hash-bucket linear quality classifier (the fastText-filter shape used
    by CCNet/LLaMA data pipelines — public): every token hashes into one of
    {QC_BUCKETS} feature buckets, each bucket carries a weight, and the
    document score is the weight sum; keep iff score >= 0.  The default
    weights are a DETERMINISTIC SURROGATE for trained parameters
    (w = ((bucket * {QC_MULT}) % 2001) - 1000, uniform in [-1000, 1000]);
    ``weights_ref`` swaps in a real trained (bucket, w) RELATION — a table
    swap, not a code change (``run_quality_classify`` loads it from a
    parquet path).  Either way the model is small enough to broadcast,
    scoring is one map-side join plus one hash aggregation.  Linear at
    10^12 docs."""
    d = _d(duck)
    un = d["explode"]
    seeds = d["range_incl"].format("0", str(QC_BUCKETS - 1))
    h = h32("tok", duck)
    if weights_ref:
        weights = f"select bucket, w from {weights_ref}"
    else:
        weights = (
            f"select b as bucket, (b * {QC_MULT}) % 2001 - 1000 as w "
            f"from (select {un}({seeds}) as b)"
        )
    return f"""
      with {tokens_cte(duck)},
      weights as (
        {weights}
      ),
      feats as (
        select doc_id, {h} % {QC_BUCKETS} as bucket from tokens
      ),
      scored as (
        select f.doc_id,
               count(*) as n_tokens,
               sum(w.w) as score
        from feats f join weights w on w.bucket = f.bucket
        group by f.doc_id
      )
      select doc_id,
             cast(n_tokens as bigint) as n_tokens,
             cast(score as bigint) as score,
             cast(case when score >= 0 then 1 else 0 end as bigint) as keep
      from scored
      order by doc_id
    """


VOCAB_SIZE = 256

# candidate-prune fan-in for global top-k windows (Spark side only)
TOPK_BUCKETS = 64


def global_topk_cand(duck: bool, name: str, rel: str, cols: str,
                     order_sql: str, k: int, bucket_expr: str) -> str:
    """CTE chain ending in ``{name}``: candidates for a GLOBAL top-k rank
    over ``rel``.

    Spark's InferWindowGroupLimit prunes rank filters only for PARTITIONED
    windows — an unpartitioned ``row_number() over (order by ...)`` funnels
    the whole relation through one task (plan-verified), which at 10^8+
    distinct web tokens is a single-partition sort.  This helper makes the
    bound structural: a hash-bucketed local top-k first (that window IS
    partitioned, so it gets the partial WindowGroupLimit), then the global
    window sees at most {TOPK_BUCKETS} x k rows.  Correct by pigeonhole:
    any global top-k row is inside its own bucket's top-k for the same
    total order, no matter how the bucket function distributes rows.

    The DuckDB oracle keeps the direct spelling (single window) — the
    bucket function never affects the RESULT, so the dialects stay
    value-identical while only Spark pays for the scale shape."""
    if duck:
        return f"{name} as (select {cols} from {rel})"
    return f"""
      {name}_b as (
        select {cols}, pmod(hash({bucket_expr}), {TOPK_BUCKETS}) as _b
        from {rel}
      ),
      {name}_l as (
        select {cols},
               row_number() over (partition by _b order by {order_sql})
                 as _lrk
        from {name}_b
      ),
      {name} as (select {cols} from {name}_l where _lrk <= {k})"""


def vocab_induct_sql(duck: bool) -> str:
    """Vocabulary induction (the tokenizer-building primitive): the top
    {VOCAB_SIZE} corpus tokens by frequency, with each rank's CUMULATIVE
    corpus coverage in permille — the curve a tokenizer team reads to pick
    a vocab size.

    Scale shape (two-phase top-k, ``global_topk_cand``): a hash-bucketed
    local top-{VOCAB_SIZE} — whose PARTITIONED window gets Spark's partial
    WindowGroupLimit — prunes the 10^8+-token distinct relation down to at
    most {TOPK_BUCKETS} x {VOCAB_SIZE} candidates before the global rank,
    so the single-partition sort is structurally bounded (plan-audited by
    tests/test_corpusops.py).  The cumulative-coverage window then runs
    over the final {VOCAB_SIZE} rows only.  The only corpus-sized work is
    one (token) hash aggregation with map-side partials."""
    div = _d(duck)["div"]
    cand = global_topk_cand(
        duck, "cand", "counts", "tok, n", "n desc, tok asc",
        VOCAB_SIZE, "tok",
    )
    return f"""
      with {tokens_cte(duck)},
      counts as (select tok, count(*) as n from tokens group by tok),
      total as (select sum(n) as t from counts),
      {cand},
      ranked as (
        select tok, n,
               row_number() over (order by n desc, tok asc) as rk
        from cand
      ),
      top as (
        select tok, n, rk from ranked where rk <= {VOCAB_SIZE}
      )
      select cast(rk as bigint) as rank,
             tok as token,
             cast(n as bigint) as n,
             cast((1000 * sum(n) over (
                     order by rk rows between unbounded preceding
                     and current row
                   )) {div} t as bigint) as cum_coverage_permille
      from top cross join total
      order by rank
    """


def dataset_card_sql(duck: bool) -> str:
    """Dataset-card statistics per language: document/token totals plus
    EXACT min / lower-median / p90 / max token counts.  Percentiles are
    computed the scale-safe way — a (lang, n_tokens) HISTOGRAM first, then
    a cumulative sum over the value domain — so the window runs over
    distinct token-count values (bounded by max doc length, ~10^5), never
    over documents: partitioning a per-doc window by lang would funnel
    10^12 rows of one language into one task, this never does.
    Rank conventions: lower median = smallest value with cum >= (n+1) div 2;
    p90 = smallest value with cum >= (9n+9) div 10 (= ceil(0.9 n))."""
    d = _d(duck)
    n_tok = f"{d['len']}({d['split'].format('text')})"
    div = d["div"]
    return f"""
      with per_doc as (
        select lang, cast({n_tok} as bigint) as n_tok from documents
      ),
      hist as (
        select lang, n_tok, count(*) as c
        from per_doc group by lang, n_tok
      ),
      cum as (
        select lang, n_tok, c,
               sum(c) over (
                 partition by lang order by n_tok
                 rows between unbounded preceding and current row
               ) as cum_c,
               sum(c) over (partition by lang) as n
        from hist
      )
      select lang,
             cast(max(n) as bigint) as n_docs,
             cast(sum(n_tok * c) as bigint) as n_tokens,
             cast(min(n_tok) as bigint) as min_tokens,
             cast(min(case when cum_c >= (n + 1) {div} 2 then n_tok end)
                  as bigint) as median_tokens,
             cast(min(case when cum_c >= (9 * n + 9) {div} 10 then n_tok end)
                  as bigint) as p90_tokens,
             cast(max(n_tok) as bigint) as max_tokens
      from cum
      group by lang
      order by lang
    """


def source_mix_sql(duck: bool) -> str:
    """Training-data source mixing: per-source document/token totals plus
    the integer up-sampling factor (permille) that equalizes token mass
    across sources -- epochs_permille = (max_source_tokens * 1000) div
    source_tokens, the DoReMi-style "how many epochs of each source do I
    take" table a mixing pipeline consumes.  Two tiny aggregations (sources
    number in the tens) over one token-count pass -- linear at any scale."""
    d = _d(duck)
    n_tok = f"{d['len']}({d['split'].format('text')})"
    div = d["div"]
    return f"""
      with per_doc as (
        select source, doc_id, cast({n_tok} as bigint) as n_tokens
        from documents
      ),
      per_source as (
        select source, count(*) as n_docs, sum(n_tokens) as n_tokens
        from per_doc group by source
      ),
      mx as (select max(n_tokens) as max_tokens from per_source)
      select s.source,
             cast(s.n_docs as bigint) as n_docs,
             cast(s.n_tokens as bigint) as n_tokens,
             cast((m.max_tokens * 1000) {div} s.n_tokens as bigint)
               as epochs_permille
      from per_source s cross join mx m
      order by s.source
    """


TEMP_TAUS = ("1", "2", "inf")


def per_source_tokens_sql(duck: bool) -> str:
    """The one corpus pass behind source_temperature: (source, n_docs,
    n_tokens).  Split out so the Spark runner can compute it once — Catalyst
    inlines CTEs, and the tau expansion references it three times."""
    d = _d(duck)
    n_tok = f"{d['len']}({d['split'].format('text')})"
    return f"""
        select source, count(*) as n_docs,
               sum(cast({n_tok} as bigint)) as n_tokens
        from documents group by source
    """


def source_temperature_sql(duck: bool,
                           per_source_src: str | None = None) -> str:
    """Temperature-scaled source mixing (the multilingual/multi-source
    sampling rule of mBERT/XLM-R and the Pile: p_i proportional to
    c_i^(1/tau)) — the knob between proportional sampling (tau=1, big
    sources dominate) and uniform sampling (tau=inf, small sources
    over-repeated), with tau=2 (square root) the common compromise.  One
    row per (tau, source): the weight, its parts-per-million share, and
    the document quota a budget-sized resample would draw.

    Exact integer math throughout so both engines agree bit-for-bit:
    tau=2 uses an integer sqrt computed as float sqrt plus a +/-1
    correction (the double can round either way; the correction re-anchors
    on exact bigint squares).  Scale: one token-count pass (computed once
    by the runner — ``per_source_src``), then everything is per-source (tens
    of rows) — linear at any corpus size."""
    div = _d(duck)["div"]
    s0 = "cast(floor(sqrt(cast(n_tokens as double))) as bigint)"
    isqrt = (
        f"({s0} + (case when ({s0} + 1) * ({s0} + 1) <= n_tokens"
        f" then 1 else 0 end)"
        f" - (case when {s0} * {s0} > n_tokens then 1 else 0 end))"
    )
    taus = " union all ".join(f"select '{t}' as tau" for t in TEMP_TAUS)
    per_source = (per_source_src
                  or f"({per_source_tokens_sql(duck)})")
    return f"""
      with per_source as (
        select * from {per_source}
      ),
      weighted as (
        select source, n_docs, n_tokens, t.tau,
               case t.tau when '1' then n_tokens
                    when '2' then {isqrt}
                    else 1 end as weight
        from per_source cross join ({taus}) t
      ),
      tot as (
        select tau, cast(sum(weight) as bigint) as total_w,
               cast(sum(n_docs) as bigint) as total_docs
        from weighted group by tau
      )
      select w.tau, w.source,
             cast(w.n_docs as bigint) as n_docs,
             cast(w.n_tokens as bigint) as n_tokens,
             cast(w.weight as bigint) as weight,
             cast((w.weight * 1000000) {div} t.total_w as bigint) as ppm,
             cast((t.total_docs * w.weight) {div} t.total_w as bigint)
               as quota_docs
      from weighted w join tot t on t.tau = w.tau
      order by w.tau, w.source
    """


KN_D_MILLI = 750  # absolute discount 0.75 (Chen & Goodman's fixed-D variant)


def kn_bigram_counts_sql(duck: bool) -> str:
    """(w1, w2, c) bigram counts — the ONE corpus pass behind kn_ngram,
    split out so the Spark runner can compute it once (Catalyst inlines CTEs;
    the ctx/cont/types/scoring consumers reference it four times)."""
    words = (f"(select {_d(duck)['split'].format('text')} as ws"
             " from documents) words")
    bigrams = _kgrams_sql(duck, 2, "", "bg", words)
    return f"""
        select {_bigram_word(duck, 1)} as w1, {_bigram_word(duck, 2)} as w2,
               cast(count(*) as bigint) as c
        from ({bigrams}) bigrams group by 1, 2
    """


def kn_ngram_sql(duck: bool, bcounts_src: str | None = None) -> str:
    """Interpolated Kneser-Ney bigram statistics (Kneser & Ney 1995; Chen
    & Goodman 1999) — the n-gram-LM side of corpus quality work (KenLM-
    style perplexity filters train exactly these tables).  Per bigram
    (w1, w2): the raw count, the left-context total c(w1), the
    continuation counts N1+(w1 *) and N1+(* w2), and the interpolated KN
    probability in exact parts-per-million fixed point:

        p = (c - D)/c(w1) + D * N1+(w1 *)/c(w1) * N1+(* w2)/n_bigram_types

    with D = {KN_D_MILLI} permille, every division an integer division on
    ppm-scaled bigints — identical on both engines, no float anywhere.

    Scale shape: ONE corpus pass builds the bigram counts (computed once
    by the Spark runner via ``bcounts_src`` — four consumers would otherwise
    re-explode the corpus four times; the shuffle is keyed by the bigram
    hash — balanced); every relation after that is vocabulary-bounded
    (V^2 bigram types at worst, vocabulary-sized context tables), never
    corpus-sized — the same bounded-relation contract as the BPE
    trainer."""
    div = _d(duck)["div"]
    D = KN_D_MILLI
    bc = bcounts_src or f"({kn_bigram_counts_sql(duck)}) __bc"
    return f"""
      with bcounts as (
        select * from {bc}
      ),
      ctx as (  -- c(w1) and N1+(w1 *): left-context mass and fan-out
        select w1, cast(sum(c) as bigint) as c1,
               cast(count(*) as bigint) as n1fwd
        from bcounts group by w1
      ),
      cont as (  -- N1+(* w2): how many distinct contexts precede w2
        select w2, cast(count(*) as bigint) as n1bwd
        from bcounts group by w2
      ),
      types as (select cast(count(*) as bigint) as n_types from bcounts)
      select b.w1, b.w2, b.c, x.c1, x.n1fwd, o.n1bwd,
             cast(
               ((b.c * 1000 - {D}) * 1000000) {div} (x.c1 * 1000)
               + ((({D} * x.n1fwd * 1000000) {div} (x.c1 * 1000))
                  * ((o.n1bwd * 1000000) {div} t.n_types)) {div} 1000000
               as bigint) as p_kn_ppm
      from bcounts b
      join ctx x on x.w1 = b.w1
      join cont o on o.w2 = b.w2
      cross join types t
      order by b.w1, b.w2
    """


NOVELTY_K = 4  # word k-gram width for the novelty audit


def ngram_novelty_sql(duck: bool, shingles_src: str | None = None) -> str:
    """Per-document n-gram novelty (the duplication/memorization audit of
    Lee et al. 2022's dedup analysis): in doc_id (crawl) order, what
    fraction of a document's distinct {NOVELTY_K}-gram shingles appear
    here FIRST?  A later near-copy scores ~0; fresh text scores ~100.
    Output per doc: distinct shingle count, first-seen count, and the
    integer novelty percentage.

    Scale shape: one shingle explode (computed once by the Spark runner via
    ``shingles_src`` — two consumers would otherwise re-explode), one
    min(doc_id) agg keyed on the shingle (balanced — map-side partials
    absorb hot shingles), and one shingle-keyed join back; every relation
    is shingle-type-bounded or linear in the corpus.  No windows, no
    collect."""
    div = _d(duck)["div"]
    if shingles_src:
        head = f"shingles as (select * from {shingles_src})"
    else:
        head = shingles_cte(duck, src="documents", k=NOVELTY_K)
    return f"""
      with {head},
      firsts as (
        select shingle, min(doc_id) as first_doc
        from shingles group by shingle
      ),
      per_doc as (
        select s.doc_id,
               cast(count(*) as bigint) as n_shingles,
               cast(sum(case when f.first_doc = s.doc_id
                        then 1 else 0 end) as bigint) as n_novel
        from shingles s join firsts f on f.shingle = s.shingle
        group by s.doc_id
      )
      select doc_id, n_shingles, n_novel,
             cast((100 * n_novel) {div} n_shingles as bigint) as novelty_pct
      from per_doc
      order by doc_id
    """


DSIR_BUCKETS = 64  # hashed-unigram feature space (Xie et al. use 10^4; 64
#                    keeps every bucket populated at test scale)


def dsir_tb_sql(duck: bool) -> str:
    """(doc_id, bucket, is-target) hashed-token stream — the corpus pass
    behind dsir_weights, split out so the runner computes it once."""
    d = _d(duck)
    ws = d["split"].format("text")
    h = h32("tok", duck)
    B = DSIR_BUCKETS
    base = (f"select doc_id, {d['explode']}({ws}) as tok,"
            " case when lang = 'en' then 1 else 0 end as tgt from documents")
    return f"""
        select doc_id, {h} % {B} as b, tgt
        from ({base}) toks where tok <> ''
    """


def dsir_weights_sql(duck: bool, tb_src: str | None = None) -> str:
    """Data Selection via Importance Resampling (Xie et al. 2023, public):
    score every document by how much more likely its hashed-unigram
    features are under a TARGET distribution (here the ``lang = 'en'``
    subset) than under the raw corpus — the standard cheap domain-match
    filter for pretraining mixes.

    Integer surrogate for the log-likelihood-ratio: per feature bucket b,
    both distributions are estimated add-one-smoothed in parts-per-BILLION
    (p = (cnt_b + 1) * 1e9 / (tot + B)), and the per-token ratio is
    r_ppm(b) = p_tgt_ppb * 1e6 // max(p_raw_ppb, 1) — a linear-ratio
    surrogate (monotone in the true ratio per token, like lm_score's
    linear surrogate of log-prob).  Per doc: token count, summed and
    averaged ratio, and the resample verdict avg >= 1e6 (more
    target-like than corpus-average).  The ppb scale keeps the smallest
    smoothed bucket nonzero up to ~10^9-token corpora; beyond that the
    max() guard keeps the math defined (products stay < 2^63 for any
    corpus below ~9e12 tokens).

    Scale shape: ONE hashed-token pass (computed once by the Spark runner via
    ``tb_src``; the histogram and the per-doc scoring both consume it), a
    single B-bounded histogram carrying raw and target counts together
    (map-side partials), broadcast-joined back onto the token stream; one
    (doc_id) hash agg — linear, one shuffle."""
    B = DSIR_BUCKETS
    div = _d(duck)["div"]
    tb = tb_src or f"({dsir_tb_sql(duck)}) __tb"
    return f"""
      with tb as (
        select * from {tb}
      ),
      hist as (
        select b, cast(count(*) as bigint) as cnt,
               cast(sum(tgt) as bigint) as tcnt
        from tb group by b
      ),
      tots as (
        select cast(sum(cnt) + {B} as bigint) as raw_tot,
               cast(sum(tcnt) + {B} as bigint) as tgt_tot
        from hist
      ),
      rat as (
        select h.b,
               (((h.tcnt + 1) * 1000000000 {div} t.tgt_tot)
                 * 1000000)
                 {div} greatest(
                   (h.cnt + 1) * 1000000000 {div} t.raw_tot, 1)
                 as r_ppm
        from hist h
        cross join tots t
      )
      select tb.doc_id,
             cast(count(*) as bigint) as n_tokens,
             cast(sum(rat.r_ppm) as bigint) as sum_rat_ppm,
             cast(sum(rat.r_ppm) {div} count(*) as bigint) as avg_rat_ppm,
             cast(case when sum(rat.r_ppm) {div} count(*) >= 1000000
                  then 1 else 0 end as bigint) as keep
      from tb join rat on rat.b = tb.b
      group by tb.doc_id
      order by tb.doc_id
    """


KN_HELDOUT_MOD = 10  # doc_id % MOD == 0 is held out; the rest train


def kn_train_bcounts_sql(duck: bool) -> str:
    """(bg, c) bigram counts over the TRAIN split — the corpus pass behind
    kn_heldout, split out so the runner computes it once (four consumers)."""
    words = (f"(select {_d(duck)['split'].format('text')} as ws from documents"
             f" where doc_id % {KN_HELDOUT_MOD} <> 0) tr_words")
    bg = _kgrams_sql(duck, 2, "", "bg", words)
    return f"""
        select bg, cast(count(*) as bigint) as c
        from ({bg}) tr_bigrams group by bg
    """


def kn_heldout_sql(duck: bool, bcounts_src: str | None = None) -> str:
    """Held-out scoring under the Kneser-Ney bigram model (the KenLM
    perplexity-filter loop: train on 90% of the corpus, score the rest) —
    unlike the self-scored ``lm_score``, this exercises the model's
    BACKOFF structure: a held-out bigram is scored by the full
    interpolated estimate when the train split saw it, by the context's
    discount mass times the continuation probability when only the
    context w1 was seen, and by the raw continuation probability when w1
    itself is out-of-vocabulary.  Per held-out document: bigram count,
    how many fell in each branch, the summed ppm score, and the weakest
    bigram.  Same exact-integer ppm fixed point as ``kn_ngram_sql``
    (docs with fewer than two tokens have no bigrams and no row).

    Scale shape: the model relations are vocabulary-bounded; scoring is
    three hash joins of held-out doc bigrams against them — linear in the
    held-out split, the lm_score contract.  The driver tables' 31-token
    vocabulary barely exercises branches 1-2, so the constructed-corpus
    test pins them (CLAUDE.md's no-idf-signal caveat)."""
    d = _d(duck)
    ws = d["split"].format("text")
    ho_bg = _kgrams_sql(duck, 2, "doc_id, ", "bg", "ho_words")
    w1, w2 = _bigram_word(duck, 1), _bigram_word(duck, 2)
    div = d["div"]
    D = KN_D_MILLI
    M = KN_HELDOUT_MOD
    pcont = f"((coalesce(o.n1bwd, 0) * 1000000) {div} t.n_types)"
    lam_w1 = f"(({D} * x.n1fwd * 1000000) {div} (x.c1 * 1000))"
    bc = bcounts_src or f"({kn_train_bcounts_sql(duck)}) __tbc"
    return f"""
      with bcounts as (
        select * from {bc}
      ),
      ctx as (
        select {w1} as w1, cast(sum(c) as bigint) as c1,
               cast(count(*) as bigint) as n1fwd
        from bcounts group by 1
      ),
      cont as (
        select {w2} as w2, cast(count(*) as bigint) as n1bwd
        from bcounts group by 1
      ),
      types as (select cast(count(*) as bigint) as n_types from bcounts),
      ho_words as (
        select doc_id, {ws} as ws from documents where doc_id % {M} = 0
      ),
      ho_bigrams as ({ho_bg}),
      db as (
        select doc_id, bg, {w1} as w1, {w2} as w2,
               cast(count(*) as bigint) as cnt
        from ho_bigrams group by doc_id, bg
      ),
      scored as (
        select d.doc_id, d.cnt,
               case when b.c is not null then 0
                    when x.c1 is not null then 1
                    else 2 end as branch,
               cast(case
                 when b.c is not null then
                   ((b.c * 1000 - {D}) * 1000000) {div} (x.c1 * 1000)
                   + ({lam_w1} * {pcont}) {div} 1000000
                 when x.c1 is not null then
                   ({lam_w1} * {pcont}) {div} 1000000
                 else {pcont}
               end as bigint) as p_ppm
        from db d
        left join bcounts b on b.bg = d.bg
        left join ctx x on x.w1 = d.w1
        left join cont o on o.w2 = d.w2
        cross join types t
      )
      select doc_id,
             cast(sum(cnt) as bigint) as n_bigrams,
             cast(sum(case when branch = 0 then cnt else 0 end) as bigint)
               as n_hit,
             cast(sum(case when branch = 1 then cnt else 0 end) as bigint)
               as n_backoff,
             cast(sum(case when branch = 2 then cnt else 0 end) as bigint)
               as n_oov,
             cast(sum(cnt * p_ppm) as bigint) as score_ppm,
             cast(min(p_ppm) as bigint) as min_p_ppm
      from scored
      group by doc_id
      order by doc_id
    """


def _persisted_pass(spark, sf_dir: str, view: str, sql: str) -> str:
    """Run the corpus pre-pass ``sql`` once and register its rows as the
    temp view ``view`` (returned), for a query that reads them more than
    once.  This is how every runner here materializes such a relation.

    Catalyst inlines CTEs and temp views, so a query that names a pre-pass
    twice runs it twice.  ``persist()`` does not fix that reliably: the
    cached plan is substituted only where a later plan matches it after
    canonicalization, which a pre-pass written with a WITH does not; and
    a relation nobody unpersists stays cached, substituted into any later
    query of the session that happens to match it.
    ``localCheckpoint(eager=True)`` computes the rows now and cuts the
    lineage, so every read is a scan of them (a reliable-storage
    ``checkpoint()`` on a real cluster).

    ``sql`` is the pre-pass the oracle builder inlines, over ``documents``
    (the duped corpus's pre-passes include ``duped_docs_cte``).  Here
    ``documents`` is a CTE over the table repartitioned to the shuffle
    parallelism: the parquet scan yields a few partitions (3 at sf0.1),
    which would otherwise bound the explode's map side."""
    _register_documents(spark, sf_dir)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.table("documents").repartition(n_parts).createOrReplaceTempView(
        "__docs_rep"
    )
    spark.sql(
        f"with documents as (select * from __docs_rep) select * from ({sql})"
    ).localCheckpoint(eager=True).createOrReplaceTempView(view)
    return view


def run_source_temperature(spark, sf_dir: str):
    src = _persisted_pass(spark, sf_dir, "__temp_per_source",
                          per_source_tokens_sql(False))
    return spark.sql(source_temperature_sql(False, per_source_src=src))


def run_kn_ngram(spark, sf_dir: str):
    src = _persisted_pass(spark, sf_dir, "__kn_bc",
                          kn_bigram_counts_sql(False))
    return spark.sql(kn_ngram_sql(False, bcounts_src=src))


def run_kn_heldout(spark, sf_dir: str):
    src = _persisted_pass(spark, sf_dir, "__kn_tbc",
                          kn_train_bcounts_sql(False))
    return spark.sql(kn_heldout_sql(False, bcounts_src=src))


def run_dsir_weights(spark, sf_dir: str):
    src = _persisted_pass(spark, sf_dir, "__dsir_tb", dsir_tb_sql(False))
    return spark.sql(dsir_weights_sql(False, tb_src=src))


def run_ngram_novelty(spark, sf_dir: str):
    src = _persisted_pass(
        spark, sf_dir, "__novelty_sh",
        f"with {shingles_cte(False, src='documents', k=NOVELTY_K)} "
        "select doc_id, shingle from shingles",
    )
    return spark.sql(ngram_novelty_sql(False, shingles_src=src))


# --- BPE tokenizer training (iterative merges over the word-frequency dict) --

BPE_MERGES = 8
BPE_REPLACE_PASSES = 3


def _char_split(duck: bool, col: str) -> str:
    """Space-separate every character of ``col`` (the initial BPE symbol
    sequence).  '.' excludes newline identically in both regex engines
    (Java regex / RE2), so tokens carrying a stray newline keep it glued to
    the following char the same way on both sides."""
    d = _d(duck)
    return f"trim(regexp_replace({col}, '(.)', '{d['re_ref1']} '{d['re_g']}))"


def _bpe_dict0_cte(duck: bool) -> str:
    """Word-frequency dictionary with the initial char-level symbol repr.

    This is the bounded relation all BPE iterations run on: ONE corpus-sized
    token shuffle builds (word, wcount), and every merge round thereafter
    touches only the vocabulary (10^5-ish rows at web scale after a
    deterministic ``wcount >= min_count`` floor — never 10^12 documents).
    That is exactly how reference BPE trainers operate (Sennrich et al.
    2016 train on the word-count dict, not the corpus)."""
    return f"""
      {tokens_cte(duck)},
      wdict as (
        select tok as word, count(*) as wcount
        from tokens where tok <> '' group by tok
      ),
      dict0 as (
        select word, wcount, {_char_split(duck, 'word')} as repr from wdict
      )"""


def _bpe_best_ctes(duck: bool, t, src: str) -> str:
    """Pair counts over the (word, wcount, repr) relation ``src`` and
    ``best{t}``(l, r, c), the best pair (count desc, then lexicographic —
    a deterministic total order shared by both engines' binary string
    collation)."""
    d = _d(duck)
    sp = d["split"].format("pr")
    l_expr = d["elem"].format(f"({sp})", "1")
    r_expr = d["elem"].format(f"({sp})", "2")
    return f"""
      syms{t} as (
        select word, wcount, {d["split"].format("repr")} as ss
        from {src}
      ),
      prs{t} as (
        {_kgrams_sql(duck, 2, "wcount, ", "pr", f"syms{t}", "ss")}
      ),
      pairs{t} as (
        select {l_expr} as l, {r_expr} as r, sum(wcount) as c
        from prs{t} group by {l_expr}, {r_expr}
      ),
      best{t} as (
        select l, r, c from pairs{t} order by c desc, l asc, r asc limit 1
      )"""


def _bpe_round_ctes(duck: bool, t: int) -> str:
    """One merge round: ``_bpe_best_ctes`` over dict{t-1}, and dict{t}
    with the best pair merged.

    The merge is ``BPE_REPLACE_PASSES`` applications of non-overlapping
    left-to-right replace on the space-padded symbol string.  For runs of
    the same symbol longer than ~2^passes this deviates from single-scan
    greedy BPE (documented surrogate); both engines share the exact
    semantics, so the oracle is still a byte-level check."""
    pat = "' ' || b.l || ' ' || b.r || ' '"
    rep = "' ' || b.l || b.r || ' '"
    expr = "' ' || d.repr || ' '"
    for _ in range(BPE_REPLACE_PASSES):
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""{_bpe_best_ctes(duck, t, f"dict{t - 1}")},
      dict{t} as (
        select d.word, d.wcount, trim({expr}) as repr
        from dict{t - 1} d cross join best{t} b
      )"""


def _bpe_rounds(duck: bool) -> str:
    parts = [_bpe_dict0_cte(duck).strip()]
    for t in range(1, BPE_MERGES + 1):
        parts.append(_bpe_round_ctes(duck, t).strip())
    return ",\n      ".join(parts)


def bpe_train_sql(duck: bool) -> str:
    """BPE tokenizer training: the ranked merge table (the artifact a
    tokenizer ships).  Iterative pair-count argmax over the word dict —
    the oracle unrolls ``BPE_MERGES`` rounds as nested CTEs (the kmeans /
    dedup_clusters pattern); ``run_bpe_train`` is the iterative Spark
    runner that collects ONE best-pair row per round."""
    sel = "\n      union all\n      ".join(
        f"select cast({t} as bigint) as merge_rank, l as left_sym, "
        f"r as right_sym, cast(c as bigint) as pair_count from best{t}"
        for t in range(1, BPE_MERGES + 1)
    )
    return f"""
      with {_bpe_rounds(duck)}
      {sel}
      order by merge_rank
    """


def bpe_vocab_sql(duck: bool) -> str:
    """Post-merge symbol inventory: corpus frequency (weighted by word
    count, with within-word multiplicity) and word coverage per symbol —
    the table a vocab-size decision reads."""
    d = _d(duck)
    sp = d["split"].format("repr")
    return f"""
      with {_bpe_rounds(duck)},
      fsyms as (
        select word, wcount, {d['explode']}({sp}) as sym from dict{BPE_MERGES}
      )
      select sym,
             cast(sum(wcount) as bigint) as freq,
             cast(count(distinct word) as bigint) as n_words
      from fsyms
      group by sym
      order by sym
    """


def _bpe_pairs_over(view: str) -> str:
    """Spark SQL: best (l, r, c) pair over the ``view`` dict relation —
    the same round body as ``_bpe_round_ctes`` but reading a bound view."""
    return f"with {_bpe_best_ctes(False, '', view)} select l, r, c from best"


def _run_bpe_rounds(spark, sf_dir: str):
    """Shared iterative driver: returns (merge rows, name of the final dict
    view).  The word dict is computed once; each round is a pair-count agg
    over the vocabulary-bounded relation plus a 1-row argmax collect (the
    kmeans pattern — the merge table lives on the driver, as it must: it IS
    the output artifact).  The next dict is a pure projection with the pair
    injected as escaped literals, so lineage grows by one replace per
    round."""
    cur = _persisted_pass(
        spark, sf_dir, "__bpe_dict_0",
        f"with {_bpe_dict0_cte(False)} select word, wcount, repr from dict0",
    )
    out = []
    for t in range(1, BPE_MERGES + 1):
        best = spark.sql(_bpe_pairs_over(cur)).collect()
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        out.append((t, l, r, c))
        ql, qr = l.replace("'", "''"), r.replace("'", "''")
        expr = "' ' || repr || ' '"
        for _ in range(BPE_REPLACE_PASSES):
            expr = f"replace({expr}, ' {ql} {qr} ', ' {ql}{qr} ')"
        nxt = spark.sql(
            f"select word, wcount, trim({expr}) as repr from {cur}"
        )
        cur = f"__bpe_dict_{t}"
        nxt.createOrReplaceTempView(cur)
    return out, cur


def run_bpe_train(spark, sf_dir: str):
    """Iterative BPE trainer, the production shape (see
    ``_run_bpe_rounds``).  Oracle = ``bpe_train_sql(duck=True)``, the same
    rounds unrolled as nested CTEs."""
    out, _ = _run_bpe_rounds(spark, sf_dir)
    return spark.createDataFrame(
        out,
        "merge_rank bigint, left_sym string, right_sym string, "
        "pair_count bigint",
    )


def run_bpe_vocab(spark, sf_dir: str):
    """Iterative-runner twin of ``bpe_vocab_sql``: run the merge rounds,
    then aggregate the final symbol inventory from the last dict view."""
    _, last = _run_bpe_rounds(spark, sf_dir)
    sp = _d(False)["split"].format("repr")
    return spark.sql(f"""
      with fsyms as (
        select word, wcount, explode({sp}) as sym from {last}
      )
      select sym,
             cast(sum(wcount) as bigint) as freq,
             cast(count(distinct word) as bigint) as n_words
      from fsyms
      group by sym
      order by sym
    """)


def _bpe_encode_select(duck: bool, dict_ref: str) -> str:
    """Shared encode body: positional tokens joined to the word->repr dict,
    aggregated per doc with an ORDER-FAITHFUL stream digest."""
    d = _d(duck)
    ws = d["split"].format("text")
    n, un = f"{d['len']}(ws)", d["explode"]
    tok = d["elem"].format("ws", "i")
    nsub = f"{d['len']}({d['split'].format('repr')})"
    if duck:
        stream = "md5(string_agg(repr, ' ' order by pos))"
    else:
        stream = (
            "md5(array_join(transform("
            "array_sort(collect_list(struct(pos, repr))), s -> s.repr), ' '))"
        )
    return f"""
      encw as (select doc_id, {ws} as ws from documents),
      ptok as (
        select doc_id, i as pos, {tok} as tok
        from (select doc_id, ws, {un}({d['range_incl'].format('1', n)}) as i
              from encw)
      ),
      enc as (
        select p.doc_id, p.pos, v.repr, {nsub} as n_sub
        from ptok p join {dict_ref} v on v.word = p.tok
        where p.tok <> ''
      )
      select doc_id,
             cast(count(*) as bigint) as n_tokens,
             cast(sum(n_sub) as bigint) as n_subwords,
             cast((100 * sum(n_sub)) {d["div"]} count(*)
                  as bigint) as fertility_x100,
             {stream} as stream_md5
      from enc
      group by doc_id
      order by doc_id"""


def bpe_encode_sql(duck: bool) -> str:
    """Tokenizer APPLICATION — encode every document with the trained BPE
    merges (the runtime half of ``bpe_train``; together they are the full
    tokenizer lifecycle a data pipeline runs).  Each token looks up its
    post-merge subword repr in the trained dict; per doc we emit token and
    subword counts, fertility (subwords per 100 tokens — the tokenizer-
    quality number), and an md5 over the POSITION-ORDERED subword stream,
    so a wrong merge application or a shuffled order mismatches the oracle.

    Scale: the word->repr dict is vocabulary-bounded (10^5-ish rows at web
    scale) — a broadcast join against the token explode, so hot stopwords
    cause no shuffle skew; the per-doc agg is one hash shuffle on doc_id.
    The ordered digest uses a per-doc sorted aggregate (array_sort of
    (pos, repr) structs / string_agg order by) — per-document local state,
    never a global sort."""
    return f"""
      with {_bpe_rounds(duck)},
      {_bpe_encode_select(duck, f"dict{BPE_MERGES}")}
    """


def run_bpe_encode(spark, sf_dir: str):
    """Iterative-runner twin of ``bpe_encode_sql``: train via
    ``_run_bpe_rounds`` (dict computed once, 1-row argmax collects), then
    encode the corpus against the final dict view."""
    _, last = _run_bpe_rounds(spark, sf_dir)
    return spark.sql(
        f"with {_bpe_encode_select(False, last)}"
    )


def _bpe_decode_select(dict_ref: str) -> str:
    """Spark decode body: positional tokens -> trained subword repr ->
    DETOKENIZE (drop the intra-word subword separators) -> order-faithful
    reconstruction digest per doc."""
    d = _d(False)
    ws = d["split"].format("text")
    tok = d["elem"].format("ws", "i")
    return f"""
      decw as (select doc_id, {ws} as ws from documents),
      dtok as (
        select doc_id, i as pos, {tok} as tok
        from (select doc_id, ws,
                     explode({d['range_incl'].format('1', 'size(ws)')}) as i
              from decw)
      ),
      dec as (
        select p.doc_id, p.pos, replace(v.repr, ' ', '') as detok
        from dtok p join {dict_ref} v on v.word = p.tok
        where p.tok <> ''
      )
      select doc_id,
             cast(count(*) as bigint) as n_tokens,
             md5(array_join(transform(
                   array_sort(collect_list(struct(pos, detok))),
                   s -> s.detok), ' ')) as decoded_md5
      from dec
      group by doc_id
      order by doc_id"""


def bpe_roundtrip_sql(duck: bool) -> str:
    """Tokenizer LOSSLESSNESS gate — decode(encode(text)) == text.

    The Spark side runs the full lifecycle: train the merges, encode every
    token to its post-merge subword repr, then DECODE by stripping the
    subword separators and reassembling the position-ordered stream; the
    digest is over the reconstruction.  The DuckDB oracle never touches
    BPE at all: it digests the whitespace-normalized SOURCE text directly.
    Any corruption anywhere in the train -> dict -> encode -> decode chain
    (a merge that glues across word boundaries, a lossy replace, an
    unordered stream) produces a different reconstruction and fails the
    hash — the strongest kind of oracle independence this suite has.

    Scale: same shapes as bpe_encode (vocabulary-bounded dict join, one
    per-doc hash agg with a document-local sorted digest)."""
    if duck:
        toks = "list_filter(string_split(text, ' '), w -> w <> '')"
        return f"""
          select doc_id,
                 cast(len({toks}) as bigint) as n_tokens,
                 md5(array_to_string({toks}, ' ')) as decoded_md5
          from documents
          order by doc_id
        """
    return f"""
      with {_bpe_rounds(duck)},
      {_bpe_decode_select(f"dict{BPE_MERGES}")}
    """


def run_bpe_roundtrip(spark, sf_dir: str):
    """Iterative-runner twin of ``bpe_roundtrip_sql`` (dict computed
    once, 1-row argmax collects per round)."""
    _, last = _run_bpe_rounds(spark, sf_dir)
    return spark.sql(f"with {_bpe_decode_select(last)}")


def hash_embed_sql(duck: bool, weights_ref: str | None = None) -> str:
    """Feature-hashing document embedding (the hashing trick, Weinberger et
    al. 2009, public): each token hashes to one of 16 buckets with a
    +/-1 sign drawn from the next hash bit, and the document vector is the
    signed count per bucket — the cheapest text->vector bridge into the ANN
    tier (simops), entirely JVM-side.

    ``weights_ref`` optionally names a (bucket, w) relation over the
    {QC_BUCKETS}-bucket feature space (same space as quality_classify, so
    one trained model file serves both): each token's +/-1 contribution is
    scaled by its feature bucket's weight — the idf-weighted variant of
    the hashing trick.  Without it the plan is the unweighted original
    (no join at all).

    Emitted in sparse long form (doc_id, dim, val): integers only, and the
    never-touched-bucket rows simply don't exist (both engines agree).
    Scale: one token explode + one (doc_id, dim) hash agg with map-side
    combine — linear, one shuffle, no skew (doc_id dominates the key); the
    weighted variant adds one broadcast-sized join on the bucket key."""
    h = h32("tok", duck)
    div = _d(duck)["div"]
    if weights_ref:
        contrib = f"""
      contrib as (
        select t.doc_id, t.h % 16 as dim,
               (case when (t.h {div} 16) % 2 = 0 then 1 else -1 end)
                 * wr.w as s
        from tb t join {weights_ref} wr on wr.bucket = t.h % {QC_BUCKETS}
      )"""
    else:
        contrib = f"""
      contrib as (
        select doc_id, h % 16 as dim,
               case when (h {div} 16) % 2 = 0 then 1 else -1 end as s
        from tb
      )"""
    return f"""
      with {tokens_cte(duck)},
      tb as (
        select doc_id, {h} as h from tokens where tok <> ''
      ),
      {contrib}
      select doc_id, cast(dim as bigint) as dim,
             cast(sum(s) as bigint) as val
      from contrib
      group by doc_id, dim
      order by doc_id, dim
    """


WINNOW_K = 4  # k-gram width (tokens) for winnowing fingerprints
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per W k-grams


def winnow_fingerprint_sql(duck: bool) -> str:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — public):
    hash every {K}-token k-gram, slide a window of {W} consecutive k-gram
    hashes, and select each window's minimum — the guarantee is that any
    shared substring of >= {K}+{W}-1 tokens shares a SELECTED fingerprint,
    at ~2/(W+1) the density of keeping every k-gram.  This is the robust
    substring-fingerprint layer between whole-doc ``fingerprint`` (md5) and
    the exhaustive ``substring_dedup`` span map.

    Ties break to the RIGHTMOST position like the paper's robust variant;
    both engines agree because the minimum runs over one bigint encoding
    (hash * 2^20 + (2^20 - pos)) — deterministic, no float, no collation.

    Scale: positions and window minima are per-document window functions
    partitioned by doc_id (local state, one shuffle on doc_id); the
    fingerprint relation is ~2/(W+1) of the token count and narrow —
    linear at 10^12 docs, never a global sort."""
    d = _d(duck)
    k = WINNOW_K
    gram = d["slice_join"].format("ws", "i", f"i + {k - 1}", k, "' '")
    h = h32("gram", duck)
    return f"""
      with wnw as (select doc_id, {d["split"].format("text")} as ws from documents),
      grams as (
        select doc_id, i as pos, {gram} as gram
        from (
          {_positions_sql(duck, k, "i", "wnw")}
        )
      ),
      hashed as (
        select doc_id, pos,
               ({h}) * 1048576 + (1048576 - pos) as code
        from grams
      ),
      wins as (
        select doc_id, pos,
               min(code) over (
                 partition by doc_id order by pos
                 rows between current row and {WINNOW_W - 1} following
               ) as sel_code,
               max(pos) over (partition by doc_id) as max_pos
        from hashed
      ),
      selected as (
        select distinct doc_id, sel_code
        from wins where pos <= max_pos - {WINNOW_W - 1}
      )
      select doc_id,
             cast(sel_code {d["div"]} 1048576 as bigint)
               as fp_hash,
             cast(1048576 - (sel_code % 1048576) as bigint) as fp_pos
      from selected
      order by doc_id, fp_pos
    """


def gopher_filter_sql(duck: bool) -> str:
    """Gopher-rules quality filter (Rae et al. 2021 / Dolma, public): the
    document-shape heuristics a pretraining pipeline applies BEFORE any
    model-based scoring — word count bounds, mean word length bounds,
    symbol-token ratio, alphabetic-word ratio, stopword presence — with the
    first failing rule as the audit reason (fixed priority order, matching
    ``corpus_filter``'s verdict shape).

    All thresholds use integer surrogates (x10 / permille) so both engines
    emit identical bigints.  The clean corpus passes trivially, so each rule
    is pinned by a synthesized per-doc perturbation (the urlops messy-variant
    pattern): doc_id%17 == 0 truncates to 3 words (word_count), == 1 replaces
    the text with ten 15-char words (mean_word_length), == 2 appends 20
    symbol-only tokens (symbol_ratio), == 3 appends 120 digit tokens
    (alpha_ratio), == 4 strips every stopword (stopwords).

    Scale: one token explode + one per-doc hash agg with map-side combine —
    linear at 10^12 docs, no joins, no windows."""
    d = _d(duck)
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    ws, div = d["split"].format("text"), d["div"]
    first3 = d["slice_join"].format(ws, 1, 3, 3, "' '")
    keep = d["lambda"].format("t", d["not_in"].format("t", stop_in))
    nostop = d["join"].format(d["filter"].format(ws, keep), "' '")
    is_sym = d["re_full"].format("tok", "[^a-z0-9]+")
    is_alpha = d["re_full"].format("tok", "[a-z]+")
    return f"""
      with gdocs as (
        select doc_id,
               case doc_id % 17
                 when 0 then {first3}
                 when 1 then trim(repeat('internationaliz ', 10))
                 when 2 then concat(text, repeat(' ###', 20))
                 when 3 then concat(text, repeat(' 12345', 120))
                 when 4 then {nostop}
                 else text end as text
        from documents
      ),
      {tokens_cte(duck, "gdocs")},
      stats as (
        select doc_id,
               count(*) as n_words,
               (10 * sum(length(tok))) {div} count(*)
                 as mean_wlen_x10,
               (1000 * sum(case when {is_sym} then 1 else 0 end))
                 {div} count(*) as symbol_permille,
               (1000 * sum(case when {is_alpha} then 1 else 0 end))
                 {div} count(*) as alpha_permille,
               sum(case when tok in ({stop_in}) then 1 else 0 end) as n_stop
        from tokens where tok <> '' group by doc_id
      ),
      verdict as (
        select doc_id, n_words, mean_wlen_x10, symbol_permille,
               alpha_permille, n_stop,
               case when n_words < 8 or n_words > 100000 then 'word_count'
                    when mean_wlen_x10 < 25 or mean_wlen_x10 > 100
                      then 'mean_word_length'
                    when symbol_permille > 100 then 'symbol_ratio'
                    when alpha_permille < 700 then 'alpha_ratio'
                    when n_stop < 1 then 'stopwords'
                    else '' end as reject_reason
        from stats
      )
      select doc_id,
             cast(n_words as bigint) as n_words,
             cast(mean_wlen_x10 as bigint) as mean_wlen_x10,
             cast(symbol_permille as bigint) as symbol_permille,
             cast(alpha_permille as bigint) as alpha_permille,
             cast(n_stop as bigint) as n_stop,
             cast(case when reject_reason = '' then 1 else 0 end as bigint)
               as keep,
             reject_reason
      from verdict
      order by doc_id
    """


def inverted_index_sql(duck: bool) -> str:
    """IR-shape inverted index over the corpus vocabulary: per token, the
    document frequency, total term frequency, and an exact digest of the
    sorted posting list (md5 over the comma-joined sorted distinct doc_ids —
    the digest keeps the oracle value-exact without shipping posting arrays
    through the compare).

    Scale (10^12 docs): one (doc_id, tok) explode that aggregates map-side,
    then ONE hash shuffle keyed on the token — the canonical index-build
    shape.  Posting lists for stopword-grade tokens are corpus-sized; a
    production build would shard them (tok, doc_id div S), which changes
    only the group key.  No global sort: the order-by is oracle-compare
    ordering over the vocabulary-bounded result."""
    if duck:
        postings = (
            "md5(array_to_string(list_transform("
            "list_sort(list(distinct doc_id)), x -> cast(x as varchar)), ','))"
        )
    else:
        postings = (
            "md5(concat_ws(',', transform("
            "array_sort(collect_set(doc_id)), x -> cast(x as string))))"
        )
    return f"""
      with {tokens_cte(duck)}
      select tok,
             cast(count(distinct doc_id) as bigint) as n_docs,
             cast(count(*) as bigint) as n_total,
             {postings} as postings_md5
      from tokens
      where tok <> ''
      group by tok
      order by tok
    """


BM25_TOPK = 3    # documents returned per query
BM25_LANES = 8   # phase-1 lanes bounding the per-query ranking window
BM25_NQ = 4      # queries synthesized from the corpus vocabulary


def bm25_search_sql(duck: bool) -> str:
    """BM25 ranked retrieval (Robertson/Spärck Jones probabilistic
    relevance, public) over the corpus: the consumer of the inverted-index
    shape — given a query term set, rank documents by summed per-term
    relevance.  The query set is synthesized FROM the corpus vocabulary
    (top-{2*BM25_NQ} tokens of length >= 4 by document frequency, paired
    rank i with rank i+{BM25_NQ}), so both engines derive identical queries
    with no fixture dependency.

    All arithmetic is integer-quantized so both engines emit identical
    bigints (the repo's no-floats invariant):
      norm_m = 250 + (750 * dl * n_docs) div total_toks  -- 1000*((1-b) + b*dl/avgdl), b=0.75
      idf_m  = (1000 * (n_docs - df + 1)) div (df + 1)   -- monotone rational idf surrogate
      tf_q   = (22000000 * tf) div (10000*tf + 12*norm_m)  -- 10^4 * tf*(k1+1)/(tf+k1*norm), k1=1.2
      score  = sum(idf_m * tf_q) over the query's terms
    (tf_q carries 4 fractional digits of the 0..2.2 true tf component —
    enough that tf and document-length variation rank, not just term
    presence; a 10^3 quantizer measurably collapsed to presence tiers).
    (documented surrogates: rational idf in place of ln-idf preserves the
    df ordering; at 10^12 docs the 750*dl*n_docs product approaches bigint
    range — a production build would precompute avgdl once instead).

    Scale shape: tf/dl/df are the index-build aggregations (map-side
    combine, one shuffle each); the query relation is {2*BM25_NQ} rows
    (broadcast); candidate scoring touches only postings of query terms;
    the final top-k uses host_cap's two-phase bounded windows — phase 1
    ranks per (query_id, doc_id % {BM25_LANES}) lane, phase 2 re-ranks the
    <= {BM25_TOPK}*{BM25_LANES} survivors — so a stopword-grade query term
    never materializes a corpus-sized window."""
    return f"""
      with {_bm25_tf_ctes(duck)},
      {_bm25_rest(duck, "tf")}
    """


def _bm25_tf_ctes(duck: bool) -> str:
    """``tokens`` and ``tf``(doc_id, tok, tf): the index-build pass."""
    return f"""{tokens_cte(duck)},
      tf as (
        select doc_id, tok, count(*) as tf
        from tokens where tok <> '' group by doc_id, tok
      )"""


def _bm25_rest(duck: bool, tf: str) -> str:
    """The BM25 chain downstream of the (doc_id, tok, tf) relation — shared
    between the inline oracle template and the Spark runner, which
    computes tf once, so the two cannot drift."""
    iv = _d(duck)["div"]
    return f"""
      dl as (select doc_id, sum(tf) as dl from {tf} group by doc_id),
      stats as (
        select count(*) as n_docs, sum(dl) as total_toks from dl
      ),
      df as (select tok, count(distinct doc_id) as df from {tf} group by tok),
      df4 as (select tok, df from df where length(tok) >= 4),
      {global_topk_cand(duck, "qcand", "df4", "tok, df",
                        "df desc, tok", 2 * BM25_NQ, "tok")},
      qranked as (
        select tok, df,
               row_number() over (order by df desc, tok) as qrk
        from qcand
      ),
      queries as (
        select ((qrk - 1) % {BM25_NQ}) + 1 as query_id, tok, df
        from qranked where qrk <= {2 * BM25_NQ}
      ),
      qlabel as (
        select query_id, min(tok) || ' ' || max(tok) as q_terms
        from queries group by query_id
      ),
      scored as (
        select q.query_id, t.doc_id,
               sum(((1000 * (s.n_docs - q.df + 1)) {iv} (q.df + 1))
                   * ((22000000 * t.tf) {iv}
                      (10000 * t.tf
                       + 12 * (250 + (750 * d.dl * s.n_docs) {iv} s.total_toks)))
               ) as score
        from {tf} t
        join queries q on q.tok = t.tok
        join dl d on d.doc_id = t.doc_id
        cross join stats s
        group by q.query_id, t.doc_id
      ),
      r1 as (
        select query_id, doc_id, score,
               row_number() over (
                 partition by query_id, doc_id % {BM25_LANES}
                 order by score desc, doc_id) as lrk
        from scored
      ),
      r2 as (
        select query_id, doc_id, score,
               row_number() over (
                 partition by query_id order by score desc, doc_id) as rk
        from r1 where lrk <= {BM25_TOPK}
      )
      select cast(r.query_id as bigint) as query_id, l.q_terms,
             cast(r.rk as bigint) as rank,
             r.doc_id,
             cast(r.score as bigint) as score
      from r2 r join qlabel l on l.query_id = r.query_id
      where r.rk <= {BM25_TOPK}
      order by r.query_id, r.rk
    """


def run_bm25_search(spark, sf_dir: str):
    """Spark-side BM25 over the (doc_id, tok, tf) index relation computed
    once: it feeds four consumers (dl, df via the query derivation, and the
    scoring join) — at 10^12 docs the token explode IS the dominant
    cost."""
    tf = _persisted_pass(spark, sf_dir, "__bm25_tf",
                         f"with {_bm25_tf_ctes(False)} select * from tf")
    return spark.sql(f"with {_bm25_rest(False, tf)}")


CDC_K = 3     # k-gram width feeding the rolling boundary hash
CDC_DIV = 16  # boundary when kgram_hash % CDC_DIV == 0 (avg chunk ~16 toks)


def cdc_chunk_sql(duck: bool, docs: str = "documents") -> str:
    """Content-defined chunking (the FastCDC/rsync boundary idea, public):
    split each document where the rolling {CDC_K}-gram hash satisfies
    ``hash % {CDC_DIV} == 0`` instead of at fixed offsets, so chunk
    boundaries are CONTENT-anchored — inserting or deleting a prefix
    changes only the chunks up to the first surviving boundary, and every
    later chunk hashes identically (the property that makes chunk-level
    dedup shift-resistant where ``passage_chunk``'s fixed windows are not;
    pinned by the prefix-perturbation test).

    No min/max chunk-size clamp: the clamp makes boundary choice
    sequentially dependent (each boundary depends on the previous one),
    which needs a per-doc scan; the unclamped rule keeps the whole operator
    window-expressible.  Expected chunk length is {CDC_DIV} tokens by the
    uniformity of the hash.

    Scale: position explode (narrow rows), one running-sum window and one
    reassembly agg, both partitioned by doc_id — per-document local state,
    one shuffle on doc_id, never a global sort."""
    d = _d(duck)
    ws = d["split"].format("text")
    n = f"{d['len']}(ws)"
    gram = d["slice_join"].format("ws", "pos", f"pos + {CDC_K - 1}", CDC_K, "' '")
    if duck:
        reasm = "md5(string_agg(tok, ' ' order by pos))"
    else:
        reasm = (
            "md5(concat_ws(' ', transform("
            "array_sort(collect_list(struct(pos, tok))), x -> x.tok)))"
        )
    h = h32("gram", duck)
    return f"""
      with cwords as (select doc_id, {ws} as ws from {docs}),
      toks as (
        select doc_id, pos, {d['elem'].format('ws', 'pos')} as tok,
               case when pos > 1 and pos <= {n} - {CDC_K - 1}
                    then {gram} end as gram
        from (
          {_positions_sql(duck, 1, "pos", "cwords")}
        )
      ),
      flagged as (
        select doc_id, pos, tok,
               case when gram is not null and ({h}) % {CDC_DIV} = 0
                    then 1 else 0 end as is_boundary
        from toks
      ),
      labeled as (
        select doc_id, pos, tok,
               sum(is_boundary) over (
                 partition by doc_id order by pos
                 rows between unbounded preceding and current row
               ) as chunk_id
        from flagged
      )
      select doc_id,
             cast(chunk_id as bigint) as chunk_id,
             cast(min(pos) as bigint) as start_pos,
             cast(count(*) as bigint) as n_toks,
             {reasm} as chunk_md5
      from labeled
      group by doc_id, chunk_id
      order by doc_id, chunk_id
    """


# filter_funnel stages, in pipeline order: (name, reject reason they encode)
FUNNEL_STAGES = (
    "min_tokens",      # >= 15 word tokens
    "has_stopword",    # contains 'the'
    "distinct_tokens", # >= 20 distinct tokens (repetition guard)
    "mean_word_len",   # mean token length in [4.0, 6.0] (x10 fixed-point)
    "max_tokens",      # <= 90 tokens (truncation guard)
)


def filter_funnel_sql(duck: bool) -> str:
    """Filter-funnel report — the stage-by-stage retention table every
    production data pipeline publishes next to its dataset card: for each
    filter IN PIPELINE ORDER, how many documents reached it, how many it
    rejected (of those that survived everything before it), how many it
    would reject UNCONDITIONALLY (its marginal bite, order-independent),
    and how many flowed on.  The composed verdict per doc already exists
    (``corpus_build``); this is the aggregate view used to TUNE the
    pipeline — a stage whose sequential rejects are ~0 but whose
    unconditional rejects are large is shadowed by an earlier stage.

    Stages (thresholds sized so every stage fires on this corpus):
    {stages}.

    Scale: ONE map-only projection computes five 0/1 flags per document,
    ONE global aggregate folds them into sequential-survivor and
    unconditional-reject sums (map-side partial agg -> a single reduced
    row), and the 5-row output is a constant-size unpivot of that row —
    nothing in the plan is proportional to anything but the scan."""
    d = _d(duck)
    ws = d["split"].format("text")
    n = f"{d['len']}(ws)"
    ndist = f"{d['len']}({d['distinct'].format('ws')})"
    iv = d["div"]
    stage_rows = ", ".join(
        f"({i + 1}, '{s}')" for i, s in enumerate(FUNNEL_STAGES)
    )
    stages = d["values"].format(stage_rows, "v(stage_idx, stage_name)")
    # per-stage column pickers: stage i reads p{i-1} (p0 == n0) and p{i}
    p = lambda i: "n0" if i == 0 else f"p{i}"  # noqa: E731
    n_in = " ".join(f"when {i} then {p(i - 1)}" for i in range(1, 6))
    n_out = " ".join(f"when {i} then p{i}" for i in range(1, 6))
    n_rej = " ".join(f"when {i} then {p(i - 1)} - p{i}" for i in range(1, 6))
    n_unc = " ".join(f"when {i} then u{i}" for i in range(1, 6))
    return f"""
      with stages as ({stages}),
      wsrel as (
        select doc_id, text, {ws} as ws from documents
      ),
      flags as (
        select
          case when {n} >= 15 then 1 else 0 end as f1,
          case when {d['strpos'].format("concat(' ', text, ' ')", "' the '")}
                    > 0 then 1 else 0 end as f2,
          case when {ndist} >= 20 then 1 else 0 end as f3,
          case when (10 * length(replace(text, ' ', ''))) {iv} {n}
                    between 40 and 60 then 1 else 0 end as f4,
          case when {n} <= 90 then 1 else 0 end as f5
        from wsrel
      ),
      acc as (
        select count(*) as n0,
               sum(f1) as p1,
               sum(f1 * f2) as p2,
               sum(f1 * f2 * f3) as p3,
               sum(f1 * f2 * f3 * f4) as p4,
               sum(f1 * f2 * f3 * f4 * f5) as p5,
               sum(1 - f1) as u1, sum(1 - f2) as u2, sum(1 - f3) as u3,
               sum(1 - f4) as u4, sum(1 - f5) as u5
        from flags
      )
      select cast(s.stage_idx as bigint) as stage_idx,
             s.stage_name,
             cast(case s.stage_idx {n_in} end as bigint) as n_in,
             cast(case s.stage_idx {n_out} end as bigint) as n_out,
             cast(case s.stage_idx {n_rej} end as bigint) as n_rejected,
             cast(case s.stage_idx {n_unc} end as bigint) as n_fail_uncond
      from stages s cross join acc
      order by stage_idx
    """


PHRASE_NQ = 3  # phrase queries derived from the corpus's top bigrams


def phrase_search_sql(duck: bool, postings_ref: str | None = None) -> str:
    """Exact-phrase search over a POSITIONAL inverted index — the query
    shape BM25's bag-of-words scoring cannot answer ("spark sql" as an
    adjacent pair, not two independent terms).  The classic positional-
    postings algorithm (public, Manning et al. IR book §2.4): postings
    carry (doc_id, tok, pos); a two-term phrase is a self-join of the two
    terms' postings on (doc_id, pos + 1 = pos).

    Queries are the corpus's top-{PHRASE_NQ} bigrams by document frequency
    (ties broken lexically), derived identically in both engines — no
    fixture dependency.

    Scale shape: the positions explode is corpus-sized but narrow
    (doc_id, tok, pos); the phrase table is {PHRASE_NQ} rows (broadcast),
    so each side of the adjacency self-join is pre-filtered to postings OF
    QUERY TERMS ONLY before any shuffle — the join never sees a stopword's
    full posting list unless the query asked for it, and then only that
    term's rows.  One shuffle keyed (doc_id, pos) per side, one count agg.

    ``postings_ref``: name of a pre-materialized (doc_id, pos, tok)
    relation (the shingles_ref/sh_ref/tf pattern) — the postings CTE feeds
    FOUR consumers and engines inline CTEs, so ``run_phrase_search``
    computes it once and renders this same template against it."""
    if postings_ref is None:
        p = "postings"
        pre = _postings_ctes(duck, "pwords", "postings") + ","
    else:
        p = postings_ref
        pre = ""
    return f"""
      with {pre}
      bigram_df as (
        select t1.tok as w1, t2.tok as w2,
               count(distinct t1.doc_id) as df
        from {p} t1
        join {p} t2
          on t2.doc_id = t1.doc_id and t2.pos = t1.pos + 1
        group by t1.tok, t2.tok
      ),
      {global_topk_cand(duck, "pcand", "bigram_df", "w1, w2, df",
                        "df desc, w1, w2", PHRASE_NQ,
                        "w1, w2")},
      phrases as (
        select w1, w2, df,
               row_number() over (order by df desc, w1, w2) as query_id
        from pcand
      ),
      q as (select query_id, w1, w2 from phrases where query_id <= {PHRASE_NQ}),
      m1 as (
        select q.query_id, p.doc_id, p.pos
        from {p} p join q on p.tok = q.w1
      ),
      m2 as (
        select q.query_id, p.doc_id, p.pos
        from {p} p join q on p.tok = q.w2
      )
      select cast(m1.query_id as bigint) as query_id,
             concat(q.w1, ' ', q.w2) as phrase,
             m1.doc_id,
             cast(count(*) as bigint) as n_occurrences
      from m1
      join m2 on m2.query_id = m1.query_id
             and m2.doc_id = m1.doc_id
             and m2.pos = m1.pos + 1
      join q on q.query_id = m1.query_id
      group by m1.query_id, q.w1, q.w2, m1.doc_id
      order by m1.query_id, m1.doc_id
    """


COLLOC_MIN_PAIR = 20  # minimum corpus-wide pair count to score
COLLOC_TOPK = 25      # collocations reported


def ngram_collocations_sql(duck: bool) -> str:
    """Collocation mining — rank adjacent token pairs by LIFT (how much
    more often the pair occurs than its unigram frequencies predict),
    the association measure behind phrase-vocabulary induction and
    word2phrase-style preprocessing (Mikolov et al. 2013, public).  PMI is
    log(lift); log is float, so the score is the integer-quantized lift
    itself, rank-equivalent to PMI:

        lift_ppm = (1000000 * pair_count * total_pairs)
                     div (count(w1) * count(w2))

    Pairs below {COLLOC_MIN_PAIR} corpus occurrences are not scored (the
    standard low-count guard: a 2-occurrence typo pair would otherwise
    out-lift every real collocation).

    Scale: one bigram-explode agg and one unigram agg (both map-side
    combined, one shuffle each); scoring joins the VOCABULARY-sized
    relations, not the corpus; top-k is a window over the scored-pair
    relation only.  Output is the top {COLLOC_TOPK} by lift."""
    iv = _d(duck)["div"]
    return f"""
      with {_postings_ctes(duck, "cwords", "toks")},
      uni as (select tok, count(*) as c from toks group by tok),
      tot as (select count(*) - count(distinct doc_id) as total_pairs
              from toks),
      pairs as (
        select t1.tok as w1, t2.tok as w2, count(*) as pair_count
        from toks t1
        join toks t2 on t2.doc_id = t1.doc_id and t2.pos = t1.pos + 1
        group by t1.tok, t2.tok
        having count(*) >= {COLLOC_MIN_PAIR}
      ),
      scored as (
        select p.w1, p.w2, p.pair_count,
               (1000000 * p.pair_count * t.total_pairs)
                 {iv} (u1.c * u2.c) as lift_ppm
        from pairs p
        join uni u1 on u1.tok = p.w1
        join uni u2 on u2.tok = p.w2
        cross join tot t
      ),
      {global_topk_cand(duck, "ccand", "scored",
                        "w1, w2, pair_count, lift_ppm",
                        "lift_ppm desc, w1, w2", COLLOC_TOPK, "w1, w2")},
      ranked as (
        select w1, w2, pair_count, lift_ppm,
               row_number() over (order by lift_ppm desc, w1, w2) as rk
        from ccand
      )
      select cast(rk as bigint) as rk, w1, w2,
             cast(pair_count as bigint) as pair_count,
             cast(lift_ppm as bigint) as lift_ppm
      from ranked where rk <= {COLLOC_TOPK}
      order by rk
    """


def run_phrase_search(spark, sf_dir: str):
    """Spark-side phrase search over the positional postings relation
    computed once: the template's postings CTE feeds four consumers (the
    query derivation's self-join reads it twice, then m1/m2)."""
    ref = _persisted_pass(
        spark, sf_dir, "__phrase_postings",
        f"with {_postings_ctes(False, 'pwords', 'postings')} "
        "select doc_id, pos, tok from postings",
    )
    return spark.sql(phrase_search_sql(duck=False, postings_ref=ref))


def dedup_band_audit_sql(duck: bool) -> str:
    """Banding skew audit — turns the near-dup operators' scale claims
    ("band buckets stay small; candidate pairs stay ~O(n)") into a
    continuously-gated METRIC instead of a prose assertion.  For both
    candidate-generation schemes, over the SAME duped corpus the dedup
    operators run on, report the bucket-size distribution:

      * ``minhash_band``  — MinHash+LSH (band, band_key) buckets, built by
        the exact `_minhash_cand_cte` fragment `dedup_minhash_lsh` /
        `dedup_recall` use (the unused ``cand`` CTE is pruned by both
        engines);
      * ``simhash_byte``  — SimHash (band, byte) buckets BEFORE the
        overflow re-banding lane, i.e. the distribution the
        SIMHASH_BUCKET_CAP guard in `simhash_neardup_sql` exists to tame,
        built by the exact `_simhash_bytebands_cte` fragment that operator
        runs (pinned by the pure-Python recompute in tests);
      * ``simhash_idf_byte`` — the SAME byte banding over the IDF-WEIGHTED
        simhash (`_simhash_idf_ctes`), so the dataset-side de-biasing fix
        is measured head-to-head against the unweighted scheme it improves
        (tests pin max_bucket(idf) < max_bucket(unweighted)).

    Columns: n_buckets, n_rows (doc×band memberships), max_bucket,
    p99_bucket (exact, via cumulative counts over the bucket-SIZE value
    domain — never a window over the bucket relation itself), and
    pairs_bound = sum n·(n−1)/2, the in-bucket candidate-join size the
    shuffle actually pays.  Round-2's "near-uniform, no hot keys" claim
    died when this number was first measured by hand (hottest simhash
    bucket held 27% of the corpus at sf0.1); this query keeps the
    measurement in the driver gate.

    Scale: two bucket-size aggs (map-side combined); everything downstream
    runs on bucket-size relations (~n_docs-bounded) and their distinct
    VALUE domain.

    Which branch the gated scale factors exercise (measured 2026-08-19):
    the SIMHASH_BUCKET_CAP=64 overflow re-banding lane in
    `simhash_neardup_sql` fires at EVERY gated sf — max simhash byte
    bucket is 167/142/1543 at sf0.001/0.01/0.1 (vs minhash max 6/3/16,
    which never overflows) — so the audited distribution always includes
    the regime the guard exists for, and sf0.1 adds the
    order-of-magnitude-hotter saturation point."""
    iv = _d(duck)["div"]
    return f"""
      with {duped_docs_cte(duck)},
      {shingles_cte(duck, "ddocs")},
      {_minhash_cand_cte(duck)},
      mh_sizes as (
        select band, band_key, count(*) as n
        from bands group by band, band_key
      ),
      {_hashed_tokens_cte(duck, "ddocs")},
      sh as (select doc_id, {_simhash_expr(duck)} as simhash from hv_docs),
      {_simhash_bytebands_cte(duck, prefix="s")},
      {_simhash_idf_ctes(duck, "ddocs")},
      {_simhash_bytebands_cte(duck, prefix="i", src="shidf")},
      allsizes as (
        select 'minhash_band' as scheme, n from mh_sizes
        union all
        select 'simhash_byte' as scheme, n from ssizes
        union all
        select 'simhash_idf_byte' as scheme, n from isizes
      ),
      hist as (
        select scheme, n, count(*) as b from allsizes group by scheme, n
      ),
      cum as (
        select scheme, n,
               sum(b) over (partition by scheme order by n) as cumb,
               sum(b) over (partition by scheme) as totb
        from hist
      ),
      p99 as (
        select scheme, min(n) as p99_bucket
        from cum where 100 * cumb >= 99 * totb group by scheme
      ),
      agg as (
        select scheme,
               count(*) as n_buckets,
               sum(n) as n_rows,
               max(n) as max_bucket,
               sum((n * (n - 1)) {iv} 2) as pairs_bound
        from allsizes group by scheme
      )
      select a.scheme,
             cast(a.n_buckets as bigint) as n_buckets,
             cast(a.n_rows as bigint) as n_rows,
             cast(a.max_bucket as bigint) as max_bucket,
             cast(p.p99_bucket as bigint) as p99_bucket,
             cast(a.pairs_bound as bigint) as pairs_bound
      from agg a join p99 p on p.scheme = a.scheme
      order by a.scheme
    """
