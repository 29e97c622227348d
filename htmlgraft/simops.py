"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[64], label): brute-force top-k by quantized inner product, and an
LSH-bucketed scale path (sign-bit random-hyperplane analogue).

Like textops, each operator is one SQL template rendered for Spark SQL
(Catalyst; array ops stay JVM-side via higher-order functions — no Python in
the hot path) and DuckDB (the oracle).  Float math is NOT hash-stable across
engines, so scoring uses int8-style quantization: each component is
``cast(round(cast(x as double) * 1000.0) as bigint)`` (exact in both
engines: float->double cast is exact, both round half away from zero), and
similarity is the exact integer dot product of the quantized vectors —
deterministic, order-independent, overflow-safe (|q| <= ~5000, 64 dims
=> |dot| <= 1.6e9 << 2^63).

Scale notes (10^9+ vectors):
* brute-force top-k is the correctness baseline: broadcast the (tiny) query
  set, score per partition, per-query top-k via window — one shuffle on
  q_id, no all-pairs materialization beyond the scored stream;
* the LSH path buckets vectors by the sign pattern of the first SIGN_BITS
  components (a fixed-hyperplane simhash); candidate generation then only
  joins within buckets — shuffle keyed by bucket, O(n) not O(n^2);
* at 100 TB the quantized vectors would be precomputed once and stored
  (array<tinyint> column), amortizing the transform across queries.
"""

from __future__ import annotations

from .textops import _d

N_QUERIES = 5   # queries = vec_id < N_QUERIES
TOP_K = 5
SIGN_BITS = 8   # LSH bucket = sign pattern of components 1..SIGN_BITS


def _quant(duck: bool) -> str:
    """array<bigint> quantized embedding, identical in both engines."""
    d = _d(duck)
    lam = d["lambda"].format(
        "x", "cast(round(cast(x as double) * 1000.0) as bigint)"
    )
    return d["transform"].format("embedding", lam)


def _dot(duck: bool, a: str, b: str) -> str:
    """Exact integer dot product of two bigint arrays (sequential fold —
    order-deterministic, though integer addition is associative anyway)."""
    if duck:
        return f"list_sum(list_transform({a}, (x, i) -> x * {b}[i]))"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )


def ann_topk_sql(duck: bool) -> str:
    """Brute-force top-k: for each query vector (vec_id < N_QUERIES), the
    TOP_K nearest neighbors by quantized inner product.  The query set is
    tiny -> Spark broadcasts it (hinted); candidates stream through the
    scorer partition-local, then one shuffle on q_id for the window top-k."""
    q = _quant(duck)
    dot = _dot(duck, "qv.qe", "cv.ce")
    hint = _d(duck)["hint"].format("BROADCAST(qv)")
    return f"""
      with qv as (
        select vec_id as q_id, {q} as qe from embeddings where vec_id < {N_QUERIES}
      ),
      cv as (
        select vec_id as n_id, label, {q} as ce from embeddings
      ),
      scored as (
        select {hint} qv.q_id, cv.n_id, cv.label,
               cast({dot} as bigint) as dot_q
        from qv cross join cv
        where qv.q_id <> cv.n_id
      ),
      ranked as (
        select q_id, n_id, label, dot_q,
               row_number() over (
                 partition by q_id order by dot_q desc, n_id asc
               ) as rk
        from scored
      )
      select q_id, n_id, cast(label as bigint) as label, dot_q,
             cast(rk as bigint) as rk
      from ranked where rk <= {TOP_K}
      order by q_id, rk
    """


def _bucket(duck: bool, offset: int = 0, bits: int | None = None) -> str:
    """LSH bucket id: sign bits of ``bits`` consecutive components starting
    at ``offset`` (1-based element access in both engines; float sign
    compare is exact).  Different offsets give the independent hash tables
    of multi-table LSH."""
    d = _d(duck)
    if bits is None:
        bits = SIGN_BITS
    terms = " + ".join(
        f"(case when {d['elem'].format('embedding', str(offset + i))} > 0 "
        f"then {1 << (i - 1)} else 0 end)"
        for i in range(1, bits + 1)
    )
    return f"cast({terms} as bigint)"


def lsh_buckets_sql(duck: bool) -> str:
    """LSH bucket histogram: how the sign-bit partitioner spreads the
    corpus (skew diagnostics for the bucketed join)."""
    b = _bucket(duck)
    return f"""
      select {b} as bucket,
             count(*) as n_vectors,
             min(vec_id) as min_vec_id
      from embeddings
      group by {b}
      order by bucket
    """


def ann_lsh_topk_sql(duck: bool) -> str:
    """Bucketed ANN: neighbors are only searched inside the query's LSH
    bucket — the join is keyed on bucket (O(n) shuffle), trading recall for
    scale.  Same quantized-dot scoring and deterministic ranking."""
    q = _quant(duck)
    b = _bucket(duck)
    dot = _dot(duck, "qv.qe", "cv.ce")
    return f"""
      with qv as (
        select vec_id as q_id, {q} as qe, {b} as bucket
        from embeddings where vec_id < {N_QUERIES}
      ),
      cv as (
        select vec_id as n_id, {q} as ce, {b} as bucket from embeddings
      ),
      scored as (
        select qv.q_id, cv.n_id, cast({dot} as bigint) as dot_q
        from qv join cv on qv.bucket = cv.bucket and qv.q_id <> cv.n_id
      ),
      ranked as (
        select q_id, n_id, dot_q,
               row_number() over (
                 partition by q_id order by dot_q desc, n_id asc
               ) as rk
        from scored
      )
      select q_id, n_id, dot_q, cast(rk as bigint) as rk
      from ranked where rk <= {TOP_K}
      order by q_id, rk
    """


def embedding_neardup_sql(duck: bool) -> str:
    """Embedding near-duplicate pairs inside LSH buckets: pairs (a < b)
    sharing a bucket whose quantized dot exceeds a fixed threshold.  The
    bucket join keeps this O(n * bucket_width), never all-pairs."""
    q = _quant(duck)
    b = _bucket(duck)
    dot = _dot(duck, "a.qe", "b.qe")
    return f"""
      with v as (
        select vec_id, {q} as qe, {b} as bucket from embeddings
      )
      select a.vec_id as a_id, b.vec_id as b_id,
             cast({dot} as bigint) as dot_q
      from v a join v b on a.bucket = b.bucket and a.vec_id < b.vec_id
      where {dot} > 350000
      order by a_id, b_id
    """


SEM_TH = 350000  # quantized-dot near-dup threshold (same as embedding_neardup)


def semdedup_sql(duck: bool, emb: str = "embeddings") -> str:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    cluster the embeddings with a coarse quantizer, then inside each
    cluster drop every vector that has a high-cosine neighbor with a
    smaller vec_id (min-id keeper — the pair-graph relaxation of the
    paper's keep-one-per-group).  The quantizer is the same deterministic
    sampled-centroid assignment as ``ann_ivf_*`` (first N_LIST vectors; no
    float k-means, so oracle parity is exact) and similarity is the
    quantized integer dot.

    Scale: this is the whole point of the algorithm — pairwise work is
    confined to single clusters (O(sum cluster_size^2), the SemDeDup cost
    model; n_list grows ~n so cluster width stays bounded) and the pair
    join is keyed on list_id, never all-pairs across the corpus.  The
    assignment cross join is n x N_LIST with the centroid side broadcast
    (constant-size), exactly the kmeans_assign shape."""
    q = _quant(duck)
    l2 = _l2(duck, "v.qe", "c.qe")
    dot = _dot(duck, "a.qe", "b.qe")
    return f"""
      with v as (select vec_id, {q} as qe from {emb}),
      cents as (select vec_id as list_id, qe from v where vec_id < {N_LIST}),
      assign as (
        select vec_id, qe, list_id from (
          select v.vec_id, v.qe, c.list_id,
                 row_number() over (
                   partition by v.vec_id order by {l2} asc, c.list_id asc
                 ) as rk
          from v cross join cents c
        ) a where rk = 1
      ),
      pairs as (
        select a.vec_id as a_id, b.vec_id as b_id
        from assign a join assign b
          on a.list_id = b.list_id and a.vec_id < b.vec_id
        where {dot} >= {SEM_TH}
      ),
      dropped as (select distinct b_id as vec_id from pairs)
      select s.vec_id, s.list_id,
             cast(case when d.vec_id is null then 1 else 0 end as bigint)
               as is_kept
      from assign s left join dropped d on d.vec_id = s.vec_id
      order by s.vec_id
    """


# --- IVF (inverted-file) variant ---------------------------------------------

N_LIST = 16   # coarse centroids (sampled: the first N_LIST vec_ids)
N_PROBE = 2   # lists searched per query


def _l2(duck: bool, a: str, b: str) -> str:
    """Exact integer squared-L2 between two quantized bigint arrays."""
    if duck:
        return f"list_sum(list_transform({a}, (x, i) -> (x - {b}[i]) * (x - {b}[i])))"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )


def ivf_assign_sql(duck: bool) -> str:
    """IVF coarse assignment: centroids are the quantized vectors of the
    first N_LIST vec_ids (deterministic sampled coarse quantizer — no
    float k-means, so the oracle parity is exact); every vector joins the
    inverted list of its nearest centroid by integer squared-L2.  Output:
    inverted-list histogram (skew diagnostic for the probe join)."""
    q = _quant(duck)
    l2 = _l2(duck, "v.qe", "c.qe")
    return f"""
      with v as (select vec_id, {q} as qe from embeddings),
      cents as (select vec_id as list_id, qe from v where vec_id < {N_LIST}),
      dists as (
        select v.vec_id, c.list_id, cast({l2} as bigint) as d2
        from v cross join cents c
      ),
      assign as (
        select vec_id, list_id, d2,
               row_number() over (
                 partition by vec_id order by d2 asc, list_id asc
               ) as rk
        from dists
      )
      select list_id,
             count(*) as n_vectors,
             min(vec_id) as min_vec_id,
             cast(min(d2) as bigint) as min_d2,
             cast(max(d2) as bigint) as max_d2
      from assign where rk = 1
      group by list_id
      order by list_id
    """


def ivf_topk_sql(duck: bool) -> str:
    """IVF-flat search: each query probes its N_PROBE nearest inverted
    lists and ranks only those lists' members by quantized dot product.
    The candidate join is keyed on list_id — O(n * nprobe / nlist) scored
    pairs instead of brute force."""
    q = _quant(duck)
    l2_assign = _l2(duck, "v.qe", "c.qe")
    l2_probe = _l2(duck, "qv.qe", "c.qe")
    dot = _dot(duck, "qv.qe", "cand.qe")
    return f"""
      with v as (select vec_id, {q} as qe from embeddings),
      cents as (select vec_id as list_id, qe from v where vec_id < {N_LIST}),
      assign as (
        select vec_id, list_id from (
          select v.vec_id, c.list_id,
                 row_number() over (
                   partition by v.vec_id
                   order by {l2_assign} asc, c.list_id asc
                 ) as rk
          from v cross join cents c
        ) a where rk = 1
      ),
      qv as (select vec_id as q_id, qe from v where vec_id < {N_QUERIES}),
      probes as (
        select q_id, list_id from (
          select qv.q_id, c.list_id,
                 row_number() over (
                   partition by qv.q_id
                   order by {l2_probe} asc, c.list_id asc
                 ) as rk
          from qv cross join cents c
        ) p where rk <= {N_PROBE}
      ),
      scored as (
        select qv.q_id, cand.vec_id as n_id,
               cast({dot} as bigint) as dot_q
        from probes
        join assign on assign.list_id = probes.list_id
        join v cand on cand.vec_id = assign.vec_id
        join qv on qv.q_id = probes.q_id
        where cand.vec_id <> qv.q_id
      ),
      ranked as (
        select q_id, n_id, dot_q,
               row_number() over (
                 partition by q_id order by dot_q desc, n_id asc
               ) as rk
        from scored
      )
      select q_id, n_id, dot_q, cast(rk as bigint) as rk
      from ranked where rk <= {TOP_K}
      order by q_id, rk
    """


PQ_M = 8  # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
PQ_K = 8  # codes per subspace codebook


def _pq_slice(duck: bool, col: str, m: str) -> str:
    """The m-th 8-dim subvector of a 64-dim quantized array (m 0-based,
    as an SQL expression)."""
    sd = 64 // PQ_M
    return _d(duck)["slice"].format(col, f"1 + {m} * {sd}", f"{sd} + {m} * {sd}", sd)


def _pq_common(duck: bool) -> str:
    """Shared PQ CTE chain: quantized vectors -> per-subspace subvectors
    -> deterministic sampled codebooks (the quantized subvectors of the
    first PQ_K vec_ids — the IVF coarse-quantizer pattern, so oracle
    parity is exact with no float k-means) -> per-vector code assignment
    (argmin integer squared-L2, ties to the lowest code)."""
    q = _quant(duck)
    ms = f"unnest(range(0, {PQ_M}))" if duck else f"explode(sequence(0, {PQ_M - 1}))"
    sl = _pq_slice(duck, "qe", "m")
    l2 = _l2(duck, "s.sub", "c.sub")
    return f"""v as (select vec_id, {q} as qe from embeddings),
      subs as (
        select vec_id, m, {sl} as sub
        from (select vec_id, qe, {ms} as m from v) sv
      ),
      cb as (
        select m, vec_id as code, sub from subs where vec_id < {PQ_K}
      ),
      enc as (
        select vec_id, m, code from (
          select s.vec_id, s.m, c.code,
                 row_number() over (
                   partition by s.vec_id, s.m
                   order by {l2} asc, c.code asc
                 ) as rk
          from subs s join cb c on c.m = s.m
        ) a where rk = 1
      )"""


def pq_codes_sql(duck: bool) -> str:
    """Product-quantization encode audit (Jegou et al. 2011, public): the
    per-(subspace, code) occupancy histogram of the PQ encoding — the
    compression-quality diagnostic (empty or overloaded codes mean the
    codebook wastes bits).  Gates the entire encode path value-exactly:
    any argmin or slicing drift moves some count.

    Scale: the encode is the real PQ cost shape — n x M x K candidate
    distances via a join keyed on the subspace, then one (vec, m) window
    over K rows; the histogram is an M*K-bounded agg."""
    return f"""
      with {_pq_common(duck)}
      select m, code,
             cast(count(*) as bigint) as n_vectors,
             cast(min(vec_id) as bigint) as min_vec_id
      from enc
      group by m, code
      order by m, code
    """


def pq_topk_sql(duck: bool) -> str:
    """PQ asymmetric-distance search (ADC): each query keeps its EXACT
    quantized subvectors and scores candidates through their codes alone
    — distance table d2(query_sub_m, codebook[m][k]) built per query
    (M x K rows), candidate distance = sum over m of table lookups.  The
    memory story at 10^9 vectors: candidates cost M bytes each, and the
    scoring join is keyed on (m, code) against an M*K-row broadcast
    table — no full-vector reads off the candidate side at all.

    Output: top-{TOP_K} per query by approximate squared-L2 (ascending,
    ties to the lower vec_id), self excluded."""
    l2q = _l2(duck, "qs.sub", "c.sub")
    return f"""
      with {_pq_common(duck)},
      qsubs as (select vec_id as q_id, m, sub from subs
                where vec_id < {N_QUERIES}),
      qtab as (
        select qs.q_id, c.m, c.code, cast({l2q} as bigint) as d2
        from qsubs qs join cb c on c.m = qs.m
      ),
      approx as (
        select t.q_id, e.vec_id as n_id, cast(sum(t.d2) as bigint) as ad2
        from enc e
        join qtab t on t.m = e.m and t.code = e.code
        where e.vec_id <> t.q_id
        group by t.q_id, e.vec_id
      ),
      ranked as (
        select q_id, n_id, ad2,
               row_number() over (
                 partition by q_id order by ad2 asc, n_id asc
               ) as rk
        from approx
      )
      select q_id, n_id, ad2, cast(rk as bigint) as rk
      from ranked where rk <= {TOP_K}
      order by q_id, rk
    """


def run(spark, sf_dir: str, sql_builder):
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(sql_builder(duck=False))


def ann_recall_sql(duck: bool) -> str:
    """ANN quality evaluation: per-query recall of the IVF and LSH top-k
    against the brute-force ground truth — the measurement every
    approximate index must ship with.  Composes the existing queries as
    subselects (each keeps its own CTE scope); the overlap join is
    (q_id, n_id)-keyed, integer counts only."""
    brute = ann_topk_sql(duck)
    ivf = ivf_topk_sql(duck)
    lsh = ann_lsh_topk_sql(duck)
    mlsh = ann_multilsh_topk_sql(duck)
    return f"""
      select b.q_id,
             count(*) as k,
             cast(sum(case when i.n_id is not null then 1 else 0 end)
               as bigint) as ivf_hits,
             cast(sum(case when l.n_id is not null then 1 else 0 end)
               as bigint) as lsh_hits,
             cast(sum(case when m.n_id is not null then 1 else 0 end)
               as bigint) as multilsh_hits
      from ({brute}) b
      left join ({ivf}) i on i.q_id = b.q_id and i.n_id = b.n_id
      left join ({lsh}) l on l.q_id = b.q_id and l.n_id = b.n_id
      left join ({mlsh}) m on m.q_id = b.q_id and m.n_id = b.n_id
      group by b.q_id
      order by b.q_id
    """


N_TABLES = 8   # multi-table LSH: independent sign-bit tables
MULTI_BITS = 4  # bits per table: collision prob per table ~0.65^bits for
                # ~60-degree neighbors, so 4 bits x 8 tables targets ~0.5-0.8
                # recall at ~25% candidate rate (the recall/cost knob the
                # ann_recall query measures)


def ann_multilsh_topk_sql(duck: bool) -> str:
    """Multi-table LSH ANN: {t} independent hash tables (sign patterns of
    disjoint component ranges); a candidate is any vector sharing the
    query's bucket in ANY table — the standard recall repair for bucketed
    LSH (single-table recall on this corpus is near zero; see ann_recall).
    Shuffle stays O(T*n) keyed by (table, bucket); candidates are
    deduplicated before scoring so each pair is scored once."""
    q = _quant(duck)
    dot = _dot(duck, "qv.qe", "cv.qe")
    qb_rows = " union all ".join(
        f"select q_id, {_bucket(duck, t * MULTI_BITS, MULTI_BITS)}"
        f" as bucket, {t} as tbl from qsrc"
        for t in range(N_TABLES)
    )
    cb_rows = " union all ".join(
        f"select n_id, {_bucket(duck, t * MULTI_BITS, MULTI_BITS)}"
        f" as bucket, {t} as tbl from csrc"
        for t in range(N_TABLES)
    )
    return f"""
      with qsrc as (
        select vec_id as q_id, embedding from embeddings where vec_id < {N_QUERIES}
      ),
      csrc as (
        select vec_id as n_id, embedding from embeddings
      ),
      qb as ({qb_rows}),
      cb as ({cb_rows}),
      cand as (
        select distinct qb.q_id, cb.n_id
        from qb join cb on cb.tbl = qb.tbl and cb.bucket = qb.bucket
        where qb.q_id <> cb.n_id
      ),
      qv as (select vec_id as q_id, {q} as qe from embeddings where vec_id < {N_QUERIES}),
      cv as (select vec_id as n_id, {q} as qe from embeddings),
      scored as (
        select c.q_id, c.n_id, cast({dot} as bigint) as dot_q
        from cand c
        join qv on qv.q_id = c.q_id
        join cv on cv.n_id = c.n_id
      ),
      ranked as (
        select q_id, n_id, dot_q,
               row_number() over (
                 partition by q_id order by dot_q desc, n_id asc
               ) as rk
        from scored
      )
      select q_id, n_id, dot_q, cast(rk as bigint) as rk
      from ranked where rk <= {TOP_K}
      order by q_id, rk
    """
