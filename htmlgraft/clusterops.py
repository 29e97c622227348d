"""Document clustering over the ``embeddings`` table: Lloyd's k-means with
deterministic integer arithmetic, exercising the ITERATIVE-algorithm shape
the relational operators don't cover.

Two implementations of the identical computation:

* the Spark runner (``run_kmeans_assign`` / ``run_kmeans_centroids``) is the
  production shape — per iteration, the K centroids (a few KB) are collected
  to the driver and re-broadcast as a literal VALUES relation, so each
  Lloyd's iteration costs exactly one scan + one (cluster, dim) partial-sum
  shuffle; assignment is a K-way integer argmin evaluated partition-local.
  At 10^9+ vectors this is the textbook pattern (centroids always fit in
  memory; the data never re-shuffles on itself).
* the DuckDB oracle (``kmeans_*_sql(duck=True)``) UNROLLS the same
  ``ITERS`` iterations into one nested-CTE query.

Both produce byte-identical results because every step is integer-exact:
embeddings are quantized like simops (round(x*1000), exact in both
engines), distances are integer squared-L2, argmin ties break on cluster
id, and the centroid update is floor(sum/count) per dimension (computed as
``floor`` of a double quotient — numerators < 2^53, so the quotient and its
floor are exact in both engines).

Init: centroids = quantized embeddings of vec_id 0..K-1 (deterministic
seeding; no RNG).  Empty clusters drop out of subsequent iterations in both
implementations identically.
"""

from __future__ import annotations

from .simops import _l2, _quant
from .textops import _d

K = 8
ITERS = 3
DIMS = 64


def _dims_rel(duck: bool) -> str:
    d = _d(duck)
    return f"(select {d['explode']}({d['range_incl'].format(1, DIMS)}) as dim)"


def _pack(duck: bool, value_expr: str) -> str:
    """Aggregate: array of ``value_expr`` ordered by dim (both dialects)."""
    if duck:
        return f"list({value_expr} order by dim)"
    return (
        f"transform(array_sort(collect_list(struct(dim as d, "
        f"{value_expr} as v))), x -> x.v)"
    )


def _iteration_ctes(duck: bool, t: int, cents_ref: str) -> str:
    """One Lloyd's iteration: assign{t} (argmin over current centroids) and
    cents{t} (floor-average update), reading vectors from ``v``."""
    d = _d(duck)
    l2 = _l2(duck, "v.qe", "c.qe")
    val = d["elem"].format("qe", "dim")
    newv = "cast(floor(sum(val) / count(*)) as bigint)"
    return f"""
      dists{t} as (
        select v.vec_id, v.qe, c.cid, cast({l2} as bigint) as d2
        from v cross join {cents_ref} c
      ),
      assign{t} as (
        select vec_id, qe, cid, d2,
               row_number() over (
                 partition by vec_id order by d2 asc, cid asc
               ) as rk
        from dists{t}
      ),
      expl{t} as (
        select a.cid, dims.dim, {val} as val
        from assign{t} a cross join {_dims_rel(duck)} dims
        where a.rk = 1
      ),
      sums{t} as (
        select cid, dim, {newv} as cv
        from expl{t}
        group by cid, dim
      ),
      cents{t} as (
        select cid, {_pack(duck, 'cv')} as qe
        from sums{t}
        group by cid
      )"""


def _kmeans_ctes(duck: bool) -> str:
    """v (quantized vectors), cents0 (seed), ITERS unrolled iterations; the
    final relations are assign{ITERS} (rk=1 rows) and cents{ITERS}."""
    q = _quant(duck)
    parts = [
        f"v as (select vec_id, {q} as qe from embeddings)",
        f"cents0 as (select vec_id as cid, qe from v where vec_id < {K})",
    ]
    for t in range(1, ITERS + 1):
        parts.append(_iteration_ctes(duck, t, f"cents{t - 1}").strip())
    return ",\n      ".join(parts)


def kmeans_assign_sql(duck: bool) -> str:
    """Cluster census of the FINAL assignment (one extra argmin pass against
    the post-update centroids cents{ITERS}, matching the iterative runner):
    size, representative, and exact integer distance stats per cluster.
    The extra iteration block's own cents{ITERS+1} is never referenced and
    both engines prune unused CTEs."""
    final = ITERS + 1
    return f"""
      with {_kmeans_ctes(duck)},
      {_iteration_ctes(duck, final, f"cents{ITERS}").strip()}
      select cast(cid as bigint) as cluster_id,
             count(*) as n_vectors,
             min(vec_id) as min_vec_id,
             cast(min(d2) as bigint) as min_d2,
             cast(max(d2) as bigint) as max_d2,
             cast(sum(d2) as bigint) as sum_d2
      from assign{final}
      where rk = 1
      group by cid
      order by cid
    """


def kmeans_centroids_sql(duck: bool) -> str:
    """Final centroids, exploded to (cluster_id, dim, value) rows so the
    output is scalar-typed (engine-neutral hashing, no array stringify)."""
    d = _d(duck)
    val = d["elem"].format("qe", "dim")
    return f"""
      with {_kmeans_ctes(duck)}
      select cast(c.cid as bigint) as cluster_id,
             cast(dims.dim as bigint) as dim,
             cast({val} as bigint) as value
      from cents{ITERS} c cross join {_dims_rel(duck)} dims
      order by cluster_id, dim
    """


# --- Spark-side iterative runner --------------------------------------------

def _register_embeddings(spark, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )


def _literal_cents(cents: list[tuple[int, list[int]]]) -> str:
    """Centroids as an inline VALUES relation (a few KB — broadcast by
    Catalyst; the iterative path never shuffles the centroid side)."""
    rows = ", ".join(
        f"({cid}, array({', '.join(str(x) for x in qe)}))" for cid, qe in cents
    )
    return f"(select col1 as cid, col2 as qe from (values {rows}))"


def _iterate_spark(spark, sf_dir: str):
    """Run ITERS Lloyd's iterations; returns the name of a temp view
    ``__km_cents`` holding the final centroids and leaves the quantized
    vectors registered as ``__km_v``."""
    _register_embeddings(spark, sf_dir)
    q = _quant(False)
    spark.sql(
        f"select vec_id, {q} as qe from embeddings"
    ).localCheckpoint(eager=True).createOrReplaceTempView("__km_v")
    cents = [
        (r["vec_id"], list(r["qe"]))
        for r in spark.sql(
            f"select vec_id, qe from __km_v where vec_id < {K}"
        ).collect()
    ]
    d = _d(False)
    val = d["elem"].format("qe", "dim")
    for _ in range(ITERS):
        l2 = _l2(False, "v.qe", "c.qe")
        rows = spark.sql(f"""
          with assign as (
            select vec_id, qe, cid,
                   row_number() over (
                     partition by vec_id order by d2 asc, cid asc
                   ) as rk
            from (
              select v.vec_id, v.qe, c.cid, cast({l2} as bigint) as d2
              from __km_v v cross join {_literal_cents(cents)} c
            )
          ),
          expl as (
            select a.cid, dims.dim, {val} as val
            from assign a cross join {_dims_rel(False)} dims
            where a.rk = 1
          ),
          sums as (
            select cid, dim, cast(floor(sum(val) / count(*)) as bigint) as cv
            from expl group by cid, dim
          )
          select cid, {_pack(False, 'cv')} as qe
          from sums group by cid
        """).collect()
        cents = sorted((r["cid"], list(r["qe"])) for r in rows)
    spark.sql(
        f"select cid, qe from {_literal_cents(cents)}"
    ).createOrReplaceTempView("__km_cents")


def run_kmeans_assign(spark, sf_dir: str):
    _iterate_spark(spark, sf_dir)
    l2 = _l2(False, "v.qe", "c.qe")
    return spark.sql(f"""
      with assign as (
        select vec_id, cid, d2,
               row_number() over (
                 partition by vec_id order by d2 asc, cid asc
               ) as rk
        from (
          select v.vec_id, c.cid, cast({l2} as bigint) as d2
          from __km_v v cross join __km_cents c
        )
      )
      select cast(cid as bigint) as cluster_id,
             count(*) as n_vectors,
             min(vec_id) as min_vec_id,
             cast(min(d2) as bigint) as min_d2,
             cast(max(d2) as bigint) as max_d2,
             cast(sum(d2) as bigint) as sum_d2
      from assign where rk = 1
      group by cid order by cid
    """)


def run_kmeans_centroids(spark, sf_dir: str):
    _iterate_spark(spark, sf_dir)
    d = _d(False)
    val = d["elem"].format("qe", "dim")
    return spark.sql(f"""
      select cast(c.cid as bigint) as cluster_id, cast(dims.dim as bigint) as dim, cast({val} as bigint) as value
      from __km_cents c cross join {_dims_rel(False)} dims
      order by cluster_id, dim
    """)
