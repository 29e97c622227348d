"""Relational analytics over the TPC-H-ish star schema: hash aggregation,
broadcast join chains, ROLLUP grouping sets, and distributed top-k — the
reporting queries a crawl/metrics warehouse runs next to the extraction
pipeline (SURVEY.md §2B relational built-ins, exercised on real fact/dim
tables).

Dual-dialect like textops: outputs are integers/strings plus exact
aggregates only — sums restricted to integer-valued columns (exact in
double at any accumulation order, each value and total << 2^53), min/max
for decimal columns; unordered double sums are never emitted.

Scale notes: dims (region, nation, customer at sample scale) broadcast —
the Spark plans are hinted and the test suite asserts BroadcastHashJoin in
the physical plan; the fact-side aggregations are single-shuffle hash aggs
with map-side partials."""

from __future__ import annotations

from .textops import _d


def pricing_summary_sql(duck: bool) -> str:
    """TPC-H Q1-flavored pricing summary: group the fact table by the two
    flag columns.  sum(l_quantity) is integer-valued -> cast to bigint."""
    return f"""
      select l_returnflag, l_linestatus,
             count(*) as n_items,
             cast(sum(l_quantity) as bigint) as sum_qty,
             cast(min(l_extendedprice) as double) as min_price,
             cast(max(l_extendedprice) as double) as max_price
      from lineitem
      group by l_returnflag, l_linestatus
      order by l_returnflag, l_linestatus
    """


def segment_stats_sql(duck: bool) -> str:
    """Orders x customer broadcast join, rolled up by market segment."""
    hint = _d(duck)["hint"].format("BROADCAST(c)")
    return f"""
      select {hint} c.c_mktsegment as mktsegment,
             count(*) as n_orders,
             count(distinct o.o_custkey) as n_customers,
             cast(min(o.o_totalprice) as double) as min_price,
             cast(max(o.o_totalprice) as double) as max_price
      from orders o join customer c on o.o_custkey = c.c_custkey
      group by c.c_mktsegment
      order by mktsegment
    """


def region_rollup_sql(duck: bool) -> str:
    """3-way broadcast dim chain (region -> nation -> customer) with a
    ROLLUP over (region, nation); subtotal rows keyed 'ALL' instead of NULL
    so cross-engine hashing never sees nulls."""
    hint = _d(duck)["hint"].format("BROADCAST(r), BROADCAST(n)")
    return f"""
      with joined as (
        select {hint} r.r_name as region, n.n_name as nation,
               c.c_custkey, c.c_acctbal
        from customer c
        join nation n on c.c_nationkey = n.n_nationkey
        join region r on n.n_regionkey = r.r_regionkey
      )
      select coalesce(region, 'ALL') as region,
             coalesce(nation, 'ALL') as nation,
             count(*) as n_customers,
             cast(min(c_acctbal) as double) as min_acctbal,
             cast(max(c_acctbal) as double) as max_acctbal
      from joined
      group by rollup(region, nation)
      order by region, nation
    """


def top_parts_sql(duck: bool) -> str:
    """Distributed top-k with a join: the 15 most-ordered parts by line
    count (ties broken by partkey), then their catalog info joined in."""
    return f"""
      with counts as (
        select l_partkey, count(*) as n_lines,
               cast(sum(l_quantity) as bigint) as sum_qty
        from lineitem group by l_partkey
      ),
      top as (
        select * from counts order by n_lines desc, l_partkey limit 15
      )
      select t.l_partkey as partkey, p.p_name, p.p_brand,
             t.n_lines, t.sum_qty
      from top t join part p on p.p_partkey = t.l_partkey
      order by t.n_lines desc, partkey
    """


def events_rollup_sql(duck: bool) -> str:
    """ROLLUP over (day, event_type) on the events stream table; subtotals
    keyed 'ALL'."""
    d = _d(duck)
    day = f"cast(cast(ts as date) as {d['str']})"
    return f"""
      with e as (select {day} as day, event_type, user_id from events)
      select coalesce(day, 'ALL') as day,
             coalesce(event_type, 'ALL') as event_type,
             count(*) as n_events,
             count(distinct user_id) as n_users
      from e
      group by rollup(day, event_type)
      order by day, event_type
    """


TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation",
          "region", "events")


def run(spark, sf_dir: str, sql_builder):
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql(sql_builder(duck=False))
