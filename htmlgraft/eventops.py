"""Relational/time operators over the ``events`` table (event_id, ts,
user_id, event_type, value, props): windowed rollups, sessionization, and
top-k — the metrics/reporting side of a crawl pipeline (SURVEY.md §2B lists
sort/limit/top-k and aggregation as required built-ins).

Same dual-dialect scheme as textops: outputs are strings/integers only
(doubles enter only via order-independent min/max, which are exact), so the
DuckDB oracle is a value-level check.

Scale notes: all three are single-shuffle hash aggregations / window scans
keyed on (hour, type), user_id — no joins, partial aggregation map-side.
"""

from __future__ import annotations

from .textops import _d


def events_hourly_sql(duck: bool) -> str:
    """Hourly rollup by event type.  min/max are order-independent (exact
    doubles); sums of doubles are NOT hash-stable cross-engine and are
    deliberately excluded."""
    d = _d(duck)
    hour = f"cast(date_trunc('hour', ts) as {d['str']})"
    return f"""
      select {hour} as hour, event_type,
             count(*) as n_events,
             count(distinct user_id) as n_users,
             min(value) as min_value,
             max(value) as max_value
      from events
      group by {hour}, event_type
      order by hour, event_type
    """


SESSION_GAP_S = 1800


def _marks_ctes(duck: bool, seq_cols: str, mark: str) -> str:
    """``seq``({seq_cols}, es, prev_es): each event's epoch second and the
    user's previous one; then ``marks``(user_id, es, {mark}), where
    ``{start}`` in ``mark`` is 1 for an event that opens a session (the
    gap to the previous event exceeds SESSION_GAP_S) and 0 otherwise."""
    epoch = _d(duck)["epoch"].format("ts")
    start = (f"case when prev_es is null or es - prev_es > {SESSION_GAP_S}"
             " then 1 else 0 end")
    return f"""seq as (
        select {seq_cols}, cast({epoch} as bigint) as es,
               lag(cast({epoch} as bigint)) over (
                 partition by user_id order by {epoch}, event_id
               ) as prev_es
        from events
      ),
      marks as (
        select user_id, es,
               {mark.format(start=start)}
        from seq
      )"""


def sessionize_sql(duck: bool) -> str:
    """Sessionization via window functions: a new session starts when the
    gap to the user's previous event exceeds SESSION_GAP_S.  Epoch seconds
    (bigint) keep the arithmetic engine-neutral."""
    return f"""
      with {_marks_ctes(duck, "user_id", "{start} as is_start")}
      select user_id,
             cast(sum(is_start) as bigint) as n_sessions,
             count(*) as n_events,
             cast(max(es) - min(es) as bigint) as span_s
      from marks
      group by user_id
      order by user_id
    """


def top_users_sql(duck: bool) -> str:
    """Top-20 users by event count (deterministic tiebreak on user_id)."""
    return f"""
      with counts as (
        select user_id, count(*) as n_events,
               count(distinct event_type) as n_types
        from events group by user_id
      ),
      top as (
        -- order+limit first (distributed top-k), THEN rank the 20 survivors:
        -- avoids a global single-partition window over all users
        select user_id, n_events, n_types
        from counts order by n_events desc, user_id asc limit 20
      )
      select user_id, n_events, n_types,
             cast(row_number() over (order by n_events desc, user_id asc)
                  as bigint) as rk
      from top
      order by rk
    """


def asof_join_sql(duck: bool) -> str:
    """As-of join (the trades x quotes / state-at-time operator Spark has
    no built-in for): every non-purchase event is joined to the user's
    LATEST purchase at-or-before its timestamp.  The state relation is one
    row per (user, second) — ties collapsed by ``max_by(value, event_id)``
    so both engines pick the same state deterministically.

    Two genuinely independent implementations:

    - Spark: the scalable union trick — tag state rows and probe rows,
      union, ONE shuffle on user_id, then ``last_value(...) IGNORE NULLS``
      over (es, is_state desc) carries the newest state forward onto each
      probe.  No range explosion, no per-row subquery; the window is
      user-bounded (never single-partition).  This is the shape that
      survives 10^12 probe rows: cost is exactly one sort-shuffle of
      probes+states on the join key.
    - DuckDB oracle: the native ``ASOF LEFT JOIN`` operator.

    Money values cross engines as cents via ``floor(v*100 + 0.5)`` (cast
    rounding differs between engines; floor(+0.5) does not).  Probes with
    no prior state surface as -1 sentinels."""
    d = _d(duck)
    epoch, argmax = d["epoch"].format("ts"), d["argmax"]
    cents = "cast(floor({0} * 100 + 0.5) as bigint)"
    pre = f"""
      st as (
        select user_id, cast({epoch} as bigint) as es,
               {argmax}(value, event_id) as sval
        from events where event_type = 'purchase'
        group by user_id, cast({epoch} as bigint)
      ),
      pr as (
        select event_id, user_id, cast({epoch} as bigint) as es, event_type
        from events where event_type <> 'purchase'
      )"""
    if duck:
        return f"""
      with {pre}
      select p.event_id, p.user_id, p.es, p.event_type,
             coalesce({cents.format("s.sval")}, -1) as asof_cents,
             coalesce(p.es - s.es, -1) as lag_s
      from pr p asof left join st s
        on p.user_id = s.user_id and p.es >= s.es
      order by p.event_id
    """
    return f"""
      with {pre},
      u as (
        select user_id, es, 1 as is_state,
               cast(null as bigint) as event_id,
               cast(null as string) as event_type, sval, es as ses
        from st
        union all
        select user_id, es, 0 as is_state, event_id, event_type,
               cast(null as double) as sval, cast(null as bigint) as ses
        from pr
      ),
      w as (
        select user_id, es, is_state, event_id, event_type,
               last_value(sval) ignore nulls over (
                 partition by user_id order by es, is_state desc
                 rows between unbounded preceding and current row) as aval,
               last_value(ses) ignore nulls over (
                 partition by user_id order by es, is_state desc
                 rows between unbounded preceding and current row) as aes
        from u
      )
      select event_id, user_id, es, event_type,
             coalesce({cents.format("aval")}, -1) as asof_cents,
             coalesce(es - aes, -1) as lag_s
      from w where is_state = 0
      order by event_id
    """


# an hour with >= this many 'error' events is an incident window; 2 keeps
# the relation non-empty at every test sf (sf0.001 peaks at 3 errors/hour)
INCIDENT_MIN_ERRORS = 2


def range_join_sql(duck: bool) -> str:
    """Interval range join (overlap join), the second relational operator
    Spark lacks a native form of: user sessions (from the sessionize
    windows) are joined to derived "incident windows" — hours whose error
    count reaches {INCIDENT_MIN_ERRORS} — on interval OVERLAP, producing
    per-session incident counts and total overlap seconds.

    - Spark: the bucketed interval-join pattern that scales — each session
      explodes to the hour buckets it covers (``sequence`` over hour ids,
      bounded by session length), equi-joins windows on the hour id, then
      filters/aggregates the exact overlap.  The join is a plain hash join
      on a balanced integer key; nothing is quadratic, no BNLJ.
    - DuckDB oracle: the direct inequality join (s.start <= w.end and
      w.start <= s.end) its IEJoin executes natively.

    Sessions are CLOSED integer-second intervals [s0, s1] (a one-event
    session is a point); windows are [h*3600, h*3600+3599].  overlap_s =
    min(ends) - max(starts) + 1 on those closed bounds — identical integer
    math in both engines."""
    d = _d(duck)
    epoch, idiv = d["epoch"].format("ts"), d["div"]
    sid = ("sum({start}) over (partition by user_id order by es, event_id"
           " rows between unbounded preceding and current row) as sid")
    sess = f"""
      {_marks_ctes(duck, "user_id, event_id", sid)},
      sessions as (
        select user_id, sid, min(es) as s0, max(es) as s1
        from marks group by user_id, sid
      ),
      windows as (
        select cast({epoch} as bigint) {idiv} 3600 as hour_id,
               count(*) as n_errors
        from events where event_type = 'error'
        group by cast({epoch} as bigint) {idiv} 3600
        having count(*) >= {INCIDENT_MIN_ERRORS}
      )"""
    if duck:
        join = f"""
      hits as (
        select s.user_id, s.sid, s.s0, s.s1, w.hour_id,
               least(s.s1, w.hour_id * 3600 + 3599)
                 - greatest(s.s0, w.hour_id * 3600) + 1 as overlap_s
        from sessions s join windows w
          on s.s0 <= w.hour_id * 3600 + 3599
         and w.hour_id * 3600 <= s.s1
      )"""
    else:
        join = f"""
      expl as (
        select user_id, sid, s0, s1,
               explode(sequence(s0 div 3600, s1 div 3600)) as hour_id
        from sessions
      ),
      hits as (
        select e.user_id, e.sid, e.s0, e.s1, w.hour_id,
               least(e.s1, w.hour_id * 3600 + 3599)
                 - greatest(e.s0, w.hour_id * 3600) + 1 as overlap_s
        from expl e join windows w on w.hour_id = e.hour_id
      )"""
    return f"""
      with {sess},
      {join}
      select user_id, cast(sid as bigint) as sid, s0, s1,
             cast(count(*) as bigint) as n_incidents,
             cast(sum(overlap_s) as bigint) as overlap_s,
             cast(min(hour_id) as bigint) as first_hour_id
      from hits
      group by user_id, sid, s0, s1
      order by user_id, sid
    """


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_sql(duck: bool) -> str:
    """Ordered funnel analysis (view -> click -> purchase): per user, the
    FIRST view, the first click strictly after it, and the first purchase
    strictly after that — the sequential-pattern query neither
    sessionization nor the as-of join expresses (each step's candidate
    set depends on the previous step's chosen timestamp).  Users who
    never viewed are excluded (no funnel entry); -1 marks steps not
    reached; convert_s is the full view->purchase latency.

    Scale: three user-keyed min-aggregations chained by equi-joins on
    user_id — one shuffle key throughout, per-user state only, no
    windows; the same shape at 10^12 events (funnel depth multiplies
    scans, not shuffles, and each stage prunes to its event type at the
    scan)."""
    epoch = _d(duck)["epoch"].format("ts")
    return f"""
      with ev as (
        select user_id, event_type, cast({epoch} as bigint) as es
        from events
        where event_type in ('view', 'click', 'purchase')
      ),
      v as (
        select user_id, min(es) as t0 from ev
        where event_type = 'view' group by user_id
      ),
      c as (
        select e.user_id, min(e.es) as t1
        from ev e join v on v.user_id = e.user_id and e.es > v.t0
        where e.event_type = 'click'
        group by e.user_id
      ),
      p as (
        select e.user_id, min(e.es) as t2
        from ev e join c on c.user_id = e.user_id and e.es > c.t1
        where e.event_type = 'purchase'
        group by e.user_id
      )
      select v.user_id,
             cast(v.t0 as bigint) as t_view,
             cast(coalesce(c.t1, -1) as bigint) as t_click,
             cast(coalesce(p.t2, -1) as bigint) as t_purchase,
             case when p.t2 is not null then 'purchase'
                  when c.t1 is not null then 'click'
                  else 'view' end as reached,
             cast(case when p.t2 is not null then p.t2 - v.t0
                  else -1 end as bigint) as convert_s
      from v
      left join c on c.user_id = v.user_id
      left join p on p.user_id = v.user_id
      order by v.user_id
    """


def run(spark, sf_dir: str, sql_builder):
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(sql_builder(duck=False))
