"""[EXT] Production-pipeline data management: declarative data-quality
expectations and snapshot diffing (CDC classify).

No reference counterpart (the reference trusts its inputs and rewrites
one JSON file wholesale); required for the 100 TB posture, where bad
shards and partial loads are routine and "diff two snapshots" replaces
re-reading the world.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..artifacts import SessionMemo as _SessionMemo
from ..sources import load_table
from .common import davg, dsum
from .registry import EVENTS_TS, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@query("dq_expectations", """
    WITH orphan AS (
      SELECT count(*) AS v FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)),
    li AS (
      SELECT count(*) AS n,
             count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity <= 0) AS bad_qty,
             count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS bad_disc
      FROM lineitem),
    o AS (
      SELECT count(*) AS n,
             count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS bad_total
      FROM orders)
    SELECT 'lineitem.quantity_positive' AS rule, li.n AS n_checked,
           li.bad_qty AS n_violations FROM li
    UNION ALL
    SELECT 'lineitem.discount_in_unit_range', li.n, li.bad_disc FROM li
    UNION ALL
    SELECT 'lineitem.order_fk_exists', li.n, orphan.v FROM li, orphan
    UNION ALL
    SELECT 'orders.totalprice_positive', o.n, o.bad_total FROM o
""")
def dq_expectations(spark, sf_dir):
    """Declarative data-quality gate: one pass computes every row-level
    expectation as a conditional count (null/range rules fuse into a
    single aggregate per table — no rule-per-scan), plus a referential
    check as a left-anti count.  Output is the audit table a pipeline
    would alert on.  At 100 TB: the row-level rules are map-side-only
    (one scan, partial aggs); the FK check is the only shuffle, and its
    anti-join build side (order keys) is dictionary-compressible —
    or drop to a bloom filter when even keys don't fit."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    q = F.col("l_quantity")
    d = F.col("l_discount")
    li_agg = li.agg(
        F.count("*").alias("li_n"),
        F.count_if(q.isNull() | (q <= 0)).alias("bad_qty"),
        F.count_if((d < 0) | (d > 1)).alias("bad_disc"))
    orphan = (li.join(o.select("o_orderkey"),
                      li.l_orderkey == F.col("o_orderkey"), "left_anti")
              .agg(F.count("*").alias("orphans")))
    o_agg = o.agg(
        F.count("*").alias("o_n"),
        F.count_if(F.col("o_totalprice").isNull()
                   | (F.col("o_totalprice") <= 0)).alias("bad_total"))
    # three 1-row aggregates cross-joined, unpivoted into the audit rows
    # with stack() — the whole report stays one lazy plan, nothing
    # round-trips through the driver.
    return (li_agg.crossJoin(orphan).crossJoin(o_agg).selectExpr(
        "stack(4, "
        " 'lineitem.quantity_positive',      li_n, bad_qty, "
        " 'lineitem.discount_in_unit_range', li_n, bad_disc, "
        " 'lineitem.order_fk_exists',        li_n, orphans, "
        " 'orders.totalprice_positive',      o_n,  bad_total"
        ") AS (rule, n_checked, n_violations)"))


@query("snapshot_diff", """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00')
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice <> n.o_totalprice
                     OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
""")
def snapshot_diff(spark, sf_dir):
    """Snapshot diff (CDC classify): full-outer join two snapshot
    versions on the key and tag each row added / removed / changed /
    unchanged — the primitive behind incremental corpus refresh
    ("what changed since the last crawl?") without a table format's
    change feed.  Here the two snapshots are derived deterministically
    from orders (a later date cutoff adds rows; a %7 price bump changes
    some).  One shuffle on the key; at 100 TB run it per partition
    directory so only co-partitioned shards join, and feed the
    'changed'+'added' classes straight into merge_upsert."""
    o = _t(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
           .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    new = (o.filter(F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
           .select("o_orderkey", "o_orderstatus",
                   F.when(F.col("o_orderkey") % 7 == 0,
                          F.round(F.col("o_totalprice") * 1.1, 2))
                   .otherwise(F.col("o_totalprice")).alias("o_totalprice")))
    old_a, new_a = old.alias("o"), new.alias("n")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when((F.col("o.o_totalprice") != F.col("n.o_totalprice"))
              | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")), "changed")
        .otherwise("unchanged"))
    return (old_a.join(new_a, F.col("o.o_orderkey") == F.col("n.o_orderkey"),
                       "full_outer")
            .select(F.coalesce(F.col("o.o_orderkey"),
                               F.col("n.o_orderkey")).alias("o_orderkey"),
                    change.alias("change")))


@query("ts_gapfill_interpolate", """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(value) AS v
      FROM events GROUP BY 1, 2),
    span AS (SELECT user_id, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
      FROM span),
    j AS (
      SELECT g.user_id, g.d, daily.v FROM grid g
      LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d),
    f AS (
      SELECT user_id, d, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY d
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j)
    SELECT user_id, d,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv)
                           * (date_diff('day', pd, d) * 1.0
                              / date_diff('day', pd, nd)) END, 6) AS v_filled
    FROM f
""")
def ts_gapfill_interpolate(spark, sf_dir):
    """Time-series gap fill: per-user daily grid (sequence + explode)
    with LINEAR interpolation across missing days — carry-forward /
    carry-back at the edges, position-weighted blend between the
    nearest observed points otherwise (the hypertable/gap-fill operator
    class; win_last_ignore_nulls is the plain carry-forward cousin).
    Daily means go through decimal sums so both engines interpolate
    identical inputs.  Scale: grid generation is per-user arithmetic
    (no cross join against a calendar table); the two IGNORE NULLS
    window passes share one shuffle+sort on (user_id, d)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
             .agg(davg("value").alias("v")))
    grid = (daily.groupBy("user_id")
            .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
            .select("user_id",
                    F.explode(F.sequence("mn", "mx",
                                         F.expr("INTERVAL 1 DAY"))).alias("d")))
    j = grid.join(daily, ["user_id", "d"], "left")
    back = (Window.partitionBy("user_id").orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("user_id").orderBy("d")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    known_d = F.when(F.col("v").isNotNull(), F.col("d"))
    f = j.select(
        "user_id", "d", "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(known_d, ignorenulls=True).over(back).alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(known_d, ignorenulls=True).over(fwd).alias("nd"))
    frac = (F.datediff("d", "pd") * F.lit(1.0)) / F.datediff("nd", "pd")
    filled = (F.when(F.col("v").isNotNull(), F.col("v"))
              .when(F.col("pv").isNull(), F.col("nv"))
              .when(F.col("nv").isNull(), F.col("pv"))
              .otherwise(F.col("pv")
                         + (F.col("nv") - F.col("pv")) * frac))
    return f.select("user_id", "d", F.round(filled, 6).alias("v_filled"))


@query("histogram_dynamic_bins", """
    WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
                FROM orders)
    SELECT CAST(LEAST(FLOOR((o_totalprice - mm.mn) / ((mm.mx - mm.mn) / 10)),
                      9) AS INTEGER) AS bin,
           count(*) AS n,
           round(mm.mn + LEAST(FLOOR((o_totalprice - mm.mn)
                                     / ((mm.mx - mm.mn) / 10)), 9)
                         * ((mm.mx - mm.mn) / 10), 6) AS bin_lo
    FROM orders, mm
    GROUP BY 1, 3
""")
def histogram_dynamic_bins(spark, sf_dir):
    """Equi-width histogram with RUNTIME bin edges (global min/max via
    a 1-row aggregate cross-broadcast back onto the fact — the
    histogram_risk_buckets cousin for when edges aren't known ahead).
    Two passes over the column but only kilobytes shuffle: pass 1
    reduces to one (min,max) row, pass 2 is a map-side bucket expression
    + small agg.  The top edge folds into the last bin (LEAST(...,9)),
    the standard closed-right-edge convention."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    mm = o.agg(F.min("o_totalprice").alias("mn"),
               F.max("o_totalprice").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / 10
    bin_ = F.least(F.floor((F.col("o_totalprice") - F.col("mn")) / width),
                   F.lit(9)).cast("int")
    return (o.join(F.broadcast(mm))
            .select(bin_.alias("bin"),
                    F.round(F.col("mn") + bin_ * width, 6).alias("bin_lo"))
            .groupBy("bin", "bin_lo").agg(F.count("*").alias("n"))
            .select("bin", "n", "bin_lo"))


@query("funnel_ordered_steps", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    s AS (SELECT user_id, min(ts) AS t_signup FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'click' AND e.ts > s.t_signup
            AND e.ts <= s.t_signup + INTERVAL 3 DAY
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_click + INTERVAL 3 DAY
          GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_click
""")
def funnel_ordered_steps(spark, sf_dir):
    """ORDERED conversion funnel (signup -> click within 3 days ->
    purchase within 3 days of the click): each stage keeps a user only if the step happened after
    their previous stage's first completion — strictly stronger than
    counting users-with-all-three-types.  Plan: three per-user min
    aggregates chained by user_id joins, so every stage reuses one
    shuffle partitioning on user_id (co-partitioned joins, no fact
    re-shuffle); stage outputs are user-cardinality, tiny next to the
    event fact at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t_signup")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(s, "user_id")
         .filter((F.col("ts") > F.col("t_signup"))
                 & (F.col("ts") <= F.col("t_signup")
                    + F.expr("INTERVAL 3 DAY")))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("t_click"))
                 & (F.col("ts") <= F.col("t_click")
                    + F.expr("INTERVAL 3 DAY")))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    return (s.agg(F.count("*").alias("n_signup"))
            .crossJoin(c.agg(F.count("*").alias("n_click_after_signup")))
            .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click"))))


@query("cohort_retention", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    first_seen AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM e
      GROUP BY user_id),
    activity AS (
      SELECT DISTINCT f.user_id, f.cohort_day,
             CAST(FLOOR(date_diff('day', f.cohort_day,
                                  CAST(e.ts AS DATE)) / 7)
                  AS INTEGER) AS week_offset
      FROM e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT cohort_day, week_offset, count(*) AS n_users
    FROM activity
    GROUP BY cohort_day, week_offset
""")
def cohort_retention(spark, sf_dir):
    """Retention cohorts: users grouped by first-activity day, counted
    per 7-day offset in which they were active again.  Week offsets are
    day-difference arithmetic (floor(days/7)), NOT calendar-week
    truncation — date_trunc('week') start-of-week conventions differ
    between engines and across locales, day math doesn't.  Plan: the
    per-user first-seen aggregate broadcasts back onto events (user
    cardinality << events), then one distinct + count shuffle."""
    ev = _t(spark, sf_dir, "events")
    first_seen = (ev.groupBy("user_id")
                  .agg(F.min("ts").cast("date").alias("cohort_day")))
    activity = (ev.join(F.broadcast(first_seen), "user_id")
                .select("user_id", "cohort_day",
                        F.floor(F.datediff(F.col("ts").cast("date"),
                                           "cohort_day") / 7)
                        .cast("int").alias("week_offset"))
                .distinct())
    return (activity.groupBy("cohort_day", "week_offset")
            .agg(F.count("*").alias("n_users")))


@query("scd2_build", """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
    d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             o.o_totalprice AS old_price, n.o_totalprice AS new_price,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
                  ELSE 'unchanged' END AS cls
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT k AS o_orderkey, old_price AS o_totalprice,
           1 AS valid_from,
           CASE WHEN cls IN ('changed', 'removed') THEN 2 END AS valid_to
    FROM d WHERE cls <> 'added'
    UNION ALL
    SELECT k, new_price, 2, NULL FROM d WHERE cls IN ('changed', 'added')
""")
def scd2_build(spark, sf_dir):
    """Slowly-changing-dimension Type 2 from two snapshot versions (the
    APPLY side of snapshot_diff): surviving old rows keep valid_from=1
    with valid_to closed at 2 iff superseded or deleted; changed and
    added keys open a current row at version 2 (valid_to NULL).  The
    classified full-outer join is computed once and feeds both halves
    of the union — Spark reuses the exchange, so history assembly costs
    the same single key shuffle as the diff itself.  At 100 TB this is
    the no-table-format path to queryable history: append the union
    output per refresh, partition by valid_to IS NULL for fast
    'current' reads."""
    o = _t(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
           .select("o_orderkey", "o_totalprice"))
    new = (o.filter(F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
           .select("o_orderkey",
                   F.when(F.col("o_orderkey") % 7 == 0,
                          F.col("o_totalprice") + 1000.0)
                   .otherwise(F.col("o_totalprice")).alias("o_totalprice")))
    d = (old.alias("o").join(new.alias("n"),
                             F.col("o.o_orderkey") == F.col("n.o_orderkey"),
                             "full_outer")
         .select(F.coalesce(F.col("o.o_orderkey"),
                            F.col("n.o_orderkey")).alias("k"),
                 F.col("o.o_totalprice").alias("old_price"),
                 F.col("n.o_totalprice").alias("new_price"),
                 F.when(F.col("o.o_orderkey").isNull(), "added")
                 .when(F.col("n.o_orderkey").isNull(), "removed")
                 .when(F.col("o.o_totalprice") != F.col("n.o_totalprice"),
                       "changed")
                 .otherwise("unchanged").alias("cls")))
    hist = (d.filter(F.col("cls") != "added")
            .select(F.col("k").alias("o_orderkey"),
                    F.col("old_price").alias("o_totalprice"),
                    F.lit(1).alias("valid_from"),
                    F.when(F.col("cls").isin("changed", "removed"), 2)
                    .cast("int").alias("valid_to")))
    curr = (d.filter(F.col("cls").isin("changed", "added"))
            .select(F.col("k").alias("o_orderkey"),
                    F.col("new_price").alias("o_totalprice"),
                    F.lit(2).alias("valid_from"),
                    F.lit(None).cast("int").alias("valid_to")))
    return hist.unionByName(curr)


@query("win_cumulative_distinct", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    first_seen AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS first_hour FROM e
      GROUP BY user_id),
    per_hour AS (
      SELECT first_hour AS hour, count(*) AS new_users
      FROM first_seen GROUP BY first_hour)
    SELECT hour, new_users,
           CAST(SUM(new_users) OVER (ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
    FROM per_hour
""")
def win_cumulative_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over time — the daily-active-users
    growth curve.  Distinct-inside-a-window is unsupported (and would
    be quadratic) on both engines; the classic rewrite counts each user
    once in their FIRST hour and prefix-sums the per-hour news.  Two
    tiny shuffles (per-user min, per-hour count) and a window over
    #hours rows — at 100 TB the fact table is touched once, everything
    after is metadata-sized.  Integer counts: no rounding rule."""
    ev = _t(spark, sf_dir, "events")
    per_hour = (ev.groupBy("user_id")
                .agg(F.date_trunc("hour", F.min("ts")).alias("hour"))
                .groupBy("hour").agg(F.count("*").alias("new_users")))
    w = (Window.orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_hour.select("hour", "new_users",
                           F.sum("new_users").over(w).alias("cum_users"))


@query("concurrency_peak", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    edges AS (
      SELECT event_type, ts AS t, 1 AS delta, event_id FROM e
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta, event_id
      FROM e),
    swept AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM edges)
    SELECT event_type, CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY event_type
""")
def concurrency_peak(spark, sf_dir):
    """Peak concurrency via the sweep-line pattern: each event opens a
    30-minute interval; +1/-1 boundary edges are prefix-summed in time
    order and the running maximum is the answer (max-overlap /
    max-concurrent-sessions — the classic interval aggregation that has
    no direct SQL operator).  Ordering ties are pinned on both engines
    by (t, delta, event_id): delta ascending closes intervals before
    opening new ones at the same instant, i.e. half-open [t, t+30m)
    semantics.  One explode-free union doubles the rows, one window
    sort per event_type, one tiny max agg; at 100 TB the window
    partitions by (event_type, day-bucket) to bound sort width."""
    ev = _t(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"),
                      F.lit(1).alias("delta"), "event_id")
    closes = ev.select("event_type",
                       (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
                       F.lit(-1).alias("delta"), "event_id")
    w = (Window.partitionBy("event_type").orderBy("t", "delta", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    swept = opens.unionByName(closes).select(
        "event_type", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("event_type").agg(
        F.max("live").alias("peak_concurrent"))


@query("winsorized_avg", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    bounds AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS lo,
             quantile_disc(value, 0.95) AS hi
      FROM e GROUP BY event_type)
    SELECT e.event_type,
           count(*) AS n,
           CAST(SUM(CAST(least(greatest(e.value, b.lo), b.hi)
                         AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             AS winsorized_mean
    FROM e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type
""")
def winsorized_avg(spark, sf_dir):
    """Winsorized (outlier-clipped) mean per group: values are clamped
    to the exact DISCRETE p05/p95 of their group before averaging —
    the robust-statistics twin of agg_avg_risk.  percentile_disc
    returns observed values (bit-identical cross-engine, see
    agg_percentile_disc), so the clip bounds need no rounding; the
    clipped sum goes through DECIMAL(18,6) per the registry's
    deterministic-double rule.  The bounds table is #groups rows and
    broadcasts back onto the fact: one group sort for the percentiles,
    one broadcast join, one hash agg."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("hi"))
    clipped = (ev.join(F.broadcast(bounds), "event_type")
               .select("event_type",
                       F.least(F.greatest(F.col("value"), F.col("lo")),
                               F.col("hi")).alias("cv")))
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.col("cv").cast("decimal(18,6)")).cast("double")
         / F.count("*")).alias("winsorized_mean"))


@query("dq_key_skew", """
    WITH per_key AS (
      SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY l_orderkey),
    stats AS (
      SELECT count(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows, max(n) AS max_n,
             quantile_disc(n, 0.5) AS p50_n, quantile_disc(n, 0.99) AS p99_n
      FROM per_key)
    SELECT n_keys, n_rows, max_n, p50_n, p99_n,
           CAST(max_n AS DOUBLE) / n_rows AS top_key_share,
           CAST(p99_n AS DOUBLE) / p50_n AS p99_over_p50
    FROM stats
""")
def dq_key_skew(spark, sf_dir):
    """Join/agg-key skew diagnostic: the per-key row-count distribution
    (max, discrete p50/p99, top-key share) — the stats pass that decides
    whether a key needs salting (join_salted_skew / agg_salted_skew) or
    AQE skew handling before a 100 TB shuffle is attempted.  Discrete
    percentiles keep values observed (bit-identical cross-engine); the
    two ratios are single divisions of exact integers.  Plan: one
    key-shuffle count, then a 1-row global agg — the fact moves once."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    return (per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long").alias("p50_n"),     # Spark returns double; DuckDB
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
        .cast("long").alias("p99_n"))     # keeps the input's bigint
        .select("n_keys", "n_rows", "max_n", "p50_n", "p99_n",
                (F.col("max_n").cast("double") / F.col("n_rows"))
                .alias("top_key_share"),
                (F.col("p99_n").cast("double") / F.col("p50_n"))
                .alias("p99_over_p50")))


@query("histogram_equidepth", """
    WITH edges AS (
      SELECT quantile_disc(o_totalprice, 0.25) AS e1,
             quantile_disc(o_totalprice, 0.50) AS e2,
             quantile_disc(o_totalprice, 0.75) AS e3
      FROM orders)
    SELECT CASE WHEN o_totalprice <= e1 THEN 0
                WHEN o_totalprice <= e2 THEN 1
                WHEN o_totalprice <= e3 THEN 2
                ELSE 3 END AS bucket,
           count(*) AS n,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
    FROM orders, edges GROUP BY bucket
""")
def histogram_equidepth(spark, sf_dir):
    """EQUI-DEPTH histogram (quartile buckets) — the optimizer-stats /
    data-profiling twin of histogram_dynamic_bins' equi-width form:
    edges are exact discrete quartiles of the column, so buckets hold
    ~equal row counts whatever the value distribution.  The 1-row edge
    aggregate broadcasts back onto the fact (kilobytes move, the fact
    scans twice only in plan text — AQE reuses the exchange).  Discrete
    quantile edges are observed values: deterministic bucketing with
    no rounding rule; min/max go through decimal for the hash."""
    o = _t(spark, sf_dir, "orders")
    edges = o.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("e1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("e2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("e3"))
    bucket = (F.when(F.col("o_totalprice") <= F.col("e1"), 0)
              .when(F.col("o_totalprice") <= F.col("e2"), 1)
              .when(F.col("o_totalprice") <= F.col("e3"), 2)
              .otherwise(3))
    return (o.crossJoin(F.broadcast(edges))
            .select(bucket.alias("bucket"), "o_totalprice")
            .groupBy("bucket").agg(
                F.count("*").alias("n"),
                F.min(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("lo"),
                F.max(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("hi")))


@query("join_temporal_scd2", """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'),
    d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             o.o_totalprice AS old_price, n.o_totalprice AS new_price,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
                  ELSE 'unchanged' END AS cls
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey),
    hist AS (
      SELECT k AS o_orderkey, old_price AS o_totalprice,
             1 AS valid_from,
             CASE WHEN cls IN ('changed', 'removed') THEN 2 END AS valid_to
      FROM d WHERE cls <> 'added'
      UNION ALL
      SELECT k, new_price, 2, NULL FROM d WHERE cls IN ('changed', 'added')),
    facts AS (
      SELECT l_orderkey, 1 + (l_linenumber % 2) AS v, l_quantity
      FROM lineitem)
    SELECT f.v,
           count(*) AS n_lines,
           CAST(SUM(CAST(h.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price_at_v
    FROM facts f JOIN hist h
      ON h.o_orderkey = f.l_orderkey
     AND h.valid_from <= f.v
     AND (h.valid_to IS NULL OR f.v < h.valid_to)
    GROUP BY f.v
""")
def join_temporal_scd2(spark, sf_dir):
    """Temporal (point-in-version) join against the SCD Type-2 history:
    each fact row carries a version stamp and joins the dimension row
    VALID AT that version — ``valid_from <= v < valid_to`` with an open
    current row — the lookup pattern every SCD2 warehouse query needs
    (as-of on a versioned dimension rather than a timestamp).

    The validity predicate rides as a residual condition on the
    o_orderkey equi hash join: no range-join explosion, one key shuffle
    (the history reuses scd2_build's single-exchange plan).  Version
    stamps derive from l_linenumber so both engines see the same facts;
    price sums go through decimal per the registry rule."""
    hist = scd2_build(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    facts = li.select("l_orderkey",
                      (F.lit(1) + F.col("l_linenumber") % 2).alias("v"),
                      "l_quantity")
    h = hist.alias("h")
    f = facts.alias("f")
    return (f.join(h, (F.col("h.o_orderkey") == F.col("f.l_orderkey"))
                   & (F.col("h.valid_from") <= F.col("f.v"))
                   & (F.col("h.valid_to").isNull()
                      | (F.col("f.v") < F.col("h.valid_to"))))
            .groupBy("v").agg(
                F.count("*").alias("n_lines"),
                dsum("h.o_totalprice").alias("sum_price_at_v")))


@query("concurrency_peak_bucketed", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    edges AS (
      SELECT event_type, ts AS t, 1 AS delta, event_id FROM e
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta, event_id
      FROM e),
    swept AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM edges)
    SELECT event_type, CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY event_type
""")
def concurrency_peak_bucketed(spark, sf_dir):
    """concurrency_peak's 100 TB form: the same sweep-line, but the
    running sum is a TWO-LEVEL prefix sum so no window ever sorts more
    than one (event_type, day) bucket — the scalable rewrite of any
    global cumulative aggregate.  Level 1: within-bucket running sum
    (window partitioned by type+day — bounded sort width).  Level 2:
    per-bucket delta totals (a #buckets-sized aggregate) prefix-summed
    and joined back as each bucket's carry-in.  live = carry_in +
    within_sum, identical to the global sweep — the oracle IS
    concurrency_peak's SQL, so the decomposition proves itself.
    Interval edges never cross buckets here only because closes are
    +30min; boundary-spanning intervals would add their own +1/-1 at
    the bucket edge (open at bucket start, close at entry)."""
    ev = _t(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"),
                      F.lit(1).alias("delta"), "event_id")
    closes = ev.select("event_type",
                       (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
                       F.lit(-1).alias("delta"), "event_id")
    edges = (opens.unionByName(closes)
             .withColumn("bucket", F.date_trunc("day", F.col("t"))))
    in_bucket = (Window.partitionBy("event_type", "bucket")
                 .orderBy("t", "delta", "event_id")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bucket_totals = (edges.groupBy("event_type", "bucket")
                     .agg(F.sum("delta").alias("bucket_delta")))
    prior = (Window.partitionBy("event_type").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    carry = bucket_totals.select(
        "event_type", "bucket",
        F.coalesce(F.sum("bucket_delta").over(prior), F.lit(0))
        .alias("carry_in"))
    swept = (edges
             .withColumn("within", F.sum("delta").over(in_bucket))
             .join(F.broadcast(carry), ["event_type", "bucket"])
             .select("event_type",
                     (F.col("carry_in") + F.col("within")).alias("live")))
    return swept.groupBy("event_type").agg(
        F.max("live").alias("peak_concurrent"))


@query("markov_event_transitions", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
      FROM e),
    pairs AS (
      SELECT cur, nxt, count(*) AS n FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    totals AS (SELECT cur, SUM(n) AS tot FROM pairs GROUP BY cur)
    SELECT p.cur, p.nxt, p.n,
           CAST(p.n AS DOUBLE) / t.tot AS prob
    FROM pairs p JOIN totals t ON p.cur = t.cur
""")
def markov_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next = b | current = a) — the behavioral-model
    companion to funnel_ordered_steps (funnels test one fixed path,
    the transition matrix scores every path).  One window pass (lead
    over the user timeline, tiebroken by event_id) and two tiny
    aggregates; probabilities are single divisions of exact counts.
    At 100 TB: the window partitions by user (high cardinality), and
    the matrix itself is #event_types^2 rows — broadcastable output."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", F.col("event_type").alias("cur"),
                    F.lead("event_type").over(w).alias("nxt"))
    pairs = (seq.filter(F.col("nxt").isNotNull())
             .groupBy("cur", "nxt").agg(F.count("*").alias("n")))
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("tot"))
    return (pairs.join(F.broadcast(totals), "cur")
            .select("cur", "nxt", "n",
                    (F.col("n").cast("double") / F.col("tot")).alias("prob")))


@query("wau_sliding_distinct", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM e),
    contrib AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS report_day
      FROM user_days),
    span AS (SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
             FROM e)
    SELECT c.report_day, count(*) AS wau
    FROM contrib c, span
    WHERE c.report_day BETWEEN span.mn AND span.mx
    GROUP BY c.report_day
""")
def wau_sliding_distinct(spark, sf_dir):
    """EXACT rolling 7-day active users per day (WAU) — the sliding
    COUNT(DISTINCT) that win_cumulative_distinct's first-seen trick
    cannot express (users re-enter and leave the window).  Rewrite:
    each distinct (user, active-day) pair CONTRIBUTES to the 7 report
    days it covers (explode of a 7-element date sequence), and a
    distinct (user, report_day) count collapses multi-active users.
    Data grows by at most 7x the distinct user-day pairs — already a
    dedup'd, metadata-scale relation, never the fact table — and the
    count itself is one hash agg.  Report days clamp to the observed
    span so every row is a fully-covered-or-truncated real day."""
    ev = _t(spark, sf_dir, "events")
    user_days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    contrib = (user_days
               .select("user_id", F.explode(F.sequence(
                   F.col("d"), F.date_add(F.col("d"), 6))).alias("report_day"))
               .distinct())
    span = ev.agg(F.min(F.col("ts").cast("date")).alias("mn"),
                  F.max(F.col("ts").cast("date")).alias("mx"))
    return (contrib.crossJoin(F.broadcast(span))
            .filter(F.col("report_day").between(F.col("mn"), F.col("mx")))
            .groupBy("report_day").agg(F.count("*").alias("wau")))


@query("anomaly_mad_outliers", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    med AS (SELECT event_type, quantile_disc(value, 0.5) AS m
            FROM e GROUP BY event_type),
    dev AS (SELECT e.event_type, abs(e.value - med.m) AS ad
            FROM e JOIN med ON e.event_type = med.event_type),
    mad AS (SELECT event_type, quantile_disc(ad, 0.5) AS mad_v
            FROM dev GROUP BY event_type)
    SELECT d.event_type, count(*) AS n, mad.mad_v,
           CAST(SUM(CASE WHEN d.ad > 3 * mad.mad_v THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type, mad.mad_v
""")
def anomaly_mad_outliers(spark, sf_dir):
    """Robust outlier detection by MEDIAN ABSOLUTE DEVIATION: flag
    values whose |x - median| exceeds 3x the MAD — the
    breakdown-resistant alternative to z-scores (one wild shard can't
    move the threshold, unlike mean/stddev; complements winsorized_avg
    which clips rather than flags).  Two grouped discrete-median
    passes with a #groups-sized broadcast between them; every
    comparison is on identically-computed doubles (abs/3x are
    deterministic IEEE ops, disc medians are observed values), so no
    rounding rule.  At 100 TB each pass is one group-key sort;
    percentile_approx swaps in when exactness can yield."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("m"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", F.abs(F.col("value") - F.col("m")).alias("ad")))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)").alias("mad_v"))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type", "mad_v")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("ad") > 3 * F.col("mad_v"), 1)
                       .otherwise(0)).alias("n_outliers"))
            .select("event_type", "n", "mad_v", "n_outliers"))


@query("ts_resample_ohlc", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                 ts, event_id, value FROM e),
    rn AS (SELECT *,
             row_number() OVER (PARTITION BY event_type, hour
               ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, hour
               ORDER BY ts DESC, event_id DESC) AS rl
           FROM h)
    SELECT event_type, hour,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           count(*) AS n
    FROM rn GROUP BY event_type, hour
""")
def ts_resample_ohlc(spark, sf_dir):
    """Hourly OHLC resampling (open/high/low/close + count per
    event_type) — the canonical time-series downsampling shape.
    Open/close are first/last BY TIME with event_id tiebreaks, taken
    via row_number flags folded into the same aggregate (one window
    sort per (type, hour) partition serves both directions; MAX over
    a single flagged value is order-free), so both engines pick
    identical rows; high/low are plain min/max of raw doubles.  At
    100 TB the partition key is (type, bucket): bounded sort width by
    construction, and the result is the downsampled series."""
    ev = _t(spark, sf_dir, "events")
    h = ev.select("event_type", F.date_trunc("hour", "ts").alias("hour"),
                  "ts", "event_id", "value")
    wf = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("ts"), F.desc("event_id"))
    rn = h.select("*", F.row_number().over(wf).alias("rf"),
                  F.row_number().over(wl).alias("rl"))
    return (rn.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n")))


@query("merge_upsert_cdc", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    base AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e WHERE ts < TIMESTAMP '2024-01-20 00:00:00')
      WHERE rn = 1),
    ch AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM e WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
              AND ts < TIMESTAMP '2024-01-27 00:00:00'),
    last_ch AS (
      SELECT user_id, op, value, n_changes FROM (
        SELECT user_id, op, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_changes
        FROM ch)
      WHERE rn = 1)
    SELECT COALESCE(b.user_id, c.user_id) AS user_id,
           CASE WHEN c.user_id IS NULL THEN b.value ELSE c.value END AS value,
           CASE WHEN c.user_id IS NULL THEN 'kept'
                WHEN b.user_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS src,
           CAST(COALESCE(c.n_changes, 0) AS INTEGER) AS n_changes
    FROM base b FULL OUTER JOIN last_ch c ON b.user_id = c.user_id
    WHERE c.op IS NULL OR c.op <> 'D'
""")
def merge_upsert_cdc(spark, sf_dir):
    """MERGE INTO without a table format: apply a CDC changeset to a
    base snapshot with latest-wins-per-key semantics — the primitive
    every incremental materialization / foreachBatch-upsert sink runs,
    and the natural consumer of snapshot_diff's 'added'+'changed'
    classes.  Base = each user's last value before the cutoff;
    changes = the following week's events mapped to ops ('error' rows
    delete the key, everything else upserts its value); the LATEST
    change per key wins (ts, event_id ordering pins ties), deletes
    drop the key, updates overwrite, inserts add — one FULL OUTER join
    applies the whole set.

    Scale shape: both the base compaction and the change compaction
    are per-key windows over bounded per-user event runs (no global
    sort); the merge is one equi join on the key — at 100 TB both
    sides arrive hash-partitioned by user_id from their windows, so
    the join reuses the exchange, and a real deployment runs it per
    date-partition with the changeset broadcast when small (the
    foreachBatch micro-batch case).  Latest-wins via row_number is
    deliberate here: CDC batches are per-key SMALL (bounded by the
    batch window), unlike the corpus-wide hot-fingerprint case where
    this repo uses min/max aggregates instead."""
    e = _t(spark, sf_dir, "events")
    t1 = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2024-01-27 00:00:00").cast("timestamp_ntz")
    w = (Window.partitionBy("user_id")
         .orderBy(F.desc("ts"), F.desc("event_id")))
    base = (e.filter(F.col("ts") < t1)
            .select("user_id", "value", "ts", "event_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "value"))
    ch = (e.filter((F.col("ts") >= t1) & (F.col("ts") < t2))
          .select("user_id", "ts", "event_id", "value",
                  F.when(F.col("event_type") == "error", "D")
                  .otherwise("U").alias("op")))
    wcnt = Window.partitionBy("user_id")
    last_ch = (ch
               .withColumn("rn", F.row_number().over(w))
               .withColumn("n_changes", F.count("*").over(wcnt))
               .filter(F.col("rn") == 1)
               .select("user_id", "op", "value", "n_changes"))
    b, c = base.alias("b"), last_ch.alias("c")
    return (b.join(c, F.col("b.user_id") == F.col("c.user_id"), "full_outer")
            .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
            .select(
                F.coalesce(F.col("b.user_id"), F.col("c.user_id"))
                .alias("user_id"),
                F.when(F.col("c.user_id").isNull(), F.col("b.value"))
                .otherwise(F.col("c.value")).alias("value"),
                F.when(F.col("c.user_id").isNull(), "kept")
                .when(F.col("b.user_id").isNull(), "inserted")
                .otherwise("updated").alias("src"),
                F.coalesce(F.col("c.n_changes"), F.lit(0)).cast("int")
                .alias("n_changes")))


@query("ivm_agg_refresh", """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
""")
def ivm_agg_refresh(spark, sf_dir):
    """Incremental view maintenance for a grouped aggregate: refresh a
    materialized per-priority (count, sum) rollup by FOLDING a delta
    batch's partial aggregates into the stored base state — one full
    outer join on the group key, counts add, exact decimal sums add —
    instead of re-aggregating history.  The oracle is the full
    recompute over all of ``orders``; the fold produces it bitwise
    because count and decimal-sum are the mergeable-by-addition state
    family (the same algebra streaming/momentstate.py exploits
    per-micro-batch; this is its batch refresh face, and the reason
    the base aggregate can be STORED: fold(state, agg(delta)) ==
    agg(base UNION delta)).

    Here base/delta both derive from the table with a date cutoff —
    in production the base side is the previously-materialized
    aggregate readback, so refresh cost is O(delta) + a join against a
    #groups-sized table: at 100 TB the delta agg map-side-combines
    within the new partition's files and the history is never
    rescanned.  MIN/MAX fold the same way; AVG ships as (sum, count);
    quantiles/distincts need the sketch family (HDR/HLL) — the
    non-mergeable exact forms are exactly what this pattern cannot
    refresh, which is why those live as sketches in this repo."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")
    def part(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
    base = part(o.filter(F.col("o_orderdate") < cutoff))
    delta = part(o.filter(F.col("o_orderdate") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    return (b.join(d, F.col("b.o_orderpriority") == F.col("d.o_orderpriority"),
                   "full_outer")
            .select(
                F.coalesce(F.col("b.o_orderpriority"),
                           F.col("d.o_orderpriority"))
                .alias("o_orderpriority"),
                (F.coalesce(F.col("b.n"), F.lit(0))
                 + F.coalesce(F.col("d.n"), F.lit(0)))
                .cast("bigint").alias("n_orders"),
                (F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(18,2)"))
                 + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(18,2)")))
                .cast("double").alias("total_price")))


@query("privacy_k_anonymity", """
    WITH qi AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      FROM customer),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS INTEGER) AS group_size
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band)
    SELECT c_nationkey, c_mktsegment, bal_band, group_size,
           CAST(CASE WHEN group_size >= 5 THEN 1 ELSE 0 END AS INTEGER)
             AS meets_k
    FROM g
""")
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier combination
    (nation, market segment, $1000 balance band): every QI equivalence
    class with its size and whether it meets k — the groups a release
    pipeline must suppress or generalize before publishing, and the
    privacy counterpart of the PII scrub (text_pii_scrub handles
    direct identifiers; this handles re-identification by combination).

    Plan shape: ONE map-side-combinable hash agg on the QI tuple —
    the shuffle carries one row per (task, QI class), group cardinality
    is the product of the generalization levels (bounded by design:
    that is what generalization is FOR), so the audit costs one scan at
    any corpus size.  Suppression-rate rollups are a second tiny agg
    over this result."""
    c = _t(spark, sf_dir, "customer")
    g = (c.select("c_nationkey", "c_mktsegment",
                  F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
                  .alias("bal_band"))
         .groupBy("c_nationkey", "c_mktsegment", "bal_band")
         .agg(F.count("*").cast("int").alias("group_size")))
    return g.select(
        "c_nationkey", "c_mktsegment", "bal_band", "group_size",
        F.when(F.col("group_size") >= 5, 1).otherwise(0).cast("int")
        .alias("meets_k"))


@query("privacy_l_diversity", """
    WITH qi AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS sens
      FROM customer),
    per_sens AS (
      SELECT c_nationkey, bal_band, sens,
             CAST(count(*) AS BIGINT) AS cnt
      FROM qi GROUP BY c_nationkey, bal_band, sens),
    per_group AS (
      SELECT c_nationkey, bal_band,
             CAST(SUM(cnt) AS BIGINT) AS group_size,
             CAST(count(*) AS INTEGER) AS n_sensitive,
             CAST(max(cnt) AS BIGINT) AS max_sens
      FROM per_sens GROUP BY c_nationkey, bal_band)
    SELECT c_nationkey, bal_band, group_size, n_sensitive,
           round(max_sens / CAST(group_size AS DOUBLE), 6)
             AS top_sens_share,
           CAST(CASE WHEN n_sensitive >= 3 THEN 1 ELSE 0 END AS INTEGER)
             AS meets_l
    FROM per_group
""")
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit (l=3) complementing privacy_k_anonymity:
    k-anonymity alone fails when every member of a large-enough QI
    class shares the same sensitive value (homogeneity attack —
    Machanavajjhala et al.), so each (nation, balance-band) class is
    scored on the number of DISTINCT sensitive values (market segment
    as the stand-in sensitive attribute) plus the top sensitive-value
    share, the statistic recursive (c,l)-diversity thresholds.

    Plan shape: two stacked map-side-combinable hash aggs — per
    (QI, sensitive) counts collapse first (the shuffle carries one row
    per distinct combination, NOT per person), then per-QI
    sum/count/max over that collapsed table; no count-distinct
    expansion, no window.  At 100 TB both shuffles stay bounded by the
    generalization-level product × sensitive-domain size."""
    c = _t(spark, sf_dir, "customer")
    per_sens = (c.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        .alias("bal_band"),
        F.col("c_mktsegment").alias("sens"))
        .groupBy("c_nationkey", "bal_band", "sens")
        .agg(F.count("*").alias("cnt")))
    per_group = (per_sens.groupBy("c_nationkey", "bal_band")
                 .agg(F.sum("cnt").cast("bigint").alias("group_size"),
                      F.count("*").cast("int").alias("n_sensitive"),
                      F.max("cnt").cast("bigint").alias("max_sens")))
    return per_group.select(
        "c_nationkey", "bal_band", "group_size", "n_sensitive",
        F.round(F.col("max_sens") / F.col("group_size").cast("double"), 6)
        .alias("top_sens_share"),
        F.when(F.col("n_sensitive") >= 3, 1).otherwise(0).cast("int")
        .alias("meets_l"))


@query("dq_schema_drift", """
    WITH old AS (SELECT * FROM orders
                 WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    new AS (SELECT * FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
    so AS (
      SELECT 'o_totalprice' AS col,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count(o_totalprice) AS BIGINT) AS nulls,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_card,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS mean_price
      FROM old),
    sn AS (
      SELECT 'o_totalprice' AS col,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count(o_totalprice) AS BIGINT) AS nulls,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_card,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS mean_price
      FROM new)
    SELECT so.col,
           so.n AS old_n, sn.n AS new_n,
           so.nulls AS old_nulls, sn.nulls AS new_nulls,
           so.status_card AS old_card, sn.status_card AS new_card,
           round(so.mean_price, 4) AS old_mean,
           round(sn.mean_price, 4) AS new_mean,
           CAST(CASE WHEN so.status_card <> sn.status_card
                       OR abs(sn.mean_price - so.mean_price)
                          > 0.1 * abs(so.mean_price)
                     THEN 1 ELSE 0 END AS INTEGER) AS drifted
    FROM so JOIN sn ON so.col = sn.col
""")
def dq_schema_drift(spark, sf_dir):
    """Statistical drift check between two snapshot windows of the same
    table (pre/post a date cutoff standing in for yesterday/today):
    row count, null count, categorical cardinality, and decimal-exact
    mean per monitored column, with a drift verdict (cardinality
    change OR >10% mean shift) — the data-quality gate an ingestion
    pipeline runs before promoting a new partition, complementing
    dq_expectations (fixed invariants) with version-over-version
    comparison.

    Plan shape: one aggregate per snapshot (both map-side combinable,
    pushed date filters at the scan), joined on the 1-row profile —
    at 100 TB each profile is a single scan and the comparison is
    metadata-sized.  Extending to more columns widens the agg, not the
    shuffle."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp_ntz")

    def profile(df):
        return df.agg(
            F.count("*").cast("bigint").alias("n"),
            (F.count("*") - F.count("o_totalprice")).cast("bigint")
            .alias("nulls"),
            F.countDistinct("o_orderstatus").cast("bigint")
            .alias("status_card"),
            (dsum("o_totalprice") / F.count("*")).alias("mean_price"))

    so = profile(o.filter(F.col("o_orderdate") < cut))
    sn = (profile(o.filter(F.col("o_orderdate") >= cut))
          .select(F.col("n").alias("new_n"),
                  F.col("nulls").alias("new_nulls"),
                  F.col("status_card").alias("new_card"),
                  F.col("mean_price").alias("new_mean_raw")))
    drift = F.when(
        (F.col("status_card") != F.col("new_card"))
        | (F.abs(F.col("new_mean_raw") - F.col("mean_price"))
           > 0.1 * F.abs(F.col("mean_price"))), 1).otherwise(0)
    return (so.crossJoin(F.broadcast(sn))
            .select(F.lit("o_totalprice").alias("col"),
                    F.col("n").alias("old_n"), "new_n",
                    F.col("nulls").alias("old_nulls"), "new_nulls",
                    F.col("status_card").alias("old_card"), "new_card",
                    F.round("mean_price", 4).alias("old_mean"),
                    F.round("new_mean_raw", 4).alias("new_mean"),
                    drift.cast("int").alias("drifted")))


@query("ts_seasonal_decompose", f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS INTEGER)
               AS dow,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM {EVENTS_TS} GROUP BY 1, 2),
    tr AS (
      SELECT day, dow, total,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(SUM(CAST(total AS DECIMAL(18,2))) OVER w
                            AS DOUBLE) / 7 END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    seas AS (
      SELECT dow,
             CAST(SUM(CAST(total - trend AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY dow)
    SELECT tr.day, tr.total,
           round(tr.trend, 4) AS trend,
           round(seas.seasonal, 4) AS seasonal,
           CASE WHEN tr.trend IS NOT NULL
                THEN round(tr.total - tr.trend - seas.seasonal, 4) END
             AS residual
    FROM tr JOIN seas ON tr.dow = seas.dow
""")
def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition over the daily event
    series: trend = centered 7-day moving average (only where the full
    window exists — no edge bias), seasonal = per-day-of-week mean of
    the detrended series, residual = observed - trend - seasonal — the
    decomposition behind anomaly baselines and forecast features
    (anomaly_rate_spike flags deviations; this explains them).

    Plan shape: the corpus-scale work is ONE hash agg to daily rows;
    every window after that runs over the DAY series (30 rows here;
    years of days at most), and the seasonal join is 7 rows broadcast.
    At 100 TB with many series, add the series key to every PARTITION
    BY and the same plan runs per key.  Decimal sums pin the daily
    totals and window means cross-engine; 4dp rounding absorbs the
    final float subtraction."""
    e = _t(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("total"))
             .withColumn("dow", F.dayofweek("day").cast("int")))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "dow", "total",
        F.when(F.count("*").over(w) == 7,
               dsum("total", w=w) / 7).alias("trend"))
    seas = (tr.filter(F.col("trend").isNotNull())
            .groupBy("dow")
            .agg((F.sum((F.col("total") - F.col("trend"))
                        .cast("decimal(18,6)")).cast("double")
                  / F.count("*")).alias("seasonal")))
    return (tr.join(F.broadcast(seas), "dow")
            .select("day", "total",
                    F.round("trend", 4).alias("trend"),
                    F.round("seasonal", 4).alias("seasonal"),
                    F.when(F.col("trend").isNotNull(),
                           F.round(F.col("total") - F.col("trend")
                                   - F.col("seasonal"), 4))
                    .alias("residual")))


@query("ts_forecast_snaive", f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM {EVENTS_TS} GROUP BY 1),
    mx AS (SELECT max(day) AS last_day FROM daily),
    test AS (SELECT day, total FROM daily CROSS JOIN mx
             WHERE day > last_day - INTERVAL 7 DAY),
    fc AS (SELECT day + INTERVAL 7 DAY AS day, total AS forecast
           FROM daily CROSS JOIN mx
           WHERE day > last_day - INTERVAL 14 DAY
             AND day <= last_day - INTERVAL 7 DAY)
    SELECT test.day, test.total AS actual, fc.forecast,
           round(abs(test.total - fc.forecast), 4) AS abs_err
    FROM test JOIN fc ON test.day = fc.day
""")
def ts_forecast_snaive(spark, sf_dir):
    """Seasonal-naive forecast BACKTEST: hold out the last 7 days,
    forecast each held-out day with the value from the same weekday
    one week earlier, and report per-day absolute error — the baseline
    every forecasting effort must beat before it earns complexity
    (q6_revenue_forecast's linear trend and ts_seasonal_decompose's
    components both measure themselves against exactly this).

    Plan shape: one corpus-scale agg to daily rows; the split point is
    a 1-row max broadcast; forecast = the day series joined to itself
    shifted by 7 days — everything after the first agg is
    day-series-sized.  Per-series at scale: add the key to the daily
    group-by and the self-join keys."""
    e = _t(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("total")))
    mx = daily.agg(F.max("day").alias("last_day"))
    d = daily.crossJoin(F.broadcast(mx))
    test = (d.filter(F.col("day") > F.date_sub(F.col("last_day"), 7))
            .select("day", F.col("total").alias("actual")))
    fc = (d.filter((F.col("day") > F.date_sub(F.col("last_day"), 14))
                   & (F.col("day") <= F.date_sub(F.col("last_day"), 7)))
          .select(F.date_add("day", 7).alias("day"),
                  F.col("total").alias("forecast")))
    return (test.join(fc, "day")
            .select("day", "actual", "forecast",
                    F.round(F.abs(F.col("actual") - F.col("forecast")), 4)
                    .alias("abs_err")))


import math as _math

_BENFORD_EXPECTED = {d: round(_math.log10(1.0 + 1.0 / d), 12)
                     for d in range(1, 10)}
_BENFORD_CASE = ("CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({_BENFORD_EXPECTED[d]!r} AS DOUBLE)"
    for d in range(1, 10)) + " END")


@query("dq_benford_deviation", f"""
    WITH s AS (SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1)
                           AS INT) AS digit
               FROM orders WHERE o_totalprice > 0),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM s
          GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round({_BENFORD_CASE}, 6) AS expected,
           round(abs(CAST(n AS DOUBLE) / total - {_BENFORD_CASE}), 6)
             AS abs_dev
    FROM g CROSS JOIN t ORDER BY digit
""")
def dq_benford_deviation(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the classic
    fraud/synthetic-data forensic: naturally-occurring amounts follow
    P(d) = log10(1 + 1/d), and a per-digit share that deviates flags
    fabricated or truncated values.  The expected shares are a single
    Python-computed constant table injected VERBATIM into both
    engines' expressions (no cross-engine log10 in the hash path);
    the digit comes from the decimal's string form, not float log10.

    Plan: one scan -> 9-group hash agg -> broadcast of the 1-row
    total.  At 100 TB this is a metadata-cheap monitor to run per
    ingest partition."""
    digit = F.substring(F.col("o_totalprice").cast("string"), 1, 1) \
        .cast("int").alias("digit")
    g = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_totalprice") > 0)
         .select(digit)
         .groupBy("digit").agg(F.count("*").cast("bigint").alias("n")))
    t = g.agg(F.sum("n").cast("bigint").alias("total"))
    expected = F.lit(None).cast("double")
    for d in range(1, 10):
        expected = F.when(F.col("digit") == d,
                          F.lit(_BENFORD_EXPECTED[d])).otherwise(expected)
    share = F.col("n").cast("double") / F.col("total")
    return (g.crossJoin(F.broadcast(t))
            .select("digit", "n",
                    F.round(share, 6).alias("share"),
                    F.round(expected, 6).alias("expected"),
                    F.round(F.abs(share - expected), 6).alias("abs_dev"))
            .orderBy("digit"))


@query("stat_ks_two_sample", """
    WITH s AS (SELECT l_extendedprice AS v,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
                      CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS b
               FROM lineitem WHERE l_returnflag IN ('R', 'N')),
    g AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
                 CAST(SUM(b) AS BIGINT) AS cb
          FROM s GROUP BY v),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb FROM g),
    c AS (SELECT v,
                 CAST(SUM(ca) OVER (ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cca,
                 CAST(SUM(cb) OVER (ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccb
          FROM g),
    d AS (SELECT v, abs(cca * nb - ccb * na) AS num
          FROM c CROSS JOIN t),
    w AS (SELECT v, num FROM d ORDER BY num DESC, v LIMIT 1)
    SELECT round(CAST(w.num AS DOUBLE) / (t.na * t.nb), 6) AS d_stat,
           t.na AS n_a, t.nb AS n_b,
           CAST(w.v AS DOUBLE) AS at_value
    FROM w CROSS JOIN t
""")
def stat_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the returned
    ('R') and delivered ('N') lineitems' price distributions — the
    standard nonparametric drift detector (training-data distribution
    shift between snapshots, A/B sanity).  D = max_x |F_A(x) - F_B(x)|
    computed EXACTLY: counts per distinct value, integer cumulative
    sums, and the sup as max |cumA*nb - cumB*na| over the common
    value grid — one integer division at the end, so both engines
    hash-match with no float accumulation anywhere.

    Plan: hash agg on the distinct value grid, then the repo's
    two-phase running sum (range partition + per-partition window +
    P-row broadcast offsets — no single-partition window over the
    grid), then a TakeOrderedAndProject argmax.  At 100 TB the grid
    is value-cardinality-sized and the wide data moves through one
    range exchange."""
    s = (_t(spark, sf_dir, "lineitem")
         .filter(F.col("l_returnflag").isin("R", "N"))
         .select(F.col("l_extendedprice").alias("v"),
                 F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                 .alias("a"),
                 F.when(F.col("l_returnflag") == "N", 1).otherwise(0)
                 .alias("b")))
    g = s.groupBy("v").agg(F.sum("a").cast("bigint").alias("ca"),
                           F.sum("b").cast("bigint").alias("cb"))
    t = g.agg(F.sum("ca").cast("bigint").alias("na"),
              F.sum("cb").cast("bigint").alias("nb"))
    # two-phase global running sums over the value grid (the
    # assign_contiguous_ids pattern: no single-partition window)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (g.repartitionByRange(n_parts, "v")
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "v", "pid",
        F.sum("ca").over(wrun).alias("lca"),
        F.sum("cb").over(wrun).alias("lcb"))
    woff = (Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (with_pid.groupBy("pid")
            .agg(F.sum("ca").alias("pa"), F.sum("cb").alias("pb"))
            .select("pid",
                    F.coalesce(F.sum("pa").over(woff), F.lit(0))
                    .alias("offa"),
                    F.coalesce(F.sum("pb").over(woff), F.lit(0))
                    .alias("offb")))
    c = (local.join(F.broadcast(offs), "pid")
         .select("v",
                 (F.col("lca") + F.col("offa")).cast("bigint").alias("cca"),
                 (F.col("lcb") + F.col("offb")).cast("bigint").alias("ccb")))
    d = (c.crossJoin(F.broadcast(t))
         .select("v", F.abs(F.col("cca") * F.col("nb")
                            - F.col("ccb") * F.col("na")).alias("num")))
    w = d.orderBy(F.desc("num"), "v").limit(1)
    return (w.crossJoin(F.broadcast(t))
            .select(F.round(F.col("num").cast("double")
                            / (F.col("na") * F.col("nb")), 6)
                    .alias("d_stat"),
                    F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
                    F.col("v").cast("double").alias("at_value")))


@query("stat_mann_whitney", """
    WITH s AS (SELECT value AS v,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS b
               FROM events
               WHERE event_type IN ('purchase', 'click')
                 AND value IS NOT NULL),
    g AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
                 CAST(SUM(b) AS BIGINT) AS cb
          FROM s GROUP BY v),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb FROM g),
    c AS (SELECT v, ca, cb,
                 CAST(SUM(ca + cb) OVER (ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cab
          FROM g),
    r AS (SELECT
            CAST(SUM(ca * (2 * (cab - ca - cb) + ca + cb + 1)) AS BIGINT)
              AS two_ra,
            CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS ties
          FROM c)
    SELECT t.na AS n_a, t.nb AS n_b,
           (r.two_ra - t.na * (t.na + 1)) / 2.0 AS u_stat,
           t.na * t.nb / 2.0 AS mu_u,
           round(sqrt((t.na * t.nb / 12.0)
                 * ((t.na + t.nb + 1)
                    - CAST(r.ties AS DOUBLE)
                      / ((t.na + t.nb) * (t.na + t.nb - 1.0)))), 6)
             AS sigma_u,
           round(((r.two_ra - t.na * (t.na + 1)) / 2.0
                  - t.na * t.nb / 2.0)
                 / sqrt((t.na * t.nb / 12.0)
                   * ((t.na + t.nb + 1)
                      - CAST(r.ties AS DOUBLE)
                        / ((t.na + t.nb) * (t.na + t.nb - 1.0)))), 6)
             AS z_score
    FROM r CROSS JOIN t
""")
def stat_mann_whitney(spark, sf_dir):
    """Exact two-sample Mann-Whitney U (tie-corrected normal
    approximation) between the purchase and click event-value
    distributions — the rank-based sibling of stat_ks_two_sample for
    drift detection when the difference is a location shift rather
    than an arbitrary shape change.  The rank sum uses the all-integer
    identity 2*R_A = sum_v ca*(2*prev + t + 1) over the distinct-value
    grid (prev = items strictly below v, t = tied count), so U and
    mu are exact halves of integers; only sigma and z take a sqrt,
    each a single float expression rounded at 6dp on both engines.

    Plan: the same shape as stat_ks_two_sample — hash agg onto the
    value grid, the repo's two-phase running sum (no single-partition
    window), then a 1-row rollup; at 100 TB the only wide exchange is
    the range partition of the value-cardinality grid."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "click")
                 & F.col("value").isNotNull())
         .select(F.col("value").alias("v"),
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("a"),
                 F.when(F.col("event_type") == "click", 1).otherwise(0)
                 .alias("b")))
    g = s.groupBy("v").agg(F.sum("a").cast("bigint").alias("ca"),
                           F.sum("b").cast("bigint").alias("cb"))
    t = g.agg(F.sum("ca").cast("bigint").alias("na"),
              F.sum("cb").cast("bigint").alias("nb"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (g.repartitionByRange(n_parts, "v")
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "v", "ca", "cb", "pid",
        F.sum(F.col("ca") + F.col("cb")).over(wrun).alias("lcab"))
    woff = (Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (with_pid.groupBy("pid")
            .agg(F.sum(F.col("ca") + F.col("cb")).alias("pab"))
            .select("pid",
                    F.coalesce(F.sum("pab").over(woff), F.lit(0))
                    .alias("offab")))
    tied = F.col("ca") + F.col("cb")
    c = (local.join(F.broadcast(offs), "pid")
         .select("v", "ca", "cb",
                 (F.col("lcab") + F.col("offab")).cast("bigint")
                 .alias("cab")))
    r = c.agg(
        F.sum(F.col("ca") * (2 * (F.col("cab") - tied) + tied + 1))
        .cast("bigint").alias("two_ra"),
        F.sum(tied * tied * tied - tied).cast("bigint").alias("ties"))
    na, nb = F.col("na"), F.col("nb")
    n_tot = na + nb
    u_stat = (F.col("two_ra") - na * (na + 1)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sigma = F.sqrt((na * nb / F.lit(12.0))
                   * ((n_tot + 1)
                      - F.col("ties").cast("double")
                      / (n_tot * (n_tot - F.lit(1.0)))))
    return (r.crossJoin(F.broadcast(t))
            .select(na.alias("n_a"), nb.alias("n_b"),
                    u_stat.alias("u_stat"), mu.alias("mu_u"),
                    F.round(sigma, 6).alias("sigma_u"),
                    F.round((u_stat - mu) / sigma, 6).alias("z_score")))


@query("stat_chi_square", """
    WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
               FROM documents GROUP BY lang, source),
    r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM g GROUP BY lang),
    c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM g
          GROUP BY source),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT lang) AS INT) AS n_langs,
                 CAST(count(DISTINCT source) AS INT) AS n_sources
          FROM g),
    s AS (SELECT CAST(SUM(CAST(
                 CAST(g.o AS DOUBLE) * g.o / (r.rt * c.ct)
                 AS DECIMAL(38, 18))) AS DOUBLE) AS ratio_sum
          FROM g JOIN r USING (lang) JOIN c USING (source))
    SELECT t.n, t.n_langs, t.n_sources,
           (t.n_langs - 1) * (t.n_sources - 1) AS dof,
           round(t.n * (s.ratio_sum - 1.0), 6) AS chi2,
           round(sqrt((s.ratio_sum - 1.0)
                 / least(t.n_langs - 1, t.n_sources - 1)), 6)
             AS cramers_v
    FROM s CROSS JOIN t
""")
def stat_chi_square(spark, sf_dir):
    """Chi-square test of independence on the documents lang x source
    contingency table, plus Cramer's V effect size — the categorical
    drift/bias monitor (is a crawl source over-representing a
    language?).  Uses the identity chi2 = N*(sum_cells o^2/(rt*ct) - 1),
    which needs NO dense cell grid: absent cells contribute 0 to the
    sum exactly as they should, so sparse group-by output is the whole
    computation.  Each cell ratio is one deterministic double; the
    cross-engine sum goes through DECIMAL(38,18) per the registry's
    decimal-accumulation rule.

    Plan: one scan -> (lang,source) hash agg, two metadata-sized
    rollups re-joined broadcast, 1-row result.  At 100 TB the wide
    exchange is the first agg only; everything after is
    cell-cardinality-sized."""
    g = (_t(spark, sf_dir, "documents")
         .groupBy("lang", "source")
         .agg(F.count("*").cast("bigint").alias("o")))
    r = g.groupBy("lang").agg(F.sum("o").cast("bigint").alias("rt"))
    c = g.groupBy("source").agg(F.sum("o").cast("bigint").alias("ct"))
    t = g.agg(F.sum("o").cast("bigint").alias("n"),
              F.countDistinct("lang").cast("int").alias("n_langs"),
              F.countDistinct("source").cast("int").alias("n_sources"))
    ratio = (F.col("o").cast("double") * F.col("o")
             / (F.col("rt") * F.col("ct")))
    s = (g.join(F.broadcast(r), "lang").join(F.broadcast(c), "source")
         .agg(F.sum(ratio.cast("decimal(38,18)")).cast("double")
              .alias("ratio_sum")))
    excess = F.col("ratio_sum") - F.lit(1.0)
    return (s.crossJoin(F.broadcast(t))
            .select("n", "n_langs", "n_sources",
                    ((F.col("n_langs") - 1) * (F.col("n_sources") - 1))
                    .alias("dof"),
                    F.round(F.col("n") * excess, 6).alias("chi2"),
                    F.round(F.sqrt(excess / F.least(
                        F.col("n_langs") - 1, F.col("n_sources") - 1)), 6)
                    .alias("cramers_v")))


@query("privacy_t_closeness", """
    WITH qi AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS sens
      FROM customer),
    per_sens AS (
      SELECT c_nationkey, bal_band, sens,
             CAST(count(*) AS BIGINT) AS cnt
      FROM qi GROUP BY c_nationkey, bal_band, sens),
    gtot AS (SELECT sens, CAST(SUM(cnt) AS BIGINT) AS tot
             FROM per_sens GROUP BY sens),
    n AS (SELECT CAST(SUM(tot) AS BIGINT) AS n FROM gtot),
    per_group AS (
      SELECT c_nationkey, bal_band, CAST(SUM(cnt) AS BIGINT) AS g
      FROM per_sens GROUP BY c_nationkey, bal_band),
    pres AS (
      SELECT p.c_nationkey, p.bal_band,
             CAST(SUM(abs(p.cnt * n.n - gl.tot * pg.g)) AS BIGINT)
               AS num_pres,
             CAST(SUM(gl.tot) AS BIGINT) AS tot_pres
      FROM per_sens p
      JOIN gtot gl USING (sens)
      JOIN per_group pg USING (c_nationkey, bal_band)
      CROSS JOIN n
      GROUP BY p.c_nationkey, p.bal_band)
    SELECT pg.c_nationkey, pg.bal_band, pg.g AS group_size,
           round((pr.num_pres + (n.n - pr.tot_pres) * pg.g)
                 / (2.0 * pg.g * n.n), 6) AS tv_dist,
           CAST(CASE WHEN (pr.num_pres + (n.n - pr.tot_pres) * pg.g)
                          <= 0.2 * (2.0 * pg.g * n.n)
                THEN 1 ELSE 0 END AS INTEGER) AS meets_t
    FROM pres pr
    JOIN per_group pg USING (c_nationkey, bal_band)
    CROSS JOIN n
""")
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian 2007, t=0.2)
    completing the privacy trio: l-diversity still leaks when a QI
    class's sensitive DISTRIBUTION skews far from the corpus (skewness
    attack), so each (nation, balance-band) class is scored by the
    variation distance — for categorical sensitive attributes the EMD
    under uniform ground distance — between its market-segment
    distribution and the global one.  Computed EXACTLY in integers:
    TV = (sum_present |cnt*N - tot*g| + (N - sum_present tot) * g)
    / (2*g*N), where the second term folds in every sensitive value
    ABSENT from the class without materializing a dense class x value
    grid.  One double division at the end.

    Plan: the same two stacked map-side-combinable aggs as
    l-diversity, plus a broadcast of the |domain|-row global table and
    the 1-row N — shuffles bounded by QI-product x domain size, never
    by people."""
    c = _t(spark, sf_dir, "customer")
    per_sens = (c.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        .alias("bal_band"),
        F.col("c_mktsegment").alias("sens"))
        .groupBy("c_nationkey", "bal_band", "sens")
        .agg(F.count("*").cast("bigint").alias("cnt")))
    per_sens = per_sens.localCheckpoint(eager=True)  # 3 consumers
    glob = per_sens.groupBy("sens").agg(
        F.sum("cnt").cast("bigint").alias("tot"))
    n = glob.agg(F.sum("tot").cast("bigint").alias("n"))
    per_group = per_sens.groupBy("c_nationkey", "bal_band").agg(
        F.sum("cnt").cast("bigint").alias("g"))
    pres = (per_sens
            .join(F.broadcast(glob), "sens")
            .join(per_group, ["c_nationkey", "bal_band"])
            .crossJoin(F.broadcast(n))
            .groupBy("c_nationkey", "bal_band")
            .agg(F.sum(F.abs(F.col("cnt") * F.col("n")
                             - F.col("tot") * F.col("g")))
                 .cast("bigint").alias("num_pres"),
                 F.sum("tot").cast("bigint").alias("tot_pres")))
    num = (F.col("num_pres")
           + (F.col("n") - F.col("tot_pres")) * F.col("g"))
    den = 2.0 * F.col("g") * F.col("n")
    return (pres
            .join(per_group, ["c_nationkey", "bal_band"])
            .crossJoin(F.broadcast(n))
            .select("c_nationkey", "bal_band",
                    F.col("g").alias("group_size"),
                    F.round(num / den, 6).alias("tv_dist"),
                    F.when(num <= 0.2 * den, 1).otherwise(0).cast("int")
                    .alias("meets_t")))


@query("stat_anova_oneway", """
    WITH s AS (SELECT event_type AS grp,
                      CAST(value AS DECIMAL(28,12)) AS v,
                      CAST(value * value AS DECIMAL(38,12)) AS v2
               FROM events WHERE value IS NOT NULL),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
                 SUM(v) AS s_g, SUM(v2) AS q_g
          FROM s GROUP BY grp),
    t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS INT) AS k,
                 CAST(SUM(s_g) AS DOUBLE) AS s_tot,
                 CAST(SUM(CAST((CAST(q_g AS DOUBLE)
                      - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g)
                      AS DECIMAL(38,12))) AS DOUBLE) AS ssw,
                 CAST(SUM(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                               / n_g AS DECIMAL(38,12))) AS DOUBLE)
                   AS sum_sq_over_n
          FROM g)
    SELECT k, n, k - 1 AS dof_between, n - k AS dof_within,
           round(sum_sq_over_n - s_tot * s_tot / n, 6) AS ssb,
           round(ssw, 6) AS ssw,
           round(((sum_sq_over_n - s_tot * s_tot / n) / (k - 1))
                 / (ssw / (n - k)), 6) AS f_stat,
           round((sum_sq_over_n - s_tot * s_tot / n)
                 / (ssw + sum_sq_over_n - s_tot * s_tot / n), 6)
             AS eta_sq
    FROM t
""")
def stat_anova_oneway(spark, sf_dir):
    """One-way ANOVA F-test across the five event types' value
    distributions — the k-group generalization of the two-sample
    tests (KS, Mann-Whitney) in this suite, plus the eta-squared
    effect size.  Group sums and sums-of-squares accumulate in exact
    decimals (the registry rule: per-row casts are deterministic,
    decimal addition is exact), the per-group quadratic terms are one
    double expression each re-cast to decimal for the cross-group
    sum, and F/eta take single double divisions rounded at 6dp.

    Plan: one scan -> 5-group hash agg (map-side combinable) -> 1-row
    rollup; at 100 TB this is the cheapest possible shape — the wide
    data never shuffles, only 5 partial rows per task do."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select(F.col("event_type").alias("grp"),
                 F.col("value").cast("decimal(28,12)").alias("v"),
                 (F.col("value") * F.col("value"))
                 .cast("decimal(38,12)").alias("v2")))
    g = s.groupBy("grp").agg(F.count("*").cast("bigint").alias("n_g"),
                             F.sum("v").alias("s_g"),
                             F.sum("v2").alias("q_g"))
    sq_over_n = (F.col("s_g").cast("double") * F.col("s_g").cast("double")
                 / F.col("n_g"))
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("int").alias("k"),
        F.sum("s_g").cast("double").alias("s_tot"),
        F.sum((F.col("q_g").cast("double") - sq_over_n)
              .cast("decimal(38,12)")).cast("double").alias("ssw"),
        F.sum(sq_over_n.cast("decimal(38,12)")).cast("double")
        .alias("sum_sq_over_n"))
    ssb = F.col("sum_sq_over_n") - F.col("s_tot") * F.col("s_tot") / F.col("n")
    return t.select(
        "k", "n",
        (F.col("k") - 1).alias("dof_between"),
        (F.col("n") - F.col("k")).alias("dof_within"),
        F.round(ssb, 6).alias("ssb"),
        F.round(F.col("ssw"), 6).alias("ssw"),
        F.round((ssb / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("n") - F.col("k"))), 6)
        .alias("f_stat"),
        F.round(ssb / (F.col("ssw") + ssb), 6).alias("eta_sq"))


@query("ts_holt_linear", f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM {EVENTS_TS} GROUP BY 1),
    mx AS (SELECT max(day) AS last_day FROM daily),
    train AS (
      SELECT day, total, row_number() OVER (ORDER BY day) AS i
      FROM daily CROSS JOIN mx WHERE day <= last_day - INTERVAL 7 DAY),
    nt AS (SELECT CAST(max(i) AS BIGINT) AS n, max(day) AS d0 FROM train),
    hw AS (
      SELECT 1 AS i, t1.total AS l, t2.total - t1.total AS b
      FROM train t1 JOIN train t2 ON t1.i = 1 AND t2.i = 2
      UNION ALL
      SELECT hw.i + 1,
             0.5 * t.total + 0.5 * (hw.l + hw.b),
             0.3 * ((0.5 * t.total + 0.5 * (hw.l + hw.b)) - hw.l)
               + 0.7 * hw.b
      FROM hw JOIN train t ON t.i = hw.i + 1),
    fin AS (SELECT l, b FROM hw CROSS JOIN nt WHERE i = n),
    test AS (SELECT day, total AS actual FROM daily CROSS JOIN mx
             WHERE day > last_day - INTERVAL 7 DAY)
    SELECT test.day, test.actual,
           round(fin.l + datediff('day', nt.d0, test.day) * fin.b, 4)
             AS forecast,
           round(abs(test.actual
                 - (fin.l + datediff('day', nt.d0, test.day) * fin.b)), 4)
             AS abs_err
    FROM test CROSS JOIN fin CROSS JOIN nt
""")
def ts_holt_linear(spark, sf_dir):
    """Holt's linear-trend exponential smoothing (alpha=0.5, beta=0.3)
    backtested against the last held-out week — the first ITERATIVE
    forecaster in the ts family (snaive repeats, q6 fits one global
    line; Holt adapts level and trend through time).  The recurrence
    l_t = a*v_t + (1-a)(l+b), b_t = B(l_t - l) + (1-B)b folds once
    over the day-ordered training series with IDENTICAL literal
    arithmetic on both engines: Spark as an F.aggregate lambda over
    the collected (bounded, #days-sized) series, DuckDB as a recursive
    CTE — float determinism holds because both execute the same ops
    in the same order.

    Plan: one corpus-scale agg to daily rows; the fold runs on a 1-row
    collected array (the bpe_train precedent: a deliberate bounded
    single-partition step over metadata-sized state, NOT corpus
    data); forecasts re-join the 7-row test split."""
    e = _t(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("total")))
    mx = daily.agg(F.max("day").alias("last_day"))
    d = daily.crossJoin(F.broadcast(mx))
    train = d.filter(F.col("day") <= F.date_sub(F.col("last_day"), 7))
    test = (d.filter(F.col("day") > F.date_sub(F.col("last_day"), 7))
            .select("day", F.col("total").alias("actual")))
    nt = train.agg(F.max("day").alias("d0"))
    arr = train.agg(F.sort_array(F.collect_list(
        F.struct("day", "total"))).alias("arr"))
    a = F.col("arr")
    init = F.struct(
        a[0]["total"].alias("l"),
        (a[1]["total"] - a[0]["total"]).alias("b"))
    fold = F.aggregate(
        # greatest(...,0): a degenerate train (<2 days) must not hand
        # F.slice a negative length (runtime error); the size>=2
        # filter below then drops the 1-row agg so the query emits 0
        # rows — matching the oracle, whose t1.i=1/t2.i=2 init join
        # finds no rows on the same degenerate input
        F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))), init,
        lambda acc, x: F.struct(
            (F.lit(0.5) * x["total"]
             + F.lit(0.5) * (acc["l"] + acc["b"])).alias("l"),
            (F.lit(0.3) * ((F.lit(0.5) * x["total"]
                            + F.lit(0.5) * (acc["l"] + acc["b"]))
                           - acc["l"])
             + F.lit(0.7) * acc["b"]).alias("b")))
    fin = (arr.filter(F.size(a) >= 2)
           .select(fold["l"].alias("l"), fold["b"].alias("b")))
    fc = (test.crossJoin(F.broadcast(fin)).crossJoin(F.broadcast(nt))
          .select("day", "actual",
                  (F.col("l") + F.datediff("day", F.col("d0"))
                   * F.col("b")).alias("raw")))
    return fc.select("day", "actual",
                     F.round("raw", 4).alias("forecast"),
                     F.round(F.abs(F.col("actual") - F.col("raw")), 4)
                     .alias("abs_err"))


@query("stat_spearman_rho", """
    WITH s AS (SELECT l_quantity AS x, l_extendedprice AS y
               FROM lineitem),
    gx AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY x),
    cx AS (SELECT x, t,
                  CAST(SUM(t) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS c
           FROM gx),
    rx AS (SELECT x, 2 * (c - t) + t + 1 AS r2x FROM cx),
    gy AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY y),
    cy AS (SELECT y, t,
                  CAST(SUM(t) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS c
           FROM gy),
    ry AS (SELECT y, 2 * (c - t) + t + 1 AS r2y FROM cy),
    j AS (SELECT r2x, r2y FROM s JOIN rx USING (x) JOIN ry USING (y)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(r2x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(r2x AS DECIMAL(19,0))
                          * CAST(r2y AS DECIMAL(19,0))) AS DOUBLE)
                   AS sxy,
                 CAST(SUM(CAST(r2x AS DECIMAL(19,0))
                          * CAST(r2x AS DECIMAL(19,0))) AS DOUBLE)
                   AS sxx,
                 CAST(SUM(CAST(r2y AS DECIMAL(19,0))
                          * CAST(r2y AS DECIMAL(19,0))) AS DOUBLE)
                   AS syy
          FROM j)
    SELECT n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS spearman_rho
    FROM m
""")
def stat_spearman_rho(spark, sf_dir):
    """Exact tie-aware Spearman rank correlation between lineitem
    quantity and extended price — the nonparametric monotone-
    association statistic completing the suite (KS and Mann-Whitney
    compare distributions, ANOVA compares means, chi-square tests
    independence of categoricals; Spearman measures monotone
    dependence of two numerics).  Average ranks with ties are kept in
    INTEGERS via 2*rank = 2*cnt_less + t + 1, so the Pearson-on-ranks
    identity runs on exact decimal sums of integer products (scale
    invariance of Pearson absorbs the factor 2); one double division
    and sqrt at the end.

    Plan: the fact table shuffles ONCE, onto the JOINT (x, y) value
    grid; both marginal grids, the two-phase tie-rank running sums,
    the rank joins and the final decimal moment rollup are all
    grid-sized (each joint cell carries its row count c, which
    multiplies every moment term exactly).  At 100 TB the single
    fact-sized exchange is the whole data-volume cost; the quadratic-
    looking rank work is value-cardinality-sized."""
    # ONE fact-sized shuffle total: the scan collapses straight onto
    # the JOINT (x, y) value grid, and everything after — per-variable
    # marginals, both tie-aware rank grids, the rank joins, the moment
    # rollup — is grid-sized.  The r9 shape shuffled the fact relation
    # three more times (each marginal grid agg + the two rank
    # join-backs); the moments are identical because each joint cell
    # contributes its per-row term exactly c times and the decimal
    # sums are exact and order-free (guide §2.3/§2.4).
    s = (_t(spark, sf_dir, "lineitem")
         .select(F.col("l_quantity").alias("x"),
                 F.col("l_extendedprice").alias("y")))
    g2 = (s.groupBy("x", "y").agg(F.count("*").cast("bigint").alias("c"))
          .localCheckpoint(eager=True))        # feeds both marginals + join
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def ranks(col: str, out: str):
        g = g2.groupBy(col).agg(F.sum("c").cast("bigint").alias("t"))
        with_pid = (g.repartitionByRange(n_parts, col)
                    .withColumn("pid", F.spark_partition_id())
                    .localCheckpoint())
        wrun = (Window.partitionBy("pid").orderBy(col)
                .rowsBetween(Window.unboundedPreceding, 0))
        local = with_pid.select(col, "t", "pid",
                                F.sum("t").over(wrun).alias("lc"))
        woff = (Window.orderBy("pid")
                .rowsBetween(Window.unboundedPreceding, -1))
        offs = (with_pid.groupBy("pid").agg(F.sum("t").alias("pt"))
                .select("pid",
                        F.coalesce(F.sum("pt").over(woff), F.lit(0))
                        .alias("off")))
        return (local.join(F.broadcast(offs), "pid")
                .select(col,
                        (2 * (F.col("lc") + F.col("off") - F.col("t"))
                         + F.col("t") + 1).cast("bigint").alias(out)))

    j = (g2.join(ranks("x", "r2x"), "x").join(ranks("y", "r2y"), "y"))
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    # products form in decimal(19,0) x decimal(19,0) -> decimal(38,0),
    # NOT bigint: 2n-scaled ranks square to ~4n^2, which overflows
    # int64 beyond ~1.5e9 rows while decimal carries exactly to ~1e19
    # rows (and the decimal(38,0) running sum holds 4n^3 ~ 4e36 at a
    # 1e12-row / 100 TB lineitem); the joint-cell count c multiplies
    # each term exactly, so cell sums == row sums digit for digit
    dx = F.col("r2x").cast("decimal(19,0)")
    dy = F.col("r2y").cast("decimal(19,0)")
    dc = F.col("c").cast("decimal(19,0)")
    m = j.agg(F.sum("c").cast("bigint").alias("n"),
              dec(dc * dx).alias("sx"),
              dec(dc * dy).alias("sy"),
              dec(dc * (dx * dy)).alias("sxy"),
              dec(dc * (dx * dx)).alias("sxx"),
              dec(dc * (dy * dy)).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx)
                 * (n * F.col("syy") - sy * sy))
    return m.select("n", F.round(num / den, 6).alias("spearman_rho"))


@query("stat_kendall_tau", """
    WITH s AS (SELECT l_quantity AS x, l_discount AS y FROM lineitem),
    g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY x, y),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
    tx AS (SELECT SUM(CAST(cx AS HUGEINT) * (cx - 1)) AS n1_2 FROM
           (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM g GROUP BY x)),
    ty AS (SELECT SUM(CAST(cy AS HUGEINT) * (cy - 1)) AS n2_2 FROM
           (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM g GROUP BY y)),
    cd AS (SELECT
             CAST(SUM(CASE WHEN a.y < b.y
                           THEN CAST(a.c AS HUGEINT) * b.c
                           ELSE 0 END) AS DOUBLE) AS conc,
             CAST(SUM(CASE WHEN a.y > b.y
                           THEN CAST(a.c AS HUGEINT) * b.c
                           ELSE 0 END) AS DOUBLE) AS disc
           FROM g a JOIN g b ON a.x < b.x)
    SELECT t.n, cd.conc, cd.disc,
           round(2.0 * CAST(cd.conc - cd.disc AS DOUBLE)
                 / sqrt(CAST(CAST(t.n AS HUGEINT) * (t.n - 1)
                             - tx.n1_2 AS DOUBLE)
                        * CAST(CAST(t.n AS HUGEINT) * (t.n - 1)
                               - ty.n2_2 AS DOUBLE)), 6)
             AS kendall_tau_b
    FROM cd CROSS JOIN t CROSS JOIN tx CROSS JOIN ty
""")
def stat_kendall_tau(spark, sf_dir):
    """Exact Kendall tau-b between lineitem quantity and discount —
    the concordance-based association statistic beside Spearman (rank
    correlation weights by rank distance; Kendall counts pair
    orderings, the more robust choice under heavy ties).  The naive
    O(n^2) pair count collapses to the JOINT VALUE GRID: with 50 x 11
    distinct values the <=550-cell table self-joins (x1 < x2), and
    concordant/discordant pair counts are integer products of cell
    counts — exact at any corpus size, with the doubled-ties identity
    2(C-D)/sqrt((n(n-1)-sum tx(tx-1))(n(n-1)-sum ty(ty-1))) keeping
    everything integer until one double sqrt.

    Plan: one fact-scale hash agg onto the joint grid, then a
    broadcast self-join of the ~550-row grid and three metadata
    rollups.  At 100 TB the fact table shuffles once; the quadratic
    work is grid-sized, never data-sized."""
    s = (_t(spark, sf_dir, "lineitem")
         .select(F.col("l_quantity").alias("x"),
                 F.col("l_discount").alias("y")))
    g = (s.groupBy("x", "y").agg(F.count("*").cast("bigint").alias("c"))
         .localCheckpoint(eager=True))  # grid feeds 4 consumers
    t = g.agg(F.sum("c").cast("bigint").alias("n"))
    # tie terms and pair counts multiply in decimal(19,0), never
    # bigint: cell counts scale with n, so cx*(cx-1) and ca*cb reach
    # ~n^2 — past int64 at n > ~3e9 rows; decimal(38,0) carries the
    # products (and their grid-sized sums) exactly to ~1e19 rows
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    tx = (g.groupBy("x").agg(F.sum("c").cast("bigint").alias("cx"))
          .agg(F.sum(d19("cx") * (d19("cx") - 1)).cast("decimal(38,0)")
               .alias("n1_2")))
    ty = (g.groupBy("y").agg(F.sum("c").cast("bigint").alias("cy"))
          .agg(F.sum(d19("cy") * (d19("cy") - 1)).cast("decimal(38,0)")
               .alias("n2_2")))
    a = g.select(F.col("x").alias("xa"), F.col("y").alias("ya"),
                 F.col("c").alias("ca"))
    b = g.select(F.col("x").alias("xb"), F.col("y").alias("yb"),
                 F.col("c").alias("cb"))
    cd = (a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
          .agg(F.sum(F.when(F.col("ya") < F.col("yb"),
                            d19("ca") * d19("cb")).otherwise(0))
               .cast("decimal(38,0)").cast("double").alias("conc"),
               F.sum(F.when(F.col("ya") > F.col("yb"),
                            d19("ca") * d19("cb")).otherwise(0))
               .cast("decimal(38,0)").cast("double").alias("disc")))
    dn = F.col("n").cast("decimal(19,0)")
    tau = (2.0 * (F.col("conc") - F.col("disc")).cast("double")
           / F.sqrt((dn * (dn - 1) - F.col("n1_2")).cast("double")
                    * (dn * (dn - 1) - F.col("n2_2")).cast("double")))
    return (cd.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(tx))
            .crossJoin(F.broadcast(ty))
            .select("n", "conc", "disc",
                    F.round(tau, 6).alias("kendall_tau_b")))


_POIS_CUM = [0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
             0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508]
_N_BOOT = 32
_BOOT_HASHES = _N_BOOT // 4   # one md5 yields FOUR 8-hex uniforms


def _pois_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CUM))
    return f"(CASE {branches} ELSE {len(_POIS_CUM)} END)"


def boot_hash_cols():
    """The 8 per-row md5 columns every replicate's uniform is sliced
    from — computed ONCE per row in a codegen'd projection (32 md5s
    per row measured 4x slower; shared with the streaming state)."""
    return [F.md5(F.concat_ws("-", F.col("event_id").cast("string"),
                              F.lit(str(g)))).alias(f"h{g}")
            for g in range(_BOOT_HASHES)]


def boot_weight(rep: int):
    """Poisson(1) weight for replicate ``rep`` over the projected hash
    columns: uniform = 8 hex chars at slot rep%4 of md5 column
    h{rep//4}, thresholded by the shared inverse-CDF literals."""
    g, slot = rep // 4, rep % 4
    u = (F.conv(F.substring(F.col(f"h{g}"), slot * 8 + 1, 8), 16, 10)
         .cast("bigint") / F.lit(4294967296.0))
    w = F.lit(len(_POIS_CUM))
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(w)
    return w


@query("stat_bootstrap_ci", f"""
    WITH s AS (SELECT event_id, value FROM events
               WHERE value IS NOT NULL),
    reps AS (SELECT CAST(unnest(generate_series(0, {_N_BOOT - 1}))
                    AS INT) AS rep),
    w AS (SELECT r.rep, s.value,
                 {_pois_w_sql(
                     "(CAST('0x' || substr(md5(s.event_id || '-' ||"
                     " (r.rep // 4)), (r.rep % 4) * 8 + 1, 8)"
                     " AS BIGINT) / 4294967296.0)")} AS wt
          FROM s CROSS JOIN reps r)
    SELECT rep, CAST(SUM(wt) AS BIGINT) AS n_eff,
           round(CAST(SUM(CAST(wt * value AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(wt), 6) AS boot_mean
    FROM w GROUP BY rep ORDER BY rep
""")
def stat_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap (Chamandy et al. 2012 — THE resampling scheme
    for data too large to index): each of 32 replicates reweights
    every row by an independent Poisson(1) draw derived
    deterministically from md5(event_id, rep-group), so resampling
    needs no shuffle of the data and no global row count.  The oracle
    formulates it as a rep x rows cross join; the Spark side computes
    ALL 32 replicate sums in ONE scan — zero row blowup, which is the
    entire point at 100 TB (the replicate spread is the standard
    error of the mean, free with the pass you were already making).

    Performance shape, measured at sf0.1 (18 s -> 1.3 s warm): one
    md5 per row per FOUR replicates (each digest yields four 8-hex
    uniforms), weights computed once in a codegen'd projection rather
    than inside 64 aggregate expressions, and an explicit repartition
    so the per-row expression work rides every core (a single-file
    local scan otherwise runs the whole projection on one task; a
    100 TB scan is naturally thousands of partitions).

    Determinism: the Poisson inverse-CDF thresholds are shared decimal
    literals; the uniforms are 8-hex md5 slices over 2^32; the
    weighted sums fold through DECIMAL(28,12)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_id", "value")
         .repartition(n_parts))
    proj = (s.select("value", *boot_hash_cols())
            .select("value", *[boot_weight(r).alias(f"w{r}")
                               for r in range(_N_BOOT)]))
    aggs = []
    for r in range(_N_BOOT):
        aggs.append(F.sum(f"w{r}").cast("bigint").alias(f"n{r}"))
        aggs.append(F.sum((F.col(f"w{r}") * F.col("value"))
                          .cast("decimal(28,12)")).cast("double")
                    .alias(f"s{r}"))
    one = proj.agg(*aggs)
    pairs = ", ".join(f"{r}, n{r}, s{r}" for r in range(_N_BOOT))
    return (one.selectExpr(
        f"stack({_N_BOOT}, {pairs}) AS (rep, n_eff, wsum)")
        .select(F.col("rep").cast("int").alias("rep"), "n_eff",
                F.round(F.col("wsum") / F.col("n_eff"), 6)
                .alias("boot_mean"))
        .orderBy("rep"))


@query("dq_referential_integrity", """
    SELECT 'lineitem->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
             AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey
""")
def dq_referential_integrity(spark, sf_dir):
    """Foreign-key orphan audit across the fact->dim chain — the DQ
    battery's missing referential check (dq_profile/dq_expectations
    cover columns; this covers RELATIONSHIPS).  Each edge is one left
    join counting rows whose key finds no parent; on healthy TPC-H
    data every orphan count is 0, and the zero IS the assertion a
    pipeline gates on before joining these tables innerly (an inner
    join silently DROPS orphans — this query is how you notice).

    Plan: the dim sides broadcast (orders at sf is the one real
    shuffle); counts are 1-row aggregates unioned."""
    def edge(name, fact, fkey, dim, pkey):
        f = _t(spark, sf_dir, fact)
        d = _t(spark, sf_dir, dim).select(pkey)
        j = f.join(d, f[fkey] == d[pkey], "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(F.when(F.col(pkey).isNull(), 1)).cast("bigint")
            .alias("n_orphans")).select("fk", "n_rows", "n_orphans")

    return (edge("lineitem->orders", "lineitem", "l_orderkey",
                 "orders", "o_orderkey")
            .unionByName(edge("orders->customer", "orders", "o_custkey",
                              "customer", "c_custkey"))
            .unionByName(edge("customer->nation", "customer",
                              "c_nationkey", "nation", "n_nationkey")))


@query("win_streak_islands", f"""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('day', ts) AS DATE) AS day
               FROM {EVENTS_TS}),
    r AS (SELECT user_id, day,
                 row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS rn
          FROM d),
    i AS (SELECT user_id, day - CAST(rn AS INT) AS anchor FROM r),
    g AS (SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
          FROM i GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM g GROUP BY user_id
""")
def win_streak_islands(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    canonical GAPS-AND-ISLANDS pattern (day minus its per-user rank is
    constant exactly along a consecutive run), the engagement metric
    behind every retention dashboard.  No self-join and no per-day
    state: one distinct, one per-user window, two hash aggs.

    Plan: the (user, day) distinct and the window share the user
    exchange; everything after is active-days-sized.  At 100 TB the
    pattern matters because the naive alternative (self-join on
    day+1) is a fact-squared join."""
    ev = _t(spark, sf_dir, "events")
    d = (ev.select("user_id",
                   F.date_trunc("day", "ts").cast("date").alias("day"))
         .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    i = d.select("user_id",
                 F.date_sub("day", F.row_number().over(w)).alias("anchor"))
    g = (i.groupBy("user_id", "anchor")
         .agg(F.count("*").cast("bigint").alias("len")))
    return (g.groupBy("user_id")
            .agg(F.sum("len").cast("bigint").alias("n_active_days"),
                 F.max("len").cast("bigint").alias("longest_streak"),
                 F.count("*").cast("bigint").alias("n_streaks")))


@query("stat_ab_srm", """
    WITH a AS (SELECT user_id,
                      CAST(CAST('0x' || substr(md5('exp1-' || user_id), 1, 8)
                           AS BIGINT) % 2 AS INT) AS arm
               FROM (SELECT DISTINCT user_id FROM events)),
    g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY arm),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
    SELECT CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_control,
           CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_treat,
           round(CAST(SUM(CAST(CAST((n - tot / 2.0) * (n - tot / 2.0)
                      AS DOUBLE) / (tot / 2.0) AS DECIMAL(38,18)))
                 AS DOUBLE), 6) AS srm_chi2
    FROM g CROSS JOIN t
""")
def stat_ab_srm(spark, sf_dir):
    """Deterministic hash-based A/B assignment plus the sample-ratio-
    mismatch chi-square — the first gate every experiment readout must
    pass (a biased split invalidates all downstream deltas; SRM is the
    standard detector).  Assignment is md5('exp1-' || user_id) mod 2:
    stable across sessions, engines and reruns, no state, no
    coordination — exactly how bucketing works at fleet scale.  The
    chi2 against the 50/50 expectation folds through DECIMAL(38,18).

    Plan: distinct users -> 2-group agg -> 1-row rollup; the expensive
    step is the distinct, which shares the user exchange every cohort
    query already pays."""
    users = (_t(spark, sf_dir, "events")
             .select("user_id").distinct())
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2).cast("int")
    g = (users.select(arm.alias("arm"))
         .groupBy("arm").agg(F.count("*").cast("bigint").alias("n")))
    t = g.agg(F.sum("n").cast("bigint").alias("tot"))
    exp = F.col("tot") / F.lit(2.0)
    term = (((F.col("n") - exp) * (F.col("n") - exp)).cast("double")
            / exp).cast("decimal(38,18)")
    return (g.crossJoin(F.broadcast(t))
            .agg(F.sum(F.when(F.col("arm") == 0, F.col("n")))
                 .cast("bigint").alias("n_control"),
                 F.sum(F.when(F.col("arm") == 1, F.col("n")))
                 .cast("bigint").alias("n_treat"),
                 F.round(F.sum(term).cast("double"), 6)
                 .alias("srm_chi2")))


@query("dq_psi_drift", f"""
    WITH e AS (SELECT event_type,
                      CAST(ts AS DATE) AS day,
                      CAST(floor(value * 10) AS BIGINT) AS cell
               FROM {EVENTS_TS} WHERE value IS NOT NULL),
    span AS (SELECT min(day) AS mn,
                    CAST(datediff('day', min(day), max(day)) // 2
                         AS BIGINT) AS half
             FROM e),
    p AS (SELECT event_type, cell,
                 CASE WHEN datediff('day', mn, day) <= half
                      THEN 'base' ELSE 'cur' END AS period
          FROM e CROSS JOIN span),
    cells AS (SELECT event_type, period, cell,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM p GROUP BY event_type, period, cell),
    nb AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_base
           FROM cells WHERE period = 'base' GROUP BY event_type),
    cum AS (SELECT event_type, cell, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY event_type
                                       ORDER BY cell
                                       ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS c
            FROM cells WHERE period = 'base'),
    bnd AS (SELECT cum.event_type, k.k, min(cum.cell) AS bk
            FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS k) k
            JOIN nb ON nb.event_type = cum.event_type
            WHERE cum.c * 10 >= k.k * nb.n_base
            GROUP BY cum.event_type, k.k),
    bucketed AS (
      SELECT c.event_type, c.period,
             CAST(COALESCE(SUM(CASE WHEN c.cell > b.bk THEN 1 END), 0)
                  AS BIGINT) AS bucket,
             any_value(c.cnt) AS cnt
      FROM (SELECT event_type, period, cell, cnt,
                   row_number() OVER () AS rid FROM cells) c
      LEFT JOIN bnd b ON b.event_type = c.event_type
      GROUP BY c.event_type, c.period, c.rid),
    bcnt AS (SELECT event_type, period, bucket,
                    CAST(SUM(cnt) AS BIGINT) AS cnt
             FROM bucketed GROUP BY event_type, period, bucket),
    totals AS (SELECT event_type, period, CAST(SUM(cnt) AS BIGINT) AS n
               FROM bcnt GROUP BY event_type, period),
    grid AS (SELECT t.event_type, b.bucket
             FROM (SELECT DISTINCT event_type FROM e) t
             CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b),
    probs AS (
      SELECT g.event_type, g.bucket,
             greatest(CAST(COALESCE(cb.cnt, 0) AS DOUBLE) / tb.n, 0.0001)
               AS pb,
             greatest(CAST(COALESCE(cc.cnt, 0) AS DOUBLE) / tc.n, 0.0001)
               AS pc
      FROM grid g
      JOIN totals tb ON tb.event_type = g.event_type
        AND tb.period = 'base'
      JOIN totals tc ON tc.event_type = g.event_type
        AND tc.period = 'cur'
      LEFT JOIN bcnt cb ON cb.event_type = g.event_type
        AND cb.period = 'base' AND cb.bucket = g.bucket
      LEFT JOIN bcnt cc ON cc.event_type = g.event_type
        AND cc.period = 'cur' AND cc.bucket = g.bucket),
    psi AS (SELECT event_type,
                   CAST(SUM(CAST((pc - pb) * ln(pc / pb)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM probs GROUP BY event_type)
    SELECT psi.event_type,
           tb.n AS n_base, tc.n AS n_cur,
           round(psi.s, 6) AS psi,
           CAST(psi.s > 0.2 AS INT) AS drift_flag
    FROM psi
    JOIN totals tb ON tb.event_type = psi.event_type
      AND tb.period = 'base'
    JOIN totals tc ON tc.event_type = psi.event_type
      AND tc.period = 'cur'
""")
def dq_psi_drift(spark, sf_dir):
    """Population-Stability-Index drift gate (VERDICT r7 item 6: the
    quantile-sketch drift check beside dq_schema_drift's structural
    one): per event type, the value distribution of the corpus's
    NEWER half (by day) is compared against the older half over the
    older half's own decile buckets — PSI = sum (p_cur - p_base) *
    ln(p_cur / p_base), the standard feature-drift score (>0.2 =
    investigate), with the classic 1e-4 probability floor so empty
    buckets stay finite.

    The "sketch" making this 100 TB-safe: values are first quantized
    to a FIXED-RESOLUTION histogram (cell = floor(value*10) — an
    integer op bit-identical across engines, no rounding-mode
    hazard), so the quantile boundaries are computed on a
    cells-per-type relation bounded by the value range, not by the
    row count; the corpus is touched by exactly ONE hash agg onto
    that grid.  Boundaries are grid-exact deciles (min cell whose
    running count clears k*n/10, integer comparison — no float
    percentile); bucketing is a broadcast join of the 9-row boundary
    table; PSI terms are deterministic doubles summed in
    decimal(38,18) per the 6dp-transcendental convention.  The
    quantize/boundary/bucket/psi helpers below are shared with the
    streaming drift gate (streaming/driftgate.py), so stream == batch
    is by construction."""
    e = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_type",
                 F.col("ts").cast("date").alias("day"),
                 psi_quantize(F.col("value")).alias("cell")))
    span = e.agg(F.min("day").alias("mn"),
                 F.floor(F.datediff(F.max("day"), F.min("day")) / 2)
                 .cast("bigint").alias("half"))
    p = (e.crossJoin(F.broadcast(span))
         .select("event_type", "cell",
                 F.when(F.datediff("day", F.col("mn")) <= F.col("half"),
                        F.lit("base")).otherwise(F.lit("cur"))
                 .alias("period")))
    cells = (p.groupBy("event_type", "period", "cell")
             .agg(F.count("*").cast("bigint").alias("cnt"))
             .localCheckpoint(eager=True))     # feeds 3 consumers
    base = (cells.filter(F.col("period") == "base")
            .select("event_type", "cell", "cnt"))
    cur = (cells.filter(F.col("period") == "cur")
           .select("event_type", "cell", "cnt"))
    bnd = psi_decile_boundaries(base)
    return psi_from_bucket_counts(psi_bucketize(base, bnd),
                                  psi_bucketize(cur, bnd))


def psi_quantize(value_col):
    """The fixed-resolution histogram cell: floor(value*10) — an
    integer op bit-identical across engines (no rounding-mode
    hazard)."""
    return F.floor(value_col * 10).cast("bigint")


def psi_decile_boundaries(base_cells):
    """(event_type, k, bk): grid-exact decile boundaries of a baseline
    (event_type, cell, cnt) histogram — min cell whose running count
    clears k*n/10, k = 1..9, pure integer comparisons.  The window
    runs over the CELL GRID (bounded by the value range), never the
    row count."""
    spark = base_cells.sparkSession
    nb = (base_cells.groupBy("event_type")
          .agg(F.sum("cnt").cast("bigint").alias("n_base")))
    w = (Window.partitionBy("event_type").orderBy("cell")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = base_cells.select(
        "event_type", "cell",
        F.sum("cnt").over(w).cast("bigint").alias("c"))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    return (cum.crossJoin(F.broadcast(ks))
            .join(F.broadcast(nb), "event_type")
            .filter(F.col("c") * 10 >= F.col("k") * F.col("n_base"))
            .groupBy("event_type", "k").agg(F.min("cell").alias("bk")))


def psi_bucketize(cells, bnd):
    """(event_type, bucket, cnt): fold an (event_type, cell, cnt)
    histogram into the 10 decile buckets of a boundary table —
    bucket = #(boundaries below the cell), one broadcast join of the
    9-rows-per-type boundary relation."""
    bucketed = (cells.join(F.broadcast(bnd), "event_type")
                .groupBy("event_type", "cell")
                .agg(F.sum(F.when(F.col("cell") > F.col("bk"), 1))
                     .cast("bigint").alias("bsum"),
                     F.first("cnt").alias("cnt"))
                .select("event_type",
                        F.coalesce("bsum", F.lit(0)).alias("bucket"),
                        "cnt"))
    return (bucketed.groupBy("event_type", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))


def psi_from_bucket_counts(bcnt_base, bcnt_cur):
    """(event_type, n_base, n_cur, psi, drift_flag) from two
    (event_type, bucket, cnt) relations bucketed over the SAME
    boundaries: probabilities floored at the classic 1e-4, terms
    summed in decimal(38,18), flag at the standard 0.2 threshold.
    Only event types present in BOTH relations are scored (a type
    with zero current rows has no distribution to compare)."""
    spark = bcnt_base.sparkSession
    tb = (bcnt_base.groupBy("event_type")
          .agg(F.sum("cnt").cast("bigint").alias("n_base")))
    tc = (bcnt_cur.groupBy("event_type")
          .agg(F.sum("cnt").cast("bigint").alias("n_cur")))
    grid = (tb.join(tc, "event_type").select("event_type")
            .crossJoin(spark.range(0, 10).select(F.col("id")
                                                 .alias("bucket"))))
    cb = bcnt_base.select("event_type", "bucket",
                          F.col("cnt").alias("cnt_b"))
    cc = bcnt_cur.select("event_type", "bucket",
                         F.col("cnt").alias("cnt_c"))
    probs = (grid.join(F.broadcast(tb), "event_type")
             .join(F.broadcast(tc), "event_type")
             .join(F.broadcast(cb), ["event_type", "bucket"], "left")
             .join(F.broadcast(cc), ["event_type", "bucket"], "left")
             .select("event_type",
                     F.greatest(F.coalesce("cnt_b", F.lit(0))
                                .cast("double") / F.col("n_base"),
                                F.lit(0.0001)).alias("pb"),
                     F.greatest(F.coalesce("cnt_c", F.lit(0))
                                .cast("double") / F.col("n_cur"),
                                F.lit(0.0001)).alias("pc")))
    psi = (probs.groupBy("event_type")
           .agg(F.sum(((F.col("pc") - F.col("pb"))
                       * F.log(F.col("pc") / F.col("pb")))
                      .cast("decimal(38,18)")).cast("double").alias("s")))
    return (psi.join(F.broadcast(tb), "event_type")
            .join(F.broadcast(tc), "event_type")
            .select("event_type", "n_base", "n_cur",
                    F.round("s", 6).alias("psi"),
                    (F.col("s") > 0.2).cast("int").alias("drift_flag")))


@query("stat_welch_ttest", f"""
    WITH s AS (SELECT event_type AS grp,
                      CAST(value AS DECIMAL(28,12)) AS v,
                      CAST(value * value AS DECIMAL(38,12)) AS v2
               FROM events
               WHERE value IS NOT NULL
                 AND event_type IN ('purchase', 'click')),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS DOUBLE) AS s,
                 CAST(SUM(v2) AS DOUBLE) AS q
          FROM s GROUP BY grp),
    m AS (SELECT grp, n, s / n AS mean,
                 (q - s * s / n) / (n - 1) AS var
          FROM g),
    w AS (SELECT a.n AS n_a, b.n AS n_b,
                 a.mean AS mean_a, b.mean AS mean_b,
                 a.var AS var_a, b.var AS var_b,
                 a.var / a.n + b.var / b.n AS se2
          FROM (SELECT * FROM m WHERE grp = 'purchase') a
          CROSS JOIN (SELECT * FROM m WHERE grp = 'click') b)
    SELECT n_a, n_b,
           round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b) / sqrt(se2), 6) AS t_stat,
           round(se2 * se2
                 / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                    + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4)
             AS dof_welch,
           round((mean_a - mean_b)
                 / sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
                        / (n_a + n_b - 2)), 6) AS cohens_d
    FROM w
""")
def stat_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test between purchase and
    click event values, plus Cohen's d effect size — the parametric
    location-shift member the statistics suite was missing beside its
    rank-based twin (stat_mann_whitney tests the same pair
    distribution-free; Welch is the power play when normality roughly
    holds, and its Satterthwaite dof is what experiment dashboards
    report).  Group sums and sums-of-squares accumulate in exact
    decimals (the ANOVA recipe), then mean/variance/t/dof/d are a
    fixed chain of scalar double ops on the 2-row group table —
    deterministic on both engines, rounded at the end.

    Plan: one scan -> 2-group hash agg (map-side combinable) -> 1-row
    scalar algebra; at 100 TB the wide data never shuffles, only two
    partial rows per task do."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull()
                 & F.col("event_type").isin("purchase", "click"))
         .select(F.col("event_type").alias("grp"),
                 F.col("value").cast("decimal(28,12)").alias("v"),
                 (F.col("value") * F.col("value"))
                 .cast("decimal(38,12)").alias("v2")))
    g = s.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"),
                             F.sum("v").cast("double").alias("s"),
                             F.sum("v2").cast("double").alias("q"))
    m = g.select("grp", "n",
                 (F.col("s") / F.col("n")).alias("mean"),
                 ((F.col("q") - F.col("s") * F.col("s") / F.col("n"))
                  / (F.col("n") - 1)).alias("var"))
    a = (m.filter(F.col("grp") == "purchase")
         .select(F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
                 F.col("var").alias("var_a")))
    b = (m.filter(F.col("grp") == "click")
         .select(F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
                 F.col("var").alias("var_b")))
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    w = a.crossJoin(b).withColumn("se2", se2)
    pooled = (((F.col("n_a") - 1) * F.col("var_a")
               + (F.col("n_b") - 1) * F.col("var_b"))
              / (F.col("n_a") + F.col("n_b") - 2))
    return w.select(
        "n_a", "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round((F.col("mean_a") - F.col("mean_b"))
                / F.sqrt(F.col("se2")), 6).alias("t_stat"),
        F.round(F.col("se2") * F.col("se2")
                / ((F.col("var_a") / F.col("n_a"))
                   * (F.col("var_a") / F.col("n_a"))
                   / (F.col("n_a") - 1)
                   + (F.col("var_b") / F.col("n_b"))
                   * (F.col("var_b") / F.col("n_b"))
                   / (F.col("n_b") - 1)), 4).alias("dof_welch"),
        F.round((F.col("mean_a") - F.col("mean_b")) / F.sqrt(pooled), 6)
        .alias("cohens_d"))


@query("dq_mad_outliers", f"""
    WITH d AS (SELECT source,
                      CAST(len(list_filter(regexp_split_to_array(
                           lower(text), '\\s+'), x -> x <> ''))
                           AS BIGINT) AS l
               FROM documents),
    g AS (SELECT source, l, CAST(count(*) AS BIGINT) AS cnt
          FROM d GROUP BY source, l),
    nt AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
           FROM g GROUP BY source),
    cum AS (SELECT source, l, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY l
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
            FROM g),
    med AS (SELECT cum.source, min(cum.l) AS med
            FROM cum JOIN nt ON nt.source = cum.source
            WHERE cum.c * 2 >= nt.n
            GROUP BY cum.source),
    dev AS (SELECT g.source, abs(g.l - m.med) AS dv,
                   CAST(SUM(g.cnt) AS BIGINT) AS cnt
            FROM g JOIN med m ON m.source = g.source
            GROUP BY g.source, abs(g.l - m.med)),
    dcum AS (SELECT source, dv, cnt,
                    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY dv
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
             FROM dev),
    mad AS (SELECT dcum.source, min(dcum.dv) AS mad
            FROM dcum JOIN nt ON nt.source = dcum.source
            WHERE dcum.c * 2 >= nt.n
            GROUP BY dcum.source)
    SELECT g.source, nt.n AS n_docs, m.med, a.mad,
           CAST(SUM(CASE WHEN abs(g.l - m.med)
                              > 3.0 * 1.4826 * a.mad
                         THEN g.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(SUM(CASE WHEN abs(g.l - m.med)
                                    > 3.0 * 1.4826 * a.mad
                               THEN g.cnt ELSE 0 END) AS DOUBLE)
                 / nt.n, 6) AS outlier_frac
    FROM g
    JOIN med m ON m.source = g.source
    JOIN mad a ON a.source = g.source
    JOIN nt ON nt.source = g.source
    GROUP BY g.source, nt.n, m.med, a.mad
""")
def dq_mad_outliers(spark, sf_dir):
    """Robust per-source length-outlier gate: median + MAD (median
    absolute deviation) of document token counts, flagging docs beyond
    the classic 3-sigma-equivalent 3 * 1.4826 * MAD band — the
    curation rule that survives the heavy tails that wreck
    mean/stddev gates (one 10M-token doc shifts a z-score gate's mean;
    it cannot move the median).  Medians are GRID-EXACT lower medians
    (smallest value whose doubled running count clears n — integer
    comparison, no interpolation), so the statistic is deterministic
    on both engines.

    Plan: one scan -> per-source length-grid hash agg; both medians
    are windows over the GRID (value-cardinality rows per source, not
    doc rows), and the outlier count is a second pass over the same
    grid — the corpus is touched exactly once."""
    from .textops import _docs, tokens_col

    d = (_docs(spark, sf_dir)
         .select("source", tokens_col().alias("toks"))
         .select("source", F.size("toks").cast("bigint").alias("l")))
    g = (d.groupBy("source", "l")
         .agg(F.count("*").cast("bigint").alias("cnt"))
         .localCheckpoint(eager=True))         # feeds 3 consumers
    nt = g.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n"))
    wl = (Window.partitionBy("source").orderBy("l")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = g.select("source", "l",
                   F.sum("cnt").over(wl).cast("bigint").alias("c"))
    med = (cum.join(F.broadcast(nt), "source")
           .filter(F.col("c") * 2 >= F.col("n"))
           .groupBy("source").agg(F.min("l").alias("med")))
    dev = (g.join(F.broadcast(med), "source")
           .groupBy("source", F.abs(F.col("l") - F.col("med")).alias("dv"))
           .agg(F.sum("cnt").cast("bigint").alias("cnt")))
    wd = (Window.partitionBy("source").orderBy("dv")
          .rowsBetween(Window.unboundedPreceding, 0))
    dcum = dev.select("source", "dv",
                      F.sum("cnt").over(wd).cast("bigint").alias("c"))
    mad = (dcum.join(F.broadcast(nt), "source")
           .filter(F.col("c") * 2 >= F.col("n"))
           .groupBy("source").agg(F.min("dv").alias("mad")))
    out = F.sum(F.when(F.abs(F.col("l") - F.col("med"))
                       > 3.0 * 1.4826 * F.col("mad"),
                       F.col("cnt")).otherwise(0))
    return (g.join(F.broadcast(med), "source")
            .join(F.broadcast(mad), "source")
            .join(F.broadcast(nt), "source")
            .groupBy("source", "n", "med", "mad")
            .agg(out.cast("bigint").alias("n_outliers"),
                 F.round(out.cast("double") / F.col("n"), 6)
                 .alias("outlier_frac"))
            .select(F.col("source"), F.col("n").alias("n_docs"),
                    "med", "mad", "n_outliers", "outlier_frac"))


@query("stat_conformal_interval", f"""
    WITH s AS (SELECT event_id, event_type AS grp, value
               FROM events WHERE value IS NOT NULL),
    tr AS (SELECT grp,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*) AS mean_tr,
                  CAST(count(*) AS BIGINT) AS n_train
           FROM s WHERE event_id % 3 = 0 GROUP BY grp),
    cal AS (SELECT s.grp,
                   CAST(floor(abs(s.value - tr.mean_tr) * 100)
                        AS BIGINT) AS cell
            FROM s JOIN tr ON tr.grp = s.grp
            WHERE s.event_id % 3 = 1),
    cg AS (SELECT grp, cell, CAST(count(*) AS BIGINT) AS cnt
           FROM cal GROUP BY grp, cell),
    nc AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_cal
           FROM cg GROUP BY grp),
    cum AS (SELECT grp, cell, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY cell
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
            FROM cg),
    qh AS (SELECT cum.grp, min(cum.cell) AS qhat_cell
           FROM cum JOIN nc ON nc.grp = cum.grp
           WHERE cum.c * 10 >= 9 * (nc.n_cal + 1)
           GROUP BY cum.grp),
    te AS (SELECT s.grp,
                  CAST(count(*) AS BIGINT) AS n_test,
                  CAST(SUM(CASE WHEN
                       CAST(floor(abs(s.value - tr.mean_tr) * 100)
                            AS BIGINT) <= qh.qhat_cell
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM s
           JOIN tr ON tr.grp = s.grp
           JOIN qh ON qh.grp = s.grp
           WHERE s.event_id % 3 = 2
           GROUP BY s.grp)
    SELECT tr.grp AS event_type, tr.n_train, nc.n_cal, te.n_test,
           round(tr.mean_tr, 6) AS mean_train,
           qh.qhat_cell,
           round(CAST(te.n_covered AS DOUBLE) / te.n_test, 6)
             AS coverage
    FROM tr JOIN nc ON nc.grp = tr.grp
    JOIN qh ON qh.grp = tr.grp
    JOIN te ON te.grp = tr.grp
""")
def stat_conformal_interval(spark, sf_dir):
    """SPLIT-CONFORMAL prediction intervals (Vovk; Lei et al. 2018)
    with measured empirical coverage — the distribution-free
    uncertainty wrapper modern eval pipelines put around any point
    predictor.  Three-way deterministic split by event_id mod 3:
    train fits the per-type mean (the simplest predictor — the
    conformal machinery is the subject), calibration takes the
    ceil(0.9*(n+1))-smallest absolute residual as q_hat (the
    finite-sample-corrected 90% quantile), test reports the fraction
    of residuals within q_hat — guaranteed >= 90% in expectation by
    exchangeability, whatever the value distribution.

    Exactness recipe: residuals are quantized to integer cells
    (floor(|y - mean|*100) — identical float ops both engines, the
    PSI sketch rule), so the conformal quantile is a GRID-EXACT
    integer rank threshold: min cell whose running count clears
    0.9*(n_cal+1), integer comparison (quantizing scores DOWN can
    only widen the interval, so the >=90% coverage guarantee is
    preserved).  One scan feeds three metadata-sized aggregates; the
    calibration window runs over the residual-cell grid, never rows."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_id", F.col("event_type").alias("grp"), "value"))
    model = conformal_fit(s.filter(F.col("event_id") % 3 == 0),
                          s.filter(F.col("event_id") % 3 == 1))
    te = (s.filter(F.col("event_id") % 3 == 2)
          .join(F.broadcast(model), "grp")
          .groupBy("grp")
          .agg(F.count("*").cast("bigint").alias("n_test"),
               F.sum(F.when(conformal_cell() <= F.col("qhat_cell"), 1)
                     .otherwise(0))
               .cast("bigint").alias("n_covered")))
    return (model.join(te, "grp")
            .select(F.col("grp").alias("event_type"),
                    "n_train", "n_cal", "n_test",
                    F.round("mean_tr", 6).alias("mean_train"),
                    "qhat_cell",
                    F.round(F.col("n_covered").cast("double")
                            / F.col("n_test"), 6).alias("coverage")))


def conformal_cell():
    """The quantized absolute-residual cell of a (value, mean_tr) row
    — identical float ops on both engines (the PSI sketch rule)."""
    return F.floor(F.abs(F.col("value") - F.col("mean_tr")) * 100) \
        .cast("bigint")


def conformal_fit(train, calib):
    """(grp, mean_tr, n_train, n_cal, qhat_cell): fit the per-group
    mean predictor on ``train`` and the finite-sample-corrected 90%
    residual-cell quantile on ``calib`` (both (grp, value) relations)
    — shared by the batch query and the streaming coverage monitor
    (streaming/conformalmonitor.py), so stream == batch by
    construction."""
    tr = (train.groupBy("grp")
          .agg((dsum("value") / F.count("*")).alias("mean_tr"),
               F.count("*").cast("bigint").alias("n_train"))
          .localCheckpoint(eager=True))        # feeds calib + serving
    cg = (calib
          .join(F.broadcast(tr), "grp")
          .select("grp", conformal_cell().alias("cell"))
          .groupBy("grp", "cell")
          .agg(F.count("*").cast("bigint").alias("cnt")))
    nc = cg.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n_cal"))
    w = (Window.partitionBy("grp").orderBy("cell")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = cg.select("grp", "cell",
                    F.sum("cnt").over(w).cast("bigint").alias("c"))
    qh = (cum.join(F.broadcast(nc), "grp")
          .filter(F.col("c") * 10 >= 9 * (F.col("n_cal") + 1))
          .groupBy("grp").agg(F.min("cell").alias("qhat_cell")))
    return (tr.join(F.broadcast(nc), "grp")
            .join(F.broadcast(qh), "grp"))


def _logreg_step_sql(k: int) -> str:
    """One unrolled Newton-Raphson CTE: per-row sigmoid terms summed
    in DECIMAL(38,18), closed-form 2x2 Hessian solve."""
    return f"""
    m{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST((y - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           AS DECIMAL(38,18))) AS DOUBLE) AS g0,
             CAST(SUM(CAST((y - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * x AS DECIMAL(38,18))) AS DOUBLE) AS g1,
             CAST(SUM(CAST((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * (1.0 - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           AS DECIMAL(38,18))) AS DOUBLE) AS h00,
             CAST(SUM(CAST((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * (1.0 - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * x AS DECIMAL(38,18))) AS DOUBLE) AS h01,
             CAST(SUM(CAST((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * (1.0 - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                           * x * x AS DECIMAL(38,18))) AS DOUBLE) AS h11
      FROM s CROSS JOIN beta{k - 1} b),
    beta{k} AS (
      SELECT b.b0 + (m.h11 * m.g0 - m.h01 * m.g1)
                    / (m.h00 * m.h11 - m.h01 * m.h01) AS b0,
             b.b1 + (m.h00 * m.g1 - m.h01 * m.g0)
                    / (m.h00 * m.h11 - m.h01 * m.h01) AS b1
      FROM beta{k - 1} b CROSS JOIN m{k} m)"""


_LOGREG_STEPS = 2


_LOGREG_MODEL_MEMO = _SessionMemo()


@query("ml_logreg_newton_portable", f"""
    WITH s AS (SELECT CASE WHEN event_type = 'purchase'
                           THEN 1.0 ELSE 0.0 END AS y,
                      value / 100.0 AS x
               FROM events WHERE value IS NOT NULL),
    beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
    {",".join(_logreg_step_sql(k) for k in range(1, _LOGREG_STEPS + 1))}
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n,
           round(b.b0, 6) AS b0, round(b.b1, 6) AS b1,
           round((SELECT CAST(SUM(CAST(
                    y * ln(1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                    + (1.0 - y)
                      * ln(1.0 - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x))))
                    AS DECIMAL(38,18))) AS DOUBLE) FROM s), 4)
             AS log_likelihood
    FROM beta{_LOGREG_STEPS} b
""")
def ml_logreg_newton_portable(spark, sf_dir):
    """Logistic regression TRAINED by two unrolled Newton-Raphson
    steps, fully inside the verified perimeter — the third iterative
    trainer beside ml_kmeans_lloyd_portable and
    ml_power_iteration_portable (MLlib's LogisticRegression stays
    rows-only; here every gradient, Hessian entry and update
    hash-matches DuckDB).  SCOPE: intercept + ONE feature, where the
    Newton step has a closed-form 2x2 solve; the general d-feature
    form (d x d Hessian, unrolled Gaussian elimination) is
    ml_logreg_newton_d below.  Model: P(event is a purchase | value),
    feature x = value/100, intercept + slope, start at beta = 0; each
    step is ONE corpus scan producing five decimal-summed aggregates
    (score residuals, weighted moments) and a closed-form 2x2 solve —
    the classic IRLS shape with the normal equations small enough to
    stay scalar.  Output: fitted coefficients and the final
    log-likelihood.

    Determinism: per-row sigmoid terms are deterministic doubles
    (identical op order both engines) cast to DECIMAL(38,18) for the
    sums (the agg_theil transcendental convention); the Newton update
    is a fixed chain of scalar double ops on 1-row relations.  At
    100 TB each step is a map-side-combinable 5-aggregate scan — the
    training loop moves 5 numbers per step, never rows; steps are a
    fixed small constant exactly like Lloyd's."""
    from ..artifacts import read_or_build
    from ..sources.tables import _memoizable

    def s_frame():
        return (_t(spark, sf_dir, "events")
                .filter(F.col("value").isNotNull())
                .select(F.when(F.col("event_type") == "purchase", 1.0)
                        .otherwise(0.0).alias("y"),
                        (F.col("value") / 100.0).alias("x")))

    d18 = lambda c: (F.sum(c.cast("decimal(38,18)"))  # noqa: E731
                     .cast("double"))

    def train():
        s = s_frame().localCheckpoint(eager=True)   # feeds every step
        beta = spark.createDataFrame([(0.0, 0.0)],
                                     "b0 double, b1 double")
        for _ in range(_LOGREG_STEPS):
            p = 1.0 / (1.0 + F.exp(-(F.col("b0")
                                     + F.col("b1") * F.col("x"))))
            m = (s.crossJoin(F.broadcast(beta))
                 .agg(d18((F.col("y") - p)).alias("g0"),
                      d18((F.col("y") - p) * F.col("x")).alias("g1"),
                      d18(p * (1.0 - p)).alias("h00"),
                      d18(p * (1.0 - p) * F.col("x")).alias("h01"),
                      d18(p * (1.0 - p) * F.col("x") * F.col("x"))
                      .alias("h11")))
            det = (F.col("h00") * F.col("h11")
                   - F.col("h01") * F.col("h01"))
            beta = (beta.crossJoin(F.broadcast(m))
                    .select((F.col("b0") + (F.col("h11") * F.col("g0")
                                            - F.col("h01") * F.col("g1"))
                             / det).alias("b0"),
                            (F.col("b1") + (F.col("h00") * F.col("g1")
                                            - F.col("h01") * F.col("g0"))
                             / det).alias("b1"))
                    .localCheckpoint(eager=True))   # 1-row model state
        return beta

    # the fitted model persists via the artifact store (round 9, same
    # treatment as ml_logreg_newton_d / Lloyd / the power Gram):
    # doubles round-trip parquet bit-exactly, so warm sessions pay
    # only the final log-likelihood scan
    beta = _LOGREG_MODEL_MEMO.get(spark, sf_dir)
    if beta is None:
        if _memoizable(sf_dir):
            beta = read_or_build(spark, sf_dir, "logreg_newton_beta",
                                 ("events",), train)
        else:
            beta = train()
        _LOGREG_MODEL_MEMO.put(spark, sf_dir, beta)
    pf = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
    ll = (s_frame().crossJoin(F.broadcast(beta))
          .agg(F.count("*").cast("bigint").alias("n"),
               d18(F.col("y") * F.log(pf)
                   + (1.0 - F.col("y")) * F.log(1.0 - pf)).alias("ll")))
    return (ll.crossJoin(F.broadcast(beta))
            .select("n", F.round("b0", 6).alias("b0"),
                    F.round("b1", 6).alias("b1"),
                    F.round("ll", 4).alias("log_likelihood")))


# --- d-feature Newton logistic regression (VERDICT r8 item 2) ------------
#
# The closed-form 2x2 solve above does not generalize; this is the
# general form: d features + intercept, each Newton step one corpus
# scan producing the O(d^2) gradient/Hessian aggregates, then the
# (d+1)x(d+1) normal-equations solve as UNROLLED Gaussian elimination
# over named scalar intermediates — generated ONCE and evaluated as
# the IDENTICAL formula strings by both engines (Spark F.expr and
# DuckDB SQL), so every intermediate double is bit-identical.

_LOGREG_D_STEPS = 2
_LOGREG_D_N = 5          # intercept + 4 features


def _logreg_d_features() -> list[tuple[str, str]]:
    """(name, formula) for label + feature columns — one SQL string
    per column, shared verbatim by Spark selectExpr and the oracle, so
    per-row doubles agree bitwise.  All four features are exact in
    both engines (double division of exact integers / doubles)."""
    return [
        ("y", "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END"),
        ("x1", "value / 100.0"),
        ("x2", "CAST(user_id % 97 AS DOUBLE) / 97.0"),
        ("x3", "CAST(event_id % 11 AS DOUBLE) / 11.0"),
        ("x4", "CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END"),
    ]


def _logreg_d_z(prefix: str = "") -> str:
    """The linear predictor b0 + sum(bi * xi), left-associated — the
    same op order on both engines."""
    terms = [f"{prefix}b0"] + [f"{prefix}b{i} * x{i}"
                               for i in range(1, _LOGREG_D_N)]
    return " + ".join(terms)


def _logreg_d_agg_terms() -> list[tuple[str, str]]:
    """(name, per-row term) for the 5 gradient + 15 upper-triangle
    Hessian aggregates (x0 == 1 is elided, keeping formulas minimal
    and identical across engines)."""
    xs = [None] + [f"x{i}" for i in range(1, _LOGREG_D_N)]
    out = []
    for i in range(_LOGREG_D_N):
        t = "(y - p)" if xs[i] is None else f"(y - p) * {xs[i]}"
        out.append((f"g{i}", t))
    for i in range(_LOGREG_D_N):
        for j in range(i, _LOGREG_D_N):
            t = "p * (1.0 - p)"
            for xc in (xs[i], xs[j]):
                if xc is not None:
                    t += f" * {xc}"
            out.append((f"h{i}{j}", t))
    return out


def _gauss_stages(n: int) -> list[list[tuple[str, str]]]:
    """Stages of named scalar assignments solving the symmetric system
    H d = g by Gaussian elimination WITHOUT pivoting (valid here: the
    IRLS Hessian is symmetric positive-definite, so every pivot is
    positive).  Inputs are columns h{i}{j} (i <= j) and g{i}; outputs
    d0..d{n-1}.  Assignments within a stage reference only earlier
    stages, so each stage is one projection on a 1-row relation —
    O(n^2) named intermediates total, no expression blow-up."""
    a = {(i, j): f"h{i}{j}" for i in range(n) for j in range(i, n)}
    yv = {i: f"g{i}" for i in range(n)}
    fin_a: dict[tuple[int, int], str] = {}
    fin_y: dict[int, str] = {}
    stages: list[list[tuple[str, str]]] = []
    for k in range(n - 1):
        fin_y[k] = yv[k]
        for j in range(k, n):
            fin_a[(k, j)] = a[(k, j)]
        stages.append([(f"l{i}{k}", f"{a[(k, i)]} / {a[(k, k)]}")
                       for i in range(k + 1, n)])
        upd = []
        for i in range(k + 1, n):
            for j in range(i, n):
                upd.append((f"e{k + 1}_{i}{j}",
                            f"{a[(i, j)]} - l{i}{k} * {a[(k, j)]}"))
            upd.append((f"r{k + 1}_{i}", f"{yv[i]} - l{i}{k} * {yv[k]}"))
        stages.append(upd)
        for i in range(k + 1, n):
            for j in range(i, n):
                a[(i, j)] = f"e{k + 1}_{i}{j}"
            yv[i] = f"r{k + 1}_{i}"
    fin_y[n - 1] = yv[n - 1]
    fin_a[(n - 1, n - 1)] = a[(n - 1, n - 1)]
    for i in range(n - 1, -1, -1):
        num = fin_y[i]
        for j in range(i + 1, n):
            num += f" - {fin_a[(i, j)]} * d{j}"
        stages.append([(f"d{i}", f"({num}) / {fin_a[(i, i)]}")])
    return stages


def _logreg_d_step_sql(k: int) -> str:
    """One unrolled d-feature Newton CTE pair: the 20-aggregate scan,
    then the elimination stages as nested projections."""
    aggs = ",\n             ".join(
        f"CAST(SUM(CAST({t} AS DECIMAL(38,18))) AS DOUBLE) AS {nm}"
        for nm, t in _logreg_d_agg_terms())
    z = _logreg_d_z("b.")
    inner = (f"SELECT s.*, 1.0 / (1.0 + exp(-({z}))) AS p"
             f" FROM s CROSS JOIN beta{k - 1} b")
    solve = f"SELECT m.*, b.* FROM m{k} m CROSS JOIN beta{k - 1} b"
    for stage in _gauss_stages(_LOGREG_D_N):
        cols = ", ".join(f"{e} AS {nm}" for nm, e in stage)
        solve = f"SELECT *, {cols} FROM ({solve})"
    upd = ", ".join(f"b{i} + d{i} AS b{i}" for i in range(_LOGREG_D_N))
    return f"""
    m{k} AS MATERIALIZED (
      SELECT {aggs}
      FROM ({inner})),
    beta{k} AS (SELECT {upd} FROM ({solve}))"""


def _logreg_d_train_ctes() -> str:
    """The shared training-chain CTE prefix (design matrix ``s``,
    ``beta0`` .. ``beta{STEPS}``) — reused by the trainer oracle and
    every downstream consumer of the fitted model (calibration bins,
    Brier decomposition, LOGO influence)."""
    feats = ", ".join(f"{e} AS {nm}" for nm, e in _logreg_d_features())
    zeros = ", ".join(f"0.0 AS b{i}" for i in range(_LOGREG_D_N))
    steps = ",".join(_logreg_d_step_sql(k)
                     for k in range(1, _LOGREG_D_STEPS + 1))
    return f"""s AS (SELECT {feats} FROM events WHERE value IS NOT NULL),
    beta0 AS (SELECT {zeros}),
    {steps}"""


def _logreg_d_oracle_sql() -> str:
    z = _logreg_d_z("b.")
    beta_sel = ", ".join(f"round(b.b{i}, 6) AS b{i}"
                         for i in range(_LOGREG_D_N))
    return f"""
    WITH {_logreg_d_train_ctes()}
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n,
           {beta_sel},
           round((SELECT CAST(SUM(CAST(
                    y * ln(p) + (1.0 - y) * ln(1.0 - p)
                    AS DECIMAL(38,18))) AS DOUBLE)
                  FROM (SELECT s.*, 1.0 / (1.0 + exp(-({z}))) AS p
                        FROM s CROSS JOIN beta{_LOGREG_D_STEPS} b)), 4)
             AS log_likelihood
    FROM beta{_LOGREG_D_STEPS} b
"""


# trained-model handle cache in front of the disk artifact
_LOGREG_D_MODEL_MEMO = _SessionMemo()


def _logreg_d_s_frame(spark, sf_dir, extra: tuple[str, ...] = ()):
    """The d-feature design matrix (one SQL string per column, shared
    verbatim with the oracle), optionally carrying extra grouping
    columns the trainer itself ignores."""
    feats = [f"{e} AS {nm}" for nm, e in _logreg_d_features()]
    return (_t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .selectExpr(*extra, *feats))


def _logreg_d_beta(spark, sf_dir):
    """The FITTED d-feature Newton model (2 IRLS steps), shared by the
    trainer query and its downstream consumers (calibration bins,
    Brier decomposition, leave-one-group-out influence) — session-
    memoized and artifact-persisted, so consumers pay only their own
    scoring scan."""
    from ..artifacts import read_or_build
    from ..sources.tables import _memoizable

    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    solve_exprs = [f"{e} AS {nm}"
                   for stage in _gauss_stages(_LOGREG_D_N)
                   for nm, e in stage]

    def train():
        s = _logreg_d_s_frame(spark, sf_dir).localCheckpoint(eager=True)
        beta = spark.createDataFrame(
            [(0.0,) * _LOGREG_D_N],
            ", ".join(f"b{i} double" for i in range(_LOGREG_D_N)))
        for _ in range(_LOGREG_D_STEPS):
            rows = s.crossJoin(F.broadcast(beta)).selectExpr("*", p_expr)
            m = rows.agg(*[
                F.expr(f"CAST(SUM(CAST({t} AS DECIMAL(38,18))) AS DOUBLE)")
                .alias(nm) for nm, t in _logreg_d_agg_terms()])
            beta = (m.crossJoin(F.broadcast(beta))
                    .selectExpr("*", *solve_exprs)
                    .selectExpr(*[f"b{i} + d{i} AS b{i}"
                                  for i in range(_LOGREG_D_N)])
                    .localCheckpoint(eager=True))   # 1-row model state
        return beta

    beta = _LOGREG_D_MODEL_MEMO.get(spark, sf_dir)
    if beta is None:
        if _memoizable(sf_dir):
            beta = read_or_build(spark, sf_dir, "logreg_newton_d_beta",
                                 ("events",), train)
        else:
            beta = train()
        _LOGREG_D_MODEL_MEMO.put(spark, sf_dir, beta)
    return beta


@query("ml_logreg_newton_d", _logreg_d_oracle_sql())
def ml_logreg_newton_d(spark, sf_dir):
    """GENERAL d-feature Newton/IRLS logistic regression inside the
    verified perimeter (VERDICT r8 item 2: the _portable variant's
    closed-form 2x2 solve is intercept+one-feature only).  Model:
    P(purchase | value, user bucket, id bucket, is-click), intercept +
    4 features.  Each Newton step is ONE corpus scan producing the
    d+1 gradient and (d+1)(d+2)/2 upper-triangle Hessian sums (decimal
    accumulation, the agg_theil transcendental convention), then the
    5x5 normal-equations solve runs as UNROLLED GAUSSIAN ELIMINATION
    (no pivoting — the IRLS Hessian is SPD) over ~45 named scalar
    intermediates on the 1-row aggregate relation.  Both engines
    evaluate the SAME generated formula strings (_gauss_stages), so
    every intermediate double is bit-identical and the fitted model
    hash-matches.

    At 100 TB: the scan is map-side combinable (20 partial aggregates
    ride the corpus scan); training moves O(d^2) numbers per step —
    never rows — and the solve is driver-free: the whole elimination
    program runs as ONE projection with lateral column aliases on the
    1-row aggregate, exactly like the power-iteration Gram recurrence.
    For d in the thousands the same pattern holds with the Gram as a
    (d^2)-cell relation (ml_power_iteration_portable shows that
    shape); the unrolled solve here is the d <= ~32 regime where
    elimination fits a projection.  Like the Lloyd/PCA trainers, the
    fitted model persists via the artifact store (1 parquet row —
    doubles round-trip bit-exactly), so warm sessions pay only the
    final log-likelihood scan; bench discloses artifacts_prebuilt."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    ll = (_logreg_d_s_frame(spark, sf_dir)
          .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr)
          .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"),
               F.expr("CAST(SUM(CAST(y * ln(p) + (1.0 - y) * ln(1.0 - p)"
                      " AS DECIMAL(38,18))) AS DOUBLE)").alias("ll")))
    return (ll.crossJoin(F.broadcast(beta))
            .selectExpr("n",
                        *[f"round(b{i}, 6) AS b{i}"
                          for i in range(_LOGREG_D_N)],
                        "round(ll, 4) AS log_likelihood"))


@query("stat_conformal_group_gap", """
    WITH s AS (SELECT event_id, event_type AS grp, value
               FROM events WHERE value IS NOT NULL),
    tr AS (SELECT grp,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*) AS mean_tr
           FROM s WHERE event_id % 3 = 0 GROUP BY grp),
    cal AS (SELECT s.grp,
                   CAST(floor(abs(s.value - tr.mean_tr) * 100)
                        AS BIGINT) AS cell
            FROM s JOIN tr ON tr.grp = s.grp
            WHERE s.event_id % 3 = 1),
    cg AS (SELECT grp, cell, CAST(count(*) AS BIGINT) AS cnt
           FROM cal GROUP BY grp, cell),
    nc AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_cal
           FROM cg GROUP BY grp),
    cum AS (SELECT grp, cell, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY cell
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
            FROM cg),
    qh AS (SELECT cum.grp, min(cum.cell) AS qhat_group
           FROM cum JOIN nc ON nc.grp = cum.grp
           WHERE cum.c * 10 >= 9 * (nc.n_cal + 1)
           GROUP BY cum.grp),
    pg AS (SELECT cell, CAST(SUM(cnt) AS BIGINT) AS cnt
           FROM cg GROUP BY cell),
    np AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_pool FROM pg),
    pcum AS (SELECT cell,
                    CAST(SUM(cnt) OVER (ORDER BY cell
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
             FROM pg),
    qm AS (SELECT min(cell) AS qhat_marginal
           FROM pcum CROSS JOIN np
           WHERE pcum.c * 10 >= 9 * (np.n_pool + 1)),
    te AS (SELECT s.grp, qh.qhat_group, qm.qhat_marginal,
                  CAST(count(*) AS BIGINT) AS n_test,
                  CAST(SUM(CASE WHEN
                       CAST(floor(abs(s.value - tr.mean_tr) * 100)
                            AS BIGINT) <= qh.qhat_group
                       THEN 1 ELSE 0 END) AS BIGINT) AS cov_g,
                  CAST(SUM(CASE WHEN
                       CAST(floor(abs(s.value - tr.mean_tr) * 100)
                            AS BIGINT) <= qm.qhat_marginal
                       THEN 1 ELSE 0 END) AS BIGINT) AS cov_m
           FROM s
           JOIN tr ON tr.grp = s.grp
           JOIN qh ON qh.grp = s.grp
           CROSS JOIN qm
           WHERE s.event_id % 3 = 2
           GROUP BY s.grp, qh.qhat_group, qm.qhat_marginal)
    SELECT grp AS event_type, n_test, qhat_group, qhat_marginal,
           round(CAST(cov_g AS DOUBLE) / n_test, 6) AS coverage_group,
           round(CAST(cov_m AS DOUBLE) / n_test, 6) AS coverage_marginal,
           round(CAST(cov_g AS DOUBLE) / n_test
                 - CAST(cov_m AS DOUBLE) / n_test, 6) AS coverage_gap
    FROM te
""")
def stat_conformal_group_gap(spark, sf_dir):
    """GROUP-CONDITIONAL vs MARGINAL conformal coverage — the fairness
    face of stat_conformal_interval (VERDICT r8 item 5c).  Split
    conformal's guarantee is MARGINAL: one pooled quantile covers 90%
    on average, but subgroups whose residual scale differs from the
    pool get systematically under- or over-covered (the motivating
    defect for Mondrian/group-conditional conformal — Vovk 2012;
    Romano et al. 2020).  This query fits BOTH calibrations on the
    same split (per-type qhat = the Mondrian arm; pooled qhat = the
    marginal arm) and reports each type's test coverage under each,
    plus the gap — the number a fairness audit reads.

    Same exactness recipe as the parent: residuals quantize to
    integer cells, both quantiles are grid-exact integer rank
    thresholds.  The pooled running sum is a single-partition window
    over the CELL GRID (value-cardinality rows, not events — benign
    by the §5 grid rule); everything corpus-sized stays grouped.  At
    100 TB the calibration state is two tiny grids (per-group and
    pooled), and serving is a broadcast join of 2 integers per
    group."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_id", F.col("event_type").alias("grp"), "value"))
    model = conformal_fit(s.filter(F.col("event_id") % 3 == 0),
                          s.filter(F.col("event_id") % 3 == 1)) \
        .localCheckpoint(eager=True)           # feeds pooled + test
    qm = conformal_marginal_qhat(model,
                                 s.filter(F.col("event_id") % 3 == 1))
    te = (s.filter(F.col("event_id") % 3 == 2)
          .join(F.broadcast(model), "grp")
          .crossJoin(F.broadcast(qm))
          .groupBy("grp",
                   F.col("qhat_cell").alias("qhat_group"),
                   "qhat_marginal")
          .agg(F.count("*").cast("bigint").alias("n_test"),
               F.sum(F.when(conformal_cell() <= F.col("qhat_cell"), 1)
                     .otherwise(0)).cast("bigint").alias("cov_g"),
               F.sum(F.when(conformal_cell() <= F.col("qhat_marginal"), 1)
                     .otherwise(0)).cast("bigint").alias("cov_m")))
    covg = F.col("cov_g").cast("double") / F.col("n_test")
    covm = F.col("cov_m").cast("double") / F.col("n_test")
    return te.select(F.col("grp").alias("event_type"), "n_test",
                     "qhat_group", "qhat_marginal",
                     F.round(covg, 6).alias("coverage_group"),
                     F.round(covm, 6).alias("coverage_marginal"),
                     F.round(covg - covm, 6).alias("coverage_gap"))


def conformal_marginal_qhat(model, calib):
    """1-row (qhat_marginal): the POOLED finite-sample-corrected 90%
    residual-cell quantile over a (grp, value) calibration relation,
    residuals taken against the per-group mean in ``model`` — shared
    by stat_conformal_group_gap and the streaming coverage monitor's
    fairness arm, so stream == batch by construction.  The running
    sum is a single-partition window over the CELL GRID
    (value-cardinality rows), benign by the grid rule."""
    pooled = (calib
              .join(F.broadcast(model.select("grp", "mean_tr")), "grp")
              .select(conformal_cell().alias("cell"))
              .groupBy("cell").agg(F.count("*").cast("bigint")
                                   .alias("cnt")))
    npool = pooled.agg(F.sum("cnt").cast("bigint").alias("n_pool"))
    w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    return (pooled.select("cell",
                          F.sum("cnt").over(w).cast("bigint").alias("c"))
            .crossJoin(F.broadcast(npool))
            .filter(F.col("c") * 10 >= 9 * (F.col("n_pool") + 1))
            .agg(F.min("cell").alias("qhat_marginal")))


_CUPED_CTES = """s AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      value
               FROM events WHERE value IS NOT NULL),
    b AS (SELECT min(us) AS mn, max(us) AS mx FROM s),
    u AS (SELECT user_id,
            CAST(SUM(CASE WHEN us <= (b.mn + b.mx) // 2
                          THEN CAST(value AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
              AS x,
            CAST(SUM(CASE WHEN us > (b.mn + b.mx) // 2
                          THEN CAST(value AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
              AS y
          FROM s CROSS JOIN b GROUP BY user_id),
    ua AS (SELECT user_id, x, y,
                  CAST(CAST('0x' || substr(md5('exp1-' || user_id), 1, 8)
                       AS BIGINT) % 2 AS INT) AS arm
           FROM u),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
          FROM ua),
    t AS (SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
                 sx / n AS mean_x FROM m),
    adj AS (SELECT ua.arm, ua.y,
                   ua.y - t.theta * (ua.x - t.mean_x) AS yadj
            FROM ua CROSS JOIN t),
    g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
            CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(yadj AS DECIMAL(38,18))) AS DOUBLE) AS sa,
            CAST(SUM(CAST(yadj * yadj AS DECIMAL(38,18))) AS DOUBLE)
              AS saa
          FROM adj GROUP BY arm)"""


@query("stat_cuped_adjustment", f"""
    WITH {_CUPED_CTES}
    SELECT g.arm, g.n_users,
           round(g.sy / g.n_users, 6) AS mean_y,
           round(g.sa / g.n_users, 6) AS mean_y_adj,
           round(t.theta, 6) AS theta,
           round(1.0 - (g.saa / g.n_users
                        - (g.sa / g.n_users) * (g.sa / g.n_users))
                     / (g.syy / g.n_users
                        - (g.sy / g.n_users) * (g.sy / g.n_users)), 6)
             AS var_reduction
    FROM g CROSS JOIN t
""")
def stat_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction (Deng, Xu, Kohavi, Walker 2013 —
    'Improving the Sensitivity of Online Controlled Experiments by
    Utilizing Pre-Experiment Data'): the industry-standard experiment
    readout companion to stat_ab_srm.  Each user's PRE-period spend
    (events at or before the corpus time midpoint) is the covariate
    X; the POST-period spend is the metric Y; theta = cov(X,Y)/var(X)
    is fitted pooled, every user's Y is adjusted to
    Y - theta*(X - mean(X)), and each md5-bucketed arm reports its
    mean before/after adjustment plus the realized variance
    reduction 1 - var(Y_adj)/var(Y) — the factor by which the
    experiment's detectable-effect size shrinks for free.

    Exactness: the period split is integer microsecond arithmetic
    ((min+max) div 2 — no quantile needed); per-user period sums are
    DECIMAL(18,2)-exact; all covariance/variance moments are
    decimal-summed doubles with identical op order; arm assignment
    is the stat_ab_srm md5 convention.  Plan: one scan -> per-user
    2-conditional-sum agg (the user exchange every cohort query
    pays), a 5-aggregate pooled moment pass, one broadcast of the
    2-number model, and a per-arm moment agg — at 100 TB nothing
    but per-user rows ever shuffles, and theta moves as two
    numbers."""
    return _cuped_arm_moments(spark, sf_dir).selectExpr(
        "arm", "n_users",
        "round(sy / n_users, 6) AS mean_y",
        "round(sa / n_users, 6) AS mean_y_adj",
        "round(theta, 6) AS theta",
        "round(1.0 - (saa / n_users - (sa / n_users) * (sa / n_users))"
        " / (syy / n_users - (sy / n_users) * (sy / n_users)), 6)"
        " AS var_reduction")


def _cuped_arm_moments(spark, sf_dir):
    """(arm, theta, n_users, sy, syy, sa, saa): the per-arm raw and
    CUPED-adjusted metric moments — the shared core of
    stat_cuped_adjustment and stat_power_mde (both format the same
    decimal-exact moment relation)."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .selectExpr("user_id",
                     "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "value"))
    b = s.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    dsum = lambda c: F.sum(c).cast("double")  # noqa: E731
    zero = F.lit(0).cast("decimal(18,2)")
    u = (s.crossJoin(F.broadcast(b))
         .groupBy("user_id")
         .agg(dsum(F.when(F.expr("us <= (mn + mx) div 2"),
                          F.col("value").cast("decimal(18,2)"))
                   .otherwise(zero)).alias("x"),
              dsum(F.when(F.expr("us > (mn + mx) div 2"),
                          F.col("value").cast("decimal(18,2)"))
                   .otherwise(zero)).alias("y")))
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2).cast("int")
    ua = u.select("x", "y", arm.alias("arm")).localCheckpoint(eager=True)
    d18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    m = ua.agg(F.count("*").cast("bigint").alias("n"),
               d18(F.col("x")).alias("sx"), d18(F.col("y")).alias("sy"),
               d18(F.col("x") * F.col("x")).alias("sxx"),
               d18(F.col("x") * F.col("y")).alias("sxy"))
    t = m.selectExpr(
        "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta",
        "sx / n AS mean_x")
    adj = (ua.crossJoin(F.broadcast(t))
           .selectExpr("arm", "y",
                       "y - theta * (x - mean_x) AS yadj", "theta"))
    return (adj.groupBy("arm", "theta")
            .agg(F.count("*").cast("bigint").alias("n_users"),
                 d18(F.col("y")).alias("sy"),
                 d18(F.col("y") * F.col("y")).alias("syy"),
                 d18(F.col("yadj")).alias("sa"),
                 d18(F.col("yadj") * F.col("yadj")).alias("saa")))


@query("stat_power_mde", f"""
    WITH {_CUPED_CTES},
    p AS (SELECT
            MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
            MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
            MAX(CASE WHEN arm = 0 THEN syy / n_users
                     - (sy / n_users) * (sy / n_users) END) AS v0r,
            MAX(CASE WHEN arm = 1 THEN syy / n_users
                     - (sy / n_users) * (sy / n_users) END) AS v1r,
            MAX(CASE WHEN arm = 0 THEN saa / n_users
                     - (sa / n_users) * (sa / n_users) END) AS v0c,
            MAX(CASE WHEN arm = 1 THEN saa / n_users
                     - (sa / n_users) * (sa / n_users) END) AS v1c
          FROM g)
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
           round(2.801585 * sqrt(v0r / n0 + v1r / n1), 6) AS mde_raw,
           round(2.801585 * sqrt(v0c / n0 + v1c / n1), 6) AS mde_cuped,
           round(sqrt(v0c / n0 + v1c / n1)
                 / sqrt(v0r / n0 + v1r / n1), 6) AS mde_ratio
    FROM p
""")
def stat_power_mde(spark, sf_dir):
    """Experiment POWER analysis: the minimum detectable effect at
    alpha = 0.05 (two-sided) and 80% power — MDE = (z_0.975 + z_0.8)
    * sqrt(var_c/n_c + var_t/n_t), the number every experiment
    design review asks for — computed twice from the SAME per-arm
    moment relation as stat_cuped_adjustment: once on the raw
    post-period metric, once on the CUPED-adjusted one, plus their
    ratio (the sensitivity improvement CUPED buys, which approaches
    sqrt(1 - rho^2)).  The z constants are fixed literals on both
    engines, so the whole readout is deterministic scalar algebra on
    the 2-row arm-moment relation — at 100 TB this adds ZERO passes
    beyond the CUPED moments it shares."""
    g = _cuped_arm_moments(spark, sf_dir)
    mx = lambda arm, e: F.max(F.when(F.col("arm") == arm, e))  # noqa: E731
    var_r = (F.col("syy") / F.col("n_users")
             - (F.col("sy") / F.col("n_users"))
             * (F.col("sy") / F.col("n_users")))
    var_c = (F.col("saa") / F.col("n_users")
             - (F.col("sa") / F.col("n_users"))
             * (F.col("sa") / F.col("n_users")))
    p = g.agg(mx(0, F.col("n_users")).alias("n0"),
              mx(1, F.col("n_users")).alias("n1"),
              mx(0, var_r).alias("v0r"), mx(1, var_r).alias("v1r"),
              mx(0, var_c).alias("v0c"), mx(1, var_c).alias("v1c"))
    return p.selectExpr(
        "CAST(n0 AS BIGINT) AS n_control", "CAST(n1 AS BIGINT) AS n_treat",
        "round(2.801585 * sqrt(v0r / n0 + v1r / n1), 6) AS mde_raw",
        "round(2.801585 * sqrt(v0c / n0 + v1c / n1), 6) AS mde_cuped",
        "round(sqrt(v0c / n0 + v1c / n1)"
        " / sqrt(v0r / n0 + v1r / n1), 6) AS mde_ratio")


@query("dq_freshness_lag", """
    WITH s AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    m AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_events,
                 max(ts) AS latest
          FROM s GROUP BY event_type),
    g AS (SELECT max(latest) AS corpus_latest FROM m)
    SELECT m.event_type, m.n_events,
           m.latest, g.corpus_latest,
           CAST(epoch_us(g.corpus_latest) - epoch_us(m.latest)
                AS BIGINT) // 1000000 AS lag_sec,
           CAST(CASE WHEN epoch_us(g.corpus_latest) - epoch_us(m.latest)
                          > 86400000000 THEN 1 ELSE 0 END AS INT)
             AS stale
    FROM m CROSS JOIN g
""")
def dq_freshness_lag(spark, sf_dir):
    """Data-freshness audit: per event type, how far its newest event
    lags the corpus watermark (max ts anywhere), with a 24 h
    staleness flag — the first page of every ingestion runbook (a
    source whose feed silently died keeps passing row-level DQ gates
    while its lag grows).  Lag is exact integer microsecond
    arithmetic floored to seconds; one scan, one 5-row max-agg, one
    broadcast of the 1-row watermark.  At 100 TB: map-side max
    partials make this metadata-cost on top of any scan that is
    already running, and the streaming twin is just max-merge state —
    the HLL register pattern with a single timestamp per group."""
    s = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    m = (s.groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n_events"),
              F.max("ts").alias("latest")))
    g = m.agg(F.max("latest").alias("corpus_latest"))
    lag_us = F.expr("unix_micros(corpus_latest) - unix_micros(latest)")
    return (m.crossJoin(F.broadcast(g))
            .select("event_type", "n_events", "latest", "corpus_latest",
                    F.expr("(unix_micros(corpus_latest)"
                           " - unix_micros(latest)) div 1000000")
                    .cast("bigint").alias("lag_sec"),
                    F.when(lag_us > 86400 * 1_000_000, 1).otherwise(0)
                    .cast("int").alias("stale")))


# --- model calibration + influence over the Newton trainer (round 10) -----

_CALIB_BINS = 10


def _logreg_d_scored_sql(extra: str = "") -> str:
    """CTE that scores the design matrix with the FITTED model:
    per-row p = sigmoid(z) at beta{STEPS} — the shared front of the
    calibration / Brier oracles.  ``extra`` threads grouping columns
    that the trainer ignores."""
    z = _logreg_d_z("b.")
    sel = f"{extra}, " if extra else ""
    return (f"scored AS (SELECT {sel}s.*, 1.0 / (1.0 + exp(-({z}))) AS p"
            f" FROM s CROSS JOIN beta{_LOGREG_D_STEPS} b)")


@query("ml_calibration_bins", f"""
    WITH {_logreg_d_train_ctes()},
    {_logreg_d_scored_sql()},
    b AS (SELECT LEAST({_CALIB_BINS - 1},
                       CAST(floor(p * {_CALIB_BINS}) AS INTEGER)) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
                 CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy
          FROM scored GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM b),
    g AS (SELECT bin, n, sp / n AS avg_pred, sy / n AS frac_pos FROM b),
    e AS (SELECT CAST(SUM(CAST(
            (CAST(n AS DOUBLE) / nt) * abs(avg_pred - frac_pos)
            AS DECIMAL(38,18))) AS DOUBLE) AS ece
          FROM g CROSS JOIN tot)
    SELECT g.bin, g.n,
           round(g.avg_pred, 6) AS avg_pred,
           round(g.frac_pos, 6) AS frac_pos,
           round(abs(g.avg_pred - g.frac_pos), 6) AS gap,
           round(e.ece, 6) AS ece
    FROM g CROSS JOIN e
""")
def ml_calibration_bins(spark, sf_dir):
    """Reliability diagram + Expected Calibration Error over the
    d-feature Newton trainer's predictions (Murphy & Winkler 1977
    reliability tables; Guo et al. 2017's ECE formulation; VERDICT r9
    item 1's calibration-curve candidate): score every row with the
    FITTED model, bucket p into 10 equal-width bins, and report each
    bin's population, mean predicted probability, empirical positive
    rate and |gap| — plus the population-weighted mean gap (ECE)
    repeated on every row.  This is the go/no-go readout before a
    model's scores are used as sampling weights or quality gates: a
    miscalibrated classifier silently distorts any score-thresholded
    curation step.

    Exactness: the trained beta is bit-identical on both engines (the
    Newton chain's shared formula strings); p is one fixed double op
    chain, so floor(p*10) bins identically; per-bin p/y sums
    accumulate in DECIMAL(38,18); the ECE sum runs over 10 bin rows in
    decimal.  Plan: ONE scoring scan -> 10-row hash agg (map-side
    combinable), then bin-table arithmetic; the model comes from the
    artifact store, so warm sessions pay only the scan.  At 100 TB the
    scan is the whole cost — the calibration table is metadata."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    scored = (_logreg_d_s_frame(spark, sf_dir)
              .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr))
    d18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    b = (scored.groupBy(
            F.least(F.lit(_CALIB_BINS - 1),
                    F.floor(F.col("p") * _CALIB_BINS).cast("int"))
            .alias("bin"))
         .agg(F.count("*").cast("bigint").alias("n"),
              d18(F.col("p")).alias("sp"), d18(F.col("y")).alias("sy")))
    tot = b.agg(F.sum("n").cast("bigint").alias("nt"))
    g = (b.select("bin", "n", (F.col("sp") / F.col("n")).alias("avg_pred"),
                  (F.col("sy") / F.col("n")).alias("frac_pos"))
         .localCheckpoint(eager=True))         # 10 rows, feeds ece + output
    e = (g.crossJoin(F.broadcast(tot))
         .agg(d18((F.col("n").cast("double") / F.col("nt"))
                  * F.abs(F.col("avg_pred") - F.col("frac_pos")))
              .alias("ece")))
    return (g.crossJoin(F.broadcast(e))
            .select("bin", "n",
                    F.round("avg_pred", 6).alias("avg_pred"),
                    F.round("frac_pos", 6).alias("frac_pos"),
                    F.round(F.abs(F.col("avg_pred") - F.col("frac_pos")), 6)
                    .alias("gap"),
                    F.round("ece", 6).alias("ece")))


@query("stat_brier_decomposition", f"""
    WITH {_logreg_d_train_ctes()},
    {_logreg_d_scored_sql()},
    b AS (SELECT LEAST({_CALIB_BINS - 1},
                       CAST(floor(p * {_CALIB_BINS}) AS INTEGER)) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
                 CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy
          FROM scored GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(38,18)))
                        AS DOUBLE) AS sq
            FROM scored),
    parts AS (SELECT
        CAST(SUM(CAST(CAST(b.n AS DOUBLE)
             * ((b.sp / b.n) - (b.sy / b.n))
             * ((b.sp / b.n) - (b.sy / b.n)) AS DECIMAL(38,18)))
             AS DOUBLE) AS rel_num,
        CAST(SUM(CAST(CAST(b.n AS DOUBLE)
             * ((b.sy / b.n) - (tot.sy / tot.n))
             * ((b.sy / b.n) - (tot.sy / tot.n)) AS DECIMAL(38,18)))
             AS DOUBLE) AS res_num
      FROM b CROSS JOIN tot)
    SELECT tot.n,
           round(tot.sq / tot.n, 6) AS brier,
           round(parts.rel_num / tot.n, 6) AS reliability,
           round(parts.res_num / tot.n, 6) AS resolution,
           round((tot.sy / tot.n) * (1.0 - tot.sy / tot.n), 6)
             AS uncertainty
    FROM tot CROSS JOIN parts
""")
def stat_brier_decomposition(spark, sf_dir):
    """Murphy (1973) decomposition of the Brier score for the Newton
    trainer's predictions: BRIER (mean squared p-y), and its binned
    RELIABILITY (how far each bin's mean forecast sits from its
    observed rate — lower is better-calibrated), RESOLUTION (how much
    the bins' observed rates spread around the base rate — higher
    means the forecast actually discriminates) and UNCERTAINTY (the
    base rate's own variance, the no-skill floor).  The classic
    forecast-verification companion to ml_calibration_bins: ECE asks
    "can I trust the score as a probability", this asks "does the
    score also separate the classes".

    Exactness: same fitted-beta / fixed-op-chain / decimal-sum recipe
    as the calibration query; the three bin-table sums run over 10
    rows in DECIMAL(38,18) and every division is a fixed double op.
    Plan: one scoring scan -> 10-row bin agg + 1-row total (both
    map-side combinable), then constant-size arithmetic — the scan is
    the entire cost at any scale."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    scored = (_logreg_d_s_frame(spark, sf_dir)
              .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr)
              .localCheckpoint(eager=True))    # feeds bin agg + total
    d18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    b = (scored.groupBy(
            F.least(F.lit(_CALIB_BINS - 1),
                    F.floor(F.col("p") * _CALIB_BINS).cast("int"))
            .alias("bin"))
         .agg(F.count("*").cast("bigint").alias("n"),
              d18(F.col("p")).alias("sp"), d18(F.col("y")).alias("sy")))
    tot = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        d18(F.col("y")).alias("sy"),
        d18((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
        .alias("sq"))
    pbar = F.col("sp") / F.col("n")
    obar = F.col("sy") / F.col("n")
    base = F.col("t_sy") / F.col("t_n")
    parts = (b.crossJoin(F.broadcast(
                tot.select(F.col("n").alias("t_n"),
                           F.col("sy").alias("t_sy"))))
             .agg(d18(F.col("n").cast("double")
                      * (pbar - obar) * (pbar - obar)).alias("rel_num"),
                  d18(F.col("n").cast("double")
                      * (obar - base) * (obar - base)).alias("res_num")))
    return (tot.crossJoin(F.broadcast(parts))
            .select("n",
                    F.round(F.col("sq") / F.col("n"), 6).alias("brier"),
                    F.round(F.col("rel_num") / F.col("n"), 6)
                    .alias("reliability"),
                    F.round(F.col("res_num") / F.col("n"), 6)
                    .alias("resolution"),
                    F.round((F.col("sy") / F.col("n"))
                            * (1.0 - F.col("sy") / F.col("n")), 6)
                    .alias("uncertainty")))


_LOGO_GRP_SQL = "CAST(user_id % 5 AS INTEGER)"


def _logreg_logo_oracle_sql() -> str:
    """LOGO influence oracle: train the full model, re-aggregate the
    20 Newton sums at the fitted beta PER GROUP and in total, subtract
    (exact decimal), and solve one Newton step per group over the
    leave-that-group-out sums."""
    z = _logreg_d_z("b.")
    aggs_g = ",\n             ".join(
        f"SUM(CAST({t} AS DECIMAL(38,18))) AS {nm}_g"
        for nm, t in _logreg_d_agg_terms())
    aggs_f = ",\n             ".join(
        f"SUM(CAST({t} AS DECIMAL(38,18))) AS {nm}_f"
        for nm, t in _logreg_d_agg_terms())
    diffs = ", ".join(f"CAST({nm}_f - {nm}_g AS DOUBLE) AS {nm}"
                      for nm, _ in _logreg_d_agg_terms())
    solve = (f"SELECT lo.*, b.* FROM lo CROSS JOIN "
             f"beta{_LOGREG_D_STEPS} b")
    for stage in _gauss_stages(_LOGREG_D_N):
        cols = ", ".join(f"{e} AS {nm}" for nm, e in stage)
        solve = f"SELECT *, {cols} FROM ({solve})"
    infl = ", ".join(
        f"round(d{i}, 6) AS infl_b{i}" for i in range(_LOGREG_D_N))
    logo = ", ".join(
        f"round(b{i} + d{i}, 6) AS b{i}_logo" for i in range(_LOGREG_D_N))
    feats = ", ".join(f"{e} AS {nm}" for nm, e in _logreg_d_features())
    return f"""
    WITH {_logreg_d_train_ctes()},
    sg AS (SELECT {_LOGO_GRP_SQL} AS grp, {feats}
           FROM events WHERE value IS NOT NULL),
    sc AS (SELECT sg.*, 1.0 / (1.0 + exp(-({z}))) AS p
           FROM sg CROSS JOIN beta{_LOGREG_D_STEPS} b),
    mg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             {aggs_g}
           FROM sc GROUP BY grp),
    mf AS (SELECT {aggs_f} FROM sc),
    lo AS (SELECT grp, n_g, {diffs} FROM mg CROSS JOIN mf)
    SELECT grp, n_g, {infl}, {logo}
    FROM ({solve})
"""


@query("ml_influence_logo_newton", _logreg_logo_oracle_sql())
def ml_influence_logo_newton(spark, sf_dir):
    """Leave-one-group-out INFLUENCE over the Newton logreg trainer
    (the datamodels/influence-function question — Koh & Liang 2017;
    Ilyas et al. 2022 datamodels — instantiated at group granularity,
    VERDICT r9 item 1's first candidate): for each user cohort
    (user_id %% 5), how would the fitted model move if that cohort's
    data vanished?  Computed WITHOUT refit scans: the 20 Newton
    aggregates are SUMS over rows, so leave-one-out sums are the full
    sums minus the cohort's sums — both sides re-aggregate ONCE at the
    fitted beta, subtract exactly in DECIMAL(38,18), and solve one
    Newton step per cohort (the one-step refit / infinitesimal
    jackknife approximation, exact to first order because the full-
    data gradient at the optimum is ~0).  infl_b{{i}} is the step
    direction — the group's influence on each coefficient — and
    b{{i}}_logo the one-step-refit model without the group.

    Exactness: the per-cohort solve runs the SAME generated
    elimination strings on a 5-row relation (each row an independent
    1-row solve); decimal subtraction makes the LOGO sums exact, not
    a double cancellation.  Plan: one scoring scan -> grouped 20-sum
    agg (+1-row total), then #groups-sized algebra — influence for
    EVERY group costs one scan total, the property that makes
    group-level data attribution feasible at 100 TB (a refit per
    group would be #groups full training runs)."""
    z = _logreg_d_z()
    beta = _logreg_d_beta(spark, sf_dir)
    solve_exprs = [f"{e} AS {nm}"
                   for stage in _gauss_stages(_LOGREG_D_N)
                   for nm, e in stage]
    sc = (_logreg_d_s_frame(spark, sf_dir,
                            extra=(f"{_LOGO_GRP_SQL} AS grp",))
          .crossJoin(F.broadcast(beta))
          .selectExpr("*", f"1.0 / (1.0 + exp(-({z}))) AS p"))
    dec = lambda t, a: F.expr(  # noqa: E731
        f"SUM(CAST({t} AS DECIMAL(38,18)))").alias(a)
    mg = (sc.groupBy("grp").agg(
              F.count("*").cast("bigint").alias("n_g"),
              *[dec(t, f"{nm}_g") for nm, t in _logreg_d_agg_terms()])
          .localCheckpoint(eager=True))        # feeds mf + lo
    # full-corpus moments = the grouped moments re-summed: DECIMAL
    # sums are exact and associative, so this is value-identical to a
    # second scan — one scoring pass instead of two (plus no corpus-
    # sized checkpoint; r9 pinned sc and scanned it twice)
    mf = mg.agg(*[F.sum(f"{nm}_g").alias(f"{nm}_f")
                  for nm, _ in _logreg_d_agg_terms()])
    lo = (mg.crossJoin(F.broadcast(mf))
          .select("grp", "n_g",
                  *[(F.col(f"{nm}_f") - F.col(f"{nm}_g")).cast("double")
                    .alias(nm) for nm, _ in _logreg_d_agg_terms()]))
    solved = (lo.crossJoin(F.broadcast(beta))
              .selectExpr("*", *solve_exprs))
    return solved.selectExpr(
        "grp", "n_g",
        *[f"round(d{i}, 6) AS infl_b{i}" for i in range(_LOGREG_D_N)],
        *[f"round(b{i} + d{i}, 6) AS b{i}_logo"
          for i in range(_LOGREG_D_N)])


# --- ratio-metric delta method + sequential test (round 10) ----------------

# shared scalar formula stages (Spark selectExpr == oracle SQL, so the
# double op chains are bit-identical — the logreg/gauss convention)
_DMR_STAGES = [
    [("r0", "sy / sx"), ("xbar", "sx / CAST(n AS DOUBLE)")],
    [("vy", "(syy - sy * sy / n) / (n - 1.0)"),
     ("vx", "(sxx - sx * sx / n) / (n - 1.0)"),
     ("vxy", "(sxy - sx * sy / n) / (n - 1.0)")],
    [("se", "sqrt((vy - 2.0 * r0 * vxy + r0 * r0 * vx)"
            " / (n * xbar * xbar))")],
]


def _dmr_oracle_sql() -> str:
    sel = "SELECT * FROM m"
    for stage in _DMR_STAGES:
        cols = ", ".join(f"{e} AS {nm}" for nm, e in stage)
        sel = f"SELECT *, {cols} FROM ({sel})"
    return f"""
    WITH u AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm, user_id,
                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                        AS yu,
                      CAST(count(*) AS BIGINT) AS nu
               FROM events WHERE value IS NOT NULL
               GROUP BY arm, user_id),
    m AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(yu AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(CAST(nu AS DOUBLE) AS DECIMAL(38,18)))
                      AS DOUBLE) AS sx,
                 CAST(SUM(CAST(yu * yu AS DECIMAL(38,18))) AS DOUBLE)
                   AS syy,
                 CAST(SUM(CAST(CAST(nu AS DOUBLE) * nu AS DECIMAL(38,18)))
                      AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(yu * nu AS DECIMAL(38,18))) AS DOUBLE)
                   AS sxy
          FROM u GROUP BY arm)
    SELECT arm, n AS n_users,
           round(r0, 6) AS ratio,
           round(se, 6) AS se,
           round(r0 - 1.96 * se, 6) AS ci_lo,
           round(r0 + 1.96 * se, 6) AS ci_hi
    FROM ({sel})
"""


@query("stat_delta_method_ratio", _dmr_oracle_sql())
def stat_delta_method_ratio(spark, sf_dir):
    """Delta-method confidence interval for a RATIO metric under
    cluster (per-user) randomization (Deng, Knoblich & Lu 2018,
    'Applying the Delta Method in Metric Analytics'): the A/B metric
    'revenue per event' is a ratio of two per-user sums, so its
    variance is NOT a row-level variance — Var(Ȳ/X̄) is approximated
    by the first-order expansion (var_y - 2R cov + R² var_x) /
    (n x̄²) over USER-level aggregates, the correction every
    experimentation platform applies before quoting a CI on ratio
    metrics.  One row per arm (user_id %% 2): users, ratio, standard
    error, 95%% CI.

    Exactness: per-user sums are exact decimal; the six arm-level
    moments accumulate the resulting doubles in DECIMAL(38,18); and
    the variance/SE arithmetic evaluates the SAME formula strings
    (_DMR_STAGES) via selectExpr and oracle SQL, so every
    intermediate double is bit-identical.  Plan: one scan -> per-user
    hash agg (map-side combinable) -> 2-row arm agg -> scalar algebra;
    at 100 TB the user agg is the only shuffle and the delta-method
    itself is free — the point of the method (no per-row resampling
    needed, unlike the bootstrap)."""
    u = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .groupBy((F.col("user_id") % 2).cast("int").alias("arm"),
                  "user_id")
         .agg(dsum("value").alias("yu"),
              F.count("*").cast("bigint").alias("nu")))
    d18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    m = (u.groupBy("arm")
         .agg(F.count("*").cast("bigint").alias("n"),
              d18(F.col("yu")).alias("sy"),
              d18(F.col("nu").cast("double")).alias("sx"),
              d18(F.col("yu") * F.col("yu")).alias("syy"),
              d18(F.col("nu").cast("double") * F.col("nu")).alias("sxx"),
              d18(F.col("yu") * F.col("nu")).alias("sxy")))
    out = m
    for stage in _DMR_STAGES:
        out = out.selectExpr("*", *[f"{e} AS {nm}" for nm, e in stage])
    return out.selectExpr(
        "arm", "n AS n_users",
        "round(r0, 6) AS ratio", "round(se, 6) AS se",
        "round(r0 - 1.96 * se, 6) AS ci_lo",
        "round(r0 + 1.96 * se, 6) AS ci_hi")


_SPRT_P0, _SPRT_P1 = 0.10, 0.12   # H0/H1 purchase rates
_SPRT_CKPT = 1000                 # events per checkpoint
# log-LR increments and Wald bound PRECOMPUTED as shortest-repr double
# literals (strtod round-trips them identically on both engines) —
# writing ln(0.88/0.90) inline would hit Spark's DECIMAL literal
# division (scale-6 rounding) while DuckDB divides doubles, a 2e-7
# constant skew that fails the hash
_SPRT_C1 = f"CAST({_math.log(_SPRT_P1 / _SPRT_P0)!r} AS DOUBLE)"
_SPRT_C0 = (f"CAST({_math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))!r}"
            " AS DOUBLE)")
_SPRT_A = (f"CAST({_math.log(19.0)!r} AS DOUBLE)"
           )                      # (1-beta)/alpha at alpha=beta=0.05


@query("stat_sprt_ab", f"""
    WITH e AS (SELECT event_id,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS y
               FROM events),
    b AS (SELECT CAST(event_id // {_SPRT_CKPT} AS BIGINT) AS ckpt,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS k
          FROM e GROUP BY 1),
    c AS (SELECT ckpt,
                 CAST(SUM(n) OVER (ORDER BY ckpt
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
                 CAST(SUM(k) OVER (ORDER BY ckpt
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_cum
          FROM b),
    s AS (SELECT ckpt, n_cum, k_cum,
                 k_cum * {_SPRT_C1} + (n_cum - k_cum) * {_SPRT_C0} AS llr
          FROM c),
    fc AS (SELECT min(ckpt) AS f FROM s WHERE abs(llr) >= {_SPRT_A})
    SELECT s.ckpt, s.n_cum, s.k_cum,
           round(s.llr, 6) AS llr,
           CASE WHEN s.llr >= {_SPRT_A} THEN 'accept_h1'
                WHEN s.llr <= -{_SPRT_A} THEN 'accept_h0'
                ELSE 'continue' END AS verdict,
           CAST(CASE WHEN s.ckpt = fc.f THEN 1 ELSE 0 END AS INT)
             AS first_decision
    FROM s CROSS JOIN fc
""")
def stat_sprt_ab(spark, sf_dir):
    """Wald's Sequential Probability Ratio Test over the event stream
    (Wald 1945; the always-valid-inference motivation of Johari et
    al. 2017 'Peeking at A/B Tests'): test H0: P(purchase) = 0.10 vs
    H1: 0.12, evaluating the cumulative log-likelihood ratio at a
    checkpoint every 1000 event ids — the peeking curve a sequential
    experimentation platform exposes, with Wald bounds +-ln(19)
    (alpha = beta = 0.05).  Per checkpoint: cumulative n/conversions,
    llr, the boundary verdict, and a flag on the FIRST crossing (the
    SPRT stopping time — later rows are the counterfactual curve).

    Exactness: llr = k*ln(p1/p0) + (n-k)*ln((1-p1)/(1-p0)) is two
    integer-scaled transcendentals of LITERAL constants — both
    engines evaluate the identical expression strings, so the curve
    and every boundary comparison agree bitwise.  Plan: one scan ->
    per-checkpoint counts (map-side combinable), then the cumulative
    sums run as the repo's TWO-PHASE running sum over the checkpoint
    grid (range partition + per-partition window + P-row broadcast
    offsets — no single-partition window), and the first-crossing is
    a 1-row min-agg broadcast.  At 100 TB the checkpoint grid is
    |events|/1000 rows — the two-phase pattern keeps even that
    parallel."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y")
    b = (e.groupBy(F.expr(f"CAST(event_id DIV {_SPRT_CKPT} AS BIGINT)")
                   .alias("ckpt"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum("y").cast("bigint").alias("k")))
    # two-phase global running sums over the checkpoint grid
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (b.repartitionByRange(n_parts, "ckpt")
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy("ckpt")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "pid", "ckpt",
        F.sum("n").over(wrun).cast("bigint").alias("ln"),
        F.sum("k").over(wrun).cast("bigint").alias("lk"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (with_pid.groupBy("pid")
            .agg(F.sum("n").alias("pn"), F.sum("k").alias("pk"))
            .select("pid",
                    F.coalesce(F.sum("pn").over(woff), F.lit(0))
                    .alias("offn"),
                    F.coalesce(F.sum("pk").over(woff), F.lit(0))
                    .alias("offk")))
    s = (local.join(F.broadcast(offs), "pid")
         .selectExpr("ckpt",
                     "CAST(ln + offn AS BIGINT) AS n_cum",
                     "CAST(lk + offk AS BIGINT) AS k_cum")
         .selectExpr("ckpt", "n_cum", "k_cum",
                     f"k_cum * {_SPRT_C1} + (n_cum - k_cum) * {_SPRT_C0}"
                     " AS llr")
         .localCheckpoint(eager=True))         # feeds fc + output
    fc = s.filter(F.expr(f"abs(llr) >= {_SPRT_A}")) \
        .agg(F.min("ckpt").alias("f"))
    return (s.crossJoin(F.broadcast(fc))
            .selectExpr("ckpt", "n_cum", "k_cum",
                        "round(llr, 6) AS llr",
                        f"CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1' "
                        f"WHEN llr <= -{_SPRT_A} THEN 'accept_h0' "
                        "ELSE 'continue' END AS verdict",
                        "CAST(CASE WHEN ckpt = f THEN 1 ELSE 0 END AS INT)"
                        " AS first_decision"))


# --- eval-pipeline estimators (round 10, batch 2) --------------------------

def _pass_at_k_expr(k: int) -> str:
    """The unbiased pass@k estimator 1 - C(n-c,k)/C(n,k) as one shared
    formula string (Chen et al. 2021, Codex appendix): the binomial
    ratio unrolled as a left-associated product of k integer-ratio
    factors — both engines evaluate the identical double op chain.
    When n - c < k the numerator binomial is 0 and pass@k is exactly
    1 (some success is guaranteed in every size-k draw)."""
    prod = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / CAST(n - {i} AS DOUBLE))"
        for i in range(k))
    return f"CASE WHEN n - c < {k} THEN 1.0 ELSE 1.0 - {prod} END"


@query("eval_pass_at_k", f"""
    WITH s AS (SELECT user_id AS task,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS c
               FROM events GROUP BY user_id),
    p AS (SELECT n, c,
                 {_pass_at_k_expr(1)} AS p1,
                 {_pass_at_k_expr(5)} AS p5
          FROM s)
    SELECT CAST(count(*) AS BIGINT) AS n_tasks_k1,
           round(CAST(SUM(CAST(p1 AS DECIMAL(38,18))) AS DOUBLE)
                 / count(*), 6) AS pass_at_1,
           CAST(SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tasks_k5,
           round(CAST(SUM(CASE WHEN n >= 5
                          THEN CAST(p5 AS DECIMAL(38,18)) END) AS DOUBLE)
                 / SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END), 6)
             AS pass_at_5
    FROM p
""")
def eval_pass_at_k(spark, sf_dir):
    """The UNBIASED pass@k estimator (Chen et al. 2021, 'Evaluating
    Large Language Models Trained on Code'): with n samples per task
    of which c pass, the naive 1-(1-c/n)^k is biased; the paper's
    estimator 1 - C(n-c,k)/C(n,k) is exact, and its numerically-stable
    product form is what every eval harness computes.  Instantiated on
    the events fixture (task = user, attempt = event, success =
    purchase): per-task (n, c) in one grouped scan, the k=1 and k=5
    estimators as unrolled integer-ratio products, averaged over the
    tasks with n >= k (pass@k over fewer samples than k is undefined —
    those tasks are excluded, their count visible via n_tasks_k1 -
    n_tasks_k5).

    Exactness: each factor (n-c-i)/(n-i) is a deterministic double of
    exact integers, the product a fixed left-associated chain (shared
    formula strings), and the task means accumulate in
    DECIMAL(38,18).  Plan: ONE map-side-combinable grouped count scan
    -> per-task scalar math -> 1-row mean.  At 100 TB: the eval-result
    log scans once, everything after is task-cardinality-sized."""
    s = (_t(spark, sf_dir, "events")
         .groupBy(F.col("user_id").alias("task"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("bigint").alias("c")))
    p = s.selectExpr("n", "c",
                     f"{_pass_at_k_expr(1)} AS p1",
                     f"{_pass_at_k_expr(5)} AS p5")
    return p.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_tasks_k1",
        "round(CAST(SUM(CAST(p1 AS DECIMAL(38,18))) AS DOUBLE)"
        " / count(*), 6) AS pass_at_1",
        "CAST(SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_tasks_k5",
        "round(CAST(SUM(CASE WHEN n >= 5"
        " THEN CAST(p5 AS DECIMAL(38,18)) END) AS DOUBLE)"
        " / SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END), 6) AS pass_at_5")


_BT_STEPS = 3


def _bt_step_sql(k: int) -> str:
    """One Hunter-(2004) MM step for Bradley-Terry as CTEs: per-player
    denominator sum_j n_ij / (w_i + w_j) (decimal-summed), raw update
    W_i / denom, then normalization so the step is scale-pinned."""
    return f"""
    d{k} AS (SELECT dp.i AS ty,
                    CAST(SUM(CAST(dp.n / GREATEST(wi.w + wj.w, 1e-12)
                         AS DECIMAL(38,18))) AS DOUBLE) AS denom
             FROM dp
             JOIN w{k - 1} wi ON wi.ty = dp.i
             JOIN w{k - 1} wj ON wj.ty = dp.j
             GROUP BY dp.i),
    r{k} AS (SELECT wins.ty, CAST(wins.wi AS DOUBLE) / d{k}.denom AS r
             FROM wins JOIN d{k} ON d{k}.ty = wins.ty),
    z{k} AS (SELECT CAST(SUM(CAST(r AS DECIMAL(38,18))) AS DOUBLE) AS z
             FROM r{k}),
    w{k} AS (SELECT r{k}.ty, r{k}.r / z{k}.z AS w
             FROM r{k} CROSS JOIN z{k})"""


@query("eval_bradley_terry", f"""
    WITH e AS (SELECT user_id, event_id, event_type, value
               FROM events WHERE value IS NOT NULL),
    m AS (SELECT user_id, event_id, event_type, value,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS pty,
                 lag(value) OVER (PARTITION BY user_id
                                  ORDER BY event_id) AS pval
          FROM e),
    pairs AS (SELECT CASE WHEN event_type < pty THEN event_type
                          ELSE pty END AS lo,
                     CASE WHEN event_type < pty THEN pty
                          ELSE event_type END AS hi,
                     CASE WHEN value > pval THEN event_type
                          WHEN pval > value THEN pty
                          WHEN event_type < pty THEN event_type
                          ELSE pty END AS winner
              FROM m WHERE pty IS NOT NULL AND event_type <> pty),
    pc AS (SELECT lo, hi, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN winner = lo THEN 1 ELSE 0 END)
                       AS BIGINT) AS lo_wins
           FROM pairs GROUP BY lo, hi),
    dp AS (SELECT lo AS i, hi AS j, n FROM pc
           UNION ALL SELECT hi, lo, n FROM pc),
    wins AS (SELECT i AS ty, CAST(SUM(wi) AS BIGINT) AS wi FROM (
               SELECT lo AS i, lo_wins AS wi FROM pc
               UNION ALL SELECT hi, n - lo_wins FROM pc)
             GROUP BY i),
    w0 AS (SELECT ty, 1.0 AS w FROM wins),
    {",".join(_bt_step_sql(k) for k in range(1, _BT_STEPS + 1))}
    SELECT wins.ty AS event_type, wins.wi AS n_wins,
           (SELECT CAST(SUM(n) AS BIGINT) FROM dp WHERE dp.i = wins.ty)
             AS n_matches,
           round(w{_BT_STEPS}.w, 6) AS bt_strength
    FROM wins JOIN w{_BT_STEPS} ON w{_BT_STEPS}.ty = wins.ty
""")
def eval_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference-strength fit by Hunter's (2004) MM
    algorithm — the model behind Chatbot-Arena-style pairwise
    leaderboards and RLHF preference aggregation: each user's
    consecutive events form a pairwise comparison between event types
    (higher value wins; exact ties break to the lexicographically
    smaller type, so every match has a deterministic winner), and
    three unrolled MM steps w_i <- W_i / sum_j n_ij/(w_i + w_j)
    (normalized each step) fit the strength vector from the 5x5 match
    matrix.

    Exactness: the match relation is a per-user lag window with a
    deterministic order (event_id); all counts are exact integers;
    each MM denominator sums <= #players decimal terms; the update is
    a fixed scalar chain with a GREATEST(., 1e-12) floor so an
    all-losses player cannot divide by zero — identical strings both
    engines.  Plan: one user-partitioned window over the scan, one
    grouped count to the #players^2 match matrix — the MM iterations
    run on that tiny relation, the fixed-iteration unroll of the
    PageRank/DoReMi family.  At 100 TB: the window rides the
    per-user partitioning; everything after the first agg is
    players-squared-sized."""
    e = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("user_id", "event_id", "event_type", "value"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    m = e.select("event_type", "value",
                 F.lag("event_type").over(w).alias("pty"),
                 F.lag("value").over(w).alias("pval"))
    lo = F.when(F.col("event_type") < F.col("pty"), F.col("event_type")) \
        .otherwise(F.col("pty"))
    hi = F.when(F.col("event_type") < F.col("pty"), F.col("pty")) \
        .otherwise(F.col("event_type"))
    winner = (F.when(F.col("value") > F.col("pval"), F.col("event_type"))
              .when(F.col("pval") > F.col("value"), F.col("pty"))
              .otherwise(lo))
    pairs = (m.filter(F.col("pty").isNotNull()
                      & (F.col("event_type") != F.col("pty")))
             .select(lo.alias("lo"), hi.alias("hi"),
                     winner.alias("winner")))
    pc = (pairs.groupBy("lo", "hi")
          .agg(F.count("*").cast("bigint").alias("n"),
               F.sum(F.when(F.col("winner") == F.col("lo"), 1)
                     .otherwise(0)).cast("bigint").alias("lo_wins"))
          .localCheckpoint(eager=True))        # feeds dp + wins
    dp = (pc.selectExpr("lo AS i", "hi AS j", "n")
          .unionByName(pc.selectExpr("hi AS i", "lo AS j", "n"))
          .localCheckpoint(eager=True))        # feeds every MM step
    wins = (pc.selectExpr("lo AS ty", "lo_wins AS wi")
            .unionByName(pc.selectExpr("hi AS ty", "n - lo_wins AS wi"))
            .groupBy("ty").agg(F.sum("wi").cast("bigint").alias("wi"))
            .localCheckpoint(eager=True))
    d18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")  # noqa: E731
    wk = wins.select("ty", F.lit(1.0).alias("w"))
    for _ in range(_BT_STEPS):
        wi = wk.selectExpr("ty AS i_ty", "w AS wi_w")
        wj = wk.selectExpr("ty AS j_ty", "w AS wj_w")
        d = (dp.join(F.broadcast(wi), F.col("i") == F.col("i_ty"))
             .join(F.broadcast(wj), F.col("j") == F.col("j_ty"))
             .groupBy(F.col("i").alias("ty"))
             .agg(d18(F.col("n") / F.greatest(
                 F.col("wi_w") + F.col("wj_w"), F.lit(1e-12)))
                 .alias("denom")))
        r = (wins.join(F.broadcast(d), "ty")
             .select("ty", (F.col("wi").cast("double") / F.col("denom"))
                     .alias("r")))
        z = r.agg(d18(F.col("r")).alias("z"))
        wk = (r.crossJoin(F.broadcast(z))
              .select("ty", (F.col("r") / F.col("z")).alias("w"))
              .localCheckpoint(eager=True))    # #players-row model state
    nm = dp.groupBy(F.col("i").alias("ty")) \
        .agg(F.sum("n").cast("bigint").alias("n_matches"))
    return (wins.join(nm, "ty").join(wk, "ty")
            .select(F.col("ty").alias("event_type"),
                    F.col("wi").alias("n_wins"), "n_matches",
                    F.round("w", 6).alias("bt_strength")))


# --- classifier discrimination: ROC-AUC / Gini / KS (round 10, batch 3) ----

# shared formula strings — identical double op chains on both engines
_AUC_EXPR = ("((two_r1 - n1 * (n1 + 1)) / 2.0)"
             " / (CAST(n1 AS DOUBLE) * n0)")
_KS_TERM = ("abs(CAST(cpos AS DOUBLE) / n1"
            " - CAST(cab - cpos AS DOUBLE) / n0)")


@query("eval_auc_roc", f"""
    WITH {_logreg_d_train_ctes()},
    {_logreg_d_scored_sql()},
    g AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS ca
          FROM scored GROUP BY p),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
                 CAST(SUM(n - ca) AS BIGINT) AS n0 FROM g),
    c AS (SELECT p, n, ca,
                 CAST(SUM(n) OVER (ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cab,
                 CAST(SUM(ca) OVER (ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
          FROM g),
    r AS (SELECT CAST(SUM(ca * (2 * (cab - n) + n + 1)) AS BIGINT)
            AS two_r1 FROM c),
    k AS (SELECT max({_KS_TERM}) AS ks FROM c CROSS JOIN t)
    SELECT t.n1 AS n_pos, t.n0 AS n_neg,
           round({_AUC_EXPR}, 6) AS auc,
           round(2.0 * ({_AUC_EXPR}) - 1.0, 6) AS gini,
           round(k.ks, 6) AS ks_stat
    FROM r CROSS JOIN t CROSS JOIN k
""")
def eval_auc_roc(spark, sf_dir):
    """ROC-AUC (+ Gini and the Kolmogorov-Smirnov separation) of the
    d-feature Newton model — the DISCRIMINATION readout beside
    ml_calibration_bins' "can I trust it as a probability" and
    stat_brier_decomposition's combined score: AUC via the tie-aware
    midrank identity AUC = (R1 - n1(n1+1)/2) / (n1*n0) (Hanley &
    McNeil 1982; the Mann-Whitney U correspondence), Gini = 2*AUC-1,
    and KS = max_t |TPR(t) - FPR(t)| over the score grid (the
    credit-scoring standard).  A quality classifier that ranks well
    but is miscalibrated (or vice versa) shows up only when both
    readouts exist — which is why eval suites report the pair.

    Exactness: the scored p values are bit-identical (shared Newton
    formula strings); rank sums are the SAME all-integer
    distinct-value-grid identity stat_mann_whitney uses (2*R1 =
    sum ca*(2*below + tied + 1)), so AUC's numerator is an exact
    half-integer; KS terms are fixed double chains over exact integer
    cumulatives, maxed — order-free.  Plan: one scoring scan -> hash
    agg onto the distinct-score grid -> the repo's two-phase running
    sum (range exchange, per-partition window, P-row broadcast
    offsets) -> 1-row rollups.  At 100 TB the only wide exchange is
    the range partition of the score grid — the same shape as the
    repo's other rank statistics."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    scored = (_logreg_d_s_frame(spark, sf_dir)
              .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr))
    g = (scored.groupBy("p")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("y").cast("bigint")).cast("bigint").alias("ca")))
    t = g.agg(F.sum("ca").cast("bigint").alias("n1"),
              F.sum(F.col("n") - F.col("ca")).cast("bigint").alias("n0"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (g.repartitionByRange(n_parts, "p")
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy("p")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "p", "n", "ca", "pid",
        F.sum("n").over(wrun).alias("lab"),
        F.sum("ca").over(wrun).alias("lca"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (with_pid.groupBy("pid")
            .agg(F.sum("n").alias("pn"), F.sum("ca").alias("pca"))
            .select("pid",
                    F.coalesce(F.sum("pn").over(woff), F.lit(0))
                    .alias("offn"),
                    F.coalesce(F.sum("pca").over(woff), F.lit(0))
                    .alias("offca")))
    c = (local.join(F.broadcast(offs), "pid")
         .select("p", "n", "ca",
                 (F.col("lab") + F.col("offn")).cast("bigint").alias("cab"),
                 (F.col("lca") + F.col("offca")).cast("bigint")
                 .alias("cpos")))
    r = c.agg(F.sum(F.col("ca")
                    * (2 * (F.col("cab") - F.col("n")) + F.col("n") + 1))
              .cast("bigint").alias("two_r1"))
    k = (c.crossJoin(F.broadcast(t))
         .agg(F.max(F.expr(_KS_TERM)).alias("ks")))
    return (r.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(k))
            .selectExpr("n1 AS n_pos", "n0 AS n_neg",
                        f"round({_AUC_EXPR}, 6) AS auc",
                        f"round(2.0 * ({_AUC_EXPR}) - 1.0, 6) AS gini",
                        "round(ks, 6) AS ks_stat"))


# --- multiple testing: Benjamini-Hochberg FDR (round 10, batch 3) ----------

_BH_Q = "CAST(0.1 AS DOUBLE)"      # FDR level


def _norm_p2_sql(zabs: str) -> str:
    """Two-sided normal p-value 1 - erf(|z|/sqrt(2)) via the
    Abramowitz-Stegun 7.1.26 polynomial (|eps| < 1.5e-7) — a fixed
    double op chain with every constant embedded as
    CAST(<shortest-repr> AS DOUBLE) (Spark parses bare numeric
    literals as DECIMAL; the cast round-trips identically on both
    engines).  Deterministic by construction: both engines evaluate
    the SAME approximation, so the decision thresholds agree
    bitwise."""
    x = f"({zabs} * CAST(0.7071067811865476 AS DOUBLE))"
    t = f"(1.0 / (1.0 + CAST(0.3275911 AS DOUBLE) * {x}))"
    poly = (f"((((CAST(1.061405429 AS DOUBLE) * {t}"
            f" + CAST(-1.453152027 AS DOUBLE)) * {t}"
            f" + CAST(1.421413741 AS DOUBLE)) * {t}"
            f" + CAST(-0.284496736 AS DOUBLE)) * {t}"
            f" + CAST(0.254829592 AS DOUBLE)) * {t}")
    return f"({poly} * exp(-({x}) * ({x})))"


_BH_Z = ("(mean1 - mean0) / sqrt(var1 / n1 + var0 / n0)")


@query("stat_benjamini_hochberg", f"""
    WITH s AS (SELECT event_type AS et,
                      dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                      CAST(user_id % 2 AS INTEGER) AS grp,
                      CAST(value AS DECIMAL(28,12)) AS v,
                      CAST(value * value AS DECIMAL(38,12)) AS v2
               FROM events WHERE value IS NOT NULL),
    g AS (SELECT et, dow, grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS DOUBLE) AS sv,
                 CAST(SUM(v2) AS DOUBLE) AS sq
          FROM s GROUP BY et, dow, grp),
    m AS (SELECT et, dow, grp, n, sv / n AS mean,
                 (sq - sv * sv / n) / (n - 1) AS var
          FROM g WHERE n >= 2),
    w AS (SELECT a.et, a.dow, a.n AS n0, b.n AS n1,
                 a.mean AS mean0, b.mean AS mean1,
                 a.var AS var0, b.var AS var1
          FROM (SELECT * FROM m WHERE grp = 0) a
          JOIN (SELECT * FROM m WHERE grp = 1) b
            ON a.et = b.et AND a.dow = b.dow
          WHERE a.var / a.n + b.var / b.n > 0),
    pp AS (SELECT et, dow, n0, n1, {_BH_Z} AS z,
                  {_norm_p2_sql(f"abs({_BH_Z})")} AS pv
           FROM w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nh FROM pp),
    rk AS (SELECT pp.*, CAST(row_number() OVER (ORDER BY pv, et, dow)
                 AS BIGINT) AS rnk
           FROM pp),
    kk AS (SELECT CAST(max(CASE WHEN pv <= {_BH_Q} * rnk / nh
                               THEN rnk ELSE 0 END) AS BIGINT) AS k
           FROM rk CROSS JOIN tot),
    adj AS (SELECT rk.*, nh,
                   min(LEAST(1.0, nh * pv / rnk))
                     OVER (ORDER BY rnk DESC ROWS UNBOUNDED PRECEDING)
                     AS padj
            FROM rk CROSS JOIN tot)
    SELECT et AS event_type, CAST(dow AS INTEGER) AS dow, n0, n1,
           round(z, 6) AS z_score,
           round(pv, 6) AS p_value,
           rnk AS p_rank,
           round(padj, 6) AS p_adj,
           CAST(CASE WHEN rnk <= kk.k THEN 1 ELSE 0 END AS INTEGER)
             AS rejected
    FROM adj CROSS JOIN kk
""")
def stat_benjamini_hochberg(spark, sf_dir):
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995) over
    a FAMILY of slice-level Welch z-tests — the metric-dashboard
    problem: every (event_type x day-of-week) slice tests cohort A vs
    cohort B (user_id parity) for a mean-value shift, and at 35 slices
    some raw p < .05 are guaranteed false discoveries.  The query
    reports each slice's z, raw p (A&S normal tail — both engines run
    the identical polynomial), BH rank, the step-up ADJUSTED p
    (monotone running min of nh*p/rank from the bottom), and the
    reject verdict at FDR q = 0.1 (the largest k with p_(k) <=
    q*k/nh rejects ranks 1..k).  This is the first gate any
    many-metrics experiment readout needs before flagging slices.

    Exactness: per-slice moments accumulate in DECIMAL (the Welch
    convention); z / p / thresholds are fixed double chains with
    decimal-parse-safe CAST'd constants; ranks tie-break on (et, dow).
    Plan: one scan -> (et, dow, grp) hash agg (map-side combinable) ->
    the rest is arithmetic on the ~35-row hypothesis table (windows
    over metadata, not data).  At 100 TB the scan is the entire cost;
    the hypothesis family never grows with rows, only with slices."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .selectExpr("event_type AS et", "dayofweek(ts) AS dow",
                     "CAST(user_id % 2 AS INTEGER) AS grp",
                     "CAST(value AS DECIMAL(28,12)) AS v",
                     "CAST(value * value AS DECIMAL(38,12)) AS v2"))
    g = (s.groupBy("et", "dow", "grp")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum("v").cast("double").alias("sv"),
              F.sum("v2").cast("double").alias("sq")))
    m = (g.filter(F.col("n") >= 2)
         .selectExpr("et", "dow", "grp", "n", "sv / n AS mean",
                     "(sq - sv * sv / n) / (n - 1) AS var"))
    a = m.filter("grp = 0").selectExpr("et", "dow", "n AS n0",
                                       "mean AS mean0", "var AS var0")
    b = m.filter("grp = 1").selectExpr("et", "dow", "n AS n1",
                                       "mean AS mean1", "var AS var1")
    w = (a.join(b, ["et", "dow"])
         .filter(F.expr("var0 / n0 + var1 / n1 > 0")))
    pp = w.selectExpr("et", "dow", "n0", "n1", f"{_BH_Z} AS z",
                      f"{_norm_p2_sql(f'abs({_BH_Z})')} AS pv") \
        .localCheckpoint(eager=True)       # ~35-row hypothesis table
    tot = pp.agg(F.count("*").cast("bigint").alias("nh"))
    rk = pp.withColumn(
        "rnk", F.row_number().over(Window.orderBy("pv", "et", "dow"))
        .cast("bigint"))
    kk = (rk.crossJoin(F.broadcast(tot))
          .agg(F.max(F.expr(f"CASE WHEN pv <= {_BH_Q} * rnk / nh"
                            " THEN rnk ELSE 0 END"))
               .cast("bigint").alias("k")))
    wmin = (Window.orderBy(F.desc("rnk"))
            .rowsBetween(Window.unboundedPreceding, 0))
    adj = (rk.crossJoin(F.broadcast(tot))
           .withColumn("padj",
                       F.min(F.expr("LEAST(1.0, nh * pv / rnk)"))
                       .over(wmin)))
    return (adj.crossJoin(F.broadcast(kk))
            .selectExpr("et AS event_type", "CAST(dow AS INTEGER) AS dow",
                        "n0", "n1",
                        "round(z, 6) AS z_score",
                        "round(pv, 6) AS p_value",
                        "rnk AS p_rank",
                        "round(padj, 6) AS p_adj",
                        "CAST(CASE WHEN rnk <= k THEN 1 ELSE 0 END"
                        " AS INTEGER) AS rejected"))


# --- differential privacy: Laplace counts (round 10, batch 3) --------------

# inverse-CDF Laplace draw from a uniform u in (0,1), scale b:
#   noise = -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|)
# The uniform comes from the repo's md5 pattern (bootstrap/split
# family): first 8 hex chars of md5('dp-' || key) / 2^32 — a
# DETERMINISTIC derived draw, which is what makes the query
# oracle-checkable and replayable.  A production release would swap
# in a cryptographic RNG at exactly this expression (same plan
# shape); with a seeded draw the output is NOT actually private —
# this is the harness form, stated plainly.
_DP_EPS = "CAST(1.0 AS DOUBLE)"            # epsilon (sensitivity 1)
_DP_NOISE = ("-(1.0 / {eps}) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END"
             " * ln(1.0 - 2.0 * abs(u - 0.5))")


@query("privacy_dp_counts", f"""
    WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
               FROM events GROUP BY event_type),
    u AS (SELECT event_type, true_n,
                 CAST('0x' || substr(md5('dp-' || event_type), 1, 8)
                      AS BIGINT) / 4294967296.0 AS u
          FROM c),
    z AS (SELECT event_type, true_n,
                 {_DP_NOISE.format(eps=_DP_EPS)} AS noise
          FROM u)
    SELECT event_type, true_n,
           round(true_n + noise, 6) AS noisy_n,
           round(abs(noise), 6) AS abs_err,
           {_DP_EPS} AS epsilon
    FROM z
""")
def privacy_dp_counts(spark, sf_dir):
    """Differentially-private group counts by the Laplace mechanism
    (Dwork, McSherry, Nissim & Smith 2006): per event type, the true
    count plus Laplace(1/epsilon) noise at sensitivity 1 (one user
    event changes any count by at most 1), with the realized absolute
    error as the utility readout — the canonical released-aggregate
    shape for sharing corpus statistics without exposing individual
    presence.  The noise draw is the repo's deterministic md5-uniform
    through the Laplace inverse CDF, making the query replayable and
    oracle-checkable; swapping the md5 hex slice for a crypto RNG (a
    one-expression change) gives the production form — a seeded draw
    is NOT private, and the docstring says so rather than pretending.

    Exactness: true counts are exact integers; u is an exact dyadic
    rational (32-bit hex / 2^32); sign/ln/scale is one fixed double
    chain shared by both engines (ln bit-parity is the repo's
    established transcendental convention).  Plan: one map-side-
    combinable count agg, then per-group scalar arithmetic — at
    100 TB the release costs the same as the count itself, and the
    noise step is metadata-sized."""
    c = (_t(spark, sf_dir, "events")
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("true_n")))
    u = c.selectExpr(
        "event_type", "true_n",
        "CAST(conv(substr(md5(concat('dp-', event_type)), 1, 8), 16, 10)"
        " AS BIGINT) / 4294967296.0 AS u")
    z = u.selectExpr("event_type", "true_n",
                     f"{_DP_NOISE.format(eps=_DP_EPS)} AS noise")
    return z.selectExpr("event_type", "true_n",
                        "round(true_n + noise, 6) AS noisy_n",
                        "round(abs(noise), 6) AS abs_err",
                        f"{_DP_EPS} AS epsilon")


# --- histogram GBDT: depth-1 L2 boosting (round 10, batch 3) ---------------

_GBDT_BINS = 16
_GBDT_ROUNDS = 2
_GBDT_LR = "0.5"                 # exact dyadic literal
# SSE reduction of splitting (left prefix vs rest); S is 0 after the
# mean-removal but the general form is kept
_GBDT_GAIN = ("(srl * srl / nl + (srt - srl) * (srt - srl) / (nt - nl)"
              " - srt * srt / nt)")
# with leaf shrinkage lr the realized SSE drop is (2lr - lr^2) * gain
_GBDT_DROP = f"((2.0 * {_GBDT_LR} - {_GBDT_LR} * {_GBDT_LR}) * gain)"


def _gbdt_feat_case(prefix: str = "") -> str:
    """CASE mapping the chosen feature NAME back to its column — the
    data-dependent split predicate both engines share."""
    arms = " ".join(f"WHEN '{nm}' THEN {nm}"
                    for nm, _ in _logreg_d_features()[1:])
    return f"(CASE {prefix}feat {arms} END)"


def _gbdt_round_sql(k: int) -> str:
    """One unrolled boosting round as CTEs: histogram over (feature,
    bin) with decimal residual sums, prefix-scan split search on the
    64-row histogram, deterministic argmax, and the next residual
    CTE.  ``resid{k-1}`` must exist (resid0 = y - mean)."""
    arms = ", ".join(
        f"('{nm}', LEAST({_GBDT_BINS - 1}, CAST(floor({nm} * {_GBDT_BINS})"
        f" AS INTEGER)))" for nm, _ in _logreg_d_features()[1:])
    union = " UNION ALL ".join(
        f"SELECT '{nm}' AS feat, LEAST({_GBDT_BINS - 1},"
        f" CAST(floor({nm} * {_GBDT_BINS}) AS INTEGER)) AS bin, r"
        f" FROM resid{k - 1}"
        for nm, _ in _logreg_d_features()[1:])
    return f"""
    h{k} AS (SELECT feat, bin, CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(r AS DECIMAL(38,18))) AS DOUBLE) AS sr
             FROM ({union}) u GROUP BY feat, bin),
    rs{k} AS (SELECT feat, bin,
                    CAST(SUM(n) OVER (PARTITION BY feat ORDER BY bin
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS nl,
                    SUM(sr) OVER (PARTITION BY feat ORDER BY bin
                         ROWS UNBOUNDED PRECEDING) AS srl,
                    CAST(SUM(n) OVER (PARTITION BY feat)
                         AS DOUBLE) AS nt
              FROM h{k}),
    p{k} AS (SELECT feat, bin, nl, srl, nt,
                    LAST_VALUE(srl) OVER (PARTITION BY feat ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) AS srt
             FROM rs{k}),
    best{k} AS (SELECT feat, bin, nl, srl, nt, srt, {_GBDT_GAIN} AS gain,
                       CAST(bin + 1 AS DOUBLE) / {_GBDT_BINS} AS thr,
                       {_GBDT_LR} * srl / nl AS wl,
                       {_GBDT_LR} * (srt - srl) / (nt - nl) AS wr
                FROM p{k}
                WHERE bin < {_GBDT_BINS - 1} AND nl > 0 AND nt - nl > 0
                ORDER BY {_GBDT_GAIN} DESC, feat, bin LIMIT 1),
    resid{k} AS (SELECT s.* EXCLUDE (r),
                        r - (CASE WHEN LEAST({_GBDT_BINS - 1},
                                 CAST(floor({_gbdt_feat_case('b.')}
                                      * {_GBDT_BINS}) AS INTEGER))
                                 <= b.bin
                             THEN b.wl ELSE b.wr END) AS r
                 FROM resid{k - 1} s CROSS JOIN best{k} b)"""


def _gbdt_oracle_sql() -> str:
    feats = ", ".join(f"{e} AS {nm}" for nm, e in _logreg_d_features())
    rounds = ",".join(_gbdt_round_sql(k)
                      for k in range(1, _GBDT_ROUNDS + 1))
    out_rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS round, feat AS feature,"
        f" CAST(bin AS INTEGER) AS bin_split, round(thr, 6) AS threshold,"
        f" round(gain, 6) AS gain,"
        f" round(mse0 - ("
        + " + ".join(f"(SELECT {_GBDT_DROP} FROM best{j})"
                     for j in range(1, k + 1))
        + f") / (SELECT nt FROM mu), 6) AS mse_after"
        f" FROM best{k}" for k in range(1, _GBDT_ROUNDS + 1))
    return f"""
    WITH s0 AS (SELECT {feats} FROM events WHERE value IS NOT NULL),
    mu AS (SELECT CAST(count(*) AS DOUBLE) AS nt,
                  CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
           FROM s0),
    m0 AS (SELECT nt, sy / nt AS mean_y,
                  (syy - sy * sy / nt) / nt AS mse0 FROM mu),
    resid0 AS (SELECT s0.*, y - m.mean_y AS r
               FROM s0 CROSS JOIN m0 m),
    {rounds}
    {out_rows.replace("mse0", "(SELECT mse0 FROM m0)")}
"""


@query("ml_gbdt_stumps", _gbdt_oracle_sql())
def ml_gbdt_stumps(spark, sf_dir):
    """Histogram-based gradient boosting, depth-1 (decision stumps),
    two L2 rounds with shrinkage 0.5 — the LightGBM/XGBoost histogram
    trick (Ke et al. 2017; Friedman 2001) expressed as a declarative
    plan: each round's split search runs on a (4 features x 16 bins)
    HISTOGRAM of residual moments, so the corpus-side cost per round
    is one scan + one 64-row map-side-combinable agg, and the argmax/
    leaf-weight/gain arithmetic happens on metadata.  Reports per
    round the chosen feature, bin threshold, SSE-reduction gain and
    the exact post-round training MSE (tracked algebraically: with
    leaf shrinkage lr the realized drop is (2lr - lr^2) * gain — no
    rescoring pass needed).

    Exactness: residuals are fixed double chains off decimal-exact
    global moments; per-bin residual sums accumulate in
    DECIMAL(38,18); split argmax tie-breaks (gain DESC, feature, bin);
    the round-2 residual applies the round-1 leaf weights through the
    same CASE predicate on both engines.  Plan (r11): per round ONE
    scan -> 64-row histogram COLLECTED to the driver; the prefix scan,
    argmax and leaf-weight/gain arithmetic run on those 64 numbers in
    Python (the Platt/driver-literal pattern) with the accumulation
    order PINNED to bin order on both engines — the oracle's running
    sums are ORDER BY bin folds and its srt is LAST_VALUE of that fold
    (not an unordered re-sum), so the Python left-fold is the same
    IEEE op sequence; weights re-enter the next residual as
    CAST('<repr>' AS DOUBLE) literals (strtod round-trips exactly).
    Replaces two window passes + per-round checkpoints + the
    crossJoin report assembly (~10 jobs) with one collect per round
    (~4 jobs).  At 100 TB this is the canonical scalable GBDT shape —
    T rounds cost T scans, shuffle bytes are O(features x bins) per
    round, and the driver only ever holds the 64-row histogram."""
    s0 = _logreg_d_s_frame(spark, sf_dir)
    murow = s0.agg(
        F.count("*").cast("double").alias("nt"),
        F.sum(F.col("y").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,18)"))
        .cast("double").alias("syy")).collect()[0]
    out_schema = ("round int, feature string, bin_split int, "
                  "threshold double, gain double, mse_after double")
    if murow["sy"] is None:        # empty events: the old chain's empty
        return spark.createDataFrame([], out_schema)   # best -> 0 rows
    ntot_d, sy, syy = murow["nt"], murow["sy"], murow["syy"]
    mean_y = sy / ntot_d
    mse0 = (syy - sy * sy / ntot_d) / ntot_d
    emb = (lambda v: f"CAST('{v!r}' AS DOUBLE)")
    resid = s0.selectExpr("*", f"y - {emb(mean_y)} AS r")
    feat_names = [nm for nm, _ in _logreg_d_features()[1:]]
    stack = ", ".join(
        f"'{nm}', LEAST({_GBDT_BINS - 1}, CAST(floor({nm} * {_GBDT_BINS})"
        f" AS INTEGER))" for nm in feat_names)
    lr = float(_GBDT_LR)           # 0.5: exact dyadic
    out_rows = []
    cum = None
    for k in range(1, _GBDT_ROUNDS + 1):
        binned = resid.selectExpr(
            f"stack({len(feat_names)}, {stack}) AS (feat, bin)", "r")
        hrows = (binned.groupBy("feat", "bin")
                 .agg(F.count("*").cast("bigint").alias("n"),
                      F.sum(F.expr("CAST(r AS DECIMAL(38,18))"))
                      .cast("double").alias("sr"))
                 .collect())       # <= 64 rows: the histogram
        by_feat: dict = {}
        for hr in hrows:
            by_feat.setdefault(hr["feat"], {})[hr["bin"]] = \
                (hr["n"], hr["sr"])
        cands = []
        for feat in by_feat:
            bins = sorted(by_feat[feat])
            nt_i = sum(by_feat[feat][b][0] for b in bins)  # exact int
            nl_i, srl = 0, 0.0     # left fold in bin order == the
            for b in bins:         # ORDER BY bin running-sum frames
                n_b, sr_b = by_feat[feat][b]
                nl_i += n_b
                srl = srl + sr_b
                if b < _GBDT_BINS - 1 and nl_i > 0 and nt_i - nl_i > 0:
                    cands.append((feat, b, float(nl_i), srl, float(nt_i)))
            by_feat[feat] = (nt_i, srl)      # srt = the fold's last value
        if not cands:              # empty residual frame: the old
            break                  # chain's empty best emptied the rest
        scored = []
        for feat, b, nl, srl, nt in cands:
            srt = by_feat[feat][1]
            gain = (srl * srl / nl + (srt - srl) * (srt - srl) / (nt - nl)
                    - srt * srt / nt)
            scored.append((feat, b, nl, srl, nt, srt, gain))
        feat, b, nl, srl, nt, srt, gain = min(
            scored, key=lambda c: (-c[6], c[0], c[1]))
        thr = float(b + 1) / _GBDT_BINS
        wl = lr * srl / nl
        wr = lr * (srt - srl) / (nt - nl)
        resid = resid.selectExpr(
            *[c for c in resid.columns if c != "r"],
            f"r - (CASE WHEN LEAST({_GBDT_BINS - 1},"
            f" CAST(floor({feat} * {_GBDT_BINS}) AS INTEGER))"
            f" <= {b} THEN {emb(wl)} ELSE {emb(wr)} END) AS r")
        drop = (2.0 * lr - lr * lr) * gain
        cum = drop if cum is None else cum + drop
        out_rows.append((k, feat, b, thr, gain, mse0 - cum / ntot_d))
    out = spark.createDataFrame(out_rows, out_schema)
    return out.select("round", "feature", "bin_split",
                      F.round("threshold", 6).alias("threshold"),
                      F.round("gain", 6).alias("gain"),
                      F.round("mse_after", 6).alias("mse_after"))


# --- equivalence testing: Schuirmann TOST (round 10, batch 3) --------------

_TOST_DELTA = "CAST(5.0 AS DOUBLE)"       # equivalence margin, value units


def _norm_p1_sql(z: str) -> str:
    """One-sided upper-tail normal p-value P(Z > z) for arbitrary-sign
    z, from the same A&S erf polynomial as _norm_p2_sql:
    0.5*(1 - erf(|z|/sqrt2)) reflected for negative z."""
    p2 = _norm_p2_sql(f"abs({z})")
    return (f"CASE WHEN {z} >= 0.0 THEN 0.5 * {p2}"
            f" ELSE 1.0 - 0.5 * {p2} END")


@query("stat_tost_equivalence", f"""
    WITH s AS (SELECT event_type AS grp,
                      CAST(value AS DECIMAL(28,12)) AS v,
                      CAST(value * value AS DECIMAL(38,12)) AS v2
               FROM events
               WHERE value IS NOT NULL
                 AND event_type IN ('purchase', 'click')),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS DOUBLE) AS s,
                 CAST(SUM(v2) AS DOUBLE) AS q
          FROM s GROUP BY grp),
    m AS (SELECT grp, n, s / n AS mean,
                 (q - s * s / n) / (n - 1) AS var
          FROM g),
    w AS (SELECT a.n AS n_a, b.n AS n_b,
                 a.mean - b.mean AS diff,
                 sqrt(a.var / a.n + b.var / b.n) AS se
          FROM (SELECT * FROM m WHERE grp = 'purchase') a
          CROSS JOIN (SELECT * FROM m WHERE grp = 'click') b),
    z AS (SELECT n_a, n_b, diff, se,
                 (diff + {_TOST_DELTA}) / se AS z_lower,
                 ({_TOST_DELTA} - diff) / se AS z_upper
          FROM w),
    p AS (SELECT z.*,
                 {_norm_p1_sql('z_lower')} AS p_lower,
                 {_norm_p1_sql('z_upper')} AS p_upper
          FROM z)
    SELECT n_a, n_b,
           round(diff, 6) AS mean_diff,
           round(se, 6) AS se,
           {_TOST_DELTA} AS delta,
           round(z_lower, 6) AS z_lower,
           round(z_upper, 6) AS z_upper,
           round(p_lower, 6) AS p_lower,
           round(p_upper, 6) AS p_upper,
           round(GREATEST(p_lower, p_upper), 6) AS p_tost,
           CAST(CASE WHEN GREATEST(p_lower, p_upper)
                          <= CAST(0.05 AS DOUBLE)
                     THEN 1 ELSE 0 END AS INTEGER) AS equivalent
    FROM p
""")
def stat_tost_equivalence(spark, sf_dir):
    """Equivalence by two one-sided tests (Schuirmann 1987 — the
    regulatory/non-inferiority standard): a nonsignificant difference
    is NOT evidence of equivalence, so the practical question "are
    purchase and click values the same to within +-5 units?" needs
    both H0s (diff <= -delta, diff >= +delta) rejected.  Reports both
    one-sided z/p pairs off the Welch moment machinery, the TOST p
    (their max), and the verdict at alpha = .05 — the readout a
    guardrail-metric review wants when "no change" is the success
    criterion (swap-the-cheaper-quality-gate, infra migrations).

    Exactness: the same decimal Welch moments as stat_welch_ttest;
    one-sided tails reuse the A&S polynomial (_norm_p1_sql reflects
    it for negative z), all fixed double chains.  Plan: one scan, one
    2-group agg, then 1-row arithmetic — metadata-cost beyond the
    scan at any scale."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "click")
                 & F.col("value").isNotNull())
         .selectExpr("event_type AS grp",
                     "CAST(value AS DECIMAL(28,12)) AS v",
                     "CAST(value * value AS DECIMAL(38,12)) AS v2"))
    g = (s.groupBy("grp")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum("v").cast("double").alias("s"),
              F.sum("v2").cast("double").alias("q")))
    m = g.selectExpr("grp", "n", "s / n AS mean",
                     "(q - s * s / n) / (n - 1) AS var")
    a = m.filter("grp = 'purchase'").selectExpr(
        "n AS n_a", "mean AS mean_a", "var AS var_a")
    b = m.filter("grp = 'click'").selectExpr(
        "n AS n_b", "mean AS mean_b", "var AS var_b")
    w = (a.crossJoin(F.broadcast(b))
         .selectExpr("n_a", "n_b", "mean_a - mean_b AS diff",
                     "sqrt(var_a / n_a + var_b / n_b) AS se"))
    z = w.selectExpr("*",
                     f"(diff + {_TOST_DELTA}) / se AS z_lower",
                     f"({_TOST_DELTA} - diff) / se AS z_upper")
    p = z.selectExpr("*",
                     f"{_norm_p1_sql('z_lower')} AS p_lower",
                     f"{_norm_p1_sql('z_upper')} AS p_upper")
    return p.selectExpr(
        "n_a", "n_b",
        "round(diff, 6) AS mean_diff",
        "round(se, 6) AS se",
        f"{_TOST_DELTA} AS delta",
        "round(z_lower, 6) AS z_lower",
        "round(z_upper, 6) AS z_upper",
        "round(p_lower, 6) AS p_lower",
        "round(p_upper, 6) AS p_upper",
        "round(GREATEST(p_lower, p_upper), 6) AS p_tost",
        "CAST(CASE WHEN GREATEST(p_lower, p_upper)"
        " <= CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER)"
        " AS equivalent")


# --- Platt recalibration of the Newton model (round 10, batch 3) -----------

_PLATT_STEPS = 3
_PLATT_SIG = "1.0 / (1.0 + exp(-(b.a0 + b.a1 * x)))"


def _platt_step_sql(k: int) -> str:
    """One unrolled Platt Newton step over the calibration split
    ``pcal`` (columns y, x = the base model's linear predictor):
    the 2x2 closed-form solve of _logreg_step_sql with renamed CTEs
    so the chain composes with the d-feature trainer's beta CTEs."""
    s = _PLATT_SIG
    return f"""
    pm{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST((y - {s}) AS DECIMAL(38,18))) AS DOUBLE) AS g0,
             CAST(SUM(CAST((y - {s}) * x AS DECIMAL(38,18)))
                  AS DOUBLE) AS g1,
             CAST(SUM(CAST(({s}) * (1.0 - {s}) AS DECIMAL(38,18)))
                  AS DOUBLE) AS h00,
             CAST(SUM(CAST(({s}) * (1.0 - {s}) * x AS DECIMAL(38,18)))
                  AS DOUBLE) AS h01,
             CAST(SUM(CAST(({s}) * (1.0 - {s}) * x * x
                  AS DECIMAL(38,18))) AS DOUBLE) AS h11
      FROM pcal CROSS JOIN pbeta{k - 1} b),
    pbeta{k} AS (
      SELECT b.a0 + (pm.h11 * pm.g0 - pm.h01 * pm.g1)
                    / (pm.h00 * pm.h11 - pm.h01 * pm.h01) AS a0,
             b.a1 + (pm.h00 * pm.g1 - pm.h01 * pm.g0)
                    / (pm.h00 * pm.h11 - pm.h01 * pm.h01) AS a1
      FROM pbeta{k - 1} b CROSS JOIN pm{k} pm)"""


def _ece_sql(name: str, pcol: str) -> str:
    """ECE-over-10-bins CTE pair for probability column ``pcol`` of
    the eval-split scoring CTE ``pe`` — the ml_calibration_bins
    formula, parameterized."""
    return f"""
    eb_{name} AS (SELECT LEAST({_CALIB_BINS - 1},
                        CAST(floor({pcol} * {_CALIB_BINS}) AS INTEGER))
                        AS bin,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(SUM(CAST({pcol} AS DECIMAL(38,18)))
                             AS DOUBLE) AS sp,
                        CAST(SUM(CAST(y AS DECIMAL(38,18)))
                             AS DOUBLE) AS sy
                  FROM pe GROUP BY 1),
    ece_{name} AS (SELECT CAST(SUM(CAST(
                     (CAST(n AS DOUBLE) / (SELECT SUM(n) FROM eb_{name}))
                     * abs(sp / n - sy / n) AS DECIMAL(38,18)))
                     AS DOUBLE) AS ece
                   FROM eb_{name})"""


@query("ml_platt_scaling", f"""
    WITH {_logreg_d_train_ctes()},
    ds AS (SELECT event_id, s.y AS y, {_logreg_d_z("b.")} AS x
           FROM (SELECT event_id, {", ".join(f"{e} AS {nm}"
                     for nm, e in _logreg_d_features())}
                 FROM events WHERE value IS NOT NULL) s
           CROSS JOIN beta{_LOGREG_D_STEPS} b),
    pcal AS (SELECT y, x FROM ds WHERE event_id % 3 = 0),
    peval AS (SELECT y, x FROM ds WHERE event_id % 3 <> 0),
    pbeta0 AS (SELECT 0.0 AS a0, 0.0 AS a1),
    {",".join(_platt_step_sql(k) for k in range(1, _PLATT_STEPS + 1))},
    pe AS (SELECT y, 1.0 / (1.0 + exp(-x)) AS praw,
                  {_PLATT_SIG} AS pcal_p
           FROM peval CROSS JOIN pbeta{_PLATT_STEPS} b),
    {_ece_sql("raw", "praw")},
    {_ece_sql("cal", "pcal_p")}
    SELECT CAST((SELECT count(*) FROM pcal) AS BIGINT) AS n_calib,
           CAST((SELECT count(*) FROM peval) AS BIGINT) AS n_eval,
           round(b.a0, 6) AS platt_a,
           round(b.a1, 6) AS platt_b,
           round((SELECT ece FROM ece_raw), 6) AS ece_raw,
           round((SELECT ece FROM ece_cal), 6) AS ece_platt
    FROM pbeta{_PLATT_STEPS} b
""")
def ml_platt_scaling(spark, sf_dir):
    """Platt scaling (Platt 1999) — the FIX step that closes the
    calibration loop ml_calibration_bins opens: fit sigmoid(a + b*z)
    on the base Newton model's linear predictor over a held-out
    calibration split (event_id % 3 = 0), by three unrolled 2x2
    Newton steps (the _logreg_step_sql chain, renamed so it composes
    with the d-feature trainer's CTEs), then report the eval-split
    ECE before and after recalibration — audit, fix, re-audit in one
    oracle-checked plan.  A perfectly calibrated base model fits
    (a, b) ~ (0, 1) and the ECEs match; a miscalibrated one shows
    ece_platt < ece_raw, which is the number that justifies shipping
    the recalibrated scores to the sampling-weight pipeline.

    Exactness: z is the trainer's bit-identical formula string;
    every Platt gradient/Hessian sum accumulates in DECIMAL(38,18);
    the 2x2 solve is a shared closed-form chain; ECEs follow the
    calibration-bins decimal recipe on the eval split.  Plan: the
    base chain's two scans + 3 calibration-split scans (5 aggregates
    each) + one eval scoring scan into two 10-row bin aggs — every
    stage map-side combinable, model state is 2 numbers.  At 100 TB
    this is the cheapest possible recalibration: no sort, no join
    wider than a 1-row broadcast."""
    beta = _logreg_d_beta(spark, sf_dir)
    # ONE scoring scan for both splits: pin the scored frame and slice
    # it per split (r9 pinned only the calibration slice, so the eval
    # split re-ran the whole scoring scan — guide §1.2 step 1)
    ds = (_logreg_d_s_frame(spark, sf_dir, extra=("event_id",))
          .crossJoin(F.broadcast(beta))
          .selectExpr("event_id % 3 AS fold", "y",
                      f"{_logreg_d_z()} AS x")
          .localCheckpoint(eager=True))
    pcal = ds.filter("fold = 0").select("y", "x")
    peval = ds.filter("fold <> 0")
    d18 = "DECIMAL(38,18)"
    # Newton steps with the 2-number model as collected driver floats
    # (r10 round 2): the update a' = a + (H^-1 g) is pure IEEE binary64
    # *,-,/ arithmetic — no transcendental — so evaluating it in Python
    # on the collected sums is bit-identical to the 1-row Spark chain
    # it replaces (which needed a checkpoint + crossJoin broadcast per
    # step); the sigmoid itself stays in the JVM, with the weights
    # re-embedded as CAST('<repr>' AS DOUBLE) literals (strtod
    # round-trips shortest-repr exactly).  The calibration-split count
    # rides the step-1 aggregate instead of its own job.
    emb = (lambda v: "CAST(NULL AS DOUBLE)" if v is None
           else f"CAST('{v!r}' AS DOUBLE)")
    a0, a1 = 0.0, 0.0
    nc = None
    for step in range(_PLATT_STEPS):
        s = (_PLATT_SIG.replace("b.a0", emb(a0))
             .replace("b.a1", emb(a1)))
        aggs = [F.expr(f"CAST(SUM(CAST({t} AS {d18})) AS DOUBLE)")
                .alias(nm) for nm, t in [
                    ("g0", f"(y - {s})"),
                    ("g1", f"(y - {s}) * x"),
                    ("h00", f"({s}) * (1.0 - {s})"),
                    ("h01", f"({s}) * (1.0 - {s}) * x"),
                    ("h11", f"({s}) * (1.0 - {s}) * x * x")]]
        if step == 0:
            aggs.append(F.count("*").cast("bigint").alias("nc"))
        row = pcal.agg(*aggs).collect()[0]
        if step == 0:
            nc = row["nc"]
        if row["g0"] is None:                    # empty calib split
            a0 = a1 = None
            continue
        det = row["h00"] * row["h11"] - row["h01"] * row["h01"]
        if det == 0.0:
            # singular Hessian (constant-x or 1-row split): the 1-row
            # Spark chain this replaced divided by zero -> NULL (non-ANSI)
            # and propagated NULLs; match that instead of raising
            # ZeroDivisionError (ADVICE r10)
            a0 = a1 = None
            continue
        a0 = a0 + (row["h11"] * row["g0"]
                   - row["h01"] * row["g1"]) / det
        a1 = a1 + (row["h00"] * row["g1"]
                   - row["h01"] * row["g0"]) / det
    s = (_PLATT_SIG.replace("b.a0", emb(a0)).replace("b.a1", emb(a1)))
    # BOTH ECE bin tables from ONE eval scan (r10 round 2): group on
    # the (raw bin, calibrated bin) pair — <= bins^2 rows — keeping the
    # per-cell sums in exact DECIMAL(38,18); each ECE's 10-row bin
    # table is then a regroup of the grid (decimal partial sums re-sum
    # exactly, so sp/sy/n equal the direct per-bin aggregation digit
    # for digit).  Replaces two eval-split aggregation passes + their
    # checkpoints with one pass + a pinned ~100-row grid.
    bexpr = (lambda pcol: f"LEAST({_CALIB_BINS - 1},"
             f" CAST(floor({pcol} * {_CALIB_BINS}) AS INTEGER))")
    grid = (peval.selectExpr("y", "1.0 / (1.0 + exp(-x)) AS praw",
                             f"{s} AS pcal_p")
            .groupBy(F.expr(bexpr("praw")).alias("br"),
                     F.expr(bexpr("pcal_p")).alias("bc"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.expr(f"CAST(praw AS {d18})")).alias("sp_r"),
                 F.sum(F.expr(f"CAST(pcal_p AS {d18})")).alias("sp_c"),
                 F.sum(F.expr(f"CAST(y AS {d18})")).alias("sy"))
            .localCheckpoint(eager=True))
    dsum = lambda c: F.sum(F.expr(f"CAST({c} AS {d18})")).cast("double")  # noqa: E731
    # COUNT(*) is 0 on an empty eval split while SUM is NULL
    tot = grid.agg(F.sum("n").alias("nt"),
                   F.coalesce(F.sum("n"), F.lit(0)).cast("bigint")
                   .alias("n_eval"))

    def ece(bin_col: str, sp_col: str, alias: str):
        b = (grid.groupBy(F.col(bin_col).alias("bin"))
             .agg(F.sum("n").alias("n"),
                  F.sum(sp_col).cast("double").alias("sp"),
                  F.sum("sy").cast("double").alias("sy")))
        return (b.crossJoin(F.broadcast(tot.select("nt")))
                .agg(dsum("(CAST(n AS DOUBLE) / nt)"
                          " * abs(sp / n - sy / n)").alias(alias)))

    return (tot.select("n_eval")
            .crossJoin(F.broadcast(ece("br", "sp_r", "er")))
            .crossJoin(F.broadcast(ece("bc", "sp_c", "ec")))
            .selectExpr(f"CAST({nc} AS BIGINT) AS n_calib", "n_eval",
                        f"round({emb(a0)}, 6) AS platt_a",
                        f"round({emb(a1)}, 6) AS platt_b",
                        "round(er, 6) AS ece_raw",
                        "round(ec, 6) AS ece_platt"))


# --- precision-recall AUC (round 10, batch 3) ------------------------------

# tie-aware average precision over the distinct-score grid, scores
# DESCENDING: at grid value v (cumulated from the top), tp/fp are the
# inclusive positive/negative counts at scores >= v, and the step
# adds (ca/n1) * precision(v) — sklearn's step-wise AP definition.
_AP_TERM = ("(CAST(ca AS DOUBLE) / n1)"
            " * (CAST(tp AS DOUBLE) / (tp + fp))")


@query("eval_auc_pr", f"""
    WITH {_logreg_d_train_ctes()},
    {_logreg_d_scored_sql()},
    g AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS ca
          FROM scored GROUP BY p),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
                 CAST(SUM(n - ca) AS BIGINT) AS n0 FROM g),
    c AS (SELECT p, n, ca,
                 CAST(SUM(ca) OVER (ORDER BY p DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                 CAST(SUM(n - ca) OVER (ORDER BY p DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          FROM g),
    a AS (SELECT CAST(SUM(CAST({_AP_TERM} AS DECIMAL(38,18)))
                 AS DOUBLE) AS ap
          FROM c CROSS JOIN t WHERE ca > 0)
    SELECT t.n1 AS n_pos, t.n0 AS n_neg,
           round(CAST(t.n1 AS DOUBLE) / (t.n1 + t.n0), 6)
             AS baseline_prevalence,
           round(a.ap, 6) AS average_precision,
           round(a.ap / (CAST(t.n1 AS DOUBLE) / (t.n1 + t.n0)), 6)
             AS lift_over_random
    FROM a CROSS JOIN t
""")
def eval_auc_pr(spark, sf_dir):
    """Average precision (the area under the precision-recall curve,
    step-wise/tie-aware — the definition sklearn implements, Su et
    al. 2015 review) for the Newton model, plus the prevalence
    baseline and lift: PR space is the honest view under class
    imbalance, where ROC-AUC can look strong while precision at
    useful recall is poor — exactly the regime of rare-positive
    curation gates (contamination, policy hits).  A random scorer's
    AP equals the positive prevalence, so lift_over_random is the
    one-number summary.

    Exactness: same bit-identical scores as eval_auc_roc; tp/fp are
    exact integer cumulatives over the DESCENDING distinct-score grid
    (the same two-phase running-sum pattern, opposite order); each
    grid step's term is one fixed double chain accumulated in
    DECIMAL(38,18).  Plan: scoring scan -> score-grid hash agg ->
    range-exchange running sums -> 1-row rollup; identical cost shape
    to the ROC readout."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    scored = (_logreg_d_s_frame(spark, sf_dir)
              .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr))
    g = (scored.groupBy("p")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("y").cast("bigint")).cast("bigint").alias("ca")))
    t = g.agg(F.sum("ca").cast("bigint").alias("n1"),
              F.sum(F.col("n") - F.col("ca")).cast("bigint").alias("n0"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (g.repartitionByRange(n_parts, F.desc("p"))
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy(F.desc("p"))
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "p", "n", "ca", "pid",
        F.sum("ca").over(wrun).alias("ltp"),
        F.sum(F.col("n") - F.col("ca")).over(wrun).alias("lfp"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (with_pid.groupBy("pid")
            .agg(F.sum("ca").alias("pca"),
                 F.sum(F.col("n") - F.col("ca")).alias("pcb"))
            .select("pid",
                    F.coalesce(F.sum("pca").over(woff), F.lit(0))
                    .alias("otp"),
                    F.coalesce(F.sum("pcb").over(woff), F.lit(0))
                    .alias("ofp")))
    c = (local.join(F.broadcast(offs), "pid")
         .select("p", "n", "ca",
                 (F.col("ltp") + F.col("otp")).cast("bigint").alias("tp"),
                 (F.col("lfp") + F.col("ofp")).cast("bigint").alias("fp")))
    a = (c.crossJoin(F.broadcast(t)).filter("ca > 0")
         .agg(F.sum(F.expr(f"CAST({_AP_TERM} AS DECIMAL(38,18))"))
              .cast("double").alias("ap")))
    return (a.crossJoin(F.broadcast(t))
            .selectExpr(
                "n1 AS n_pos", "n0 AS n_neg",
                "round(CAST(n1 AS DOUBLE) / (n1 + n0), 6)"
                " AS baseline_prevalence",
                "round(ap, 6) AS average_precision",
                "round(ap / (CAST(n1 AS DOUBLE) / (n1 + n0)), 6)"
                " AS lift_over_random"))


# --- Mann-Kendall trend + Theil-Sen slope (round 10, batch 3) --------------

_MK_Z = ("CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
         "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) "
         "ELSE 0.0 END")


@query("ts_trend_mann_kendall", f"""
    WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                      CAST(SUM(CAST(value AS DECIMAL(28,12)))
                           AS DOUBLE) AS v
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
    pr AS (SELECT a.v AS v1, b.v AS v2,
                  date_diff('day', a.day, b.day) AS dd
           FROM d a JOIN d b ON a.day < b.day),
    s AS (SELECT CAST(SUM(CASE WHEN v2 > v1 THEN 1
                               WHEN v2 < v1 THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS m FROM pr),
    ties AS (SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5))
                    AS BIGINT), 0) AS tt
             FROM (SELECT CAST(count(*) AS BIGINT) AS t
                   FROM d GROUP BY v HAVING count(*) > 1) z),
    vv AS (SELECT CAST(nd * (nd - 1) * (2 * nd + 5) - tt AS DOUBLE) / 18.0 AS var_s
           FROM n CROSS JOIN ties),
    med AS (SELECT slope AS sen FROM
              (SELECT (v2 - v1) / dd AS slope,
                      row_number() OVER (ORDER BY (v2 - v1) / dd) AS rn
               FROM pr) q CROSS JOIN s
            WHERE rn = (s.m + 1) // 2),
    z AS (SELECT s.s_stat, vv.var_s, {_MK_Z} AS zs
          FROM s CROSS JOIN vv)
    SELECT n.nd AS n_days, z.s_stat,
           round(z.var_s, 6) AS var_s,
           round(z.zs, 6) AS z_score,
           round({_norm_p2_sql("abs(zs)")}, 6) AS p_value,
           round(med.sen, 6) AS sen_slope
    FROM z CROSS JOIN n CROSS JOIN med
""")
def ts_trend_mann_kendall(spark, sf_dir):
    """Nonparametric trend detection on the daily event-value series:
    the Mann-Kendall S statistic with tie-corrected variance and
    continuity-corrected z/p (Mann 1945; Kendall 1975), PAIRED with
    the Theil-Sen slope (median of pairwise slopes — the robust
    "how fast is it drifting" magnitude, Sen 1968).  This is the
    standard monitoring pair for corpus/metric drift where
    seasonality and outliers make OLS-on-time misleading: MK answers
    "is there a monotone trend", Sen answers "how steep", neither
    assumes a distribution.  The Sen estimate is the deterministic
    LOWER median (row (m+1)//2 of the slope-ordered pair list).

    Exactness: daily values come from decimal-exact sums (one double
    each); the pair table lives on the DAY grid — bounded by the
    calendar, not the corpus — so signs/slopes are fixed double
    chains over exact values; p reuses the shared A&S polynomial.
    Plan: one scan -> per-day hash agg (map-side combinable), then
    ALL pairwise work happens on the ~30-row day grid (~435 pairs of
    metadata).  At 100 TB the scan is the entire cost; the trend
    arithmetic is constant-sized regardless of row count."""
    d = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .groupBy(F.col("ts").cast("date").alias("day"))
         .agg(F.sum(F.col("value").cast("decimal(28,12)"))
              .cast("double").alias("v"))
         .localCheckpoint(eager=True))     # ~30-row day grid
    n = d.agg(F.count("*").cast("bigint").alias("nd"))
    a = d.selectExpr("day AS day1", "v AS v1")
    b = d.selectExpr("day AS day2", "v AS v2")
    pr = (a.join(b, F.col("day1") < F.col("day2"))
          .selectExpr("v1", "v2", "datediff(day2, day1) AS dd"))
    s = pr.agg(
        F.sum(F.expr("CASE WHEN v2 > v1 THEN 1 WHEN v2 < v1 THEN -1"
                     " ELSE 0 END")).cast("bigint").alias("s_stat"),
        F.count("*").cast("bigint").alias("m"))
    ties = (d.groupBy("v").agg(F.count("*").cast("bigint").alias("t"))
            .filter("t > 1")
            .agg(F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
                .cast("bigint").alias("tt")))
    vv = (n.crossJoin(F.broadcast(ties))
          .selectExpr("CAST(nd * (nd - 1) * (2 * nd + 5) - tt AS DOUBLE)"
                      " / 18.0 AS var_s"))
    wsl = Window.orderBy(F.expr("(v2 - v1) / dd"))
    med = (pr.select(F.expr("(v2 - v1) / dd").alias("slope"),
                     F.row_number().over(wsl).alias("rn"))
           .crossJoin(F.broadcast(s))
           .filter("rn = CAST((m + 1) / 2 AS BIGINT)")
           .select(F.col("slope").alias("sen")))
    z = (s.crossJoin(F.broadcast(vv))
         .selectExpr("s_stat", "var_s", f"{_MK_Z} AS zs"))
    return (z.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(med))
            .selectExpr("nd AS n_days", "s_stat",
                        "round(var_s, 6) AS var_s",
                        "round(zs, 6) AS z_score",
                        f"round({_norm_p2_sql('abs(zs)')}, 6) AS p_value",
                        "round(sen, 6) AS sen_slope"))


# --- ACF + Ljung-Box portmanteau (round 10, batch 3) -----------------------

_LB_LAGS = 6
# chi-square upper tail at EVEN df = 2m has the elementary closed form
# exp(-x/2) * sum_{k<m} (x/2)^k / k!  — for m = 3 (df = 6):
_CHI2_SF_DF6 = ("exp(-(q) / 2.0) * (1.0 + (q) / 2.0"
                " + ((q) / 2.0) * ((q) / 2.0) / 2.0)")


@query("ts_acf_ljung_box", f"""
    WITH d0 AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       CAST(SUM(CAST(value AS DECIMAL(28,12)))
                            AS DOUBLE) AS v
                FROM events WHERE value IS NOT NULL GROUP BY 1),
    d AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                 v FROM d0),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                 CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv
          FROM d),
    m AS (SELECT nd, sv / nd AS vbar FROM n),
    c0 AS (SELECT CAST(SUM(CAST((v - m.vbar) * (v - m.vbar)
                 AS DECIMAL(38,12))) AS DOUBLE) AS c0
           FROM d CROSS JOIN m),
    lags AS (SELECT CAST(k AS INTEGER) AS lag
             FROM unnest(range(1, {_LB_LAGS} + 1)) z(k)),
    ac AS (SELECT l.lag,
                  CAST(SUM(CAST((a.v - m.vbar) * (b.v - m.vbar)
                       AS DECIMAL(38,12))) AS DOUBLE)
                    / any_value(c0.c0) AS acf
           FROM lags l
           JOIN d a ON TRUE
           JOIN d b ON b.i = a.i + l.lag
           CROSS JOIN m CROSS JOIN c0
           GROUP BY l.lag),
    q AS (SELECT CAST(SUM(CAST(acf * acf
                 / (m.nd - ac.lag) AS DECIMAL(38,18))) AS DOUBLE)
                 * (m.nd * (m.nd + 2)) AS q
          FROM ac CROSS JOIN m GROUP BY m.nd)
    SELECT ac.lag, round(ac.acf, 6) AS acf,
           m.nd AS n_days,
           round(q.q, 6) AS q_stat,
           round({_CHI2_SF_DF6.replace("(q)", "(q.q)")}, 6) AS p_value
    FROM ac CROSS JOIN q CROSS JOIN m
""")
def ts_acf_ljung_box(spark, sf_dir):
    """Autocorrelation diagnostics of the daily event-value series:
    the biased-estimator ACF at lags 1..6 plus the Ljung-Box (1978)
    portmanteau Q = n(n+2) sum r_k^2/(n-k) and its p-value — "is this
    series white noise?", the gate before any forecasting/trend model
    and a corpus-drift tripwire (autocorrelated ingestion volumes
    mean yesterday predicts today — batch effects, crawler cycles).
    The chi-square tail needs NO special function at even df:
    P(X > x) = exp(-x/2) * sum_(k<df/2) (x/2)^k/k! — an elementary
    closed form both engines evaluate identically (df = 6 here).

    Exactness: daily values are decimal-exact sums; mean/c0/lag
    covariances accumulate double products in DECIMAL(38,12); the Q
    sum runs over 6 lag rows in DECIMAL(38,18).  Plan: one scan ->
    per-day agg, then EVERYTHING lives on the ~30-row day grid (lag
    self-joins, 6-row reductions) — constant-sized beyond the scan
    at any corpus scale."""
    d0 = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .groupBy(F.col("ts").cast("date").alias("day"))
          .agg(F.sum(F.col("value").cast("decimal(28,12)"))
               .cast("double").alias("v")))
    d = (d0.select(F.row_number().over(Window.orderBy("day"))
                   .cast("bigint").alias("i"), "v")
         .localCheckpoint(eager=True))     # ~30-row day grid
    n = d.agg(F.count("*").cast("bigint").alias("nd"),
              F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
              .alias("sv"))
    m = n.selectExpr("nd", "sv / nd AS vbar")
    c0 = (d.crossJoin(F.broadcast(m))
          .agg(F.sum(F.expr("CAST((v - vbar) * (v - vbar)"
                            " AS DECIMAL(38,12))"))
               .cast("double").alias("c0")))
    lags = spark.range(1, _LB_LAGS + 1).selectExpr(
        "CAST(id AS INTEGER) AS lag")
    a = d.selectExpr("i AS ia", "v AS va")
    b = d.selectExpr("i AS ib", "v AS vb")
    ac = (lags.crossJoin(a)
          .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
          .crossJoin(F.broadcast(m)).crossJoin(F.broadcast(c0))
          .groupBy("lag")
          .agg((F.sum(F.expr("CAST((va - vbar) * (vb - vbar)"
                             " AS DECIMAL(38,12))")).cast("double")
                / F.any_value("c0")).alias("acf"))
          .localCheckpoint(eager=True))    # 6-row lag table
    q = (ac.crossJoin(F.broadcast(m))
         .groupBy("nd")
         .agg((F.sum(F.expr("CAST(acf * acf / (nd - lag)"
                            " AS DECIMAL(38,18))")).cast("double")
               * F.expr("any_value(nd * (nd + 2))")).alias("q"))
         .select("q"))
    return (ac.crossJoin(F.broadcast(q)).crossJoin(F.broadcast(m))
            .selectExpr("lag", "round(acf, 6) AS acf",
                        "nd AS n_days",
                        "round(q, 6) AS q_stat",
                        f"round({_CHI2_SF_DF6}, 6) AS p_value"))


# --- Wilson score intervals (round 10, batch 3) ----------------------------

_WILSON_Z = "CAST(1.959963984540054 AS DOUBLE)"     # Phi^-1(0.975)
_WILSON_CTR = (f"(ph + {_WILSON_Z} * {_WILSON_Z} / (2.0 * nn))"
               f" / (1.0 + {_WILSON_Z} * {_WILSON_Z} / nn)")
_WILSON_HALF = (f"({_WILSON_Z} * sqrt(ph * (1.0 - ph) / nn"
                f" + {_WILSON_Z} * {_WILSON_Z} / (4.0 * nn * nn)))"
                f" / (1.0 + {_WILSON_Z} * {_WILSON_Z} / nn)")


@query("stat_wilson_ci", f"""
    WITH g AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS k
               FROM events GROUP BY 1),
    p AS (SELECT dow, n, k,
                 CAST(k AS DOUBLE) / n AS ph,
                 CAST(n AS DOUBLE) AS nn
          FROM g)
    SELECT CAST(dow AS INTEGER) AS dow, n, k,
           round(ph, 6) AS p_hat,
           round(GREATEST(0.0, {_WILSON_CTR} - {_WILSON_HALF}), 6)
             AS ci_lo,
           round(LEAST(1.0, {_WILSON_CTR} + {_WILSON_HALF}), 6)
             AS ci_hi
    FROM p
""")
def stat_wilson_ci(spark, sf_dir):
    """Wilson score intervals (Wilson 1927 — the Brown, Cai &
    DasGupta 2001 recommendation over the Wald interval, which
    collapses at extreme p and small n) for the per-day-of-week
    purchase share: the binomial-proportion CI every conversion /
    defect-rate / filter-kill-rate dashboard should use.  The z
    constant is the exact double for Phi^-1(0.975), embedded
    decimal-parse-safe; center and half-width are the standard score
    inversion, clamped to [0, 1].

    Exactness: counts are exact integers; everything downstream is
    one shared double chain per row.  Plan: one scan -> 7-row hash
    agg (map-side combinable) -> per-row arithmetic; metadata-cost
    beyond the scan at any scale."""
    g = (_t(spark, sf_dir, "events")
         .groupBy(F.expr("dayofweek(ts)").alias("dow"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.expr("CASE WHEN event_type = 'purchase'"
                           " THEN 1 ELSE 0 END")).cast("bigint")
              .alias("k")))
    p = g.selectExpr("dow", "n", "k",
                     "CAST(k AS DOUBLE) / n AS ph",
                     "CAST(n AS DOUBLE) AS nn")
    return p.selectExpr(
        "CAST(dow AS INTEGER) AS dow", "n", "k",
        "round(ph, 6) AS p_hat",
        f"round(GREATEST(0.0, {_WILSON_CTR} - {_WILSON_HALF}), 6)"
        " AS ci_lo",
        f"round(LEAST(1.0, {_WILSON_CTR} + {_WILSON_HALF}), 6)"
        " AS ci_hi")


# --- Krippendorff's alpha, nominal (round 10, batch 3) ---------------------

# units = user cohorts, raters = event types, rating = the unit's
# modal value-bucket per rater (deterministic: count DESC, bucket ASC)
_KRIPP_UNIT = "CAST(user_id % 40 AS INTEGER)"
_KRIPP_CAT = "CAST(LEAST(3, CAST(floor(value / 25.0) AS INTEGER)) AS INTEGER)"


@query("eval_krippendorff_alpha", f"""
    WITH r0 AS (SELECT {_KRIPP_UNIT} AS unit, event_type AS rater,
                       {_KRIPP_CAT} AS cat
                FROM events WHERE value IS NOT NULL AND value >= 0),
    votes AS (SELECT unit, rater, cat, CAST(count(*) AS BIGINT) AS cnt
              FROM r0 GROUP BY unit, rater, cat),
    rated AS (SELECT unit, rater, cat FROM (
                SELECT unit, rater, cat,
                       row_number() OVER (PARTITION BY unit, rater
                           ORDER BY cnt DESC, cat) AS rn
                FROM votes) z WHERE rn = 1),
    nuc AS (SELECT unit, cat, CAST(count(*) AS BIGINT) AS n_uc
            FROM rated GROUP BY unit, cat),
    mu AS (SELECT unit, CAST(SUM(n_uc) AS BIGINT) AS m_u
           FROM nuc GROUP BY unit),
    keep AS (SELECT nuc.unit, nuc.cat, nuc.n_uc, mu.m_u
             FROM nuc JOIN mu ON mu.unit = nuc.unit WHERE mu.m_u >= 2),
    tot AS (SELECT CAST(SUM(n_uc) AS BIGINT) AS n FROM keep),
    -- within-unit DISAGREEING pairable values, 1/(m_u - 1) weighted:
    -- sum_c n_uc * (m_u - n_uc) counts each ordered cross-category
    -- pair once per side
    dobs AS (SELECT CAST(SUM(CAST(CAST(n_uc AS DOUBLE)
                    * (m_u - n_uc) / (m_u - 1) AS DECIMAL(38,18)))
                    AS DOUBLE) AS do_sum
             FROM keep),
    nc AS (SELECT cat, CAST(SUM(n_uc) AS BIGINT) AS n_c
           FROM keep GROUP BY cat),
    dexp AS (SELECT CAST(SUM(CAST(CAST(a.n_c AS DOUBLE) * b.n_c
                    AS DECIMAL(38,18))) AS DOUBLE) AS de_num
             FROM nc a JOIN nc b ON a.cat <> b.cat)
    SELECT tot.n AS n_pairable,
           CAST((SELECT count(*) FROM mu WHERE m_u >= 2) AS BIGINT)
             AS n_units,
           CAST((SELECT count(*) FROM nc) AS BIGINT) AS n_categories,
           round(dobs.do_sum / tot.n, 6) AS d_observed,
           round(dexp.de_num / (CAST(tot.n AS DOUBLE) * (tot.n - 1)), 6)
             AS d_expected,
           round(1.0 - (dobs.do_sum / tot.n)
                 / (dexp.de_num / (CAST(tot.n AS DOUBLE) * (tot.n - 1))),
                 6) AS alpha
    FROM dobs CROSS JOIN dexp CROSS JOIN tot
""")
def eval_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha for nominal data (Krippendorff 2011,
    "Computing Krippendorff's Alpha-Reliability") — the multi-rater,
    missing-data-tolerant generalization of Cohen's kappa, and THE
    reliability statistic for RLHF/eval annotation pipelines (more
    than two labelers, not every labeler rates every item): units are
    user cohorts, raters are the five event types, and each (unit,
    rater) rating is its deterministic modal value-bucket.  Reports
    observed disagreement D_o (within-unit cross-category pairable
    values, 1/(m_u - 1) weighted — the coincidence-matrix off-diagonal
    mass over n), expected disagreement D_e (cross-category products
    of the category totals over n(n-1)), and alpha = 1 - D_o/D_e.
    Units with fewer than two ratings drop out, exactly as the
    coincidence formulation prescribes.

    Exactness: ratings are exact integer argmaxes (count DESC, cat
    tiebreak); D_o/D_e sums accumulate fixed double terms in
    DECIMAL(38,18); one shared division chain.  Plan: one scan ->
    (unit, rater, cat) hash agg, then everything lives on the
    units x categories grid (metadata-sized: 40 x 4 here; bounded by
    the annotation design, not the corpus).  At 100 TB the scan is
    the entire cost — reliability audits are free beside the labels
    themselves."""
    r0 = (_t(spark, sf_dir, "events")
          .filter("value IS NOT NULL AND value >= 0")
          .selectExpr(f"{_KRIPP_UNIT} AS unit", "event_type AS rater",
                      f"{_KRIPP_CAT} AS cat"))
    votes = (r0.groupBy("unit", "rater", "cat")
             .agg(F.count("*").cast("bigint").alias("cnt")))
    w = Window.partitionBy("unit", "rater").orderBy(F.desc("cnt"), "cat")
    rated = (votes.withColumn("rn", F.row_number().over(w))
             .filter("rn = 1").select("unit", "rater", "cat"))
    nuc = (rated.groupBy("unit", "cat")
           .agg(F.count("*").cast("bigint").alias("n_uc")))
    mu = nuc.groupBy("unit").agg(F.sum("n_uc").cast("bigint").alias("m_u"))
    keep = (nuc.join(mu, "unit").filter("m_u >= 2")
            .localCheckpoint(eager=True))   # units x categories grid
    tot = keep.agg(F.sum("n_uc").cast("bigint").alias("n"))
    dobs = keep.agg(
        F.sum(F.expr("CAST(CAST(n_uc AS DOUBLE) * (m_u - n_uc)"
                     " / (m_u - 1) AS DECIMAL(38,18))"))
        .cast("double").alias("do_sum"))
    nc = keep.groupBy("cat").agg(F.sum("n_uc").cast("bigint").alias("n_c"))
    a = nc.selectExpr("cat AS cat_a", "n_c AS nca")
    b = nc.selectExpr("cat AS cat_b", "n_c AS ncb")
    dexp = (a.join(b, F.col("cat_a") != F.col("cat_b"))
            .agg(F.sum(F.expr("CAST(CAST(nca AS DOUBLE) * ncb"
                              " AS DECIMAL(38,18))"))
                 .cast("double").alias("de_num")))
    n_units = mu.filter("m_u >= 2").agg(
        F.count("*").cast("bigint").alias("n_units"))
    n_cats = nc.agg(F.count("*").cast("bigint").alias("n_categories"))
    return (dobs.crossJoin(F.broadcast(dexp)).crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(n_units)).crossJoin(F.broadcast(n_cats))
            .selectExpr(
                "n AS n_pairable", "n_units", "n_categories",
                "round(do_sum / n, 6) AS d_observed",
                "round(de_num / (CAST(n AS DOUBLE) * (n - 1)), 6)"
                " AS d_expected",
                "round(1.0 - (do_sum / n)"
                " / (de_num / (CAST(n AS DOUBLE) * (n - 1))), 6)"
                " AS alpha"))


# --- DeLong AUC confidence interval (round 10, batch 3) --------------------

# per-grid-value structural components (ties at the grid value get
# the half-credit of Mann-Whitney's psi kernel):
#   v10 (for the ca positives here)  = (neg strictly below + cb/2)/n0
#   v01 (for the cb negatives here)  = (pos strictly above + ca/2)/n1
_DL_V10 = ("(CAST((cab - n) - (cpos - ca) AS DOUBLE)"
           " + 0.5 * (n - ca)) / n0")
_DL_V01 = ("(CAST(n1 - cpos AS DOUBLE) + 0.5 * ca) / n1")


@query("eval_auc_delong_ci", f"""
    WITH {_logreg_d_train_ctes()},
    {_logreg_d_scored_sql()},
    g AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS ca
          FROM scored GROUP BY p),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1,
                 CAST(SUM(n - ca) AS BIGINT) AS n0 FROM g),
    c AS (SELECT p, n, ca,
                 CAST(SUM(n) OVER (ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cab,
                 CAST(SUM(ca) OVER (ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
          FROM g),
    v AS (SELECT CAST(SUM(CAST(ca * ({_DL_V10}) AS DECIMAL(38,18)))
                      AS DOUBLE) AS s10_1,
                 CAST(SUM(CAST(ca * ({_DL_V10}) * ({_DL_V10})
                      AS DECIMAL(38,18))) AS DOUBLE) AS s10_2,
                 CAST(SUM(CAST((n - ca) * ({_DL_V01})
                      AS DECIMAL(38,18))) AS DOUBLE) AS s01_1,
                 CAST(SUM(CAST((n - ca) * ({_DL_V01}) * ({_DL_V01})
                      AS DECIMAL(38,18))) AS DOUBLE) AS s01_2
          FROM c CROSS JOIN t),
    a AS (SELECT t.n1, t.n0, v.s10_1 / t.n1 AS auc,
                 (v.s10_2 - t.n1 * (v.s10_1 / t.n1)
                          * (v.s10_1 / t.n1)) / (t.n1 - 1) AS s10,
                 (v.s01_2 - t.n0 * (v.s01_1 / t.n0)
                          * (v.s01_1 / t.n0)) / (t.n0 - 1) AS s01
          FROM v CROSS JOIN t)
    SELECT n1 AS n_pos, n0 AS n_neg,
           round(auc, 6) AS auc,
           round(sqrt(s10 / n1 + s01 / n0), 6) AS se_delong,
           round(GREATEST(0.0, auc - {_WILSON_Z}
                 * sqrt(s10 / n1 + s01 / n0)), 6) AS ci_lo,
           round(LEAST(1.0, auc + {_WILSON_Z}
                 * sqrt(s10 / n1 + s01 / n0)), 6) AS ci_hi
    FROM a
""")
def eval_auc_delong_ci(spark, sf_dir):
    """DeLong, DeLong & Clarke-Pearson (1988) standard error and 95%
    CI for the ROC-AUC — the companion eval_auc_roc's point estimate
    needs before two models can be COMPARED: the structural components
    V10_i (per positive: fraction of negatives it outranks, half
    credit for ties) and V01_j (per negative: fraction of positives
    above it) have mean AUC, and Var(AUC) = s10/n1 + s01/n0 from
    their sample variances — the nonparametric, distribution-free SE.
    The usual quadratic-time formulation collapses onto the
    distinct-score grid: every positive tied at score p shares ONE
    v10 value, so the component moments are grid sums weighted by the
    tie counts — exact, no per-pair work.

    Exactness: the same bit-identical scores and integer cumulatives
    as eval_auc_roc; v10/v01 are fixed double chains; component
    moments accumulate in DECIMAL(38,18); the z constant is the exact
    Phi^-1(.975) double.  Plan: scoring scan -> score-grid hash agg
    -> the repo's two-phase running sums -> 1-row moment algebra; the
    same cost shape as the AUC itself — the CI is free beside the
    estimate."""
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    beta = _logreg_d_beta(spark, sf_dir)
    scored = (_logreg_d_s_frame(spark, sf_dir)
              .crossJoin(F.broadcast(beta)).selectExpr("*", p_expr))
    g = (scored.groupBy("p")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("y").cast("bigint")).cast("bigint").alias("ca")))
    t = g.agg(F.sum("ca").cast("bigint").alias("n1"),
              F.sum(F.col("n") - F.col("ca")).cast("bigint").alias("n0"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    with_pid = (g.repartitionByRange(n_parts, "p")
                .withColumn("pid", F.spark_partition_id())
                .localCheckpoint())
    wrun = (Window.partitionBy("pid").orderBy("p")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = with_pid.select(
        "p", "n", "ca", "pid",
        F.sum("n").over(wrun).alias("lab"),
        F.sum("ca").over(wrun).alias("lca"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (with_pid.groupBy("pid")
            .agg(F.sum("n").alias("pn"), F.sum("ca").alias("pca"))
            .select("pid",
                    F.coalesce(F.sum("pn").over(woff), F.lit(0))
                    .alias("offn"),
                    F.coalesce(F.sum("pca").over(woff), F.lit(0))
                    .alias("offca")))
    c = (local.join(F.broadcast(offs), "pid")
         .select("p", "n", "ca",
                 (F.col("lab") + F.col("offn")).cast("bigint").alias("cab"),
                 (F.col("lca") + F.col("offca")).cast("bigint")
                 .alias("cpos")))
    d18 = "DECIMAL(38,18)"
    v = (c.crossJoin(F.broadcast(t))
         .agg(*[F.sum(F.expr(f"CAST({e} AS {d18})")).cast("double")
                .alias(nm) for nm, e in [
                    ("s10_1", f"ca * ({_DL_V10})"),
                    ("s10_2", f"ca * ({_DL_V10}) * ({_DL_V10})"),
                    ("s01_1", f"(n - ca) * ({_DL_V01})"),
                    ("s01_2", f"(n - ca) * ({_DL_V01}) * ({_DL_V01})")]]))
    a = (v.crossJoin(F.broadcast(t))
         .selectExpr("n1", "n0", "s10_1 / n1 AS auc",
                     "(s10_2 - n1 * (s10_1 / n1) * (s10_1 / n1))"
                     " / (n1 - 1) AS s10",
                     "(s01_2 - n0 * (s01_1 / n0) * (s01_1 / n0))"
                     " / (n0 - 1) AS s01"))
    return a.selectExpr(
        "n1 AS n_pos", "n0 AS n_neg",
        "round(auc, 6) AS auc",
        "round(sqrt(s10 / n1 + s01 / n0), 6) AS se_delong",
        f"round(GREATEST(0.0, auc - {_WILSON_Z}"
        " * sqrt(s10 / n1 + s01 / n0)), 6) AS ci_lo",
        f"round(LEAST(1.0, auc + {_WILSON_Z}"
        " * sqrt(s10 / n1 + s01 / n0)), 6) AS ci_hi")


# --- Holm-Bonferroni step-down FWER (round 10, batch 3) --------------------

# the same 35-slice Welch z family as stat_benjamini_hochberg (copy of
# its CTE prefix — the two queries must stay independently readable)
_HOLM_FAMILY = f"""s AS (SELECT event_type AS et,
                      dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                      CAST(user_id % 2 AS INTEGER) AS grp,
                      CAST(value AS DECIMAL(28,12)) AS v,
                      CAST(value * value AS DECIMAL(38,12)) AS v2
               FROM events WHERE value IS NOT NULL),
    g AS (SELECT et, dow, grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS DOUBLE) AS sv,
                 CAST(SUM(v2) AS DOUBLE) AS sq
          FROM s GROUP BY et, dow, grp),
    m AS (SELECT et, dow, grp, n, sv / n AS mean,
                 (sq - sv * sv / n) / (n - 1) AS var
          FROM g WHERE n >= 2),
    w AS (SELECT a.et, a.dow, a.n AS n0, b.n AS n1,
                 a.mean AS mean0, b.mean AS mean1,
                 a.var AS var0, b.var AS var1
          FROM (SELECT * FROM m WHERE grp = 0) a
          JOIN (SELECT * FROM m WHERE grp = 1) b
            ON a.et = b.et AND a.dow = b.dow
          WHERE a.var / a.n + b.var / b.n > 0),
    pp AS (SELECT et, dow, n0, n1, {_BH_Z} AS z,
                  {_norm_p2_sql(f"abs({_BH_Z})")} AS pv
           FROM w)"""

_HOLM_ALPHA = "CAST(0.05 AS DOUBLE)"


@query("stat_holm_bonferroni", f"""
    WITH {_HOLM_FAMILY},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nh FROM pp),
    rk AS (SELECT pp.*, CAST(row_number() OVER (ORDER BY pv, et, dow)
                 AS BIGINT) AS rnk
           FROM pp),
    adj AS (SELECT rk.*, nh,
                   max(LEAST(1.0, (nh - rnk + 1) * pv))
                     OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING)
                     AS padj
            FROM rk CROSS JOIN tot),
    kk AS (SELECT COALESCE(CAST(min(CASE WHEN pv > {_HOLM_ALPHA}
                      / (nh - rnk + 1) THEN rnk END) AS BIGINT),
                  CAST(9223372036854775807 AS BIGINT)) AS stop_rnk
           FROM adj)
    SELECT et AS event_type, CAST(dow AS INTEGER) AS dow, n0, n1,
           round(z, 6) AS z_score,
           round(pv, 6) AS p_value,
           rnk AS p_rank,
           round(padj, 6) AS p_holm,
           CAST(CASE WHEN rnk < kk.stop_rnk THEN 1 ELSE 0 END
                AS INTEGER) AS rejected
    FROM adj CROSS JOIN kk
""")
def stat_holm_bonferroni(spark, sf_dir):
    """Holm's (1979) step-down procedure over the SAME (event_type x
    day-of-week) Welch z family as stat_benjamini_hochberg — the
    FWER-controlling counterpart: BH bounds the expected FALSE-
    DISCOVERY fraction (exploratory dashboards), Holm bounds the
    probability of ANY false rejection (ship/no-ship decisions), and
    a results review quotes both.  Step-down: reject ranks 1..k-1
    where k is the FIRST rank with p_(k) > alpha/(m - k + 1) (every
    rank from the first failure on is retained — monotone by
    construction); the adjusted p is the running MAX of
    min(1, (m - i + 1) p_(i)), uniformly dominating Bonferroni's m*p.

    Exactness: identical family CTEs (decimal Welch moments, shared
    A&S tails); the step-down scan and adjustment are windows over
    the ~35-row hypothesis table; the no-failure case serves a
    sentinel stop rank so every slice rejects.  Plan: one scan ->
    slice hash agg -> metadata arithmetic, the BH cost shape
    exactly."""
    s = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .selectExpr("event_type AS et", "dayofweek(ts) AS dow",
                     "CAST(user_id % 2 AS INTEGER) AS grp",
                     "CAST(value AS DECIMAL(28,12)) AS v",
                     "CAST(value * value AS DECIMAL(38,12)) AS v2"))
    g = (s.groupBy("et", "dow", "grp")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum("v").cast("double").alias("sv"),
              F.sum("v2").cast("double").alias("sq")))
    m = (g.filter(F.col("n") >= 2)
         .selectExpr("et", "dow", "grp", "n", "sv / n AS mean",
                     "(sq - sv * sv / n) / (n - 1) AS var"))
    a = m.filter("grp = 0").selectExpr("et", "dow", "n AS n0",
                                       "mean AS mean0", "var AS var0")
    b = m.filter("grp = 1").selectExpr("et", "dow", "n AS n1",
                                       "mean AS mean1", "var AS var1")
    w = (a.join(b, ["et", "dow"])
         .filter(F.expr("var0 / n0 + var1 / n1 > 0")))
    pp = w.selectExpr("et", "dow", "n0", "n1", f"{_BH_Z} AS z",
                      f"{_norm_p2_sql(f'abs({_BH_Z})')} AS pv") \
        .localCheckpoint(eager=True)       # ~35-row hypothesis table
    tot = pp.agg(F.count("*").cast("bigint").alias("nh"))
    rk = pp.withColumn(
        "rnk", F.row_number().over(Window.orderBy("pv", "et", "dow"))
        .cast("bigint"))
    wmax = (Window.orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, 0))
    adj = (rk.crossJoin(F.broadcast(tot))
           .withColumn("padj",
                       F.max(F.expr("LEAST(1.0, (nh - rnk + 1) * pv)"))
                       .over(wmax)))
    kk = adj.agg(F.coalesce(
        F.min(F.expr(f"CASE WHEN pv > {_HOLM_ALPHA} / (nh - rnk + 1)"
                     " THEN rnk END")).cast("bigint"),
        F.lit(9223372036854775807).cast("bigint")).alias("stop_rnk"))
    return (adj.crossJoin(F.broadcast(kk))
            .selectExpr("et AS event_type", "CAST(dow AS INTEGER) AS dow",
                        "n0", "n1",
                        "round(z, 6) AS z_score",
                        "round(pv, 6) AS p_value",
                        "rnk AS p_rank",
                        "round(padj, 6) AS p_holm",
                        "CAST(CASE WHEN rnk < stop_rnk THEN 1 ELSE 0 END"
                        " AS INTEGER) AS rejected"))
