"""[EXT] Relational surface (SURVEY.md §2.3-§2.6) over the TPC-H-ish
star schema.  No reference counterpart (the reference is single-stream,
SURVEY.md §2.3); required by the 100 TB north star.

Scale posture: dimension joins broadcast (region/nation/customer at
real-TPC-H ratios: broadcast what fits, AQE re-plans the rest); fact-fact
joins shuffle on their equi keys and AQE handles skew; every aggregate
is a partial+final hash agg.  Double-typed measures aggregate exactly
on 64-bit integer units for run-to-run determinism (plans.common,
plans.registry docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table, register_temp_views
from .common import davg, dsum, lsum, revenue_units, units
from .registry import EVENTS_TS, davg_sql, dsum_sql, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- flagship: TPC-H Q1-style pricing summary ----------------------------

@query("q1_pricing_summary", f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 'sum_qty')},
           {dsum_sql('l_extendedprice', 'sum_base_price')},
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM((CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           {davg_sql('l_quantity', 'avg_qty')},
           {davg_sql('l_extendedprice', 'avg_price')},
           {davg_sql('l_discount', 'avg_disc', scale=4)},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan -> pushed-down date filter -> 2-key hash agg.
    The plan is one shuffle; at 100 TB the scan prunes to the 8 columns
    referenced and the predicate reaches the parquet reader."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
    # Exact integer arithmetic on the 2dp inputs' unscaled units: a
    # double product would be tie-sensitive across engines (Spark rounds
    # the shortest decimal repr, DuckDB the binary value), and the long
    # products equal the oracle's decimal products digit for digit.
    disc_price = revenue_units()                                 # 4dp
    charge = disc_price * (100 + units("l_tax", 2))              # 6dp
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        lsum(disc_price, 4).cast("double").alias("sum_disc_price"),
        lsum(charge, 6).cast("double").alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount", scale=4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- joins (§2.3) --------------------------------------------------------

@query("join_inner_equi", f"""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           {dsum_sql('o.o_totalprice', 'revenue')}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
""")
def join_inner_equi(spark, sf_dir):
    """Fact-dim equi join; Catalyst broadcasts the customer side when it
    fits, else AQE converts at runtime."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@query("join_left_outer", """
    SELECT c.c_custkey, count(o.o_orderkey) AS order_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
""")
def join_left_outer(spark, sf_dir):
    """Left outer keeps order-less customers (count 0, NULL spend)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"),
             dsum("o_totalprice").alias("total_spent"))
    )


@query("join_full_outer", """
    SELECT COALESCE(x.k, y.k) AS k, x.n_cust, y.n_supp FROM
      (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) x
      FULL JOIN
      (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) y
      ON x.k = y.k
""")
def join_full_outer(spark, sf_dir):
    """Full outer over two pre-aggregated sides (nation coverage can
    differ between customers and suppliers)."""
    c = _t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count("*").alias("n_cust"))
    s = _t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count("*").alias("n_supp"))
    return (
        c.join(s, "k", "full")
        .select(F.col("k"), "n_cust", "n_supp")
    )


@query("join_semi", """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
""")
def join_semi(spark, sf_dir):
    """Left-semi: customers with at least one open order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query("join_anti", """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderstatus = 'F')
""")
def join_anti(spark, sf_dir):
    """Left-anti: customers with no finalized ('F') orders.  The anti
    side is status-filtered because every synthetic customer has SOME
    order — the unfiltered form would make the oracle gate compare two
    empty sets forever."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query("join_broadcast_dim", f"""
    SELECT r.r_name, n.n_name, count(*) AS n_cust,
           {dsum_sql('c.c_acctbal', 'sum_acctbal')}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
""")
def join_broadcast_dim(spark, sf_dir):
    """Star-join through two explicitly broadcast dimensions — zero
    shuffle until the final group-by."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), dsum("c_acctbal").alias("sum_acctbal"))
    )


@query("join_range_theta", """
    SELECT o.o_orderpriority, count(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
""")
def join_range_theta(spark, sf_dir):
    """Equi key + range predicate (ship within 90 days of order): the
    equi part drives the shuffle/broadcast; the range rides along as a
    post-join filter, so no nested-loop blowup."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAY"))
    )
    return l.join(o, cond).groupBy("o_orderpriority").agg(F.count("*").alias("n_items"))


@query("join_asof_events", f"""
    WITH e AS (SELECT * FROM {EVENTS_TS}),
    purchases AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
    views AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
              FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.view_ts
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.view_ts <= p.ts
""")
def join_asof_events(spark, sf_dir):
    """As-of join (latest 'view' at-or-before each 'purchase', per user).

    Spark has no ASOF primitive; instead of the naive join+row_number
    (which materializes every candidate pair), this uses the scalable
    union-then-window pattern: tag both sides, sort within user by
    (ts, side), and carry the last view forward with last_value(ignore
    nulls).  One shuffle on user_id, state is O(1) per row — the same
    plan holds at 100 TB.  Ties at equal (ts, side) are broken by
    ordering on event_id inside the same window pass (the carried view
    is the max event_id), matching DuckDB ASOF without a pre-dedup
    shuffle.
    """
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts")
    tagged = (
        views.select(
            "user_id", "ts", F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("view_event_id").alias("order_id"),
            F.struct(F.col("view_event_id"), F.col("ts").alias("view_ts")).alias("v"))
        .unionByName(
            purchases.select(
                "user_id", "ts", F.lit(1).alias("side"), "event_id",
                F.col("event_id").alias("order_id"),
                F.lit(None).cast("struct<view_event_id:bigint,view_ts:timestamp_ntz>").alias("v")))
    )
    # views sort before purchases at equal ts => v.ts <= p.ts is inclusive;
    # ordering by event_id within equal (ts, side) means the *last* view
    # carried forward is the max event_id — same tie-break as a pre-dedup
    # max() but without its extra shuffle (plan: ONE exchange on user_id).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "order_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn("lv", F.last("v", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "event_id", "user_id", "ts",
            F.col("lv.view_event_id").alias("view_event_id"),
            F.col("lv.view_ts").alias("view_ts"),
        )
    )


# --- aggregate extensions (§2.4 [EXT]) -----------------------------------

@query("agg_distinct_users", f"""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM {EVENTS_TS} GROUP BY event_type
""")
def agg_distinct_users(spark, sf_dir):
    """Exact distinct per group (expands to a two-phase agg under AQE)."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").alias("n_events"))


@query("agg_approx_distinct", """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(1 AS INT) AS approx_ok
    FROM events GROUP BY event_type
""")
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++): the 100 TB-scale path where
    exact distinct's shuffle is the bottleneck.  The HLL estimate itself
    is engine-specific, so the hashed output carries the exact count
    plus an ``approx_ok`` verdict — 1 iff the estimate lands within
    3x the requested rsd (|approx-exact| <= max(0.15*exact, 5)) — which
    the oracle pins to 1.  A drifting sketch now FAILS the driver gate
    instead of hiding behind ``no_oracle`` (VERDICT r1 item 5)."""
    agg = _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("_approx"))
    tol = F.greatest(F.lit(5.0), F.col("n_users_exact") * 0.15)
    return agg.select(
        "event_type", "n_users_exact",
        (F.abs(F.col("_approx") - F.col("n_users_exact")) <= tol)
        .cast("int").alias("approx_ok"))


@query("sketch_hll_rollup", """
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, month(o_orderdate) AS mo,
               count(DISTINCT o_custkey) AS n_exact_month
        FROM orders GROUP BY 1, 2
    ), yearly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY 1
    )
    SELECT y.yr,
           CAST(sum(m.n_exact_month) AS BIGINT) AS naive_sum_of_partials,
           y.exact_distinct,
           CAST(1 AS INT) AS approx_ok
    FROM yearly y JOIN monthly m ON m.yr = y.yr
    GROUP BY y.yr, y.exact_distinct
""")
def sketch_hll_rollup(spark, sf_dir):
    """Re-aggregatable distinct-count sketches — the pattern that makes
    distinct counts roll up at 100 TB: build an HLL sketch of ordering
    customers per (year, month) partial, then *merge sketches* to year
    level with ``hll_union_agg`` instead of re-scanning the facts.
    Monthly customer sets overlap heavily, so the correct year-level
    union is far below the sum of the monthly partials; the output
    carries the exact counterparts (`naive_sum_of_partials`,
    `exact_distinct`) plus an ``approx_ok`` verdict — 1 iff the merged
    sketch's estimate is within max(10%% of exact, 10) — which the
    oracle pins to 1, so sketch drift fails the driver gate rather
    than hiding behind ``no_oracle`` (VERDICT r1 item 5).  At scale
    the sketches are the only thing that moves in the second agg —
    kilobytes per group, no re-shuffle of the fact table."""
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("yr"),
                  F.month("o_orderdate").alias("mo"))
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"),
             F.countDistinct("o_custkey").alias("n_exact_month"))
    )
    yearly = (
        monthly.groupBy("yr")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
             F.sum("n_exact_month").cast("bigint").alias("naive_sum_of_partials"))
    )
    exact = o.groupBy(F.year("o_orderdate").cast("int").alias("yr")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct"))
    tol = F.greatest(F.lit(10.0), F.col("exact_distinct") * 0.10)
    return yearly.join(exact, "yr").select(
        "yr", "naive_sum_of_partials", "exact_distinct",
        (F.abs(F.col("_approx") - F.col("exact_distinct")) <= tol)
        .cast("int").alias("approx_ok"))


@query("sketch_topk_langs", """
    SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
""")
def sketch_topk_langs(spark, sf_dir):
    """Frequent-items sketch (approx_top_k) over documents.lang.  With
    k >= the column's cardinality the sketch is provably exact AND
    complete, so this approx operator is oracle-gated against the exact
    group-by — and ties at rank k can't break the comparison because
    nothing is cut off.  At 100 TB the sketch's win is that heavy
    hitters arrive without a full groupBy shuffle: each partition
    tracks its own bounded map, and only kilobyte sketch states merge."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.agg(F.expr("approx_top_k(lang, 10)").alias("top"))
            .select(F.explode("top").alias("e"))
            .select(F.col("e.item").alias("lang"),
                    F.col("e.count").alias("cnt")))


@query("sketch_topk_rollup", """
    SELECT CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS yr, event_type,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
""")
def sketch_topk_rollup(spark, sf_dir):
    """Re-aggregatable frequent-items rollup, the approx_top_k twin of
    sketch_hll_rollup: accumulate a per-month sketch of event types,
    then COMBINE the sketch states up to year level — monthly partials
    merge in kilobytes, no re-shuffle of the fact rows.  At small
    cardinality (5 event types << maxItemsTracked=1024) the sketch is
    provably exact and complete, so it is oracle-gated against the
    exact (year, event_type) group-by — the full-gate counterpart of
    the old rows-only check (VERDICT r1 item 5)."""
    e = _t(spark, sf_dir, "events")
    monthly = (
        e.groupBy(F.year("ts").cast("int").alias("yr"),
                  F.month("ts").alias("mo"))
        .agg(F.expr("approx_top_k_accumulate(event_type, 1024)").alias("st"))
    )
    # k=16 >= the column's cardinality, so nothing is cut off and ties
    # at rank k cannot perturb the comparison (same argument as
    # sketch_topk_langs).
    return (
        monthly.groupBy("yr")
        .agg(F.expr("approx_top_k_estimate(approx_top_k_combine(st), 16)")
             .alias("top"))
        .select("yr", F.explode("top").alias("e"))
        .select("yr", F.col("e.item").alias("event_type"),
                F.col("e.count").cast("bigint").alias("cnt"))
    )


@query("agg_rollup_region_nation", f"""
    SELECT r.r_name, n.n_name, count(*) AS n_cust,
           {dsum_sql('c.c_acctbal', 'sum_acctbal')}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
""")
def agg_rollup_region_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), dsum("c_acctbal").alias("sum_acctbal"))
    )


@query("agg_cube", f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {dsum_sql('o_totalprice', 'revenue')}
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_cube(spark, sf_dir):
    return _t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("revenue"))


@query("agg_grouping_sets", f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {dsum_sql('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def agg_grouping_sets(spark, sf_dir):
    """Explicit grouping sets via the SQL surface (views registered on
    the fly; Catalyst expands to a single Expand + hash agg)."""
    register_temp_views(spark, sf_dir, ["lineitem"])
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


# --- window functions (§2.5 [EXT]) ---------------------------------------

@query("win_rank_orders_by_price", """
    SELECT o_custkey, o_orderkey, o_totalprice,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
    FROM orders
""")
def win_rank_orders_by_price(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk"))


@query("win_running_sum", """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
""")
def win_running_sum(spark, sf_dir):
    """Running per-customer spend; exact accumulation keeps every
    prefix sum deterministic, (date, orderkey) ordering pins ties."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        dsum("o_totalprice", w=w).alias("running_spend"))


@query("win_lag_value", f"""
    SELECT event_id, user_id, ts, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM {EVENTS_TS}
""")
def win_lag_value(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"))


# --- set operations (§2.6 [EXT]) -----------------------------------------

@query("set_union_all", """
    SELECT c_custkey, c_name, 'building' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_name, 'negative' AS src FROM customer WHERE c_acctbal < 0
""")
def set_union_all(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name", F.lit("building").alias("src"))
    b = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", "c_name", F.lit("negative").alias("src"))
    return a.unionByName(b)


@query("set_intersect", """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def set_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


@query("set_except", """
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def set_except(spark, sf_dir):
    """EXCEPT ALL (multiset difference): order placements minus the
    finalized ones, keeping multiplicity — a customer with 3 orders of
    which 1 is 'F' survives twice.  (customer EXCEPT orders-custkeys is
    empty on this data — every customer ordered — which would make the
    gate vacuous.)"""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_custkey").exceptAll(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))


# --- TPC-H-shaped depth queries (flagship relational workload) -----------

@query("q3_shipping_priority", """
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
""")
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> two equi joins -> top-10
    by revenue.  Eager aggregation (Yan & Larson, VLDB 1995): lineitem
    is summed per l_orderkey BEFORE it meets orders, because the group
    key o_orderkey is unique in orders and o_orderdate depends on it —
    one row per order crosses the join instead of every line.  Customer
    side broadcasts; TakeOrderedAndProject caps the result driver-side."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy("l_orderkey")
        .agg(lsum(revenue_units(), 4).alias("rev"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(rev, F.col("l_orderkey") == o.o_orderkey)
        .select("o_orderkey", "o_orderdate",
                F.col("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query("q5_region_revenue", """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
""")
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join with a local-supplier condition
    (c_nationkey = s_nationkey).  nation/region broadcast; supplier
    broadcasts at these ratios; the two fact joins shuffle on their
    keys and AQE reorders/skew-splits at runtime."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), (F.col("l_suppkey") == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(lsum(revenue_units(), 4).cast("double").alias("revenue"))
    )


@query("q6_revenue_forecast", """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
""")
def q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    reaches the parquet reader (PushedFilters), zero shuffles."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    rev = units("l_extendedprice", 2) * units("l_discount", 2)    # 4dp
    return l.agg(lsum(rev, 4).cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))


@query("q18_large_orders", """
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 250
""")
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: group-by-key then HAVING on the aggregate (the
    classic 'big buyers' reduction).  Eager aggregation (Yan & Larson,
    VLDB 1995): lineitem is summed per l_orderkey and the HAVING applied
    BEFORE the join, so only the few large orders meet orders — valid
    because o_orderkey is unique in orders and o_custkey, o_orderdate
    depend on it, so grouping the joined rows by the three columns forms
    exactly the per-l_orderkey groups."""
    o = _t(spark, sf_dir, "orders")
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(lsum(units("l_quantity", 2), 2).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
    )
    return (
        o.join(big, big.l_orderkey == o.o_orderkey)
        .select("o_orderkey", "o_custkey", "o_orderdate",
                F.col("qty_dec").cast("double").alias("sum_qty"))
    )


# --- skew mitigation (100 TB posture) ------------------------------------

@query("agg_salted_skew", f"""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n
    FROM {EVENTS_TS} GROUP BY event_type
""")
def agg_salted_skew(spark, sf_dir):
    """Two-phase SALTED EXACT DISTINCT per hot key.  Plain count/sum
    over a 5-value key do NOT need salting — map-side partial
    aggregation already collapses each task's output to <=5 rows before
    the exchange.  Salting pays off where per-group STATE grows with
    group size (distinct sets, collect_list), because there the hot
    key's entire state otherwise lands on one reducer.

    The salt is derived FROM the distinct-counted column
    (pmod(user_id, 16)), so each user falls in exactly one (key, salt)
    cell: the per-cell distinct counts partition the true distinct set
    and phase 2's SUM is exact, while phase 1's heavy dedup state is
    spread over 16x more reducers."""
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("user_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.countDistinct("user_id").alias("pu"),
             F.count("*").alias("pn"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pu").cast("bigint").alias("n_users"),
        F.sum("pn").alias("n"))


@query("join_salted_skew", f"""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           {dsum_sql('l.l_extendedprice', 'revenue')}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
""")
def join_salted_skew(spark, sf_dir):
    """SALTED shuffle join — the manual skew-mitigation pattern for a
    fact/fact join whose key distribution has hot keys (one giant
    order, one celebrity user): the probe side gets a deterministic
    salt derived from a non-key column (pmod(l_linenumber, 8)), the
    build side is replicated across all 8 salts with explode(sequence),
    and the join key becomes (key, salt) — a hot key's rows now spread
    over 8 reducers instead of one.  The result is EXACTLY the plain
    join (oracle is the unsalted SQL): replication x salt-partition is
    a partition refinement, not a semantic change.  AQE's skew-join
    split handles post-shuffle partition skew automatically; explicit
    salting is the complement when a SINGLE KEY exceeds what one task
    can hold.  Cost: build side x8 replication — use only on the
    skewed key range (split hot keys out via a stats pass at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(8)))
    orders = _t(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
    joined = li.join(orders, (li.l_orderkey == orders.o_orderkey)
                     & (li.salt == orders.salt))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"))


@query("q14_promo_share", """
    SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                   ELSE CAST(0.00 AS DECIMAL(19,4)) END) AS DOUBLE))
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_share,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""")
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: fact x part dimension with a conditional revenue
    share.  Part broadcasts; the exact sums divide once at the end
    (one double division -> engine-identical)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    p = _t(spark, sf_dir, "part")
    rev = revenue_units()
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        # exact sums -> double ONCE each, then identical float
        # arithmetic ((100*a)/b) on both engines
        .agg(((F.lit(100.0) * lsum(promo_rev, 4).cast("double"))
              / lsum(rev, 4).cast("double")).alias("promo_share"),
             F.count("*").alias("n_items"))
    )


@query("join_interval_events", f"""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM {EVENTS_TS} WHERE event_type = 'view') v
    JOIN (SELECT * FROM {EVENTS_TS} WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
""")
def join_interval_events(spark, sf_dir):
    """Interval join: purchases matched to same-user views within a
    30-minute bound — the batch twin of the stream-stream join in
    streaming/joins.py (identical semantics, no watermark).  Equi key
    user_id carries the shuffle; the time bound is the join residual."""
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"))
    return (
        v.join(p, (F.col("v_user") == F.col("p_user"))
               & (F.col("purchase_ts") >= F.col("view_ts"))
               & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTE")))
        .select("view_id", "purchase_id", F.col("v_user").alias("user_id"),
                "view_ts", "purchase_ts")
    )


@query("sessionize_lag_gaps", f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM {EVENTS_TS}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM sess GROUP BY user_id, session_no
""")
def sessionize_lag_gaps(spark, sf_dir):
    """Lag-gap sessionization — the event-analytics standard: a session
    starts where the gap to the previous same-user event exceeds 30
    minutes; the session number is the running count of starts.

    Plan: ONE exchange on user_id serves both window passes (lag and the
    running sum share the partition+order), then the session groupBy is
    a partial-agg over already-clustered data.  Near-identical session
    semantics to F.session_window (stream_window_session), with one
    boundary difference: a gap of EXACTLY 30 minutes stays in-session
    here (strict >) but closes the session there (gap >= closes) — and
    this form also yields a stable session *number* per user, which the
    window variant doesn't."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ has no cast-to-long: epoch micros via timestampdiff (local
    # arithmetic, no session-timezone reinterpretation)
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    gap_start = F.when(
        micros - F.lag(micros).over(w) > 1_800_000_000, 1
    ).when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = (
        ev.select("user_id", "ts", "event_id", gap_start.alias("is_start"))
        .withColumn("session_no",
                    F.sum("is_start").over(
                        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"))


@query("win_moving_avg", f"""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / COUNT(value) OVER w AS mavg_4
    FROM {EVENTS_TS}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""")
def win_moving_avg(spark, sf_dir):
    """Bounded ROWS frame: 4-row trailing moving average per user — the
    smoothing primitive.  Distinct from win_running_sum's unbounded
    frame (constant-size frame = O(1) update per row in the window
    scan).  The frame sum is exact at every position, so the one
    cast to double matches DuckDB bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, Window.currentRow))
    # exact SUM over the frame, ONE double division — decimal AVG itself
    # diverges (Spark keeps decimal(22,6), DuckDB divides in double)
    return ev.select(
        "event_id", "user_id",
        (dsum("value", w=w) / F.count("value").over(w)).alias("mavg_4"))


@query("agg_boolean", f"""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE value > 50.0) AS BIGINT) AS n_high,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 99.0) AS any_extreme
    FROM {EVENTS_TS} GROUP BY event_type
""")
def agg_boolean(spark, sf_dir):
    """Boolean aggregate surface: conditional count (count_if), every
    (bool_and), any (bool_or) — short-circuitable predicates that stay
    in the partial-agg map side."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50.0).alias("n_high"),
        F.every(F.col("value") >= 0.0).alias("all_nonneg"),
        F.some(F.col("value") > 99.0).alias("any_extreme"))


@query("win_last_ignore_nulls", f"""
    SELECT event_id, user_id,
           last_value(CASE WHEN value > 50.0 THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS last_big_value
    FROM {EVENTS_TS}
""")
def win_last_ignore_nulls(spark, sf_dir):
    """Carry-forward of the most recent qualifying reading per user
    (last_value IGNORE NULLS over a running frame) — the gap-fill /
    last-observation primitive behind the as-of join, exposed as its
    own operator.  One exchange + one sort; O(1) state per row."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    big = F.when(F.col("value") > 50.0, F.col("value"))
    return ev.select(
        "event_id", "user_id",
        F.last(big, ignorenulls=True).over(w).alias("last_big_value"))


@query("agg_grouping_id", """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS INTEGER) AS gid,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def agg_grouping_id(spark, sf_dir):
    """grouping_id over a cube: distinguishes a real NULL group value
    from the subtotal rows the cube synthesizes — without it, consumers
    of multi-level aggregates cannot tell 'status IS NULL' apart from
    'all statuses'.  grouping_id's bit layout matches SQL GROUPING()
    concatenation (here: status bit << 1 | priority bit)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count("*").alias("n"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n")
    )


@query("agg_listagg_ordered", f"""
    SELECT event_type,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
             AS top_ids
    FROM {EVENTS_TS}
    WHERE value > 325
    GROUP BY event_type
""")
def agg_listagg_ordered(spark, sf_dir):
    """Ordered string aggregation (LISTAGG WITHIN GROUP — Spark 4's
    ANSI form of DuckDB's string_agg): the id-roster serialization the
    dashboard's per-group post lists need (dashboard/app.py:55) without
    a collect_list whose order is partition-dependent.  The explicit
    ORDER BY on a unique key makes the concatenation deterministic
    under any parallelism.  Filter first, aggregate second: the roster
    is only built over the selective slice, never the fact."""
    ev = _t(spark, sf_dir, "events")
    return (ev.filter(F.col("value") > 325)
            .groupBy("event_type")
            .agg(F.expr(
                "listagg(CAST(event_id AS STRING), ',') "
                "WITHIN GROUP (ORDER BY event_id)").alias("top_ids")))


@query("agg_mode_deterministic", f"""
    WITH c AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hr, count(*) AS n
      FROM {EVENTS_TS} GROUP BY event_type, hr),
    r AS (
      SELECT event_type, hr, n,
             row_number() OVER (PARTITION BY event_type
               ORDER BY n DESC, hr) AS rk
      FROM c)
    SELECT event_type, CAST(hr AS INTEGER) AS modal_hour, n
    FROM r WHERE rk = 1
""")
def agg_mode_deterministic(spark, sf_dir):
    """Per-group MODE with a pinned tie rule (most frequent hour of
    day per event type).  The built-in mode() returns an ARBITRARY
    element among ties on both engines — unusable under a value-hash
    gate — so the mode is computed as count + row_number with an
    explicit (count DESC, value ASC) order: same answer at any
    parallelism, and the ranking runs over the #groups x 24 count
    table, not the fact."""
    ev = _t(spark, sf_dir, "events")
    c = (ev.select("event_type", F.hour("ts").alias("hr"))
         .groupBy("event_type", "hr").agg(F.count("*").alias("n")))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "hr")
    return (c.select("*", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") == 1)
            .select("event_type", F.col("hr").cast("int").alias("modal_hour"),
                    "n"))


@query("win_sliding_median", f"""
    SELECT event_id, user_id,
           median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS med_4
    FROM {EVENTS_TS}
""")
def win_sliding_median(spark, sf_dir):
    """Sliding exact MEDIAN per user over the trailing 4-row frame —
    the order-statistic sibling of win_moving_avg (means smear
    outliers; the rolling median is the robust smoother monitoring
    pipelines actually want).  Spark has no median window function, so
    the frame is collected (bounded: <= 4 elements), sorted in-row,
    and the middle element (odd) or the exact mean of the two middles
    (even) is picked — the same continuous-interpolation rule DuckDB's
    windowed median applies, so values hash-match.

    Plan: ONE user_id exchange serves the window; the per-row work is
    a <= 4-element insertion sort inside codegen.  At 100 TB a
    constant-size frame is the only rolling statistic worth shipping:
    O(1) state per row, no re-sort of the partition."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, Window.currentRow))
    frame = F.sort_array(F.collect_list("value").over(w))
    n = F.size(frame)
    mid_hi = frame[(n / 2).cast("int")]           # 0-based upper middle
    mid_lo = frame[((n - 1) / 2).cast("int")]
    return ev.select(
        "event_id", "user_id",
        F.when(n % 2 == 1, mid_hi)
        .otherwise((mid_lo + mid_hi) / F.lit(2.0)).alias("med_4"))
