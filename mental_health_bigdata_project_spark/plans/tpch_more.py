"""[EXT] Deeper relational coverage over the star schema: the remaining
classic TPC-H query shapes (existence/anti semantics, scalar-subquery
rewrites, disjunctive pushdown, outer-join distributions), pivot/unpivot,
window-frame depth, exact quantiles, and higher-order array functions.

No reference counterpart (the reference is single-stream, SURVEY.md
§2.3/§2.6); required by the 100 TB north star.  Same scale posture as
plans.relational: dims and tiny aggregates broadcast, fact joins shuffle
once on their equi keys, doubles aggregate exactly on integer units
(plans.common).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table, register_temp_views
from .common import davg, dsum, lsum, revenue_units, units
from .registry import EVENTS_TS, dsum_sql, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_REV_SQL = ("CAST(l.l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l.l_discount AS DECIMAL(4,2)))")


# --- TPC-H shapes --------------------------------------------------------

@query("q4_order_priority", """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
""")
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join.  The
    semi join shuffles both sides on orderkey but emits each order at
    most once (no fact-fact row explosion), then a tiny hash agg on the
    5 priority values — partial map-side combine makes the final
    exchange metadata-sized."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz")))
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(l, (o.o_orderkey == l.l_orderkey)
               & (l.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query("q10_returned_items", f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
""")
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue by customer, top 20.
    Filters push to both fact scans, nation broadcasts, and the top-20
    runs as TakeOrderedAndProject (no global sort) with c_custkey as
    the deterministic tiebreak."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(lsum(revenue_units(), 4).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query("q13_custdist", """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
""")
def q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: order-count distribution including zero-order
    customers.  The join predicate (not a WHERE filter) must stay in the
    ON clause or outer rows vanish; the second groupBy is tiny after the
    first collapses to one row per customer."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query("q17_small_qty_revenue", """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey,
                 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                        / COUNT(l_quantity)) AS qty_thresh
          FROM lineitem GROUP BY l_partkey) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < t.qty_thresh
""")
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg
    quantity) decorrelated into an aggregate-then-join.  The per-part
    aggregate is ~#parts rows — broadcast it so the fact side joins
    without a shuffle; the brand filter prunes via the broadcast part
    dim before the threshold comparison."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    thresh = (
        l.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * davg("l_quantity")).alias("qty_thresh"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(thresh), l.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
             F.count("*").alias("n_lines"))
    )


@query("q19_disjunctive", f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, count(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""")
def q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    extracts the common l_quantity range ([1,30]) and the p_brand IN
    set as pushable conjuncts to each scan, keeps the full disjunction
    as the join filter, and broadcasts part."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & q.between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(lsum(revenue_units(), 4).cast("double").alias("revenue"),
             F.count("*").alias("n"))
    )


@query("q22_idle_customers", """
    SELECT substring(c.c_name, 10, 1) AS cntrycode, count(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                / COUNT(c_acctbal)
                         FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
""")
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: global-average scalar subquery (one-row
    broadcast cross join) + NOT EXISTS as a left-anti join on the
    orders fact.  The anti join is the only real shuffle; the scalar
    average never leaves the driver-side broadcast.  The anti side is
    urgent orders only (every synthetic customer has *some* order, so
    the literal TPC-H predicate selects nothing)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(davg("c_acctbal").alias("avg_bal")))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 1).alias("cntrycode"))
        .agg(F.count("*").alias("numcust"),
             dsum("c_acctbal").alias("totacctbal"))
    )


# --- pivot / unpivot -----------------------------------------------------

@query("pivot_priority_by_segment", """
    SELECT c.c_mktsegment,
           count(*) FILTER (WHERE o.o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (WHERE o.o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (WHERE o.o_orderpriority = '3-MEDIUM') AS medium,
           count(*) FILTER (WHERE o.o_orderpriority = '4-NOT SPECIFIED') AS notspec,
           count(*) FILTER (WHERE o.o_orderpriority = '5-LOW') AS low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
""")
def pivot_priority_by_segment(spark, sf_dir):
    """Pivot: order-priority counts spread into columns per market
    segment.  The pivot values are declared explicitly, so Spark skips
    the extra distinct-values job and compiles straight to one hash agg
    with five conditional counts — same single shuffle as a plain
    groupBy."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    labels = {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium",
              "4-NOT SPECIFIED": "notspec", "5-LOW": "low"}
    pivoted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", list(labels))
        .count()
    )
    renamed = pivoted.select(
        "c_mktsegment",
        *[F.coalesce(F.col(f"`{k}`"), F.lit(0)).alias(v)
          for k, v in labels.items()])
    return renamed


@query("unpivot_lineitem_measures", f"""
    SELECT measure, {dsum_sql('v', 'total', 2)}, count(*) AS n
    FROM (
      SELECT 'quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem
    ) GROUP BY measure
""")
def unpivot_lineitem_measures(spark, sf_dir):
    """Unpivot (melt): three measure columns stacked into rows via the
    native unpivot operator — a zero-shuffle Expand node that emits 3
    rows per input row, vs the oracle's 3-scan UNION ALL.  At 100 TB
    Expand reads the fact once; the UNION ALL form reads it three
    times."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.unpivot(
            ids=[], values=["l_quantity", "l_extendedprice", "l_tax"],
            variableColumnName="measure", valueColumnName="v")
        .withColumn("measure", F.expr("substring(measure, 3)"))
        .groupBy("measure")
        .agg(dsum("v").alias("total"), F.count("*").alias("n"))
    )


# --- window-function depth ----------------------------------------------

@query("win_ntile_percentrank", """
    SELECT o_orderkey, o_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w AS cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""")
def win_ntile_percentrank(spark, sf_dir):
    """Analytic-window depth: ntile / percent_rank / cume_dist /
    first_value over one shared (partition, order) spec — Catalyst
    collapses all four into a single Window node, so the plan is one
    exchange + one sort regardless of function count.  o_orderkey in
    the ORDER BY makes ranks deterministic under price ties."""
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
    )


@query("win_range_frame", f"""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
                (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_1h
    FROM {EVENTS_TS}
""")
def win_range_frame(spark, sf_dir):
    """RANGE frame over event time: per-user rolling 1-hour sum — the
    time-series primitive behind rate limits and rolling features.  One
    exchange on user_id + one sort on ts; the frame scan is linear per
    partition (no per-row re-aggregation).  Ordering key is microseconds
    since epoch so the inclusive 1-hour bound lands on the same rows as
    the oracle's INTERVAL arithmetic (events carry sub-second ts)."""
    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ: timestampdiff from a fixed epoch is pure local
    # arithmetic (no session-timezone reinterpretation like unix_micros).
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    w = (Window.partitionBy("user_id")
         .orderBy(micros)
         .rangeBetween(-3_600_000_000, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        dsum("value", w=w).alias("rolling_1h"))


# --- exact quantiles -----------------------------------------------------

@query("agg_median_exact", """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(value) AS median_value
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY event_type
""")
def agg_median_exact(spark, sf_dir):
    """Exact distributed median by rank selection: row_number the
    partition, keep the middle element (or both middles for even n),
    average them.  Identical integer index arithmetic on both engines —
    no interpolation formula to drift.  At 100 TB this is one sort per
    group key; for fixed-memory sketched quantiles see
    approx_percentile (agg_approx_distinct covers the sketch posture)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"))
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2)))
    return mid.groupBy("event_type").agg(davg("value").alias("median_value"))


# --- higher-order array functions ---------------------------------------

@query("arr_higher_order", """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(CAST(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE), 4)
             AS sq_norm,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_comp
    FROM embeddings
""")
def arr_higher_order(spark, sf_dir):
    """Higher-order array functions on the embedding column: filter /
    transform / aggregate / array_max — all JVM-side lambda expressions
    (no Python).  This is the building block under the similarity
    queries; sq_norm is the self-dot-product via transform+aggregate.
    Floats widen to double before multiplying so both engines square
    identical doubles, and the left-to-right sum order matches DuckDB's
    list_sum."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform("embedding",
                            lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x),
            4).alias("sq_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_comp"),
    )


# --- deterministic sampling ---------------------------------------------

@query("sample_systematic", f"""
    SELECT event_type, count(*) AS n, {dsum_sql('value', 'sum_value')}
    FROM {EVENTS_TS} WHERE event_id % 20 = 0 GROUP BY event_type
""")
def sample_systematic(spark, sf_dir):
    """Systematic 5% sample: deterministic key-modulus predicate instead
    of TABLESAMPLE, so the sample is stable across engines, runs, and
    partitionings (seeded Bernoulli sampling is engine-specific RNG and
    would never hash-match an oracle).  The predicate pushes to the
    scan, so the 95% skipped rows never leave parquet row-group
    filters."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") % 20 == 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
    )


# --- null-safe equality / SQL-entry subqueries / sketches ----------------

@query("join_null_safe", f"""
    WITH keyed AS (
      SELECT CASE WHEN value < 1.0 THEN NULL ELSE event_type END AS k,
             count(*) AS n, {dsum_sql('value', 'sv')}
      FROM {EVENTS_TS} GROUP BY 1
    )
    SELECT a.k AS k, a.n AS n_a, b.sv AS sv_b
    FROM keyed a JOIN keyed b ON a.k IS NOT DISTINCT FROM b.k
""")
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=>): NULL keys match each other instead
    of vanishing — the semantics behind joining on optional attributes.
    Catalyst plans <=> as an ordinary hash-join key (null hashes to a
    bucket like any value), so the cost model is identical to = ."""
    ev = _t(spark, sf_dir, "events")
    keyed = (
        ev.withColumn("k", F.when(F.col("value") < 1.0, F.lit(None))
                      .otherwise(F.col("event_type")))
        .groupBy("k")
        .agg(F.count("*").alias("n"), dsum("value").alias("sv"))
    )
    a = keyed.select(F.col("k"), F.col("n").alias("n_a"))
    b = keyed.select(F.col("k").alias("kb"), F.col("sv").alias("sv_b"))
    return (
        a.join(b, a.k.eqNullSafe(b.kb))
        .select("k", "n_a", "sv_b")
    )


@query("sql_in_subquery", """
    SELECT o.o_orderpriority, count(*) AS n
    FROM orders o
    WHERE o.o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
    GROUP BY o.o_orderpriority
""")
def sql_in_subquery(spark, sf_dir):
    """The SQL entry path end-to-end: spark.sql over registered views
    with an IN subquery — Catalyst decorrelates it to a left-semi join
    (same physical plan as q4's API form; this query pins the SQL-text
    surface a reference user would migrate to)."""
    register_temp_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql("""
        SELECT o.o_orderpriority, count(*) AS n
        FROM orders o
        WHERE o.o_custkey IN (SELECT c_custkey FROM customer
                              WHERE c_mktsegment = 'BUILDING')
        GROUP BY o.o_orderpriority
    """)


@query("agg_approx_percentile", """
    SELECT event_type,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS p50_exact,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS p90_exact,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS p99_exact,
           CAST(1 AS INT) AS approx_ok
    FROM events GROUP BY event_type
""")
def agg_approx_percentile(spark, sf_dir):
    """Fixed-memory quantile sketch (percentile_approx, accuracy 10k)
    per event_type — the scale path beside agg_median_exact's sort:
    the sketch merges associatively, so 100 TB costs one map-side pass
    + a tiny merge, no per-group sort.  The sketch's own boundaries are
    engine-specific, so the hashed output carries the exact
    percentile_disc counterparts plus an ``approx_ok`` verdict — 1 iff
    each sketch estimate lands between the exact quantiles at q∓0.01
    (a rank-error bound 100x looser than the sketch's 1/accuracy
    guarantee) — which the oracle pins to 1.  Both engines agree on
    the disc definition (smallest value at cumulative rank >= q), so
    the exact columns are bitwise-identical data values, no
    interpolation arithmetic to drift."""
    ev = _t(spark, sf_dir, "events")

    def disc(q):
        return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)")

    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("ap"),
        disc(0.5).alias("p50_exact"), disc(0.9).alias("p90_exact"),
        disc(0.99).alias("p99_exact"),
        disc(0.49).alias("_p50_lo"), disc(0.51).alias("_p50_hi"),
        disc(0.89).alias("_p90_lo"), disc(0.91).alias("_p90_hi"),
        disc(0.98).alias("_p99_lo"), disc(1.0).alias("_p99_hi"))
    ok = ((F.element_at("ap", 1).between(F.col("_p50_lo"), F.col("_p50_hi")))
          & (F.element_at("ap", 2).between(F.col("_p90_lo"), F.col("_p90_hi")))
          & (F.element_at("ap", 3).between(F.col("_p99_lo"), F.col("_p99_hi"))))
    return agg.select("event_type", "p50_exact", "p90_exact", "p99_exact",
                      ok.cast("int").alias("approx_ok"))


@query("sql_hint_broadcast", f"""
    SELECT n.n_name, count(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
""")
def sql_hint_broadcast(spark, sf_dir):
    """Planner-control surface: the /*+ BROADCAST(n) */ SQL hint — how a
    user forces the build side when statistics mislead the cost model
    (e.g. a dimension behind a selective filter Catalyst can't estimate).
    Same result as the optimizer's own choice; the hint pins the plan."""
    register_temp_views(spark, sf_dir, ["customer", "nation"])
    return spark.sql("""
        SELECT /*+ BROADCAST(n) */ n.n_name, count(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """)


# --- remaining TPC-H shapes ----------------------------------------------

@query("q7_volume_shipping", f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l.l_shipdate) AS INTEGER) AS l_year,
             {_REV_SQL} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    ) GROUP BY supp_nation, cust_nation, l_year
""")
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: trade volume between a nation pair by year.  The
    two nation dims broadcast under different aliases; the symmetric
    pair predicate filters after both joins; year extraction feeds a
    3-key hash agg.  The pair (18, 19) is chosen to be populated even
    at sf0.001 so the oracle gate compares non-empty results at every
    scale.  Two fact shuffles (orderkey, custkey) — the same
    plan at 100 TB with AQE ordering them by build size."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18")))
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(lsum(revenue_units(), 4).cast("double").alias("revenue"))
    )


@query("q8_market_share", f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0.00 AS DECIMAL(19,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL} AS volume, n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
    ) GROUP BY o_year
""")
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's part-type
    revenue per year — conditional-sum over total-sum, exact until the
    single double division.  part/supplier/nation/region broadcast; the
    region filter prunes the customer side through the n2->r chain."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = revenue_units()
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((lsum(nat_vol, 4).cast("double") / lsum(vol, 4).cast("double"))
             .alias("mkt_share"))
    )


@query("q15_top_supplier", f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REV_SQL.replace('l.l_', 'l_')}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""")
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the view-with-scalar-max pattern.  The naive
    form (aggregate once for the max, again for the filter) scans
    lineitem TWICE — Spark does not dedup the subplan here (verified:
    no ReusedExchange in the final plan).  Instead the max is taken as
    an empty-frame window over the already-aggregated per-supplier
    relation: one fact scan, one agg; the global window touches only
    #suppliers rows, so its single partition is trivially small."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(lsum(revenue_units(), 4).cast("double").alias("total_revenue"))
    )
    w = Window.partitionBy()
    top = (revenue
           .withColumn("mx", F.max("total_revenue").over(w))
           .filter(F.col("total_revenue") == F.col("mx")))
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(top, s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query("q21_waiting_supplier", """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
""")
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the hardest decorrelation — suppliers who were
    the ONLY late shipper on a multi-supplier finalized order.  EXISTS
    and NOT EXISTS both become joins against the same self-joined
    lineitem: a left-semi ('another supplier shipped this order') and a
    left-anti ('no other supplier shipped late').  'Late' is adapted to
    shipdate > orderdate + 60 days (this schema has no commit/receipt
    dates).  Three shuffles on l_orderkey; the anti side reuses the
    late-filtered scan."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late1 = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(F.col("l_orderkey").alias("o2_orderkey"),
                       F.col("l_suppkey").alias("o2_suppkey"))
    other_late = late1.select(F.col("l_orderkey").alias("o3_orderkey"),
                              F.col("l_suppkey").alias("o3_suppkey"))
    waiting = (
        late1
        .join(others, (F.col("l_orderkey") == F.col("o2_orderkey"))
              & (F.col("l_suppkey") != F.col("o2_suppkey")), "left_semi")
        .join(other_late, (F.col("l_orderkey") == F.col("o3_orderkey"))
              & (F.col("l_suppkey") != F.col("o3_suppkey")), "left_anti")
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query("q12_ship_latency", """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'normal'
                ELSE 'slow' END AS latency_class,
           CAST(count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS high_line_count,
           CAST(count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY latency_class
""")
def q12_ship_latency(spark, sf_dir):
    """TPC-H Q12 shape (shipmode -> ship-latency classes, this schema
    has no shipmode): priority-split line counts per latency bucket —
    derived grouping key + two conditional counts in one hash agg."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    latency_class = (F.when(lat <= 30, "fast")
                     .when(lat <= 90, "normal").otherwise("slow"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(latency_class.alias("latency_class"))
        .agg(F.count_if(high).alias("high_line_count"),
             F.count_if(~high).alias("low_line_count"))
    )


@query("q16_supplier_variety", """
    SELECT p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45' AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p.p_type, p.p_size
""")
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    (partsupp stands in as lineitem's (partkey, suppkey) pairs).  A
    distinct aggregate after a join: Spark plans it as two-phase —
    partial dedup of (group, suppkey) before the exchange, then the
    distinct count — so the shuffle carries deduped pairs, not raw
    lineitems.  The NOT/IN filters ride the broadcast part dim."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query("q9_profit_by_nation", """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
               - CAST(round(0.6 * p.p_retailprice, 2) AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,2)) AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    ) GROUP BY nation, o_year
""")
def q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape: profit (revenue minus cost) per supplier nation
    per year.  No partsupp table in this testdata, so supply cost is
    modeled as 60% of p_retailprice (rounded to cents first, so both
    engines subtract identical cent amounts).  part and
    supplier broadcast; the LIKE filter prunes parts before the join;
    two fact shuffles.  The 'widget' pattern is
    populated at every scale, so the oracle gate never compares empty
    sets."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    cost = units(F.round(F.lit(0.6) * F.col("p_retailprice"), 2), 2)
    amount = revenue_units() - cost * units("l_quantity", 2)     # 4dp
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(lsum(amount, 4).cast("double").alias("sum_profit"))
    )


@query("q20_dominant_suppliers", """
    WITH pair_qty AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS pq
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%widget%'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    part_qty AS (
      SELECT l_partkey, CAST(SUM(CAST(pq AS DECIMAL(18,2))) AS DOUBLE) AS tq
      FROM pair_qty GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM pair_qty pr
                  JOIN part_qty pt ON pr.l_partkey = pt.l_partkey
                  WHERE pr.l_suppkey = s.s_suppkey AND pr.pq > 0.1 * pt.tq)
""")
def q20_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape adapted without partsupp: suppliers who shipped
    more than 10% of some widget part's total volume (the
    'dominant-supplier' existence chain; 0.1 is calibrated so the
    oracle gate compares non-empty sets at every scale — per-supplier
    shares dilute toward uniform as the data grows, maxing near 0.2
    at sf0.1).  Two stacked aggregates over
    the same filtered fact (the second re-groups the first's output, no
    second scan), a broadcast threshold join, then a left-semi into the
    supplier dim with nation broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    pair_qty = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("pq"))
    )
    part_qty = (
        pair_qty.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg(dsum("pq").alias("tq"))
    )
    dominant = (
        pair_qty.join(F.broadcast(part_qty),
                      pair_qty.l_partkey == F.col("t_partkey"))
        .filter(F.col("pq") > 0.1 * F.col("tq"))
        .select(F.col("l_suppkey").alias("d_suppkey"))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(dominant, s.s_suppkey == F.col("d_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@query("q11_important_parts", f"""
    WITH nat_value AS (
      SELECT l.l_partkey, CAST(SUM({_REV_SQL}) AS DOUBLE) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_19'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, value
    FROM nat_value
    WHERE value > 0.001 * (SELECT CAST(SUM(CAST(value AS DECIMAL(18,4)))
                                       AS DOUBLE) FROM nat_value)
    ORDER BY value DESC, l_partkey
""")
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape adapted without partsupp: parts whose revenue
    supplied from one nation exceeds a fraction of that nation's total
    (HAVING-against-global-scalar-subquery; 0.001 calibrated non-vacuous
    at sf0.001/0.01).  Scale posture: the nation filter reaches the fact
    scan through a broadcast semi-ish dim join; the scalar subquery is
    decorrelated by RE-AGGREGATING the already-reduced per-part table
    (~#parts rows) instead of a second fact scan, and the 1-row total
    broadcasts back as a cross join — one shuffle total, on l_partkey."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    nat_value = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(lsum(revenue_units(), 4).cast("double").alias("value"))
    )
    total = nat_value.agg(dsum("value", 4).alias("tot"))
    return (
        nat_value.join(F.broadcast(total))
        .filter(F.col("value") > F.lit(0.001) * F.col("tot"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


@query("q2_min_cost_supplier", """
    WITH partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
             s.s_acctbal, s.s_name, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'AFRICA'),
    mincost AS (
      SELECT ps_partkey, min(ps_supplycost) AS mc
      FROM eligible GROUP BY ps_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_type, e.ps_suppkey,
           round(e.ps_supplycost, 6) AS supplycost
    FROM eligible e
    JOIN mincost m ON e.ps_partkey = m.ps_partkey
                  AND e.ps_supplycost = m.mc
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_size <= 10
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey,
             e.ps_suppkey
    LIMIT 100
""")
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adaptation (min-cost supplier): the testdata ships no
    partsupp table, so the part-supplier catalog is DERIVED from the
    fact — distinct (l_partkey, l_suppkey) pairs with
    ps_supplycost = min unit price ever charged (a per-row IEEE
    division then MIN: order-independent, engine-deterministic;
    rounded only at output).  This restores Q2's defining feature, the
    correlated scalar subquery `cost = (SELECT min(cost) ... WHERE
    same part, same region)`, decorrelated the classic way into a
    per-part min over the region-eligible catalog joined back on
    (part, cost).

    Plan at scale: one fact shuffle builds the catalog (51 k pairs at
    sf0.01 — partsupp-sized, ~1:12 of lineitem); region/nation/
    supplier prune it via broadcast joins BEFORE the per-part min, so
    the correlated-min work touches only the eligible region's rows;
    part joins broadcast at these ratios.  Final TakeOrdered keeps the
    driver result bounded; every ORDER BY level carries tiebreaks
    down to ps_suppkey for a deterministic LIMIT edge."""
    li = _t(spark, sf_dir, "lineitem")
    partsupp = (li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("ps_supplycost")))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    eligible = (partsupp
                .join(F.broadcast(sup),
                      partsupp.ps_suppkey == sup.s_suppkey)
                .join(F.broadcast(nat),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(reg),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                .select("ps_partkey", "ps_suppkey", "ps_supplycost",
                        "s_acctbal", "s_name", "n_name"))
    # correlated min as a WINDOW over the part key: one shuffle on
    # ps_partkey and the eligible subtree is computed ONCE — the
    # groupBy-then-self-join form duplicates the whole catalog build
    # (plan audit showed 8 broadcast joins = 2x the dim chain)
    part_w = Window.partitionBy("ps_partkey")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (eligible
            .withColumn("mc", F.min("ps_supplycost").over(part_w))
            .filter(F.col("ps_supplycost") == F.col("mc"))
            .join(F.broadcast(part),
                  F.col("ps_partkey") == F.col("p_partkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_type", "ps_suppkey",
                    F.round("ps_supplycost", 6).alias("supplycost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name",
                     "p_partkey", "ps_suppkey")
            .limit(100))
