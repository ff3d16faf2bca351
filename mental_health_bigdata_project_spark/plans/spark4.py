"""[EXT] Spark-4-native SQL surface: VARIANT semi-structured access,
case-insensitive collations, parameterized SQL, SQL pipe syntax, SQL
scalar UDFs, and the DataFrame statistics surface (corr/cov, crosstab,
stratified sampling).

The reference handles semi-structured JSON by declaring a full
StructType up front (spark_jobs/preprocessing_streaming.py:75-86,103)
and computes its statistics in hand-rolled Python passes
(dashboard/app.py:30-85).  At 100 TB both choices break down: schemas
drift, and driver-side statistics don't scale.  This module maps both
concerns onto engine-native Spark 4 primitives:

- VARIANT (``parse_json`` / ``variant_get``) keeps the JSON parse
  inside Tungsten with per-path extraction — no Python, no rigid
  StructType, and Catalyst prunes unused paths.
- SQL scalar UDFs express the dashboard's bucket logic
  (dashboard/app.py:62-72) as a named, reusable function that inlines
  into the plan (unlike the reference's opaque Python UDFs,
  preprocessing_streaming.py:39-68).
- ``df.stat`` + SQL aggregate statistics replace dashboard/app.py's
  per-request Python loops with distributed one-pass aggregates.

Scale posture: every query here is a single scan plus (at most) one
metadata-sized aggregation exchange; the stratified sample pushes its
modulus predicate into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources import load_table, register_temp_views
from .common import dsum
from .registry import query


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# --- VARIANT semi-structured access --------------------------------------

@query("variant_extract", """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(NULL AS INTEGER) AS missing_k
    FROM events
""")
def variant_extract(spark, sf_dir):
    """Schema-free JSON access via the Spark 4 VARIANT type: one
    ``parse_json`` per row, then typed path extraction.  Replaces the
    reference's declared-StructType parse (preprocessing_streaming.py:
    75-86,103) for payloads whose schema drifts; ``try_variant_get`` on
    an absent path yields NULL instead of failing the batch.  The parse
    and both extractions stay inside whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_k"))


# --- collations ----------------------------------------------------------

@query("collate_group_ci", """
    WITH mixed AS (
        SELECT lang FROM documents
        UNION ALL
        SELECT upper(lang[1]) || lang[2:] AS lang FROM documents
    )
    SELECT lower(lang) AS lang_ci, count(*) AS n
    FROM mixed GROUP BY lower(lang)
""")
def collate_group_ci(spark, sf_dir):
    """Case-insensitive grouping via Spark 4 collations: grouping on
    ``collate(lang, 'UTF8_LCASE')`` merges case variants without
    rewriting every value through ``lower`` first — the collation is a
    property of the comparison, not a projection.  The probe input
    deliberately mixes `en` and `En` spellings (initcap union) so the
    merge is observable; output is normalized with one ``lower`` so the
    group label is deterministic."""
    docs = _docs(spark, sf_dir).select("lang")
    mixed = docs.unionAll(docs.select(F.initcap("lang").alias("lang")))
    return (mixed
            .groupBy(F.collate("lang", "UTF8_LCASE").alias("lang_key"))
            .agg(F.count("*").alias("n"))
            .select(F.lower("lang_key").alias("lang_ci"), "n"))


# --- parameterized SQL ---------------------------------------------------

@query("sql_parameterized", """
    SELECT o_orderpriority, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_totalprice > 100000.0
    GROUP BY o_orderpriority
""")
def sql_parameterized(spark, sf_dir):
    """Named-parameter SQL (``spark.sql(..., args=...)``): the binding
    happens in the parser, so the cutoff arrives as a typed literal —
    Catalyst constant-folds and pushes it into the parquet scan exactly
    like an inlined constant, with no string interpolation (the
    injection-safe form of the dashboard's ad-hoc thresholds,
    dashboard/app.py:45)."""
    register_temp_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """SELECT o_orderpriority, count(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders WHERE o_totalprice > :cutoff
           GROUP BY o_orderpriority""",
        args={"cutoff": 100000.0})


# --- SQL pipe syntax -----------------------------------------------------

@query("sql_pipe_aggregate", """
    SELECT l_returnflag, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag
""")
def sql_pipe_aggregate(spark, sf_dir):
    """SQL pipe syntax (Spark 4's ``|>`` operator chaining): the same
    logical plan as the standard GROUP BY form — scan -> filter ->
    partial agg -> exchange -> final agg — expressed as a linear
    pipeline.  Parity query proving the surface; the oracle is the
    standard-syntax twin."""
    register_temp_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """FROM lineitem
           |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           |> AGGREGATE count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              GROUP BY l_returnflag
           |> SELECT l_returnflag, n, sum_qty""")


# --- SQL scalar UDF ------------------------------------------------------

@query("sql_udf_len_bucket", """
    SELECT CASE WHEN n_chars < 100 THEN 'short'
                WHEN n_chars < 300 THEN 'medium'
                ELSE 'long' END AS bucket,
           count(*) AS n
    FROM documents GROUP BY 1
""")
def sql_udf_len_bucket(spark, sf_dir):
    """SQL scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    the dashboard's fixed-edge bucket logic (dashboard/app.py:62-72) as
    a named function.  Unlike the reference's Python UDFs
    (preprocessing_streaming.py:39-68) a SQL UDF is *inlined* by the
    analyzer — the plan is identical to writing the CASE by hand, so
    whole-stage codegen and pushdown still apply."""
    register_temp_views(spark, sf_dir, ["documents"])
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION len_bucket(n BIGINT)
        RETURNS STRING
        RETURN CASE WHEN n < 100 THEN 'short'
                    WHEN n < 300 THEN 'medium'
                    ELSE 'long' END""")
    return spark.sql(
        "SELECT len_bucket(n_chars) AS bucket, count(*) AS n "
        "FROM documents GROUP BY len_bucket(n_chars)")


# --- DataFrame statistics surface ---------------------------------------

@query("stat_corr_cov", """
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
           round(stddev_samp(l_quantity), 6) AS sd_qty
    FROM lineitem
""")
def stat_corr_cov(spark, sf_dir):
    """Distributed second-moment statistics (Pearson correlation,
    sample covariance, stddev) in one pass — the scalable form of the
    dashboard's Python mean loop (dashboard/app.py:44).  Both engines
    use co-moment merge formulas; results are rounded (6/4 dp) to
    absorb last-ulp parallel-merge differences, per the registry's
    transcendental rule."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"))


@query("stat_crosstab", """
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
    FROM lineitem GROUP BY l_returnflag
""")
def stat_crosstab(spark, sf_dir):
    """``df.stat.crosstab``: a contingency table computed as one
    distributed pairwise groupBy then a driver-side pivot over the
    (small) distinct-pair set — replaces dashboard/app.py's nested
    Python dict counting.  Safe at scale only because cardinality is
    bounded (3 return flags x 2 line statuses); the oracle pins both
    the counts and the crosstab's column-naming convention."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.stat.crosstab("l_returnflag", "l_linestatus")


@query("sample_stratified", """
    SELECT l_returnflag, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE (l_orderkey * 8 + l_linenumber) % 100 <
          CASE l_returnflag WHEN 'R' THEN 5 WHEN 'A' THEN 10 ELSE 20 END
    GROUP BY l_returnflag
""")
def sample_stratified(spark, sf_dir):
    """Stratified sampling with per-stratum rates (R: 5%, A: 10%,
    N: 20%) via a deterministic key modulus — the reproducible twin of
    ``df.sampleBy`` (which draws per-row Bernoulli from a seeded RNG
    whose stream is engine-specific, so it cannot be oracle-checked
    value-for-value).  The modulus predicate is a pure row-local
    expression: it pushes to the scan, samples without a shuffle, and
    at 100 TB gives exact per-stratum rates with no coordination."""
    li = load_table(spark, sf_dir, "lineitem")
    rate = (F.when(F.col("l_returnflag") == "R", 5)
            .when(F.col("l_returnflag") == "A", 10).otherwise(20))
    sampled = li.filter(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")) % 100 < rate)
    return sampled.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sum_qty"))


@query("recursive_date_spine", """
    WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '1994-07-01 00:00:00' AS m
        UNION ALL
        SELECT m + INTERVAL '1' MONTH FROM months
        WHERE m < TIMESTAMP '2002-06-01 00:00:00'
    ),
    rev AS (
        SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT months.m AS month, COALESCE(rev.n_orders, 0) AS n_orders,
           COALESCE(rev.revenue, 0.0) AS revenue
    FROM months LEFT JOIN rev ON months.m = rev.m
""")
def recursive_date_spine(spark, sf_dir):
    """Recursive CTE (new in Spark 4): a 96-month calendar spine built
    by recursion, left-joined to monthly order revenue so months with
    no orders surface as explicit zero rows — the gap-filled calendar
    every reporting pipeline needs (the reference's dashboard simply
    never shows empty periods, dashboard/app.py:48-59).  The recursion
    is driver-bounded (96 iterations over one-row deltas, metadata
    cost); the revenue agg is the usual scan + one exchange, and the
    spine side broadcasts."""
    register_temp_views(spark, sf_dir, ["orders"])
    return spark.sql("""
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP_NTZ '1994-07-01 00:00:00' AS m
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months
            WHERE m < TIMESTAMP_NTZ '2002-06-01 00:00:00'
        ),
        rev AS (
            SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT months.m AS month, COALESCE(rev.n_orders, 0) AS n_orders,
               COALESCE(rev.revenue, 0.0) AS revenue
        FROM months LEFT JOIN rev ON months.m = rev.m
    """)


@query("transpose_metrics", """
    SELECT 'sum_qty' AS key,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(8,2)) END) AS DOUBLE) AS A,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(8,2)) END) AS DOUBLE) AS N,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(8,2)) END) AS DOUBLE) AS R
    FROM lineitem
    UNION ALL
    SELECT 'sum_price' AS key,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(8,2)) END) AS DOUBLE) AS A,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(8,2)) END) AS DOUBLE) AS N,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(8,2)) END) AS DOUBLE) AS R
    FROM lineitem
""")
def transpose_metrics(spark, sf_dir):
    """``df.transpose`` (new in Spark 4): flip a metrics-by-flag
    aggregate so metrics become rows and flags become columns — the
    report-table orientation.  Safe only because the frame being
    transposed is a 3-row aggregate (transpose collects the index
    column to name output columns — never call it on a fact table);
    the oracle pins the equivalent conditional-aggregation UNION."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag")
           .agg(dsum("l_quantity").alias("sum_qty"),
                dsum("l_extendedprice").alias("sum_price")))
    return agg.transpose("l_returnflag")


@query("sample_stratified_api", """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_total,
           CAST(1 AS INT) AS sample_ok
    FROM lineitem GROUP BY l_returnflag
""")
def sample_stratified_api(spark, sf_dir):
    """The native ``df.sampleBy`` API path (seeded, deterministic
    within Spark): per-stratum Bernoulli draws at the same rates as
    `sample_stratified`.  The RNG stream is engine-specific, so —
    like the sketch family — the hashed output carries the exact
    stratum total plus a ``sample_ok`` verdict: 1 iff the sampled
    fraction sits within 5 binomial standard errors of the requested
    rate (a >5-sigma bound: false-failure probability < 1e-6 per
    stratum, while a sampler bug of even 2x shows up instantly).
    The oracle pins the verdict to 1, turning the old rows-only check
    into a statistical gate; `sample_stratified` above remains the
    exactly-reproducible (md5-threshold) anchor."""
    rates = {"R": 0.05, "A": 0.10, "N": 0.20}
    li = load_table(spark, sf_dir, "lineitem")
    sampled = (li.sampleBy("l_returnflag", rates, seed=42)
               .groupBy("l_returnflag").agg(F.count("*").alias("n_samp")))
    total = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_total"))
    rate = F.element_at(
        F.create_map(*[x for kv in rates.items()
                       for x in (F.lit(kv[0]), F.lit(kv[1]))]),
        F.col("l_returnflag"))
    se = F.sqrt(rate * (1 - rate) / F.col("n_total"))
    # left join + coalesce: a stratum the sampler returned zero rows
    # for must surface as sample_ok=0, not vanish into a row-count
    # mismatch
    n_samp = F.coalesce(F.col("n_samp"), F.lit(0))
    ok = (F.abs(n_samp / F.col("n_total") - rate) <= 5 * se)
    return (total.join(sampled, "l_returnflag", "left")
            .select("l_returnflag", "n_total",
                    ok.cast("int").alias("sample_ok")))


@query("stat_regr_trend", """
    SELECT event_type,
           round(regr_slope(value, date_diff('day', TIMESTAMP '1970-01-01',
                                             ts)), 6) AS slope,
           round(regr_intercept(value, date_diff('day', TIMESTAMP '1970-01-01',
                                                 ts)), 4) AS intercept,
           round(regr_r2(value, date_diff('day', TIMESTAMP '1970-01-01',
                                          ts)), 6) AS r2
    FROM events GROUP BY event_type
""")
def stat_regr_trend(spark, sf_dir):
    """Per-group least-squares trend via the built-in regr_* aggregate
    family (slope / intercept / R^2 of value over event day) — one-pass
    co-moment accumulation, merge-safe across partitions, so trend
    detection over 100 TB of events is a single shuffle on the group
    key.  Rounded per the registry's transcendental rule (co-moment
    merge order differs between engines at the last ulp)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date")).cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope("value", x), 6).alias("slope"),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.round(F.regr_r2("value", x), 6).alias("r2"))


@query("agg_percentile_disc", """
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_disc(value, 0.99) AS p99
    FROM events GROUP BY event_type
""")
def agg_percentile_disc(spark, sf_dir):
    """Exact DISCRETE percentiles per group (p50/p90/p99 of event
    value): percentile_disc returns an actual observed value, so the
    result is bit-identical across engines with no rounding rule —
    unlike interpolating percentile_cont.  The exact path is the
    correctness anchor for agg_approx_percentile's sketch; at 100 TB
    exact per-group percentiles cost a sort within each group's
    partition (one shuffle on the key), still tractable because groups
    partition the data."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99")))


# --- SQL session variables + EXECUTE IMMEDIATE ---------------------------

@query("sql_session_variables", """
    SELECT o_orderpriority, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_totalprice > 150000.0
    GROUP BY o_orderpriority
""")
def sql_session_variables(spark, sf_dir):
    """SQL session variables (DECLARE / SET VARIABLE) + EXECUTE
    IMMEDIATE — the scripting surface for threshold knobs that ad-hoc
    dashboards otherwise string-interpolate (dashboard/app.py:45).  The
    variable reference resolves to a typed literal at analysis time, so
    Catalyst constant-folds and pushes it into the parquet scan exactly
    like sql_parameterized's bind parameter; EXECUTE IMMEDIATE then
    runs the statement from a string — the dynamic-SQL form stored
    procedures use.  The oracle inlines the same constant (DuckDB has
    no session variables; the semantics under test are the engine's,
    the oracle pins the relation)."""
    register_temp_views(spark, sf_dir, ["orders"])
    spark.sql("DECLARE OR REPLACE VARIABLE price_cutoff DOUBLE")
    spark.sql("SET VARIABLE price_cutoff = 150000.0")
    return spark.sql("""EXECUTE IMMEDIATE
        'SELECT o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS total
         FROM orders WHERE o_totalprice > price_cutoff
         GROUP BY o_orderpriority'""")
