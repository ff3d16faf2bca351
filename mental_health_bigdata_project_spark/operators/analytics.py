"""Dashboard analytics as Spark queries.

The reference computes all of these in plain Python per HTTP request
over a ≤100-row JSON file (dashboard/app.py:30-85).  Here each statistic
is a DataFrame query over an arbitrarily large enriched-posts table:
single-pass hash aggregations with map-side partial aggregation, no
driver-side loops, so the same code holds on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import HIGH_RISK_THRESHOLD, risk_bucket

RISK_BUCKETS = ["0-10", "10-20", "20-30", "30+"]


def total_count(df: DataFrame) -> DataFrame:
    """`total = len(posts)` (dashboard/app.py:43)."""
    return df.agg(F.count("*").alias("total"))


def avg_risk(df: DataFrame, risk_col: str = "risk_score") -> DataFrame:
    """Global mean risk (dashboard/app.py:44).  Unrounded; the serving
    layer applies the reference's round(x, 2) presentation."""
    return df.agg(F.avg(risk_col).alias("avg_risk"))


def high_risk_count(df: DataFrame, risk_col: str = "risk_score") -> DataFrame:
    """Count of risk >= 30 (dashboard/app.py:45)."""
    return df.agg(
        F.sum(F.when(F.col(risk_col) >= HIGH_RISK_THRESHOLD, 1).otherwise(0))
        .cast("bigint").alias("high_risk")
    )


def group_stats(df: DataFrame, group_col: str = "subreddit",
                risk_col: str = "risk_score") -> DataFrame:
    """Per-group count / sum(risk) / avg(risk) (dashboard/app.py:48-59).
    One shuffle on the group key; partial aggregation makes the exchange
    carry one row per (partition, group)."""
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_posts"),
        F.sum(risk_col).cast("bigint").alias("total_risk"),
        F.avg(risk_col).alias("avg_risk"),
    )


def histogram(df: DataFrame, risk_col: str = "risk_score") -> DataFrame:
    """Fixed-edge histogram {0-10,10-20,20-30,30+} (dashboard/app.py:62-72).
    Zero-count buckets are preserved by right-joining the literal bucket
    table (broadcast — 4 rows)."""
    spark = df.sparkSession
    buckets = spark.createDataFrame([(b,) for b in RISK_BUCKETS], ["bucket"])
    counts = df.groupBy(risk_bucket(risk_col).alias("bucket")).count()
    return (
        counts.join(F.broadcast(buckets), "bucket", "right")
        .select("bucket", F.coalesce("count", F.lit(0)).alias("n"))
    )


def top_k_recent(df: DataFrame, order_col: str = "processed_at",
                 tiebreak_col: str | None = None, k: int = 10) -> DataFrame:
    """Newest-k rows (dashboard/app.py:75 sorts the ISO string desc and
    takes 10).  A deterministic tiebreak column makes the result set
    stable under ties; orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k then driver merge — no full sort/shuffle)."""
    order = [F.desc(order_col)]
    if tiebreak_col:
        order.append(F.desc(tiebreak_col))
    return df.orderBy(*order).limit(k)


def retain_last_n(df: DataFrame, order_col: str, tiebreak_col: str,
                  n: int = 100) -> DataFrame:
    """The consumer's 100-deep ring buffer (kafka_consumer_simple.py:14,
    104,143) as a query: newest n by (order, tiebreak).  orderBy+limit
    → TakeOrderedAndProject: each partition keeps its own top-n and the
    driver merges n rows — no global shuffle (same rows as the old
    single-partition row_number window, minus the scale-killer)."""
    return df.orderBy(F.desc(order_col), F.desc(tiebreak_col)).limit(n)


def stats_payload(spark: SparkSession, df: DataFrame,
                  group_col: str = "subreddit") -> dict:
    """Assemble the `/api/stats` response shape (dashboard/app.py:77-85)
    from Spark queries — one job instead of a per-request Python re-scan."""
    agg = df.agg(
        F.count("*").alias("total"),
        F.round(F.avg("risk_score"), 2).alias("avg_risk"),
        F.sum(F.when(F.col("risk_score") >= HIGH_RISK_THRESHOLD, 1).otherwise(0)).alias("high_risk"),
    ).collect()[0]
    by_group = {
        r[group_col]: {"count": r["n_posts"], "total_risk": r["total_risk"],
                       "avg_risk": round(r["avg_risk"], 2) if r["avg_risk"] is not None else 0}
        for r in group_stats(df, group_col).collect()
    }
    hist = {r["bucket"]: r["n"] for r in histogram(df).collect()}
    recent = [r.asDict() for r in top_k_recent(df, "processed_at", "id").collect()]
    return {
        "total_posts": agg["total"] or 0,
        "avg_risk_score": float(agg["avg_risk"] or 0.0),
        "high_risk_count": agg["high_risk"] or 0,
        "by_subreddit": by_group,
        "risk_distribution": hist,
        "recent_posts": recent,
    }
