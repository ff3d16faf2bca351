"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (SURVEY.md §7.1: the dashboard
stats pipeline — native clean/risk enrichment + per-group aggregates)
on sf0.001.  ``queries()`` / ``oracle_sql()`` re-export the registry in
``mental_health_bigdata_project_spark.plans``.  Each query is wrapped to
first apply the engine's session confs to the caller's session, with
the shuffle partition count derived from its input (``session.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: enriched per-language dashboard stats over documents
    (clean_text + risk_score natively, then count/avg/high-risk per
    lang — SURVEY.md §7.1)."""
    from mental_health_bigdata_project_spark.functions.text import (
        HIGH_RISK_THRESHOLD, clean_text, risk_score)
    from mental_health_bigdata_project_spark.session import ensure_runtime_confs
    from mental_health_bigdata_project_spark.sources import load_table
    from pyspark.sql import functions as F

    ensure_runtime_confs(spark)
    docs = load_table(spark, SF0001_DIR, "documents")
    enriched = docs.select(
        "doc_id", "lang",
        clean_text(F.col("text")).alias("cleaned_text"),
        risk_score(F.col("text")).alias("risk_score"),
    )
    return enriched.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.avg("risk_score").alias("avg_risk"),
        F.sum(F.when(F.col("risk_score") >= HIGH_RISK_THRESHOLD, 1).otherwise(0))
        .cast("bigint").alias("high_risk"),
        F.avg(F.length("cleaned_text")).alias("avg_cleaned_len"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mental_health_bigdata_project_spark.session import ensure_runtime_confs
    from mental_health_bigdata_project_spark.plans import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_runtime_confs(spark, sf_dir)
            return fn(spark, sf_dir)
        return run

    return {qid: wrap(fn) for qid, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from mental_health_bigdata_project_spark.plans import ORACLES
    return dict(ORACLES)
