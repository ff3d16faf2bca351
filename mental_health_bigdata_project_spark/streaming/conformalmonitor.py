"""Streaming conformal-coverage monitor: the serving face of
``plans/quality.stat_conformal_interval`` and the NINTH mergeable-
state member — the model-monitoring pair to the PSI drift gate
(driftgate.py watches the INPUT distribution; this watches whether
the model's uncertainty intervals still COVER).

``build_conformal_artifact`` freezes the fitted model (per-group mean
predictor + finite-sample-corrected 90% residual-cell quantile, via
the shared ``conformal_fit``, PLUS the pooled MARGINAL quantile via
``conformal_marginal_qhat`` — the fairness arm) — a #groups-row
reference table.  ``coverage_batch`` reduces each micro-batch to ONE
(grp, covered, covered_marginal, total) delta row per group
(sum-mergeable, exactly-once by the delta-log contract in
``compaction.py``);
``serve_coverage`` folds the deltas, flags any group whose empirical
coverage has fallen materially below the nominal 90%, and reports the
per-group GROUP-vs-MARGINAL coverage gap — the streaming face of
``stat_conformal_group_gap``'s fairness audit, all from three
integers of state per group.

Parity is by construction: the same fit helpers and the same quantized
residual cell as the oracle-checked batch queries, pinned by test
(baseline = the query's train/calib splits, stream = its test split,
served coverage == the query's coverage column bit-for-bit, served
gap == stat_conformal_group_gap's columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.quality import (conformal_cell, conformal_fit,
                             conformal_marginal_qhat)
from .compaction import compact_index, read_state, write_delta

COVERAGE_ALARM = 0.85   # nominal 0.9 minus slack for sampling noise


def build_conformal_artifact(train: DataFrame, calib: DataFrame,
                             artifact_dir: str) -> int:
    """Fit on (grp, value) train/calib relations and persist the
    model table — per-group quantiles plus the pooled marginal
    quantile as a constant column (the fairness-arm reference).
    Returns the number of groups fitted."""
    model = conformal_fit(train, calib).localCheckpoint(eager=True)
    model = model.crossJoin(
        F.broadcast(conformal_marginal_qhat(model, calib)))
    model.write.mode("overwrite").parquet(
        os.path.join(artifact_dir, "model"))
    return model.count()


def coverage_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                   artifact_dir: str, type_col: str = "event_type",
                   value_col: str = "value") -> None:
    """One micro-batch of coverage maintenance: per group, how many
    rows fell inside the frozen interval.  The delta carries the
    marginal BASIS (``total_marginal``, here equal to ``total``) so
    it has the same schema as the compacted store: a store compacted
    below its newest batch unions deltas and compacted rows by name."""
    spark = batch_df.sparkSession
    model = spark.read.parquet(os.path.join(artifact_dir, "model"))
    if "qhat_marginal" not in model.columns:
        # a model artifact from before the fairness arm (r9) cannot
        # score covered_marginal — fail with the remedy instead of a
        # missing-column resolution error mid-plan (ADVICE r9)
        raise ValueError(
            f"conformal model at {artifact_dir} predates the marginal-"
            "quantile column (qhat_marginal); rebuild it with "
            "build_conformal_artifact before streaming coverage")
    delta = (batch_df.filter(F.col(value_col).isNotNull())
             .select(F.col(type_col).alias("grp"),
                     F.col(value_col).alias("value"))
             .join(F.broadcast(model), "grp")
             .groupBy("grp")
             .agg(F.sum(F.when(conformal_cell() <= F.col("qhat_cell"),
                               1).otherwise(0))
                  .cast("bigint").alias("covered"),
                  F.sum(F.when(conformal_cell()
                               <= F.col("qhat_marginal"), 1).otherwise(0))
                  .cast("bigint").alias("covered_marginal"),
                  F.count("*").cast("bigint").alias("total"))
             .withColumn("total_marginal", F.col("total")))
    write_delta(delta, batch_id, os.path.join(index_dir, "coverage"))


def _fold(live: DataFrame) -> DataFrame:
    """Per-group sums of the four recorded columns; compaction writes
    the delta schema back."""
    return (live.groupBy("grp")
            .agg(F.sum("covered").cast("bigint").alias("covered"),
                 F.sum("covered_marginal").cast("bigint")
                 .alias("covered_marginal"),
                 F.sum("total_marginal").cast("bigint")
                 .alias("total_marginal"),
                 F.sum("total").cast("bigint").alias("total")))


def serve_coverage(spark: SparkSession, artifact_dir: str,
                   index_dir: str) -> DataFrame:
    """(event_type, n_test, n_covered, coverage, alarm) over
    everything ingested so far."""
    cur = read_state(spark, os.path.join(index_dir, "coverage"), _fold)
    covg = F.col("covered").cast("double") / F.col("total")
    covm = (F.col("covered_marginal").cast("double")
            / F.col("total_marginal"))
    return cur.select(
        F.col("grp").alias("event_type"), F.col("total").alias("n_test"),
        F.col("covered").alias("n_covered"),
        F.round(covg, 6).alias("coverage"),
        F.round(covm, 6).alias("coverage_marginal"),
        F.round(covg - covm, 6).alias("coverage_gap"),
        (covg < COVERAGE_ALARM).cast("int").alias("alarm"))


def compact_coverage_state(spark: SparkSession, index_dir: str,
                           through: int) -> dict:
    """Sum-fold the per-batch coverage deltas — state stays one row
    per group forever."""
    return compact_index(spark, os.path.join(index_dir, "coverage"),
                         through, transform=_fold)
