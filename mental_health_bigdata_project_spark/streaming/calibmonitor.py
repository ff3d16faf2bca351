"""Streaming calibration monitor: the serving face of
``plans/quality.ml_calibration_bins`` and the ELEVENTH mergeable-
state member — the model-monitoring triple completes (driftgate.py
watches the INPUT distribution, conformalmonitor.py watches interval
COVERAGE, this watches whether the model's probabilities stay
CALIBRATED as the stream drifts).

``build_calibration_artifact`` freezes the fitted d-feature Newton
beta (one 5-number row).  ``calibration_batch`` scores each
micro-batch with the SAME feature/sigmoid formula strings the batch
oracle gate value-checks and reduces it to at most 10 (bin, n,
sum_pred, sum_label) delta rows — decimal bin sums are exact and
associative, so deltas sum-merge bit-exactly.  ``serve_calibration``
folds the deltas and reports the reliability table + ECE with the
identical arithmetic as the batch query, plus an alarm when ECE
exceeds a threshold — the "recalibrate now" tripwire that pairs with
``ml_platt_scaling``'s fix step.

Exactly-once is the delta-log contract in ``compaction.py``;
compaction folds deltas to one row per bin.  At 100 TB: state is four numbers per bin (40 total), fact
rows are never revisited, any time-slice re-aggregates after the
fact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.quality import _CALIB_BINS, _logreg_d_features, _logreg_d_z
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)

ECE_ALARM = 0.10        # "recalibrate" tripwire on the served ECE

_D18 = "decimal(38,18)"


def _bins_path(index_dir: str) -> str:
    return os.path.join(index_dir, "calib_bins")


def _fold(live: DataFrame) -> DataFrame:
    """Per-bin sums — decimal-exact."""
    return live.groupBy("bin").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sp").cast(_D18).alias("sp"),
        F.sum("sy").cast(_D18).alias("sy"))


def build_calibration_artifact(beta: DataFrame, artifact_dir: str) -> None:
    """Freeze a fitted 1-row beta frame (columns b0..b4 — e.g.
    plans/quality's trained d-feature model) as the monitor's scoring
    reference."""
    beta.write.mode("overwrite").parquet(
        os.path.join(artifact_dir, "model"))


def _scored(batch_df: DataFrame, model: DataFrame) -> DataFrame:
    """Score raw event rows with the frozen beta via the SAME formula
    strings as the batch trainer/consumers (bit-identical p)."""
    feats = [f"{e} AS {nm}" for nm, e in _logreg_d_features()]
    p_expr = f"1.0 / (1.0 + exp(-({_logreg_d_z()}))) AS p"
    return (batch_df.filter(F.col("value").isNotNull())
            .selectExpr(*feats)
            .crossJoin(F.broadcast(model))
            .selectExpr("y", p_expr))


def calibration_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                      artifact_dir: str) -> None:
    """One micro-batch of calibration maintenance: <= 10 delta rows
    (bin, n, sp, sy), decimal-exact and sum-mergeable."""
    spark = batch_df.sparkSession
    model = spark.read.parquet(os.path.join(artifact_dir, "model"))
    delta = (_scored(batch_df, model)
             .groupBy(F.least(F.lit(_CALIB_BINS - 1),
                              F.floor(F.col("p") * _CALIB_BINS)
                              .cast("int")).alias("bin"))
             .agg(F.count("*").cast("bigint").alias("n"),
                  F.sum(F.col("p").cast(_D18)).alias("sp"),
                  F.sum(F.col("y").cast(_D18)).alias("sy")))
    write_delta(delta, batch_id, _bins_path(index_dir))


def serve_calibration(spark: SparkSession, index_dir: str) -> DataFrame:
    """Fold the bin deltas and serve the reliability table + ECE with
    ml_calibration_bins' exact arithmetic (decimal partial sums merge
    exactly, so streaming == batch bit-for-bit), plus the ECE alarm
    flag."""
    b = (read_state(spark, _bins_path(index_dir), _fold)
         .select("bin", "n", F.col("sp").cast("double").alias("sp"),
                 F.col("sy").cast("double").alias("sy"))
         .localCheckpoint(eager=True))     # 10 rows, feeds ece + output
    tot = b.agg(F.sum("n").cast("bigint").alias("nt"))
    g = b.select("bin", "n", (F.col("sp") / F.col("n")).alias("avg_pred"),
                 (F.col("sy") / F.col("n")).alias("frac_pos"))
    d18 = lambda c: F.sum(c.cast(_D18)).cast("double")  # noqa: E731
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
                    F.round("ece", 6).alias("ece"),
                    F.when(F.col("ece") > ECE_ALARM, 1).otherwise(0)
                    .cast("int").alias("ece_alarm")))


def run_incremental_calibration(stream: DataFrame, checkpoint_dir: str,
                                index_dir: str, artifact_dir: str):
    """Attach the calibration sink to a stream and drain available
    input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        calibration_batch(df, bid, index_dir, artifact_dir)))


def compact_calibration_index(spark: SparkSession, index_dir: str,
                              through: int) -> dict:
    """Sum-fold compaction: deltas collapse to one row per bin."""
    return compact_index(spark, _bins_path(index_dir), through,
                         transform=_fold)
