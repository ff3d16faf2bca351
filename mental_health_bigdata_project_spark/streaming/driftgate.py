"""Streaming PSI drift gate: the train-once / fold-per-micro-batch
face of ``plans/quality.dq_psi_drift`` — the production shape of a
feature-drift monitor (Population Stability Index per event type
against a FROZEN baseline), eighth member of the mergeable-state
family.

``build_psi_baseline`` freezes the baseline: per-type decile
boundaries of the quantized value histogram (9 rows per type) plus
the baseline bucket counts (10 rows per type) — metadata-sized
reference data, persisted once.  ``drift_batch`` reduces each
micro-batch to its (event_type, bucket, cnt) delta against the frozen
boundaries — at most 10 rows per type per batch regardless of batch
rows, written into the batch's own ``batch_id=N`` partition (the
delta-log contract in ``compaction.py``: exactly-once with zero
read-modify-write).  ``serve_psi`` sum-folds
all deltas and scores PSI with the IDENTICAL
``psi_from_bucket_counts`` the oracle-checked batch query runs, so
streaming == batch is by construction and pinned by test against
``dq_psi_drift`` itself on the same day-split.

Scale shape per batch: one hash agg of the batch onto the cell grid,
one broadcast join of the 9-row boundary table.  Serving reads
#types x 10 x #batches count rows (kilobytes); ``compact_index`` with
a sum fold keeps the store batch-count-independent like every other
mergeable state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.quality import (psi_bucketize, psi_decile_boundaries,
                             psi_from_bucket_counts, psi_quantize)
from .compaction import compact_index, read_state, write_delta


def _fold(live: DataFrame) -> DataFrame:
    """Per-(event_type, bucket) count sums."""
    return live.groupBy("event_type", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt"))


def _cells(df: DataFrame, type_col: str, value_col: str) -> DataFrame:
    return (df.filter(F.col(value_col).isNotNull())
            .select(F.col(type_col).alias("event_type"),
                    psi_quantize(F.col(value_col)).alias("cell"))
            .groupBy("event_type", "cell")
            .agg(F.count("*").cast("bigint").alias("cnt")))


def build_psi_baseline(baseline_df: DataFrame, artifact_dir: str,
                       type_col: str = "event_type",
                       value_col: str = "value") -> int:
    """Freeze the baseline: write the decile boundary table and the
    baseline bucket counts.  Returns the number of event types
    frozen.  Boundaries are written LAST (the commit point drift_batch
    checks), so a crash mid-build leaves no servable baseline."""
    cells = _cells(baseline_df, type_col, value_col) \
        .localCheckpoint(eager=True)
    bnd = psi_decile_boundaries(cells).localCheckpoint(eager=True)
    bcnt = psi_bucketize(cells, bnd)
    bcnt.write.mode("overwrite").parquet(
        os.path.join(artifact_dir, "base_buckets"))
    bnd.write.mode("overwrite").parquet(
        os.path.join(artifact_dir, "boundaries"))
    return bnd.select("event_type").distinct().count()


def _read_baseline(spark: SparkSession, artifact_dir: str):
    bnd = spark.read.parquet(os.path.join(artifact_dir, "boundaries"))
    bcnt = spark.read.parquet(os.path.join(artifact_dir, "base_buckets"))
    return bnd, bcnt


def drift_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                artifact_dir: str, type_col: str = "event_type",
                value_col: str = "value") -> None:
    """One micro-batch of drift-state maintenance (the foreachBatch
    body): bucket the batch against the frozen boundaries and append
    the (event_type, bucket, cnt) delta into its own batch partition."""
    spark = batch_df.sparkSession
    bnd, _ = _read_baseline(spark, artifact_dir)
    write_delta(psi_bucketize(_cells(batch_df, type_col, value_col), bnd),
                batch_id, os.path.join(index_dir, "buckets"))


def serve_psi(spark: SparkSession, artifact_dir: str,
              index_dir: str) -> DataFrame:
    """(event_type, n_base, n_cur, psi, drift_flag) over everything
    ingested so far — the same scoring core as the batch query."""
    cur = read_state(spark, os.path.join(index_dir, "buckets"), _fold)
    _, bcnt_base = _read_baseline(spark, artifact_dir)
    return psi_from_bucket_counts(bcnt_base, cur)


def compact_drift_state(spark: SparkSession, index_dir: str,
                        through: int) -> dict:
    """Sum-fold the per-batch bucket deltas through a checkpoint-
    committed batch — the store stays #types x 10 rows forever."""
    return compact_index(spark, os.path.join(index_dir, "buckets"),
                         through, transform=_fold)
