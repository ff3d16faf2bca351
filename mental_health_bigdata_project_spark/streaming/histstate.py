"""Incremental quantile (HDR histogram) state over a stream.

The third member of the mergeable-state family and the streaming face
of plans/sketches.sketch_hdr_quantiles: per-batch BUCKET-COUNT deltas
(the bounded integer histogram plans/sketches.hdr_histogram builds —
the same expressions the batch oracle gate value-checks), summed at
serve time and read through the same CDF/bucket-midpoint pipeline.

Family ledger: hllcount.py merges registers by MAX, momentstate.py
merges moments by SUM, this merges bucket counts by SUM — which makes
it the streaming-quantiles design (p50/p99 latency over an unbounded
stream) that exact approaches can't give without retaining every
value.  Exactly-once is the delta-log contract in ``compaction.py``;
``compact_hist_index`` sum-folds the deltas to one row per bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.sketches import (
    hdr_bucket_midpoint, hdr_cents_expr, hdr_histogram, hdr_pick_buckets)
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)


def _hist_path(index_dir: str) -> str:
    return os.path.join(index_dir, "hdr_hist")


def _fold(live: DataFrame) -> DataFrame:
    """Per-bucket count sums."""
    grp = [c for c in live.columns if c != "cnt"]
    return live.groupBy(*grp).agg(F.sum("cnt").cast("bigint").alias("cnt"))


def hist_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
               value_expr=None) -> None:
    """One micro-batch of histogram maintenance (the foreachBatch
    body, callable directly for tests / backfills).

    ``value_expr`` must evaluate to a POSITIVE integer: the HDR
    bucketing keys on bit length, and a negative value's 64-char
    two's-complement F.bin would silently collapse all negatives into
    one giant bucket, skewing every served quantile.  A non-positive
    value therefore fails the batch loudly (native raise_error — the
    checkpoint retries after the caller fixes the expression) instead
    of corrupting the persisted histogram."""
    raw = (value_expr if value_expr is not None
           else hdr_cents_expr()).cast("bigint")
    guarded = F.when(raw > 0, raw).otherwise(F.raise_error(F.concat(
        F.lit("hist_batch: value_expr must be a positive integer, got "),
        F.coalesce(raw.cast("string"), F.lit("NULL")))))
    write_delta(hdr_histogram(batch_df.select(guarded.alias("c"))),
                batch_id, _hist_path(index_dir))


def read_quantiles(spark, index_dir: str,
                   qs: list[float] | None = None) -> DataFrame:
    """Serve (q, est) from the summed bucket deltas — identical to the
    batch sketch's estimate on the union of ingested rows because
    bucket counts add exactly (sketch_hdr_merge pins the property)."""
    merged = read_state(spark, _hist_path(index_dir), _fold)
    pick = hdr_pick_buckets(spark, merged, qs)
    return pick.select(
        "q", F.round(hdr_bucket_midpoint() / 100.0, 4).alias("est"))


def run_incremental_hist(stream: DataFrame, checkpoint_dir: str,
                         index_dir: str, **kwargs):
    """Attach the histogram-maintenance sink to a stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        hist_batch(df, bid, index_dir, **kwargs)))


def compact_hist_index(spark, index_dir: str, through: int) -> dict:
    """Sum-fold compaction to one row per live bucket."""
    return compact_index(spark, _hist_path(index_dir), through,
                         transform=_fold)
