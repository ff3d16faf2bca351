"""Incremental distinct-count (HyperLogLog) state over a stream.

The streaming face of plans/sketches.sketch_hll_portable: each
micro-batch reduces its rows to a per-group REGISTER DELTA (at most
m = 64 rows per group — the same md5-derived registers the batch
oracle gate value-checks), appended to a log-structured parquet index;
serving max-merges all deltas and applies the identical estimator.
Streaming == batch holds by construction because register max-merge is
lossless (pinned by the ``sketch_hll_merge`` oracle query and by the
parity test here).

Why this is the 100 TB streaming distinct-count design:

- The per-batch delta is METADATA-SIZED (m rows per group seen in the
  batch) no matter how many rows the batch carried — contrast a
  dropDuplicates-based exact counter, whose state grows with the
  number of distinct keys ever seen.
- The delta depends only on its own batch, so the delta-log contract
  in ``compaction.py`` makes replay exactly-once with zero
  read-modify-write.
- Serving reads the whole index but the index is (groups x m x
  batches) rows of three small columns; after compaction it is
  (groups x m).  ``compact_hll_index`` folds deltas by per-register
  max DURING consolidation — the sketch-aware upgrade of the plain
  row-preserving compaction the dedup indexes use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.sketches import _hll_estimate, _hll_registers
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)


def _regs_path(index_dir: str) -> str:
    return os.path.join(index_dir, "hll_regs")


def _fold(live: DataFrame) -> DataFrame:
    """Per-(group, idx) register max — lossless and associative."""
    grp = [c for c in live.columns if c not in ("idx", "mx")]
    return live.groupBy(*grp, "idx").agg(F.max("mx").alias("mx"))


def register_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                   key_col: str = "user_id",
                   group_cols: tuple[str, ...] = ("event_type",)) -> None:
    """One micro-batch of register maintenance (the foreachBatch body,
    callable directly for tests / backfills): reduce the batch to its
    (group..., idx, mx) register delta and overwrite this batch's own
    partition."""
    keyed = batch_df.select(
        *group_cols, F.md5(F.col(key_col).cast("string")).alias("h"))
    write_delta(_hll_registers(keyed, list(group_cols)), batch_id,
                _regs_path(index_dir))


def read_distinct_estimates(spark, index_dir: str,
                            group_cols: tuple[str, ...] = ("event_type",),
                            ) -> DataFrame:
    """Serve (group..., harmonic_s, n_zero_regs, est) from the index:
    max-merge every delta's registers, then the batch estimator.  The
    merge is the associative register fold — reading after ANY prefix
    of batches yields exactly the sketch of the union of those
    batches' rows."""
    regs = read_state(spark, _regs_path(index_dir), lambda live: _fold(
        live.select(*group_cols, "idx", "mx")))
    return _hll_estimate(regs, list(group_cols))


def run_incremental_hll(stream: DataFrame, checkpoint_dir: str,
                        index_dir: str, key_col: str = "user_id",
                        group_cols: tuple[str, ...] = ("event_type",)):
    """Attach the register-maintenance sink to a stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        register_batch(df, bid, index_dir, key_col, group_cols)))


def compact_hll_index(spark, index_dir: str, through: int) -> dict:
    """Sketch-aware compaction: registers FOLD by per-(group, idx) max
    during consolidation, so the compacted store holds one row per
    register instead of one per (register, batch) — the consolidated
    size is independent of how many batches were folded."""
    return compact_index(spark, _regs_path(index_dir), through,
                         transform=_fold)
