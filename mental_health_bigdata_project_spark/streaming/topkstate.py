"""Incremental frequent-items (top-k) state over a stream.

The streaming face of plans/sketches.sketch_topk_native_merge: each
micro-batch reduces its rows to ONE Datasketches frequent-items state
per group (Spark 4 ``approx_top_k_accumulate`` — a parquet-writable
struct of sketch binary + metadata), appended to a log-structured
parquet index; serving ``approx_top_k_combine``s all deltas and
estimates the top-k.  In the sketch's exact regime streaming == batch
holds item-for-item (pinned by the parity test against the
oracle-green ``text_token_freq``); past capacity the estimates degrade
to the sketch's guaranteed error instead of the state growing with the
vocabulary.

Same 100 TB design as the HLL/CMS/moments states in this package:

- The per-batch delta is ONE state row per group regardless of batch
  row count — contrast an exact counter, whose (group, token) state
  grows with the vocabulary ever seen.
- A delta depends only on its own batch, so the delta-log contract in
  ``compaction.py`` makes replay exactly-once with no
  read-modify-write.
- ``compact_topk_index`` folds deltas by per-group combine during
  consolidation (the sketch-aware compaction), leaving one state row
  per group independent of stream age.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)

# items tracked per sketch — far above the test corpora's vocabulary,
# so local runs sit in the exact regime; a deployment sizes this to
# its error budget (the sketch stays KB-sized either way)
MAX_ITEMS_TRACKED = 100_000


def _state_path(index_dir: str) -> str:
    return os.path.join(index_dir, "topk_state")


def _fold(live: DataFrame) -> DataFrame:
    """Per-group sketch combine."""
    grp = [c for c in live.columns if c != "st"]
    return live.groupBy(*grp).agg(
        F.expr(f"approx_top_k_combine(st, {MAX_ITEMS_TRACKED})")
        .alias("st"))


def accumulate_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                     item_col: str = "token",
                     group_cols: tuple[str, ...] = ("source",)) -> None:
    """One micro-batch of state maintenance (the foreachBatch body,
    callable directly for tests / backfills): reduce the batch to its
    (group..., st) sketch delta and overwrite this batch's own
    partition."""
    delta = (batch_df.groupBy(*group_cols)
             .agg(F.expr(f"approx_top_k_accumulate({item_col}, "
                         f"{MAX_ITEMS_TRACKED})").alias("st")))
    write_delta(delta, batch_id, _state_path(index_dir))


def read_topk(spark, index_dir: str, k: int = 20,
              group_cols: tuple[str, ...] = ("source",),
              overall: bool = True) -> DataFrame:
    """Serve the top-k: combine every delta's state per group (and,
    when ``overall``, across groups too — the rollup never re-reads
    the stream), then estimate.  Output: (rnk, item, n) with rnk
    following counts."""
    keep = [] if overall else list(group_cols)
    st = read_state(spark, _state_path(index_dir),
                    lambda live: _fold(live.select(*keep, "st")))
    merged = st.select(
        *keep, F.expr(f"approx_top_k_estimate(st, {k})").alias("tk"))
    return (merged.select(*keep, F.posexplode("tk").alias("pos", "e"))
            .select(*keep, (F.col("pos") + 1).cast("int").alias("rnk"),
                    F.col("e.item").alias("item"),
                    F.col("e.count").cast("bigint").alias("n")))


def run_incremental_topk(stream: DataFrame, checkpoint_dir: str,
                         index_dir: str, item_col: str = "token",
                         group_cols: tuple[str, ...] = ("source",)):
    """Attach the state-maintenance sink to a stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        accumulate_batch(df, bid, index_dir, item_col, group_cols)))


def compact_topk_index(spark, index_dir: str, through: int) -> dict:
    """Sketch-aware compaction: states FOLD by per-group combine during
    consolidation, so the compacted store holds one state row per group
    independent of how many batches were folded."""
    return compact_index(spark, _state_path(index_dir), through,
                         transform=_fold)
