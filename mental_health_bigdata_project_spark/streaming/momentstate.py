"""Incremental regression / moment state over a stream.

The streaming face of plans/sketches.ml_linreg_closed_form, and the
SUM-combine member of the mergeable-state family (hllcount.py merges
registers by MAX, this merges moment sums by ADDITION):

each micro-batch reduces to its per-group moment delta — n, Σx, Σy,
Σxy, Σx², Σy² as exact DECIMAL(38,0) over integer-quantized inputs —
six numbers per group, appended to a log-structured parquet index.
Serving adds the deltas and applies the identical closed-form OLS the
batch oracle gate value-checks, so streaming == batch holds by
construction (moment addition is exact and associative) and is pinned
by test.

Exactly-once is the delta-log contract in ``compaction.py``.
Compaction folds deltas by summation (``compact_moment_index``), so
the store holds one row per group regardless of batch count.

This is how every "train a linear probe / monitor a drift slope over
an unbounded stream" job should look at 100 TB: state is six decimals
per group, the fact rows are never revisited, and any time-slice of
batches can be re-aggregated after the fact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.sketches import (
    LINREG_MOMS as _MOMS, LINREG_X_EXPR, LINREG_Y_EXPR, linreg_fit,
    linreg_moments)
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)

_DEC = "decimal(38,0)"


def _moments_path(index_dir: str) -> str:
    return os.path.join(index_dir, "moments")


def _fold(live: DataFrame) -> DataFrame:
    """Per-group moment sums — exact DECIMAL addition."""
    grp = [c for c in live.columns if c not in _MOMS]
    return live.groupBy(*grp).agg(
        *[F.sum(c).cast(_DEC).alias(c) for c in _MOMS])


def moments_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  group_col: str = "l_returnflag",
                  x_expr: str = LINREG_X_EXPR,
                  y_expr: str = LINREG_Y_EXPR) -> None:
    """One micro-batch of moment maintenance (the foreachBatch body,
    callable directly for tests / backfills).  The moment expressions
    are plans/sketches.linreg_moments — the SAME aggregation the batch
    oracle gate value-checks."""
    write_delta(linreg_moments(batch_df, group_col, x_expr, y_expr),
                batch_id, _moments_path(index_dir))


def read_linreg(spark, index_dir: str,
                group_col: str = "l_returnflag") -> DataFrame:
    """Serve (group, n, slope, intercept, r2) from the summed moment
    deltas — byte-identical to ml_linreg_closed_form on the union of
    all ingested rows because moment addition is exact."""
    m = read_state(spark, _moments_path(index_dir),
                   lambda live: _fold(live.select(group_col, *_MOMS)))
    # the fit is plans/sketches.linreg_fit — serve-time coefficients
    # can never drift from the oracle-checked batch query's
    return linreg_fit(m, group_col)


def run_incremental_moments(stream: DataFrame, checkpoint_dir: str,
                            index_dir: str, **kwargs):
    """Attach the moment-maintenance sink to a stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        moments_batch(df, bid, index_dir, **kwargs)))


def compact_moment_index(spark, index_dir: str, through: int) -> dict:
    """Sum-fold compaction: deltas collapse to one row per group."""
    return compact_index(spark, _moments_path(index_dir), through,
                         transform=_fold)
