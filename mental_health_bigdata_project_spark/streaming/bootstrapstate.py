"""Incremental Poisson-bootstrap state over a stream — the SEVENTH
mergeable-state member (sum-combine), and the one that answers "what
is the UNCERTAINTY of this streaming metric", not just its value.

The batch query ``stat_bootstrap_ci`` reweights every row by a
deterministic md5-derived Poisson(1) draw per replicate; because the
weights depend only on (event_id, rep), the replicate weighted sums
and weight totals are PLAIN SUMS over rows — each micro-batch reduces
to one 64-value partial row (32 x (n_eff, weighted sum)), appended to
a log-structured index and folded at serve time through the identical
estimator.  Streaming == batch holds bit-for-bit by construction
(integer weights, DECIMAL(28,12) weighted sums, decimal addition
exact) and is pinned against the oracle-checked query in test.

Exactly-once is the delta-log contract in ``compaction.py``; sum-fold
compaction leaves ONE 64-value row regardless of stream length — the
replicate state of a 100 TB stream is 64 numbers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.quality import _N_BOOT, boot_hash_cols, boot_weight
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)

_DEC = "decimal(28,12)"


def _boot_path(index_dir: str) -> str:
    return os.path.join(index_dir, "boot")


_COLS = [c for r in range(_N_BOOT) for c in (f"n{r}", f"s{r}")]


def _fold(live: DataFrame) -> DataFrame:
    """All partials summed into one 64-value row."""
    return live.agg(
        *[F.sum(c).cast("bigint" if c.startswith("n") else _DEC).alias(c)
          for c in _COLS])


def bootstrap_batch(batch_df: DataFrame, batch_id: int,
                    index_dir: str) -> None:
    """One micro-batch of replicate-partial maintenance (the
    foreachBatch body).  ``batch_df`` needs (event_id, value).  The
    weight machinery is the batch query's exactly (shared hash
    projection — one md5 per row per four replicates — and shared
    inverse-CDF literals), so the parity below is structural."""
    proj = (batch_df.filter(F.col("value").isNotNull())
            .select("value", *boot_hash_cols())
            .select("value", *[boot_weight(r).alias(f"w{r}")
                               for r in range(_N_BOOT)]))
    aggs = []
    for r in range(_N_BOOT):
        aggs.append(F.sum(f"w{r}").cast("bigint").alias(f"n{r}"))
        aggs.append(F.sum((F.col(f"w{r}") * F.col("value")).cast(_DEC))
                    .cast(_DEC).alias(f"s{r}"))
    write_delta(proj.agg(*aggs), batch_id, _boot_path(index_dir))


def read_bootstrap_ci(spark, index_dir: str) -> DataFrame:
    """Serve (rep, n_eff, boot_mean) from the summed partials —
    bit-identical to ``stat_bootstrap_ci`` over the ingested union."""
    folded = read_state(spark, _boot_path(index_dir), _fold)
    pairs = ", ".join(f"{r}, n{r}, CAST(s{r} AS DOUBLE)"
                      for r in range(_N_BOOT))
    return (folded.selectExpr(
        f"stack({_N_BOOT}, {pairs}) AS (rep, n_eff, wsum)")
        .select(F.col("rep").cast("int").alias("rep"), "n_eff",
                F.round(F.col("wsum") / F.col("n_eff"), 6)
                .alias("boot_mean"))
        .orderBy("rep"))


def run_incremental_bootstrap(stream: DataFrame, checkpoint_dir: str,
                              index_dir: str):
    """Attach the replicate-partial sink to an (event_id, value)
    stream and drain available input."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        bootstrap_batch(df, bid, index_dir)))


def compact_bootstrap_index(spark, index_dir: str, through: int) -> dict:
    """Sum-fold compaction: all deltas collapse to one 64-value row."""
    return compact_index(spark, _boot_path(index_dir), through,
                         transform=_fold)
