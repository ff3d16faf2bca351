"""Streaming domain-mixture (DoReMi) monitor: live per-domain excess
loss and reweighting over an unbounded document stream — the TENTH
member of the mergeable-state family and the streaming face of
``plans/textops.mixture_doremi_weights``.

Each micro-batch reduces its documents to the (lang, word, count)
delta its text contributes — the exact relation the batch query
aggregates — written as a ``batch_id=N`` partition.  Word counts merge
by plain SUM, so serving folds the delta log and runs the IDENTICAL
``doremi_from_counts`` algebra the oracle-checked batch query runs:
the served domain weights equal the batch query computed over the
union of every ingested batch, BY CONSTRUCTION (pinned by test).

Family ledger: hllcount merges registers by MAX, moment/hist/CMS/
coverage counters by SUM, minhash signatures by MIN, the PSI gate by
SUM over frozen buckets, the conformal monitor by SUM — this merges
vocabulary counts by SUM.  State is the Zipf-bounded (lang, word)
relation (vocabulary-sized, like the BM25 postings — larger than the
sketch members but sublinear in stream volume); exactly-once is the
delta-log contract in ``compaction.py``, and ``compact_mixture_state``
sum-folds the log back to one row per (lang, word).

Why a pipeline wants it live: DoReMi weights drive the sampler of a
continuously-refreshed training mixture — a source whose distribution
drifts (new crawl snapshot, new domain coming online) changes its
excess loss and should change its sampling weight WITHOUT a full
corpus recount.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.textops import doremi_from_counts, tokens_col
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)


def _counts_path(index_dir: str) -> str:
    return os.path.join(index_dir, "mixture_counts")


def _fold(live: DataFrame) -> DataFrame:
    """Per-(lang, word) count sums."""
    return live.groupBy("lang", "w").agg(
        F.sum("c").cast("bigint").alias("c"))


def mixture_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  lang_col: str = "lang", text_col: str = "text") -> None:
    """One micro-batch of mixture maintenance (the foreachBatch body,
    callable directly for tests / backfills): the batch's (lang, word)
    counts as a sum-mergeable delta."""
    delta = (batch_df
             .select(F.col(lang_col).alias("lang"),
                     F.explode(tokens_col(text_col)).alias("w"))
             .groupBy("lang", "w")
             .agg(F.count("*").cast("bigint").alias("c")))
    write_delta(delta, batch_id, _counts_path(index_dir))


def serve_weights(spark: SparkSession, index_dir: str) -> DataFrame:
    """(lang, n_tokens, token_share, excess_loss, doremi_weight) over
    everything ingested so far — the same columns, same algebra, same
    rounding as the oracle-green batch query."""
    folded = (read_state(spark, _counts_path(index_dir), _fold)
              .localCheckpoint(eager=True))    # feeds nd/gw/tot/kl
    return doremi_from_counts(folded)


def compact_mixture_state(spark: SparkSession, index_dir: str,
                          through: int) -> dict:
    """Sum-fold the per-batch count deltas — state stays one row per
    live (lang, word) regardless of stream age."""
    return compact_index(spark, _counts_path(index_dir), through,
                         transform=_fold)


def run_mixture_monitor(stream: DataFrame, checkpoint_dir: str,
                        index_dir: str):
    """Attach the mixture sink to a documents stream (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        mixture_batch(df, bid, index_dir)))
