"""Incremental per-group MinHash signatures over a document stream —
the SIXTH mergeable streaming state, and the first with an IDEMPOTENT
combine (hllcount merges registers by MAX, momentstate/cmsstate/
topkstate by ADDITION; this merges signatures by MIN).

Each micro-batch reduces to one 16-value signature row per group: the
per-(group, s) minimum of ``md5(md5(shingle) || '-s')`` over the
batch's token 3-gram shingles: ``plans/similarity.portable_minhash_sigs``
keyed by group instead of doc.  So the folded stream state is BY
CONSTRUCTION the signature the batch pipeline computes over the
ingested union: min over batches of per-batch minima == min over the
union (min is associative AND commutative AND idempotent).

Idempotence is the distinguishing property: a duplicated delta — a
batch folded twice, an at-least-once sink, overlapping backfills —
cannot change the served state, which no SUM-combined member can say.
The parity/idempotence tests pin both.

Serving folds the deltas and emits the pairwise estimated-Jaccard
overlap matrix between groups (the streaming face of the exact
``source_overlap_matrix`` governance query: 16-hash estimates instead
of exact fingerprint intersections, O(#groups) state instead of
O(#fingerprints)).

Exactly-once is the delta-log contract in ``compaction.py`` — and
even a NON-overwritten duplicate would be absorbed by the min-fold.
Compaction folds deltas to one row per group.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.similarity import N_MINHASH, portable_minhash_sigs
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)

_SIG_COLS = [f"m{s}" for s in range(N_MINHASH)]


def _sigs_path(index_dir: str) -> str:
    return os.path.join(index_dir, "sigs")


def _fold(live: DataFrame) -> DataFrame:
    """Per-group signature minimum — idempotent."""
    grp = [c for c in live.columns if c not in _SIG_COLS]
    return live.groupBy(*grp).agg(*[F.min(c).alias(c) for c in _SIG_COLS])


def minhash_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  group_col: str = "source") -> None:
    """One micro-batch of signature maintenance (the foreachBatch
    body): one 16-hash row per group seen in the batch."""
    write_delta(portable_minhash_sigs(batch_df, group_col, "text"), batch_id,
                _sigs_path(index_dir))


def read_group_sigs(spark, index_dir: str,
                    group_col: str = "source") -> DataFrame:
    """Fold the signature deltas by MIN — equal to the batch signature
    over the ingested union."""
    return read_state(spark, _sigs_path(index_dir), lambda live: _fold(
        live.select(group_col, *_SIG_COLS)))


def read_overlap(spark, index_dir: str,
                 group_col: str = "source") -> DataFrame:
    """(group_a, group_b, est_jaccard) — the pairwise 16-hash Jaccard
    estimate between every group pair, from #groups rows of state.
    The #groups x #groups comparison is metadata-sized (sources,
    shards, crawls — never documents)."""
    sigs = read_group_sigs(spark, index_dir, group_col)
    a = sigs.select(F.col(group_col).alias("group_a"),
                    *[F.col(c).alias(f"a_{c}") for c in _SIG_COLS])
    b = sigs.select(F.col(group_col).alias("group_b"),
                    *[F.col(c).alias(f"b_{c}") for c in _SIG_COLS])
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    agree = None
    for c in _SIG_COLS:
        term = (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int")
        agree = term if agree is None else agree + term
    return pairs.select(
        "group_a", "group_b",
        F.round(agree / F.lit(float(N_MINHASH)), 6).alias("est_jaccard"))


def run_incremental_minhash(stream: DataFrame, checkpoint_dir: str,
                            index_dir: str, **kwargs):
    """Attach the signature sink to a document stream and drain
    available input."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        minhash_batch(df, bid, index_dir, **kwargs)))


def compact_minhash_index(spark, index_dir: str, through: int) -> dict:
    """Min-fold compaction: deltas collapse to one row per group."""
    return compact_index(spark, _sigs_path(index_dir), through,
                         transform=_fold)
