"""Incremental NEAR-duplicate suppression over a document stream.

The reference dedups its stream by exact id with an unbounded in-memory
set (reddit_collector_kafka.py:48,78-81).  This module is the
LLM-pipeline upgrade: each micro-batch drops documents that are
*near*-duplicates (MinHash/LSH band collision) of anything already
accepted — the streaming face of plans/similarity.dedup_minhash_*.

Design (foreachBatch + a persisted band-key index, NOT per-row state):

- Band keys come from the engine-portable md5 minhash family
  (plans/similarity.portable_band_keys) — pure built-in expressions, so
  the same code path is value-verified by the batch oracle gate.
- The accepted-documents index stores only (band_key) strings,
  partitioned by the micro-batch that added them: kilobytes per batch,
  never document text.  At 100 TB the index is a fraction of corpus
  size (4 keys/doc) and the per-batch probe is a broadcast-able or
  shuffle hash join on the key — no all-pairs, no growing driver state
  (the reference's `seen_ids` set, fixed).
- Exactly-once on replay: both the accepted-docs output and the index
  delta are ``batch_id=N`` deltas, and the prior-index read prunes
  ``batch_id < N`` (the delta-log contract in ``compaction.py``).

Within-batch semantics are the standard LSH keep-min rule: for every
band bucket the lowest doc id wins, and a doc is dropped if ANY of its
bands has a lower-id winner (or any band seen in the index).  On a
chain A~B~C this over-deletes C even though A!~C — the documented LSH
dedup trade-off; the batch path resolves chains properly via
dedup_cluster_components.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.similarity import portable_band_keys
from .compaction import read_index, run_available_now, write_delta


def _index_path(index_dir: str) -> str:
    return os.path.join(index_dir, "bands")


def dedup_batch_against_index(batch_df: DataFrame, batch_id: int,
                              out_dir: str, index_dir: str,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> None:
    """One micro-batch of incremental near-dedup (the foreachBatch body,
    callable directly for tests / backfills)."""
    spark = batch_df.sparkSession
    # the 128-perm minhash map is the batch's dominant cost and its
    # band table feeds FOUR consumers (prior-hit probe, anti-join,
    # within-batch winners, index delta) — materialize it once instead
    # of re-running the signature computation per consumer (the
    # checkpoint-the-reused-subframe rule from the batch pipelines;
    # measured ~2x on 12.5k-doc batches)
    bands = portable_band_keys(batch_df, id_col, text_col) \
        .localCheckpoint(eager=True)
    # docs too short to shingle (<3 tokens) produce NO band keys: they
    # cannot be near-duplicates of anything, so they are auto-accepted
    # (mirrors the batch path, where survivor_select_df keeps them via
    # its left join) instead of silently vanishing from the corpus
    bandless = (batch_df.select(id_col)
                .join(bands.select(id_col).distinct(), id_col, "left_anti"))

    idx = _index_path(index_dir)
    seen = read_index(spark, idx, ["band_key"], before_batch=batch_id)
    seen = seen.distinct() if seen is not None else None

    # drop docs colliding with any previously-accepted band.  The index
    # grows with the accepted corpus, so pin the probe to a shuffled
    # hash join: broadcast of a corpus-scale band set is wrong at
    # 100 TB, and locally the optimizer's broadcast<->SMJ flapping as
    # the index crossed the threshold was the bimodal per-batch wall
    # measured in SCALING.md §2b
    if seen is not None:
        hit_prior = (bands.join(seen.hint("shuffle_hash"),
                                "band_key", "left_semi")
                     .select(id_col).distinct())
        bands = bands.join(hit_prior, id_col, "left_anti")

    # within-batch LSH keep-min: per band bucket the lowest id wins;
    # a doc survives only if it IS the winner of every band it has
    winners = bands.groupBy("band_key").agg(F.min(id_col).alias("_win"))
    losers = (bands.join(winners, "band_key")
              .filter(F.col(id_col) != F.col("_win"))
              .select(id_col).distinct())
    # pin the surviving bands once: the accepted write (via kept_ids)
    # and the index-delta write both consume them, and unpinned each
    # re-ran the prior-index probe + winner join chain
    kept_bands = (bands.join(losers, id_col, "left_anti")
                  .localCheckpoint(eager=True))
    kept_ids = (kept_bands.select(id_col).distinct()
                .unionByName(bandless))

    write_delta(batch_df.join(kept_ids, id_col, "left_semi"), batch_id,
                os.path.join(out_dir, "accepted"))
    write_delta(kept_bands.select("band_key").distinct(), batch_id, idx)


N_VEC_BUCKETS = 16      # fixed partition-dir count of the vector index


def _vec_bucket(cell_col):
    """Partition bucket of a sign-cell id: its low sign bits.  Purely
    a STORAGE layout (values never depend on it) — a fixed dir count
    per batch replaces the per-CELL dynamic partitions whose
    dynamic-overwrite commit paid ~25 ms per directory per batch
    (measured 5-9 s for a 500-row delta at ~200 touched cells, vs
    0.4 s bucketed) and whose dir count grows with 2^cell_bits at
    scale.  Probe pruning survives, one level coarser: the prior read
    prunes to the buckets the batch's own cells touch."""
    return F.pmod(cell_col, F.lit(N_VEC_BUCKETS)).cast("int")


def dedup_embeddings_against_index(batch_df: DataFrame, batch_id: int,
                                   out_dir: str, index_dir: str,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   threshold: float = 0.95) -> None:
    """Streaming SemDedup micro-batch: drop a vector when an
    already-accepted vector in the SAME sign-bucket cell has cosine >=
    threshold (plans/similarity.dedup_embedding_cells is the batch
    oracle-checked twin; embedding_cell_expr is shared).  Unlike the
    text path the index must store the vectors themselves, so it is
    partitioned by a FIXED set of cell buckets (r10: N_VEC_BUCKETS
    dirs — see _vec_bucket; per-cell dirs made every delta commit pay
    per-directory filesystem cost): the per-batch probe prunes the
    read to the buckets the batch's cells touch, then joins on cell —
    the same intra-cell-only cost model as the batch query.
    Replay-idempotent via batch_id dynamic partition overwrite on the
    accepted output; the index is partitioned by (batch_id, bucket)
    so a retried batch rewrites only its own slices."""
    from ..functions.vectors import dot_product, l2_norm, to_double_array
    from ..plans.similarity import embedding_cell_expr

    spark = batch_df.sparkSession
    # per-VECTOR L2 norm computed once on each side of the cell joins
    # (r10, guide §4.1 higher-order-function cost: cosine_similarity
    # folds the arrays three times PER PAIR; norms hoisted to the row
    # projections leave one dot fold per pair — sqrt(naa)*sqrt(nbb) is
    # the same double expression, so accept/drop sets are unchanged,
    # mirroring the batch twin's build_pairs)
    b = batch_df.select(
        F.col(id_col), F.col(vec_col),
        to_double_array(vec_col).alias("_emb"),
        embedding_cell_expr(vec_col).alias("cell"))
    b = b.withColumn("_nrm", l2_norm(F.col("_emb")))

    idx = os.path.join(index_dir, "vectors")
    seen = read_index(spark, idx, [F.col("cell").alias("_icell"),
                                   F.col("_iemb"), F.col("bucket")],
                      before_batch=batch_id)

    if seen is not None:
        # candidates need cell EQUALITY with a batch vector, so prior
        # rows outside the batch's cell buckets can't match: prune the
        # (bucket-partitioned) read to touched buckets — bounded by
        # N_VEC_BUCKETS; the collect is a tiny-batch-frame reduction
        touched = sorted(r[0] for r in b.select(
            _vec_bucket(F.col("cell")).alias("bucket"))
            .distinct().collect())
        seen = (seen.filter(F.col("bucket").isin(touched))
                .drop("bucket")
                .withColumn("_inrm", l2_norm(F.col("_iemb"))))
        hit_prior = (b.join(seen, b.cell == F.col("_icell"))
                     .filter(dot_product(F.col("_emb"), F.col("_iemb"))
                             / (F.col("_nrm") * F.col("_inrm"))
                             >= threshold)
                     .select(id_col).distinct())
        b = b.join(hit_prior, id_col, "left_anti")

    # within-batch: a vector loses to any lower-id cell-mate above the
    # threshold (keep-min, mirroring the text path)
    lhs = b.select(F.col("cell").alias("_c"), F.col(id_col).alias("_ida"),
                   F.col("_emb").alias("_ea"), F.col("_nrm").alias("_na"))
    rhs = b.select(F.col("cell").alias("_c2"), F.col(id_col).alias("_idb"),
                   F.col("_emb").alias("_eb"), F.col("_nrm").alias("_nb"))
    losers = (lhs.join(rhs, (F.col("_c") == F.col("_c2"))
                       & (F.col("_ida") > F.col("_idb")))
              .filter(dot_product(F.col("_ea"), F.col("_eb"))
                      / (F.col("_na") * F.col("_nb")) >= threshold)
              .select(F.col("_ida").alias(id_col)).distinct())
    # pin the survivors once: BOTH writes below consume `kept`, and
    # unpinned each re-ran the index read + prior probe + within-batch
    # pair join (measured ~2x per-batch wall at sf0.1 batch sizes;
    # the setsim twin already pins its `kept`)
    kept = b.join(losers, id_col, "left_anti").localCheckpoint(eager=True)

    write_delta(kept.select(id_col, vec_col), batch_id,
                os.path.join(out_dir, "accepted"))
    # fixed-bucket delta layout (r10 round 2; see _vec_bucket): cluster
    # by bucket so each of the <= N_VEC_BUCKETS dirs gets one file per
    # batch (guide §6 small-files), and the dynamic-overwrite commit
    # touches a BOUNDED dir count instead of one dir per cell.
    write_delta(kept.select("cell", F.col("_emb").alias("_iemb"))
                .withColumn("bucket", _vec_bucket(F.col("cell")))
                .repartition("bucket"), batch_id, idx,
                partition_by=("batch_id", "bucket"))


def run_incremental_near_dedup(stream: DataFrame, out_dir: str,
                               checkpoint_dir: str, index_dir: str,
                               id_col: str = "doc_id",
                               text_col: str = "text"):
    """Attach the incremental near-dedup sink to a document stream and
    drain available input (availableNow)."""

    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        dedup_batch_against_index(df, bid, out_dir, index_dir, id_col,
                                  text_col)))
