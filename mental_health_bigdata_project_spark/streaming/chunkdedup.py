"""Incremental SUB-document (C4 chunk) dedup over a document stream.

The streaming face of plans/textops.dedup_chunk_rewrite: each
micro-batch's documents are rewritten to drop every 30-token chunk
whose fingerprint was already retained — by an earlier batch (persisted
fp index) or earlier in this batch (first-occurrence rule).  A
document whose every chunk is boilerplate disappears entirely.

Design (foreachBatch + a persisted fingerprint index, NOT per-row
state — same recipe as streaming/neardup.py):

- Chunking/fingerprinting is plans/textops.chunk_fingerprints_df —
  the identical expressions the batch oracle gate value-checks.
- The index stores only fp strings (32-char md5), partitioned by the
  micro-batch that added them: at 100 TB the index is ~1/6th of corpus
  bytes (one fp per 30 tokens) and the probe is a hash join on the fp
  key against an append-only parquet — no growing driver state.
- Exactly-once on replay: the delta-log contract in
  ``compaction.py``.  The index delta is the set of fps this batch
  RETAINED (first occurrences), which is exactly what must block
  future batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.textops import chunk_fingerprints_df
from .compaction import read_index, run_available_now, write_delta


def _index_path(index_dir: str) -> str:
    return os.path.join(index_dir, "chunk_fps")


def rewrite_batch_against_index(batch_df: DataFrame, batch_id: int,
                                out_dir: str, index_dir: str,
                                gate=None) -> None:
    """One micro-batch of incremental chunk dedup (the foreachBatch
    body, callable directly for tests / backfills).  ``batch_df`` needs
    (doc_id, text).  ``gate`` (optional DataFrame -> DataFrame, e.g.
    a Gopher-rule filter) runs BEFORE fingerprinting so rejected docs
    cannot claim first-occurrence chunk slots — the same ordering the
    batch pipeline (operators/curation.py) enforces."""
    spark = batch_df.sparkSession
    if gate is not None:
        batch_df = gate(batch_df)
    flat = chunk_fingerprints_df(batch_df)

    idx = _index_path(index_dir)
    seen = read_index(spark, idx, ["fp"], before_batch=batch_id)
    seen = seen.distinct() if seen is not None else None

    if seen is not None:
        flat = flat.join(seen, "fp", "left_anti")

    # within-batch first-occurrence rule: the same skew-safe
    # min(struct) aggregate as the batch rewrite (hot fingerprints
    # collapse map-side instead of piling into one window partition)
    firsts = flat.groupBy("fp").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first"))
    # pin the retained chunks once: the rebuilt-text write and the
    # index-delta write both consume `kept`, and unpinned each re-ran
    # the fingerprint scan + index probe + first-occurrence join
    kept = (flat.join(firsts, "fp")
            .filter((F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("chunk_idx") == F.col("first.chunk_idx")))
            .select("doc_id", "chunk_idx", "chunk", "fp")
            .localCheckpoint(eager=True))

    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("chunk_idx", "chunk"))),
                       lambda s: s["chunk"]), " ").alias("text"),
                    F.count("*").cast("int").alias("n_kept")))

    write_delta(rebuilt, batch_id, os.path.join(out_dir, "accepted"))
    write_delta(kept.select("fp").distinct(), batch_id, idx)


def stream_chunk_dedup(spark, in_dir: str, out_dir: str, index_dir: str,
                       checkpoint_dir: str, gate=None):
    """File-source streaming topology: JSONL documents in ->
    incrementally chunk-deduped corpus out.  Returns the started query
    (caller stops it)."""
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1)
              .json(in_dir))
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        rewrite_batch_against_index(
            df, bid, out_dir, index_dir, gate=gate)))
