"""Incremental substring-SPAN dedup over a document stream.

The streaming face of plans/textops.dedup_substring_rewrite: each
micro-batch's documents lose every token position covered by a merged
duplicate span, where a window is a duplicate if its 8-token-gram
fingerprint was retained by an earlier batch (persisted gram index) or
occurred earlier in this batch (the retain-one occ_key rule).  A
document that is entirely boilerplate comes back as an empty string —
ExactSubstr subsumes exact-document dedup incrementally too.

Design (foreachBatch + a persisted fingerprint index, NOT per-row
state — the streaming/chunkdedup.py recipe at gram granularity):

- Tokenize/fingerprint/merge/rewrite are the plans/textops span
  helpers — the identical expressions the batch oracle gate
  value-checks (span_grams_df, merge_spans_df, span_rewrite_df).
- The index stores only gram fp strings (32-char md5), partitioned by
  the micro-batch that first saw them.  Overlapping grams make this
  index denser than the chunk index (~1 fp per token vs per 30); real
  deployments drop it into a bloom filter — the probe below is already
  the hash-join shape a bloom pushdown accelerates.
- Exactly-once on replay: the delta-log contract in
  ``compaction.py``.  The delta is the set of fps FIRST seen this
  batch — exactly what must block future batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.textops import (merge_spans_df, span_grams_df,
                             span_rewrite_df, span_tokens_df, _SPAN_K)
from .compaction import read_index, run_available_now, write_delta


def _index_path(index_dir: str) -> str:
    return os.path.join(index_dir, "span_gram_fps")


def rewrite_spans_batch_against_index(batch_df: DataFrame, batch_id: int,
                                      out_dir: str, index_dir: str,
                                      gate=None) -> None:
    """One micro-batch of incremental span dedup (the foreachBatch
    body, callable directly for tests / backfills).  ``batch_df`` needs
    (doc_id, text); ``gate`` (optional DataFrame -> DataFrame) runs
    before fingerprinting so rejected docs cannot claim
    first-occurrence slots."""
    spark = batch_df.sparkSession
    if gate is not None:
        batch_df = gate(batch_df)
    t = span_tokens_df(batch_df)
    # pin the overlapping-gram relation (~1 row per token) once: it
    # feeds the prior-hit semi-join, the fresh anti-join (both writes)
    # and the index delta — the same pin the batch _span_frames uses
    grams = span_grams_df(t).localCheckpoint(eager=True)

    idx = _index_path(index_dir)
    seen = read_index(spark, idx, ["h"], before_batch=batch_id)
    seen = seen.distinct() if seen is not None else None

    # windows duplicated against PRIOR batches: every occurrence is cut
    # (the retained copy already lives in the accepted output)
    prior_hits = (grams.join(seen, "h", "semi")
                  if seen is not None else None)

    # windows duplicated WITHIN this batch: the skew-safe (count,
    # min(occ_key)) aggregate — hot boilerplate grams collapse map-side
    fresh = (grams.join(seen, "h", "left_anti")
             if seen is not None else grams)
    gstat = fresh.groupBy("h").agg(F.count("*").alias("cnt"),
                                   F.min("occ_key").alias("first_key"))
    batch_hits = (fresh.join(gstat, "h")
                  .filter((F.col("cnt") >= 2)
                          & (F.col("occ_key") != F.col("first_key"))))

    dup_occurrences = (prior_hits.unionByName(batch_hits
                                              .select(*prior_hits.columns))
                       if prior_hits is not None else batch_hits)
    dupw = dup_occurrences.select(
        "doc_id", "s", (F.col("s") + _SPAN_K - 1).alias("e"))
    spans = merge_spans_df(dupw)
    rebuilt = span_rewrite_df(t, spans)

    write_delta(rebuilt, batch_id, os.path.join(out_dir, "accepted"))
    # index delta: fps first seen this batch (novel grams, one row
    # each) — duplicates of prior batches are already indexed
    write_delta(fresh.select("h").distinct(), batch_id, idx)


def stream_span_dedup(spark, in_dir: str, out_dir: str, index_dir: str,
                      checkpoint_dir: str, gate=None):
    """File-source streaming topology: JSONL documents in ->
    incrementally span-deduped corpus out.  Returns the started query
    (caller stops it)."""
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1)
              .json(in_dir))
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        rewrite_spans_batch_against_index(
            df, bid, out_dir, index_dir, gate=gate)))
