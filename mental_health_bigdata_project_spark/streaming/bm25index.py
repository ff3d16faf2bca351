"""Incremental BM25 index over a document stream.

The streaming face of plans/retrieval.sim_bm25_topk: each micro-batch
appends postings / doc-length / corpus-stat DELTAS to a persisted
parquet index; queries are served from the index with the SAME
scoring core (``plans.retrieval.bm25_rank_df``), so streaming-equals-
batch parity holds by construction and is pinned by test.

Index layout under ``index_dir`` (all three are per-batch deltas;
nothing reads prior index state during indexing, so the delta-log
contract in ``compaction.py`` makes replay exactly-once with no
``before_batch`` pruning needed):

- ``postings/``  (token, doc_id, tf)  partitioned by (batch_id, bucket)
  where bucket = crc32(token) % N_BUCKETS.  A query probe prunes to
  its terms' bucket partitions — at 100 TB the probe reads ~1/64th of
  the postings files per term instead of the whole index.  (crc32 is
  a stable public hash; Spark's internal ``hash`` would also do, but
  crc32 keeps the layout reproducible outside Spark.)
- ``doclen/``    (doc_id, dl)      partitioned by batch_id.
- ``stats/``     (n_docs, sum_dl)  one row per batch; corpus N/avgdl
  at serve time is a sum over this metadata-sized table, so serving
  never scans ``doclen``.

Assumes doc_ids are unique across the stream (upstream dedup_by_id /
streaming dedup topologies enforce this); re-ingesting a doc_id would
double-count exactly like any log-structured index before compaction.

Deletes (round 7, the annindex.py recipe): a tombstone batch — its own
micro-batch counter — records the doomed doc_ids and writes NEGATIVE
corpus-stat partials computed from their stored doclen rows
(``stats_neg/``).  Serving anti-joins postings/doclen against the
tombstones and folds stats + stats_neg, so N, avgdl AND every
per-token doc frequency (recomputed from the surviving postings) equal
an index that never ingested the deleted docs — BM25 scores
bit-identical to never-ingested, pinned in test.  Because doc_ids are
unique, no ingest horizon is needed (unlike the ANN index): a doomed
doc's rows are the same whenever the delete replays.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.retrieval import bm25_rank_df
from ..plans.textops import tokens_col
from .compaction import read_index, run_available_now, write_delta

N_BUCKETS = 64


def _bucket(token_col):
    return F.pmod(F.crc32(token_col), F.lit(N_BUCKETS)).cast("int")


def index_batch(batch_df: DataFrame, batch_id: int,
                index_dir: str) -> None:
    """One micro-batch of index maintenance (the foreachBatch body,
    callable directly for tests / backfills).  ``batch_df`` needs
    (doc_id, text)."""
    toks = (batch_df.select("doc_id", F.explode(tokens_col())
                            .alias("token")))
    tf = (toks.groupBy("doc_id", "token")
          .agg(F.count("*").cast("bigint").alias("tf")))
    dl = (toks.groupBy("doc_id")
          .agg(F.count("*").cast("bigint").alias("dl")))

    write_delta(tf.withColumn("bucket", _bucket(F.col("token"))), batch_id,
                os.path.join(index_dir, "postings"),
                partition_by=("batch_id", "bucket"))
    write_delta(dl, batch_id, os.path.join(index_dir, "doclen"))
    write_delta(dl.agg(F.count("*").cast("bigint").alias("n_docs"),
                       F.sum(F.col("dl").cast("decimal(18,0)"))
                       .cast("decimal(18,0)").alias("sum_dl")),
                batch_id, os.path.join(index_dir, "stats"))


def _read_tombs(spark, index_dir: str, before_batch: int | None = None):
    return read_index(spark, os.path.join(index_dir, "tombs"),
                      ["doc_id"], before_batch=before_batch)


def delete_docs_batch(spark, ids_df: DataFrame, batch_id: int,
                      index_dir: str) -> None:
    """One micro-batch of tombstone deletes (the foreachBatch body of
    the delete stream — an independent batch counter from ingest).
    Writes the negative corpus-stat delta first and the tombstones
    last (the commit point); a crash between the two leaves
    unreferenced negatives the retry overwrites in place.  Already-
    tombstoned ids are excluded so a double delete cannot
    double-subtract.

    Replay short-circuit: if this batch's OWN tombstone partition is
    already committed, the write order guarantees its stats_neg delta
    committed before it, so the whole batch is a NO-OP.  This is what
    makes compaction free to purge postings/doclen with ALL
    tombstones (including delete batches the stream checkpoint has
    not yet committed): without it, a replay after such a purge would
    find no doclen rows for its ids and overwrite its stats_neg
    partition with zero partials — silently undoing the deletion in
    served N/avgdl while the positive stats still count the docs.

    Deletes and compaction must not run concurrently: nothing here
    locks against a compaction, and a delete racing one can read
    doclen while its manifest swaps and under-subtract."""
    own_dir = os.path.join(index_dir, "tombs", f"batch_id={batch_id}")
    if os.path.isdir(own_dir):
        return
    ids = ids_df.select("doc_id").distinct()
    prior = _read_tombs(spark, index_dir, before_batch=batch_id)
    if prior is not None:
        ids = ids.join(prior, "doc_id", "left_anti")
    dl = read_index(spark, os.path.join(index_dir, "doclen"),
                    ["doc_id", "dl"])
    if dl is None:
        raise FileNotFoundError(f"no doclen table under {index_dir}")
    # tombstone only ids the index actually holds: a delete of a
    # never-ingested id must be a NO-OP, or a later ingest of that id
    # would be killed by the anti-join while its stats contribution
    # was never subtracted (the drift the ANN index prevents with its
    # horizon; doc uniqueness lets BM25 prevent it by intersection)
    ids = (ids.join(dl.select("doc_id"), "doc_id", "left_semi")
           .localCheckpoint(eager=True))
    doomed = dl.join(ids, "doc_id", "left_semi")
    write_delta(doomed.agg((-F.count("*")).cast("bigint").alias("n_docs"),
                           (-F.sum(F.col("dl").cast("decimal(18,0)")))
                           .cast("decimal(18,0)").alias("sum_dl")),
                batch_id, os.path.join(index_dir, "stats_neg"))
    write_delta(ids, batch_id,
                os.path.join(index_dir, "tombs"))  # the commit point


def bm25_query(spark, index_dir: str,
               queries: list[tuple[int, str]], k: int = 10) -> DataFrame:
    """Serve BM25 top-k per query from the persisted index.

    ``queries`` is a (query_id, term) workload like
    plans.retrieval._BM25_QUERIES.  The postings read is partition-
    pruned to the query terms' buckets BEFORE any scan (bucket is a
    partition column, so the filter never touches non-matching files);
    corpus stats come from the per-batch rollup, not a doclen scan.
    Scoring is plans.retrieval.bm25_rank_df — bit-identical to the
    batch plan.

    Querying an index no batch has committed to yet (stream bring-up,
    or a first write that died leaving only ``_temporary``) returns an
    EMPTY top-k rather than leaking AnalysisException to the serving
    layer — the same missing-path contract as ``read_index``; any
    other read failure (corrupt footers, permissions) still raises."""
    qt = spark.createDataFrame(queries, "query_id int, term string")
    terms = sorted({t for _, t in queries})
    import zlib
    buckets = sorted({zlib.crc32(t.encode()) % N_BUCKETS for t in terms})

    def _live(table, schema):
        df = read_index(spark, os.path.join(index_dir, table), ["*"])
        return df if df is not None else spark.createDataFrame([], schema)

    # read_index resolves compacted-store ∪ deltas when the index has
    # been compacted (streaming/compaction.py); the bucket filter
    # partition-prunes BOTH parts (the compacted store keeps bucket
    # partitioning)
    postings = (_live("postings",
                      "doc_id bigint, token string, tf bigint, "
                      "batch_id int, bucket int")
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("token").isin(terms))
                .select("doc_id", "token", "tf"))
    tombs = _read_tombs(spark, index_dir)
    if tombs is not None:
        # anti-join AFTER the term/bucket prune: the kill applies to
        # probe-sized rows, and the doc frequencies recomputed from the
        # survivors are exactly the never-ingested-the-deleted values
        postings = postings.join(tombs, "doc_id", "left_anti")
    # doc lengths only for docs that matched a query term — the
    # doclen side is semi-join-pruned by the postings probe, so the
    # join never materializes corpus-wide lengths
    dl_all = (_live("doclen", "doc_id bigint, dl bigint, batch_id int")
              .select("doc_id", "dl"))
    dl = dl_all.join(postings.select("doc_id").distinct(), "doc_id",
                     "left_semi")
    stats_all = _live("stats",
                      "n_docs bigint, sum_dl decimal(18,0), batch_id int")
    neg = _live("stats_neg",
                "n_docs bigint, sum_dl decimal(18,0), batch_id int")
    stats = (stats_all.unionByName(neg)
             .agg(F.sum("n_docs").cast("bigint").alias("n"),
                  (F.sum("sum_dl").cast("double")
                   / F.sum("n_docs")).alias("avgdl")))
    ranked = bm25_rank_df(qt, postings, dl, stats)
    return ranked.filter(F.col("rank") <= k)


def stream_bm25_index(spark, in_dir: str, index_dir: str,
                      checkpoint_dir: str):
    """File-source streaming topology: JSONL documents in -> BM25
    index deltas out.  Returns the started query (caller stops it)."""
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1)
              .json(in_dir))
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        index_batch(df, bid, index_dir)))
