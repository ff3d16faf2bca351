"""Incremental EXACT set-similarity dedup over a document stream.

The streaming face of ``plans/textops.dedup_setsim_prefix``: each
micro-batch drops documents whose token-3-gram Jaccard with anything
already accepted (or with a lower-id batch-mate) reaches the
threshold — exact, not LSH: every drop is backed by a full
``array_intersect`` verification, so there are no false positives and
the prefix filter guarantees no false negatives.

Design (foreachBatch + two persisted index tables, NOT per-row state):

- **Element order**: the batch query orders each doc's shingles
  rarest-first by corpus document frequency — the best-pruning order,
  but df DRIFTS as a stream grows, and a prefix index written under
  yesterday's order would be unsound against today's.  Prefix
  filtering is exact under ANY fixed total order, so the streaming
  store keeps one content-defined order, (md5(shingle), shingle), for
  its whole life: data-independent pruning (a random permutation)
  instead of optimal, and compaction never re-sorts.  A store whose
  prefix rows an earlier layout re-sorted by document frequency is
  refused before any write; rebuild it by replaying its source.
- **Index tables** under ``index_dir``: ``prefix`` rows
  (shingle, doc_id, p, sz) — one row per PREFIX element of each
  accepted doc (~(1-t)·|s|+1 of them), the candidate-probe side,
  partitioned by (batch_id, bucket) where bucket =
  crc32(shingle) % N_BUCKETS (the bm25index layout): the prior-probe
  prunes to the buckets the batch's own prefix shingles touch before
  any scan, and at cluster scale the same bucketing is the
  storage-partitioned-join layout that keeps the probe's shuffle
  one-sided.  (Honest bound: a text batch beyond a few dozen docs
  has enough distinct shingles to touch ALL buckets — the pruning
  pays off for narrow/trickle batches and for the compacted store's
  file layout, not for bulk backfills; the dedicated sweep in
  SCALING.md §2 quantifies both.)  And ``arrs`` rows
  (doc_id, arr, sz) — the full sorted element arrays, partitioned by
  batch_id, read ONLY for the candidates' verification join: the
  read pushes an ``isin`` on the candidates' (few, output-bound)
  prior doc_ids down to the parquet scan when the candidate set is
  small enough to collect (cap ``_MAX_ID_PUSHDOWN``), so the
  wide-array column is fetched for candidate rows instead of the
  whole accepted corpus.
- **Re-ingestion policy**: accepted output is NOT unique on doc_id
  under re-ingestion.  A doc_id arriving again with content that
  still reaches J >= t against the accepted corpus (including its own
  earlier row) is dropped as a duplicate; if its content changed
  below threshold it is accepted AGAIN, leaving two accepted rows
  with that doc_id in different batch_id partitions — the
  log-structured contract (same as the BM25 index's double-count
  note).  Upstream dedup_by_id / CDC upsert topologies are the
  uniqueness layer.
- **Exactly-once on replay**: accepted output and both index deltas
  are ``batch_id=N`` deltas, and every index read prunes
  ``batch_id < N`` (``read_index``'s before_batch) — the delta-log
  contract in ``compaction.py``.

Within-batch semantics are greedy keep-min: a doc is dropped if any
verified duplicate pair links it to a lower doc_id (or to any prior
accepted doc).  On a chain A~B~C with A!~C this over-deletes C — the
same documented trade-off as the LSH twin; the batch path resolves
chains via dedup_cluster_components.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.textops import (setsim_candidates_between, setsim_prefix_rows,
                             setsim_shingles, setsim_verify_pairs, tokens_col)
from .compaction import (_check_through, compact_index, load_manifest,
                         read_index, run_available_now, write_delta)

_T = 0.5
N_BUCKETS = 16          # shingle-hash partitions of the prefix index
_MAX_ID_PUSHDOWN = 20_000   # cap on the candidate-id isin pushdown


def _bucket(col):
    return F.pmod(F.crc32(col), F.lit(N_BUCKETS)).cast("int")


def _prefix_path(index_dir: str) -> str:
    return os.path.join(index_dir, "prefix")


def _arrs_path(index_dir: str) -> str:
    return os.path.join(index_dir, "arrs")


def _refuse_resorted(index_dir: str) -> None:
    """Raise before any write when the store's prefix rows were
    re-sorted by document frequency (an earlier layout): probing them
    in md5 order would silently miss duplicates."""
    if "dforder_dir" in (load_manifest(_prefix_path(index_dir)) or {}):
        raise ValueError(
            f"setsim store {index_dir} was re-sorted by document "
            f"frequency under an earlier layout; rebuild it by replaying "
            f"its source")


def setsim_arrays(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, arr, sz): per-doc element arrays sorted in the store's one
    fixed order, (md5(shingle), shingle) ascending.  Docs with no
    shingles (<3 tokens) produce no row."""
    d = df.select(F.col(id_col).alias("doc_id"),
                  tokens_col(text_col).alias("toks"))
    return (setsim_shingles(d).groupBy("doc_id")
            .agg(F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.md5("shingle").alias("h"),
                             F.col("shingle")))),
                lambda s: s["shingle"]).alias("arr"))
            .withColumn("sz", F.size("arr")))


def compact_setsim_index(spark, index_dir: str, through: int) -> dict:
    """Compact both setsim index tables through ``through``.

    The prefix store MUST keep ``partition_by=["bucket"]`` (the probe's
    partition pruning); this helper exists so callers can't forget it.
    ``through`` is validated against BOTH tables before anything is
    written, so a rejected horizon leaves the store unchanged."""
    _refuse_resorted(index_dir)
    prefix_path, arrs_path = _prefix_path(index_dir), _arrs_path(index_dir)
    for p in (prefix_path, arrs_path):
        _check_through(p, through)
    return {
        "prefix": compact_index(spark, prefix_path, through,
                                partition_by=["bucket"]),
        "arrs": compact_index(spark, arrs_path, through),
    }


def dedup_setsim_batch_against_index(batch_df: DataFrame, batch_id: int,
                                     out_dir: str, index_dir: str,
                                     id_col: str = "doc_id",
                                     text_col: str = "text",
                                     t: float = _T) -> None:
    """One micro-batch of incremental exact setsim dedup (the
    foreachBatch body, callable directly for tests / backfills)."""
    _refuse_resorted(index_dir)
    spark = batch_df.sparkSession
    # the shingle->sort pipeline feeds the prefix probe, both index
    # deltas, and the verify joins — materialize once
    arrs = setsim_arrays(batch_df, id_col, text_col) \
        .localCheckpoint(eager=True)
    # feeds the prior probe AND the touched-bucket collect below
    pre = setsim_prefix_rows(arrs, t).localCheckpoint(eager=True)
    # <3-token docs have no element set: nothing can reach J >= t
    # against them, so they are auto-accepted (mirrors the batch twin,
    # whose per_doc index simply never contains them)
    setless = (batch_df.select(F.col(id_col).alias("doc_id"))
               .join(arrs.select("doc_id"), "doc_id", "left_anti"))

    prior_pre = read_index(spark, _prefix_path(index_dir),
                           ["shingle", "doc_id", "p", "sz", "bucket"],
                           before_batch=batch_id)
    prior_arrs = read_index(spark, _arrs_path(index_dir),
                            ["doc_id", "arr", "sz"],
                            before_batch=batch_id)
    # a crash between the two index writes can leave `prefix` committed
    # without `arrs` for the batch being replayed; before_batch pruning
    # already hides that delta, and requiring BOTH tables here keeps the
    # first-batch replay (arrs path absent entirely) well-defined
    if prior_pre is not None and prior_arrs is not None:
        # candidates need shingle EQUALITY with a batch prefix element,
        # so prior rows outside the batch's shingle-hash buckets can't
        # match: prune the (bucket-partitioned) index read to touched
        # buckets.  The collect is bounded by N_BUCKETS rows.
        touched = sorted(r[0] for r in pre.select(
            _bucket(F.col("shingle")).alias("bucket")).distinct().collect())
        prior_pre = (prior_pre.filter(F.col("bucket").isin(touched))
                     .drop("bucket"))
        # batch side probes the accepted-corpus index: pin a shuffled
        # hash join — the index outgrows broadcast (the SCALING.md §2b
        # flapping lesson from the LSH twin).  The hint sits on the
        # BATCH side so IT is the hash-map build side: hinting the
        # index side (the round-4 form) builds the map from the
        # unbounded relation and OOMs once the corpus outgrows
        # per-partition memory (reproduced at 8x sf0.1x10:
        # "not enough memory to build hash map").  Build from the
        # bounded batch, stream the index — the only orientation that
        # survives an ever-growing accepted corpus.
        cand = setsim_candidates_between(
            pre.hint("shuffle_hash"), prior_pre, F.lit(True), t) \
            .localCheckpoint(eager=True)
        # verification needs the wide `arr` column only for candidate
        # prior docs — an output-bound set.  When small enough to
        # collect, push the id list into the scan (row-group stats
        # skip non-candidate files); past the cap, fall back to the
        # plain join (the shuffle still only moves candidate rows'
        # worth after the join, the scan is the cost being saved).
        cand_ids = [r[0] for r in (cand.select("doc_b").distinct()
                                   .limit(_MAX_ID_PUSHDOWN + 1).collect())]
        if len(cand_ids) <= _MAX_ID_PUSHDOWN:
            prior_arrs = prior_arrs.filter(F.col("doc_id").isin(cand_ids))
        dup_prior = setsim_verify_pairs(cand, arrs, prior_arrs, t)
        dropped = dup_prior.select(F.col("doc_a").alias("doc_id")).distinct()
        # the prior-probe join + verify is the batch's expensive cross-
        # corpus work and `live` feeds FIVE consumers below (the
        # within-batch prefix rows, both verify sides, the kept
        # anti-join) — materialize it once
        live = (arrs.join(dropped, "doc_id", "left_anti")
                .localCheckpoint(eager=True))
    else:
        live = arrs

    # within-batch greedy keep-min among survivors of the prior probe:
    # any verified pair drops its higher id
    live_pre = setsim_prefix_rows(live, t)
    wcand = setsim_candidates_between(live_pre, live_pre,
                                      F.col("doc_a") > F.col("doc_b"), t)
    wdup = setsim_verify_pairs(wcand, live, live, t)
    losers = wdup.select(F.col("doc_a").alias("doc_id")).distinct()
    kept = live.join(losers, "doc_id", "left_anti") \
        .localCheckpoint(eager=True)

    kept_ids = kept.select("doc_id").unionByName(setless)
    accepted = batch_df.join(
        kept_ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi")
    write_delta(accepted, batch_id, os.path.join(out_dir, "accepted"))
    # repartition BY BUCKET before the partitioned write: without it
    # every one of the ~32 write tasks holds rows of every bucket and
    # the delta lands as 64 dirs x 32 tiny files per batch — the
    # listing cost of which grew per-batch walls 17 -> 26 s over 8
    # batches in the first cut of this layout.  Clustered, each bucket
    # dir gets exactly one file per batch.
    write_delta(setsim_prefix_rows(kept, t)
                .withColumn("bucket", _bucket(F.col("shingle")))
                .repartition(F.col("bucket")), batch_id,
                _prefix_path(index_dir),
                partition_by=("batch_id", "bucket"))
    write_delta(kept.select("doc_id", "arr", "sz"), batch_id,
                _arrs_path(index_dir))


def run_incremental_setsim_dedup(stream: DataFrame, out_dir: str,
                                 checkpoint_dir: str, index_dir: str,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 t: float = _T):
    """Attach the incremental exact-setsim sink to a document stream
    and drain available input (availableNow)."""

    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        dedup_setsim_batch_against_index(df, bid, out_dir, index_dir,
                                         id_col, text_col, t)))
