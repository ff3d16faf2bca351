"""Incremental event-transition graph state + streaming PageRank serve.

The streaming face of ``plans/advanced.graph_pagerank_fixed`` (VERDICT
r6 item 4).  State is the WEIGHTED EDGE RELATION — mergeable integer
transition counts, the momentstate pattern — not ranks: PageRank is a
global fixed point, so the serve path folds the edge deltas and runs
the SAME five fixed iterations as the oracle-green batch query
(``pagerank_fixed_from_edges`` is shared verbatim), making
streaming == batch parity an edge-relation-equality statement instead
of a float-drift hope.

Per micro-batch, two log-structured tables:

- ``edges`` deltas: (src, dst, w) transition counts observed in the
  batch — within-batch consecutive pairs per user PLUS the boundary
  pair from each user's last PRIOR event (the frontier) to their first
  event in this batch.  Deltas fold by summation; compaction collapses
  the store to one row per distinct transition regardless of stream
  age (k² rows for k event types — metadata-sized).
- ``frontier`` deltas: each user's newest (ts, event_id, event_type)
  in the batch.  Reads take the per-user newest across all prior
  batches; compaction keeps exactly that row.

Ordering contract: each user's events arrive in nondecreasing
(ts, event_id) order ACROSS batches (standard event-log ingestion;
within a batch order is free — the window sorts).  Under it, the
union of batch sequences is the global sequence, so folded streaming
edges equal ``transition_edges`` over the union — the parity test
pins this through the full rank computation.

NULL semantics mirror the batch query exactly: a NULL event_type row
BREAKS its user's chain (both pairs touching it are dropped) rather
than being filtered out before sequencing — filtering first would
bridge A -> B across a NULL and silently diverge from the windowed
batch semantics.

Exactly-once: batch N reads only ``batch_id < N`` state
(``read_index`` before_batch) and overwrites its own ``batch_id=N``
partitions — the delta-log contract in ``compaction.py``, pinned by
test.

At 100 TB: the corpus is touched once per batch (two narrow windowed
passes); everything persistent is edge-relation- or
active-user-sized.  Serving never re-reads the stream — it reads the
compacted edge store and iterates over k² rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .compaction import (compact_index, read_index, read_state,
                         run_available_now, write_delta)

_EV_COLS = ("user_id", "ts", "event_id", "event_type")


def _edges_path(index_dir: str) -> str:
    return os.path.join(index_dir, "edges")


def _frontier_path(index_dir: str) -> str:
    return os.path.join(index_dir, "frontier")


def _fold_edges(live: DataFrame) -> DataFrame:
    return live.groupBy("src", "dst").agg(F.sum("w").alias("w"))


def _fold_frontier(ev: DataFrame) -> DataFrame:
    """Each user's newest (ts, event_id, event_type) row."""
    return (ev.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type"))
                 .alias("f"))
            .select("user_id", F.col("f.ts").alias("ts"),
                    F.col("f.event_id").alias("event_id"),
                    F.col("f.event_type").alias("event_type")))


def _read_frontier(spark, index_dir: str, batch_id: int):
    """(user_id, last_type): each user's newest prior event — newest
    by (ts, event_id), which under the ordering contract is also the
    newest batch's entry."""
    fr = read_index(spark, _frontier_path(index_dir), list(_EV_COLS),
                    before_batch=batch_id)
    if fr is None:
        return None
    return _fold_frontier(fr).select(
        "user_id", F.col("event_type").alias("last_type"))


def edges_batch(batch_df: DataFrame, batch_id: int,
                index_dir: str) -> None:
    """One micro-batch of edge maintenance (the foreachBatch body,
    callable directly for tests / backfills)."""
    spark = batch_df.sparkSession
    ev = batch_df.select(*_EV_COLS).localCheckpoint(eager=True)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("nxt"))
    within = (seq.filter(F.col("nxt").isNotNull()
                         & F.col("event_type").isNotNull())
              .groupBy(F.col("event_type").alias("src"),
                       F.col("nxt").alias("dst"))
              .agg(F.count("*").cast("double").alias("w")))

    prior = _read_frontier(spark, index_dir, batch_id)
    if prior is not None:
        first = (ev.groupBy("user_id")
                 .agg(F.min(F.struct("ts", "event_id", "event_type"))
                      .alias("f"))
                 .select("user_id", F.col("f.event_type").alias("first_type")))
        boundary = (first.join(prior, "user_id")
                    .filter(F.col("last_type").isNotNull()
                            & F.col("first_type").isNotNull())
                    .groupBy(F.col("last_type").alias("src"),
                             F.col("first_type").alias("dst"))
                    .agg(F.count("*").cast("double").alias("w")))
        delta = (within.unionByName(boundary)
                 .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    else:
        delta = within

    write_delta(delta, batch_id, _edges_path(index_dir))
    write_delta(_fold_frontier(ev), batch_id, _frontier_path(index_dir))


def read_edges(spark, index_dir: str) -> DataFrame:
    """(src, dst, w): the folded edge relation over every ingested
    batch.  Counts are integers carried as doubles (exact below 2^53),
    so the fold is exact and associative."""
    return read_state(spark, _edges_path(index_dir), _fold_edges)


def read_pagerank(spark, index_dir: str) -> DataFrame:
    """Serve (node, outdeg, pagerank): the five fixed iterations of
    the BATCH query over the folded streaming edges — the exact code
    path graph_pagerank_fixed's oracle hash pins."""
    from ..plans.advanced import pagerank_fixed_from_edges

    return pagerank_fixed_from_edges(read_edges(spark, index_dir))


def read_hits(spark, index_dir: str) -> DataFrame:
    """Serve (node, authority, hub) — graph_hits_fixed's five
    max-normalized passes over the same folded edge state, the second
    algorithm the one edge relation serves."""
    from ..plans.advanced import hits_fixed_from_edges

    return hits_fixed_from_edges(read_edges(spark, index_dir))


def read_ppr(spark, index_dir: str) -> DataFrame:
    """Serve (node, ppr) — graph_ppr_fixed's seeded passes over the
    same folded edge state, the third algorithm it serves."""
    from ..plans.advanced import ppr_fixed_from_edges

    return ppr_fixed_from_edges(read_edges(spark, index_dir))


def run_incremental_pagerank(stream: DataFrame, checkpoint_dir: str,
                             index_dir: str):
    """Attach the edge-maintenance sink to an events stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        edges_batch(df, bid, index_dir)))


def compact_graph_index(spark, index_dir: str, through: int) -> dict:
    """Compact both tables: edges fold by summation (one row per
    distinct transition), the frontier keeps each user's newest
    event."""
    return {
        "edges": compact_index(spark, _edges_path(index_dir), through,
                               transform=_fold_edges),
        "frontier": compact_index(spark, _frontier_path(index_dir),
                                  through, transform=_fold_frontier),
    }
