"""Serving-layer maintenance (SURVEY.md §3.3 / build-plan M6).

The reference dashboard re-aggregates the whole retained file on every
HTTP request (dashboard/app.py:16-28,93-97).  Here each micro-batch
runs ONE Spark job: ``fold_batch`` collects the batch's per-group
additive partials, adds them to the running state in the driver and
publishes it as one JSON file stamped ``through`` = batch_id, via
tmp-file + ``os.replace`` (the manifest idiom of streaming/compaction.py):
readers never see a missing or half-written state, and a batch replayed
after a crash between publish and checkpoint commit is a no-op.
``serve_stats`` builds the ``/api/stats`` payload from that file."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import HIGH_RISK_THRESHOLD, risk_bucket
from ..operators.analytics import RISK_BUCKETS

STATE_FILE = "stats.json"
_SUMS = ("n", "risk_sum", "high_risk",
         *(f"bucket_{i}" for i in range(len(RISK_BUCKETS))))


def batch_partial_stats(batch_df: DataFrame, group_col: str = "subreddit") -> DataFrame:
    """Per-group additive partials for one micro-batch: mergeable by
    simple summation (count/sum/high-risk/bucket counts)."""
    def count_if(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return batch_df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum("risk_score").cast("bigint").alias("risk_sum"),
        count_if(F.col("risk_score") >= HIGH_RISK_THRESHOLD).alias("high_risk"),
        *[count_if(risk_bucket("risk_score") == b).alias(f"bucket_{i}")
          for i, b in enumerate(RISK_BUCKETS)],
    )


def load_state(state_dir: str) -> dict:
    """The published state: ``through`` and one row per group, keyed by a
    row field so a null group survives; ``through = -1`` before any fold."""
    try:
        with open(os.path.join(state_dir, STATE_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"through": -1, "groups": []}


def fold_batch(batch_df: DataFrame, batch_id: int, state_dir: str,
               group_col: str = "subreddit") -> None:
    """The foreachBatch body: fold one micro-batch into the state and
    publish it atomically.  A no-op for an already-folded batch_id."""
    state = load_state(state_dir)
    if state["through"] >= batch_id:
        return
    groups = {g.pop("key"): g for g in state["groups"]}
    for r in batch_partial_stats(batch_df, group_col).collect():
        g = groups.setdefault(r[group_col], dict.fromkeys(_SUMS, 0))
        for c in _SUMS:
            g[c] += r[c] or 0
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, STATE_FILE)
    with open(path + ".tmp", "w") as f:
        json.dump({"through": batch_id,
                   "groups": [{"key": k, **g} for k, g in groups.items()]}, f)
    os.replace(path + ".tmp", path)  # the commit point


def maintain_stats(stream: DataFrame, state_dir: str, checkpoint_dir: str,
                   group_col: str = "subreddit"):
    """``fold_batch`` over ``stream``; ``state_dir`` pairs with
    ``checkpoint_dir`` (a fresh checkpoint restarts batch ids at 0)."""
    return (stream.writeStream
            .foreachBatch(lambda df, bid: fold_batch(df, bid, state_dir, group_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def serve_stats(spark: SparkSession, state_dir: str,
                group_col: str = "subreddit") -> dict:
    """The /api/stats payload (dashboard/app.py:77-85) from the published
    state, with no Spark job (``spark``, ``group_col`` keep the signature);
    the zero payload before any fold, as the reference on a missing file."""
    groups = load_state(state_dir)["groups"]
    tot = {c: sum(g[c] for g in groups) for c in _SUMS}
    return {
        "total_posts": tot["n"],
        "avg_risk_score": round(tot["risk_sum"] / tot["n"], 2) if tot["n"] else 0.0,
        "high_risk_count": tot["high_risk"],
        "by_subreddit": {
            g["key"]: {"count": g["n"], "total_risk": g["risk_sum"],
                       "avg_risk": round(g["risk_sum"] / g["n"], 2)}
            for g in groups},
        "risk_distribution": {b: tot[f"bucket_{i}"]
                              for i, b in enumerate(RISK_BUCKETS)},
    }
