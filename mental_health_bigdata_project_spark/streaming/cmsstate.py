"""Streaming Count-Min Sketch state: approximate hot-token counts over
an unbounded document stream with bounded (d x w) state.

The fourth member of the mergeable-state family and the streaming face
of plans/textops.sketch_cms_token_freq: each micro-batch reduces its
token stream to the SAME d x w counter table the batch sketch builds
(cms_bucket_rows / cms_table — the expressions the oracle gate
value-checks), written as a ``batch_id=N`` delta of at most d*w rows.
Serving sums the deltas per (row_i, bucket) — CMS counters merge by
plain addition — and answers point queries with the standard
min-over-rows read, so the served estimate equals the batch sketch
computed over the union of every ingested batch, by construction.

Family ledger: hllcount.py merges registers by MAX, momentstate.py
moments by SUM, histstate.py bucket counts by SUM, this merges CMS
counters by SUM.  Exactly-once is the delta-log contract in
``compaction.py``; ``compact_cms_index`` sum-folds the delta log back
to one row per live counter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.textops import (_CMS_D, cms_bucket_col, cms_bucket_rows,
                             cms_table, tokens_col)
from .compaction import (compact_index, read_state, run_available_now,
                         write_delta)


def _cms_path(index_dir: str) -> str:
    return os.path.join(index_dir, "cms")


def _fold(live: DataFrame) -> DataFrame:
    """Per-(row_i, bucket) counter sums."""
    grp = [c for c in live.columns if c != "n"]
    return live.groupBy(*grp).agg(F.sum("n").cast("bigint").alias("n"))


def cms_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
              text_col: str = "text") -> None:
    """One micro-batch of CMS maintenance (the foreachBatch body,
    callable directly for tests / backfills)."""
    toks = batch_df.select(F.explode(tokens_col(text_col)).alias("token"))
    write_delta(cms_table(cms_bucket_rows(toks)), batch_id,
                _cms_path(index_dir))


def read_estimates(spark, index_dir: str, tokens: list[str]) -> DataFrame:
    """(token, est_n) point queries against the summed counter table —
    the min-over-d-rows CMS read.  est_n never undercounts the true
    stream frequency (pinned by test, as in the batch sketch).

    Probe tokens are lowercased before hashing: ingestion tokenizes
    through ``tokens_col`` (which lowercases), so a verbatim-hashed
    uppercase probe would silently query the wrong buckets and
    UNDERCOUNT — violating the one guarantee CMS gives.  For the same
    reason every probe must survive its OWN tokenization unchanged
    (modulo case): a probe containing whitespace or characters the
    tokenizer splits/strips can never correspond to an ingested
    token, and its min-over-buckets read would return some other
    tokens' collision counts as a meaningless "estimate" — such
    probes raise ValueError instead.

    One plan, one scan: the probe explodes to (token, row_i, bucket)
    rows and joins the merged counter table ONCE — building the d
    row-tables as separate joins would re-aggregate the whole delta
    log d times per serve (the reused-subframes-re-execute rule)."""
    merged = read_state(spark, _cms_path(index_dir), _fold)
    raw = spark.createDataFrame([(t,) for t in tokens], "token string")
    # NULL-safe: for a None probe the == predicate is NULL, ~NULL is
    # NULL, and a bare filter() would silently DROP the row instead of
    # rejecting it — catch NULL probes explicitly
    bad = [r[0] for r in (raw.withColumn("_toks", tokens_col("token"))
                          .filter(F.col("token").isNull()
                                  | ~((F.size("_toks") == 1)
                                      & (F.element_at("_toks", 1)
                                         == F.lower("token"))))
                          .select("token").collect())]  # bounded: len(tokens)
    if bad:
        raise ValueError(
            f"probe tokens are not single tokenizer tokens: {bad!r}; "
            f"CMS estimates are only meaningful for tokens tokens_col "
            f"can produce")
    probe = (raw
             .withColumn("_lt", F.lower("token"))
             .select("token", F.posexplode(F.array(*[
                 cms_bucket_col(i, "_lt") for i in range(_CMS_D)]))
                 .alias("row_i", "bucket")))
    return (probe.join(F.broadcast(merged), ["row_i", "bucket"], "left")
            .groupBy("token")
            .agg(F.min(F.coalesce("n", F.lit(0))).cast("bigint")
                 .alias("est_n")))


def run_incremental_cms(stream: DataFrame, checkpoint_dir: str,
                        index_dir: str, **kwargs):
    """Attach the CMS-maintenance sink to a document stream and drain
    available input (availableNow)."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        cms_batch(df, bid, index_dir, **kwargs)))


def compact_cms_index(spark, index_dir: str, through: int) -> dict:
    """Sum-fold compaction to one row per live (row_i, bucket)."""
    return compact_index(spark, _cms_path(index_dir), through,
                         transform=_fold)
