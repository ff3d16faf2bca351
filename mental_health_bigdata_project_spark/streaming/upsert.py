"""Streaming keyed upsert: materialize a latest-wins-per-key table
from a CDC event stream — the streaming face of
plans/quality.merge_upsert_cdc, and the scalable replacement for the
reference's rewrite-the-whole-JSON-file-per-message sink
(spark_jobs/kafka_consumer_simple.py:49-61).

Design (foreachBatch + a BUCKET-PARTITIONED parquet state):

- State lives at ``{state_dir}/state`` partitioned by
  ``bucket = pmod(hash(key), n_buckets)``.  A micro-batch only touches
  the buckets its keys hash into: read them back partition-pruned,
  merge, and dynamic-partition-overwrite exactly those bucket
  directories.  At 100 TB of state a small batch rewrites
  touched-buckets/total of it, not the whole table — raise n_buckets
  until a bucket is a comfortable rewrite unit.
- Within a batch, changes compact to latest-wins per key by (ts,
  seq) — the same deterministic ordering as the batch twin; 'D' ops
  delete the key, anything else upserts its value.
- Replay-idempotent WITHOUT a batch_id column: merging the same
  changeset into already-merged state is a fixed point (latest-wins by
  a total order is idempotent, deletes of absent keys are no-ops), so
  a crash-retried micro-batch converges to the same state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from .compaction import read_index, run_available_now

N_BUCKETS = 16


def _state_path(state_dir: str) -> str:
    return os.path.join(state_dir, "state")


def _bucket(key_col: str):
    return F.pmod(F.hash(F.col(key_col)), F.lit(N_BUCKETS)).alias("bucket")


def compact_changes(batch_df: DataFrame, key: str = "user_id") -> DataFrame:
    """Latest change per key in this batch: (key, op, value) — ordered
    by (ts, seq), ties pinned, same rule as merge_upsert_cdc."""
    from pyspark.sql.window import Window
    w = (Window.partitionBy(key)
         .orderBy(F.desc("ts"), F.desc("seq")))
    return (batch_df
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(key, "op", "value"))


def upsert_batch(batch_df: DataFrame, batch_id: int, state_dir: str,
                 key: str = "user_id") -> None:
    """One micro-batch of keyed upsert (the foreachBatch body, callable
    directly for tests/backfills).  ``batch_df`` needs
    (key, ts, seq, op, value) where op is 'D' (delete) or 'U'."""
    spark = batch_df.sparkSession
    changes = compact_changes(batch_df, key).withColumn("bucket",
                                                        _bucket(key))
    changes = changes.localCheckpoint(eager=True)  # read state AFTER this
    touched = [r["bucket"] for r in
               changes.select("bucket").distinct().collect()]
    if not touched:
        return

    path = _state_path(state_dir)
    # None ONLY for "no state yet"; any other read failure (corrupt
    # footer, transient FS error, permissions) re-raises so the
    # checkpoint retries the batch — treating it as empty state would
    # make the dynamic overwrite below silently drop every key in the
    # touched buckets that isn't in this batch
    state = read_index(spark, path, ["*"])
    if state is not None:
        # partition-pruned read of ONLY the touched buckets
        state = state.filter(F.col("bucket").isin(touched))

    c = changes.alias("c")
    if state is not None:
        s = state.alias("s")
        merged = (s.join(c, [key, "bucket"], "full_outer")
                  .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
                  .select(key, "bucket",
                          F.when(F.col("c.op").isNull(), F.col("s.value"))
                          .otherwise(F.col("c.value")).alias("value")))
    else:
        merged = (c.filter(F.col("op") != "D")
                  .select(key, "bucket", "value"))

    merged = merged.localCheckpoint(eager=True)
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket")
     .parquet(path))

    # dynamic overwrite only rewrites partitions PRESENT in the output:
    # a bucket whose every key was deleted ends empty and must be
    # cleared explicitly or its stale rows survive
    present = {r["bucket"] for r in merged.select("bucket")
               .distinct().collect()}
    emptied = set(touched) - present
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for b in emptied:
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/bucket={b}")
            fs = p.getFileSystem(conf)
            fs.delete(p, True)


def stream_keyed_upsert(spark, in_dir: str, state_dir: str,
                        checkpoint_dir: str, key: str = "user_id"):
    """File-source streaming topology: JSONL CDC events in ->
    bucket-partitioned latest-wins state out.  Returns the started
    query (caller stops it)."""
    stream = (spark.readStream
              .schema(f"{key} bigint, ts timestamp, seq bigint, "
                      "op string, value double")
              .option("maxFilesPerTrigger", 1)
              .json(in_dir))
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        upsert_batch(df, bid, state_dir, key=key)))


def read_state(spark, state_dir: str) -> DataFrame | None:
    state = read_index(spark, _state_path(state_dir), ["*"])
    return state.drop("bucket") if state is not None else None
