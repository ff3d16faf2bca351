"""Streaming assembly: file-source harness + foreachBatch sinks.

Replaces the reference's two sinks:
- console append sink (preprocessing_streaming.py:164-170) — available
  via streaming.kafka.write_console;
- the consumer's rewrite-the-whole-JSON-file-per-message ring buffer
  (kafka_consumer_simple.py:49-61,146) — replaced by a foreachBatch
  parquet append + bounded "latest-N" compaction (no O(N) write
  amplification; at scale the sink is a partitioned parquet/Delta table
  and the latest-N view is a query, not a file rewrite).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..pipeline import enrich_posts
from ..schemas import POST_SCHEMA


def read_posts_json_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """JSON-lines file source with the declared post schema (streaming
    file sources require explicit schemas)."""
    return spark.readStream.schema(POST_SCHEMA).json(in_dir)


def enriched_stream(stream: DataFrame) -> DataFrame:
    """The same enrichment chain as batch (pipeline.enrich_posts) — one
    code path for both, which is the parity test's whole point."""
    return enrich_posts(stream, with_processed_at=False)


def write_batch(batch_df: DataFrame, batch_id: int, out_dir: str,
                latest_n: int | None = None) -> None:
    """The ``run_to_parquet`` foreachBatch body.

    Exactly-once on replay: each micro-batch lands in its own
    ``batch_id=N`` partition of ``all`` via dynamic partition
    overwrite, so a batch retried after a partial write (worker crash
    between write and checkpoint commit) overwrites ITS OWN partition
    instead of appending duplicates — a plain mode("append") here is
    only at-least-once."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{out_dir}/all")
    )
    if latest_n:
        _refresh_latest(batch_df, batch_id, out_dir, latest_n)


def _refresh_latest(batch_df: DataFrame, batch_id: int, out_dir: str,
                    n: int) -> None:
    """Keep ``latest`` = the newest ``n`` rows of ``all`` by
    (created_utc, id) desc, incrementally: the previous ``latest``
    minus its rows of this batch (so a replay cannot count them twice)
    unioned with this batch's partition — O(n + batch) rows per batch,
    not a sort of the whole table.  Without a ``latest`` (first batch,
    or a crash between the two renames below) it is recomputed from
    ``all``."""
    part = f"{out_dir}/all/batch_id={batch_id}"
    if not os.path.isdir(part):  # an empty batch writes no partition
        return
    latest = f"{out_dir}/latest"
    spark = batch_df.sparkSession
    schema = T.StructType(
        [*batch_df.schema, T.StructField("batch_id", T.IntegerType())])
    if os.path.isdir(latest):
        rows = (spark.read.schema(schema).parquet(latest)
                .where(F.col("batch_id") != batch_id)
                .unionByName(spark.read.schema(schema)
                             .option("basePath", f"{out_dir}/all").parquet(part)))
    else:
        rows = spark.read.schema(schema).parquet(f"{out_dir}/all")
    # written beside `latest` and renamed into place: a reader never
    # lists a half-written table, and misses it only between the renames
    new, old = f"{out_dir}/_latest_new", f"{out_dir}/_latest_old"
    rows.orderBy(F.desc("created_utc"), F.desc("id")).limit(n) \
        .write.mode("overwrite").parquet(new)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(latest):
        os.rename(latest, old)
    os.rename(new, latest)
    shutil.rmtree(old, ignore_errors=True)


def run_to_parquet(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                  latest_n: int | None = None, trigger_once: bool = False):
    """foreachBatch ``write_batch`` to parquet; optionally maintain a
    compacted 'latest N' side table per micro-batch (the ring-buffer
    replacement).  Uses availableNow so tests drain the source and
    terminate."""
    writer = (
        stream.writeStream
        .foreachBatch(lambda df, bid: write_batch(df, bid, out_dir, latest_n))
        .option("checkpointLocation", checkpoint_dir)
    )
    # trigger_once: one micro-batch then stop — for unbounded sources
    # (e.g. the poll connector) where availableNow never drains.
    writer = (writer.trigger(once=True) if trigger_once
              else writer.trigger(availableNow=True))
    return writer.start()
