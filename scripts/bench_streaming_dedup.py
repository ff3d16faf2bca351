"""Micro-batch throughput harness for the incremental (streaming) dedup
paths (VERDICT r2 item 6): the batch twins are timed in bench.py, but
the streaming foreachBatch bodies — probe a PERSISTED index, accept,
append the index delta — only had pytest coverage.  This measures them.

Method: split the sf documents (and embeddings) table into N
micro-batches by id-modulus and push each batch through the real
foreachBatch body against a fresh on-disk index, exactly the code the
streaming topologies run (streaming/chunkdedup.py rewrite_batch_...,
streaming/neardup.py dedup_batch_... / dedup_embeddings_...).  Reported
rows/s includes the index probe join AND the two exactly-once parquet
writes per batch — the honest end-to-end number.  Batches run
sequentially (as a stream would), so per-batch wall also shows whether
cost grows as the index accumulates earlier batches.

Usage: python scripts/bench_streaming_dedup.py [sf_dir] [n_batches]
Prints one JSON line; bench.py embeds the same dict in BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_path(name, batches, body) -> dict:
    """Feed batches sequentially through a foreachBatch body; time each."""
    walls = []
    for bid, bdf in enumerate(batches):
        t0 = time.monotonic()
        body(bdf, bid)
        walls.append(round(time.monotonic() - t0, 3))
    return {"batch_sec": walls, "total_sec": round(sum(walls), 3)}


def run(spark, sf_dir: str, n_batches: int = 4) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming.chunkdedup import (
        rewrite_batch_against_index)
    from mental_health_bigdata_project_spark.streaming.neardup import (
        dedup_batch_against_index, dedup_embeddings_against_index)
    from mental_health_bigdata_project_spark.streaming.setsimdedup import (
        dedup_setsim_batch_against_index)
    from mental_health_bigdata_project_spark.streaming.spandedup import (
        rewrite_spans_batch_against_index)

    from mental_health_bigdata_project_spark.streaming.upsert import (
        upsert_batch)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    doc_batches = [
        docs.filter(F.col("doc_id") % n_batches == k).localCheckpoint()
        for k in range(n_batches)]
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_vecs = emb.count()
    emb_batches = [
        emb.filter(F.col("vec_id") % n_batches == k).localCheckpoint()
        for k in range(n_batches)]
    # CDC event stream for the keyed-upsert sink: error rows delete
    # the key, everything else upserts (merge_upsert_cdc's mapping)
    cdc = (load_table(spark, sf_dir, "events")
           .select("user_id", "ts", F.col("event_id").alias("seq"),
                   F.when(F.col("event_type") == "error", "D")
                   .otherwise("U").alias("op"), "value"))
    n_events = cdc.count()
    cdc_batches = [
        cdc.filter(F.col("seq") % n_batches == k).localCheckpoint()
        for k in range(n_batches)]

    out = {"sf_dir": sf_dir, "n_batches": n_batches,
           "docs": n_docs, "vectors": n_vecs, "paths": {}}
    root = tempfile.mkdtemp(prefix="stream_dedup_bench_")
    try:
        paths = {
            "chunk_dedup": (doc_batches, n_docs, lambda bdf, bid:
                            rewrite_batch_against_index(
                                bdf, bid, f"{root}/chunk/out",
                                f"{root}/chunk/idx")),
            "lsh_near_dedup": (doc_batches, n_docs, lambda bdf, bid:
                               dedup_batch_against_index(
                                   bdf, bid, f"{root}/lsh/out",
                                   f"{root}/lsh/idx")),
            "embedding_dedup": (emb_batches, n_vecs, lambda bdf, bid:
                                dedup_embeddings_against_index(
                                    bdf, bid, f"{root}/emb/out",
                                    f"{root}/emb/idx")),
            # overlapping-gram span dedup: the densest index (~1 fp per
            # token vs 1 per 30 for chunks) — the path whose per-batch
            # cost growth most needs watching
            "span_dedup": (doc_batches, n_docs, lambda bdf, bid:
                           rewrite_spans_batch_against_index(
                               bdf, bid, f"{root}/span/out",
                               f"{root}/span/idx")),
            # keyed upsert: bucket-pruned state reads + dynamic
            # partition overwrites per batch
            "keyed_upsert": (cdc_batches, n_events, lambda bdf, bid:
                             upsert_batch(bdf, bid, f"{root}/upsert")),
            # exact setsim: prefix-index probe + array_intersect
            # verify — the only EXACT near-dup stream (no LSH bands)
            "setsim_exact_dedup": (doc_batches, n_docs, lambda bdf, bid:
                                   dedup_setsim_batch_against_index(
                                       bdf, bid, f"{root}/setsim/out",
                                       f"{root}/setsim/idx")),
        }
        for name, (batches, n_rows, body) in paths.items():
            stats = _run_path(name, batches, body)
            stats["rows_per_sec"] = round(n_rows / stats["total_sec"], 1)
            out["paths"][name] = stats
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from pyspark.sql import SparkSession

    from mental_health_bigdata_project_spark.session import ensure_runtime_confs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_confs(spark)
    print(json.dumps(run(spark, sf_dir, n_batches)))


if __name__ == "__main__":
    main()
