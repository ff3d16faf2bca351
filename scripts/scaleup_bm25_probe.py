"""10x scale-up measurement for the incremental BM25 index probe.

Method: build the streaming index (streaming/bm25index.py) from the
base `documents` table and from a 10x replica (shifted doc_ids,
unchanged text), each ingested in 4 micro-batches.  At both scales,
serve the fixed query workload two ways:

- pruned:   the shipped ``bm25_query`` — postings read partition-
            prunes to the query terms' crc32 buckets before any file
            opens;
- unpruned: same plan minus the bucket partition filter (token filter
            only), i.e. what the probe would cost if postings were not
            bucket-partitioned.

Records wall per path, the file-level pruning ratio (bucket partitions
the pruned probe may touch vs total postings files), and asserts both
paths return identical top-10s.  On this synthetic corpus every doc
contains most query terms, so MATCHING postings grow ~linearly with
the corpus — the claim under test is not sublinear scoring, it is
that pruning holds the *scan* to the terms' buckets while the other
~(1 - |buckets|/64) of the index is never opened.

Usage: python scripts/scaleup_bm25_probe.py [base_sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
import zlib

sys.path.insert(0, "/root/repo")


def build_index(spark, sf_dir: str, index_dir: str, factor: int,
                n_batches: int = 4) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming.bm25index import (
        index_batch)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shift = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    scaled = None
    for k in range(factor):
        c = docs.select((F.col("doc_id") + F.lit(k * shift))
                        .alias("doc_id"), "text")
        scaled = c if scaled is None else scaled.unionByName(c)
    scaled = scaled.localCheckpoint(eager=True)

    walls = []
    for b in range(n_batches):
        part = scaled.filter(F.pmod(F.col("doc_id"), n_batches) == b)
        t0 = time.monotonic()
        index_batch(part, b, index_dir)
        walls.append(round(time.monotonic() - t0, 2))
    return {"n_docs": scaled.count(), "batch_walls": walls}


def probe(spark, index_dir: str, pruned: bool) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans.retrieval import (
        _BM25_QUERIES, bm25_rank_df)
    from mental_health_bigdata_project_spark.streaming.bm25index import (
        bm25_query)

    t0 = time.monotonic()
    if pruned:
        out = bm25_query(spark, index_dir, _BM25_QUERIES, k=10)
    else:
        # the shipped probe minus the bucket partition filter
        qt = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
        terms = sorted({t for _, t in _BM25_QUERIES})
        postings = (spark.read
                    .parquet(os.path.join(index_dir, "postings"))
                    .filter(F.col("token").isin(terms))
                    .select("doc_id", "token", "tf"))
        dl = (spark.read.parquet(os.path.join(index_dir, "doclen"))
              .select("doc_id", "dl")
              .join(postings.select("doc_id").distinct(), "doc_id",
                    "left_semi"))
        stats = (spark.read.parquet(os.path.join(index_dir, "stats"))
                 .agg(F.sum("n_docs").cast("bigint").alias("n"),
                      (F.sum("sum_dl").cast("double")
                       / F.sum("n_docs")).alias("avgdl")))
        out = bm25_rank_df(qt, postings, dl, stats).filter("rank <= 10")
    rows = sorted((r.query_id, r.doc_id, r.rank, r.score)
                  for r in out.collect())
    return {"wall_sec": round(time.monotonic() - t0, 2), "rows": rows}


def pruning_ratio(index_dir: str) -> dict:
    from mental_health_bigdata_project_spark.plans.retrieval import (
        _BM25_QUERIES)
    from mental_health_bigdata_project_spark.streaming.bm25index import (
        N_BUCKETS)

    want = {zlib.crc32(t.encode()) % N_BUCKETS for _, t in _BM25_QUERIES}
    all_files = glob.glob(os.path.join(
        index_dir, "postings", "batch_id=*", "bucket=*", "*.parquet"))
    touched = [f for f in all_files
               if int(f.split("bucket=")[1].split("/")[0]) in want]
    return {"postings_files_total": len(all_files),
            "postings_files_in_query_buckets": len(touched),
            "query_buckets": sorted(want), "n_buckets": N_BUCKETS}


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from mental_health_bigdata_project_spark.session import get_spark
    spark = get_spark("scaleup-bm25", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    result = {"base": base, "factor": factor, "runs": {}}
    for f in (1, factor):
        tmp = tempfile.mkdtemp(prefix=f"bm25idx_{f}x_")
        try:
            build = build_index(spark, base, tmp, f)
            warm = probe(spark, tmp, pruned=True)   # warm codegen
            p = probe(spark, tmp, pruned=True)
            u = probe(spark, tmp, pruned=False)
            assert p["rows"] == u["rows"], "pruned != unpruned results"
            result["runs"][f"{f}x"] = {
                **build, **pruning_ratio(tmp),
                "probe_pruned_sec": p["wall_sec"],
                "probe_unpruned_sec": u["wall_sec"],
                "probe_first_run_sec": warm["wall_sec"],
                "top10_rows": len(p["rows"])}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
