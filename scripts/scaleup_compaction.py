"""Compaction payoff measurement for the log-structured streaming
indexes (streaming/compaction.py).

The pathology compaction exists to fix: a long-running stream appends
one ``batch_id=N`` delta per micro-batch forever, so the index's FILE
COUNT — and the listing + footer-open cost every probe pays before any
pruning — grows linearly with stream age even when the DATA volume is
flat.  This harness makes that measurable:

1. Build the BM25 index from the base ``documents`` table ingested in
   MANY small micro-batches (default 48 — a day of 30-min triggers),
   i.e. the same rows a 4-batch build holds, fragmented batch-wise.
2. Measure the served probe (``bm25_query``, median of 3 warm runs)
   and the postings file/partition-dir counts.
3. ``compact_bm25_index`` through the last batch; re-measure; assert
   the served top-10 rows are IDENTICAL.
4. Same for the embedding-dedup vector index ((cell, batch_id)
   nested layout): measure a full ``_read_index`` scan + one
   cell-probe join before/after ``compact_vector_index``.

Usage: python scripts/scaleup_compaction.py [sf_dir] [n_batches]
Prints one JSON line; paste the numbers into SCALING.md §8.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _count_files(root: str) -> dict:
    pq = [f for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                               recursive=True)]
    dirs = {os.path.dirname(f) for f in pq}
    return {"parquet_files": len(pq), "leaf_dirs": len(dirs)}


def _median3(fn) -> tuple[float, object]:
    walls, out = [], None
    for _ in range(3):
        t0 = time.monotonic()
        out = fn()
        walls.append(time.monotonic() - t0)
    return round(sorted(walls)[1], 3), out


def bench_bm25(spark, sf_dir: str, idx: str, n_batches: int) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans.retrieval import (
        _BM25_QUERIES)
    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming.bm25index import (
        bm25_query, index_batch)
    from mental_health_bigdata_project_spark.streaming.compaction import (
        compact_bm25_index)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for b in range(n_batches):
        index_batch(docs.filter(F.pmod(F.col("doc_id"), n_batches) == b),
                    b, idx)

    def serve():
        return sorted((r.query_id, r.doc_id, r.rank, r.score)
                      for r in bm25_query(spark, idx, _BM25_QUERIES,
                                          k=10).collect())

    serve()  # warm codegen/broadcast machinery once
    before_wall, before_rows = _median3(serve)
    before_files = _count_files(os.path.join(idx, "postings"))

    t0 = time.monotonic()
    compact_bm25_index(spark, idx, through=n_batches - 1)
    compact_wall = round(time.monotonic() - t0, 2)

    after_wall, after_rows = _median3(serve)
    after_files = _count_files(os.path.join(idx, "postings"))
    assert before_rows == after_rows, "served rows changed across compaction"
    return {"n_batches": n_batches,
            "probe_before_sec": before_wall,
            "probe_after_sec": after_wall,
            "compact_wall_sec": compact_wall,
            "postings_before": before_files,
            "postings_after": after_files,
            "top10_rows": len(before_rows)}


def bench_vectors(spark, sf_dir: str, root: str, n_batches: int) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming.compaction import (
        compact_vector_index, read_index as _read_index)
    from mental_health_bigdata_project_spark.streaming.neardup import (
        dedup_embeddings_against_index)

    vecs = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    out, idxd = os.path.join(root, "out"), os.path.join(root, "idx")
    for b in range(n_batches):
        dedup_embeddings_against_index(
            vecs.filter(F.pmod(F.col("vec_id"), n_batches) == b), b,
            out, idxd)
    vdir = os.path.join(idxd, "vectors")

    def scan():
        # what the next micro-batch pays to see prior state: the
        # manifest-aware live read, counted (forces file listing +
        # every footer)
        df = _read_index(spark, vdir, ["cell"],
                         before_batch=n_batches)
        return df.count()

    scan()
    before_wall, before_n = _median3(scan)
    before_files = _count_files(vdir)

    t0 = time.monotonic()
    compact_vector_index(spark, os.path.dirname(vdir),
                         through=n_batches - 1)
    compact_wall = round(time.monotonic() - t0, 2)

    after_wall, after_n = _median3(scan)
    after_files = _count_files(vdir)
    assert before_n == after_n, "index row count changed across compaction"
    return {"n_batches": n_batches, "index_rows": before_n,
            "scan_before_sec": before_wall,
            "scan_after_sec": after_wall,
            "compact_wall_sec": compact_wall,
            "vectors_before": before_files,
            "vectors_after": after_files}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 48

    from mental_health_bigdata_project_spark.session import get_spark
    spark = get_spark("scaleup-compaction", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    result = {"sf_dir": sf_dir}
    tmp = tempfile.mkdtemp(prefix="compact_scale_")
    try:
        result["bm25"] = bench_bm25(spark, sf_dir,
                                    os.path.join(tmp, "bm25"), n_batches)
        result["vectors"] = bench_vectors(spark, sf_dir,
                                          os.path.join(tmp, "vec"),
                                          max(8, n_batches // 3))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
