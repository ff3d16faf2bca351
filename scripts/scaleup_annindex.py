"""Batch-count scaling for the incremental ANN (IVFADC) index
(streaming/annindex.py): serve wall as the delta log grows, what
cell-aware compaction recovers, and whether the probe's cell join
actually prunes the compacted cell-partitioned codes store.

The claims under test:
- per-batch deltas are batch-sized (codes/vecs) plus METADATA-sized
  partials (codebook 1,024 rows, cell centroids 16 x dim rows), so the
  index grows linearly in rows ingested — never re-reads prior state;
- serve cost grows with DELTA COUNT (file listing + partial folds)
  until compaction consolidates, after which the probe reads
  nprobe/k of the cell-partitioned codes store.

Usage: python scripts/scaleup_annindex.py [sf_dir] [n_batches] [factor]
``factor`` > 1 replicates the embeddings with shifted vec_ids (copies
keep their geometry, so cell balance is unchanged) to deepen the index.
Prints one JSON line; paste into SCALING.md.
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


def _serve_wall(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn().collect()
        walls.append(time.monotonic() - t0)
    return round(min(walls), 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.session import get_spark
    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming import annindex

    spark = get_spark("scaleup-ann", master="local[32]")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if factor > 1:
        n = e.count()
        base = e
        for k in range(1, factor):
            e = e.unionAll(base.select(
                (F.col("vec_id") + F.lit(k * n)).alias("vec_id"),
                "embedding"))
    n_vecs = e.count()
    tmp = tempfile.mkdtemp(prefix="ann_scale_")
    idx = os.path.join(tmp, "ann")
    out: dict = {"sf_dir": sf_dir, "n_batches": n_batches,
                 "factor": factor, "vectors": n_vecs}
    try:
        checkpoints = sorted({max(1, n_batches // 4), n_batches // 2,
                              n_batches})
        walls = []
        for b in range(n_batches):
            t0 = time.monotonic()
            annindex.index_batch(
                e.filter(F.pmod("vec_id", F.lit(n_batches)) == b), b, idx)
            walls.append(round(time.monotonic() - t0, 3))
            done = b + 1
            if done in checkpoints:
                out[f"serve_wall_{done}b"] = _serve_wall(
                    lambda: annindex.search_topk(spark, idx))
        out["ingest_walls"] = walls
        out["codes_files_pre"] = len(glob.glob(
            os.path.join(idx, "codes", "batch_id=*", "*.parquet")))
        before = sorted(tuple(r) for r in
                        annindex.search_topk(spark, idx).collect())
        t0 = time.monotonic()
        annindex.compact_ann_index(spark, idx, through=n_batches - 1)
        out["compact_wall"] = round(time.monotonic() - t0, 3)
        out["serve_wall_post_compact"] = _serve_wall(
            lambda: annindex.search_topk(spark, idx))
        out["codes_cell_dirs_post"] = len(glob.glob(
            os.path.join(idx, "codes", "_compacted_v*", "cell=*")))
        after = sorted(tuple(r) for r in
                       annindex.search_topk(spark, idx).collect())
        out["answers_identical_post_compact"] = int(before == after)
        # delete phase: tombstone a third of the corpus in one delete
        # batch (exact unlearning — negative partials + tombstones),
        # serve with the tombstone semi-join, then compact the purge
        doomed = e.filter(F.pmod("vec_id", F.lit(3)) == 0) \
            .select("vec_id")
        out["n_deleted"] = doomed.count()
        t0 = time.monotonic()
        annindex.delete_batch(spark, doomed, 0, idx)
        out["delete_wall"] = round(time.monotonic() - t0, 3)
        out["serve_wall_post_delete"] = _serve_wall(
            lambda: annindex.search_topk(spark, idx))
        t0 = time.monotonic()
        annindex.compact_ann_index(spark, idx, through=n_batches - 1,
                                   through_deletes=0)
        out["compact_wall_post_delete"] = round(time.monotonic() - t0, 3)
        out["serve_wall_post_purge"] = _serve_wall(
            lambda: annindex.search_topk(spark, idx))
        survivors = sorted(tuple(r) for r in
                           annindex.search_topk(spark, idx).collect())
        out["deleted_absent"] = int(
            all(r[0] % 3 != 0 for r in survivors))
        print(json.dumps(out, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
