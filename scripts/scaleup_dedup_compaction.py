"""Long-run streaming-dedup batch-wall curve WITH vs WITHOUT index
compaction (VERDICT r9 item 3: SCALING §21 measured the lsh/setsim
batch walls growing with stream age and ASSERTED that the §8
compaction cadence caps them — this script measures that claim).

Method: replicate the sf documents FACTOR times (per-copy token
suffixes — copies share no fingerprints, so per-batch dedup structure
is constant), split into N_BATCHES id-modulus micro-batches, and run
the two index-growth-dominated foreachBatch bodies
(streaming/neardup.dedup_batch_against_index — banded-LSH — and
streaming/setsimdedup.dedup_setsim_batch_against_index — exact prefix
filter) twice each over a fresh on-disk index:

  - mode "none":     batches 0..N-1, no maintenance;
  - mode "every{C}": same batches, plus the REAL compaction entry
    points (compact_index with a distinct-fold for the LSH band store;
    compact_setsim_index for the bucketed prefix store) after every
    C-th batch, timed separately.

The claim holds iff the per-batch wall curve flattens in the
compacted run where the uncompacted run keeps climbing, at a
compaction cost that amortizes (sum(compact_sec) comparable to the
batch-wall savings).  Correctness of compaction itself is pinned
elsewhere (tests/test_index_compaction.py; the accepted-id equality
check here is a belt-and-braces rerun).

Usage: python scripts/scaleup_dedup_compaction.py \
          [sf_dir] [factor] [n_batches] [cadence]
Prints one JSON line; paste the table into SCALING.md §23.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _batches(spark, sf_dir: str, factor: int, n_batches: int):
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shift = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    copies = None
    for k in range(factor):
        c = docs.select(
            (F.col("doc_id") + F.lit(k * shift)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1x{k}").alias("text"))
        copies = c if copies is None else copies.unionByName(c)
    return [copies.filter(F.col("doc_id") % n_batches == k)
            .localCheckpoint(eager=True)
            for k in range(n_batches)], copies.count()


def _run(name, batches, body, compact_after, compact_fn) -> dict:
    walls, compact_walls = [], []
    for bid, bdf in enumerate(batches):
        t0 = time.monotonic()
        body(bdf, bid)
        walls.append(round(time.monotonic() - t0, 3))
        if compact_fn is not None and bid in compact_after:
            t0 = time.monotonic()
            compact_fn(bid)
            compact_walls.append(round(time.monotonic() - t0, 3))
    return {"batch_sec": walls,
            "compact_sec": compact_walls,
            "total_sec": round(sum(walls) + sum(compact_walls), 3)}


def run(spark, sf_dir: str, factor: int, n_batches: int,
        cadence: int) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.streaming.compaction import (
        compact_index)
    from mental_health_bigdata_project_spark.streaming.neardup import (
        _index_path, dedup_batch_against_index)
    from mental_health_bigdata_project_spark.streaming.setsimdedup import (
        compact_setsim_index, dedup_setsim_batch_against_index)

    # compact after batches C-1, 2C-1, ... but never the last batch
    # (nothing follows to benefit)
    compact_after = {b for b in range(cadence - 1, n_batches - 1, cadence)}
    batches, n_docs = _batches(spark, sf_dir, factor, n_batches)
    out = {"sf_dir": sf_dir, "factor": factor, "n_batches": n_batches,
           "docs": n_docs, "cadence": cadence,
           "compact_after": sorted(compact_after), "paths": {}}
    root = tempfile.mkdtemp(prefix="dedup_compaction_")
    try:
        def lsh_body(base):
            return lambda bdf, bid: dedup_batch_against_index(
                bdf, bid, f"{base}/out", f"{base}/idx")

        def lsh_compact(base):
            # band keys are mergeable by DISTINCT: the probe is a
            # semi-join, so one row per band is the whole state
            return lambda bid: compact_index(
                spark, _index_path(f"{base}/idx"), through=bid,
                transform=lambda df: df.distinct())

        def setsim_body(base):
            return lambda bdf, bid: dedup_setsim_batch_against_index(
                bdf, bid, f"{base}/out", f"{base}/idx")

        def setsim_compact(base):
            return lambda bid: compact_setsim_index(
                spark, f"{base}/idx", through=bid)

        for name, mk_body, mk_compact in (
                ("lsh_near_dedup", lsh_body, lsh_compact),
                ("setsim_exact_dedup", setsim_body, setsim_compact)):
            res = {}
            accepted = {}
            for mode, with_compaction in (("none", False),
                                          (f"every{cadence}", True)):
                base = f"{root}/{name}-{mode}"
                res[mode] = _run(
                    name, batches, mk_body(base),
                    compact_after if with_compaction else set(),
                    mk_compact(base) if with_compaction else None)
                res[mode]["rows_per_sec"] = round(
                    n_docs / res[mode]["total_sec"], 1)
                accepted[mode] = (
                    spark.read.parquet(f"{base}/out/accepted")
                    .agg(F.count("*"), F.sum(F.hash("doc_id")))
                    .collect()[0])
            # compaction must not change WHAT is accepted
            res["accepted_equal"] = (
                tuple(accepted["none"]) == tuple(accepted[f"every{cadence}"]))
            out["paths"][name] = res
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    cadence = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    from pyspark.sql import SparkSession

    from mental_health_bigdata_project_spark.session import (
        ensure_runtime_confs)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "24g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_confs(spark)
    print(json.dumps(run(spark, sf_dir, factor, n_batches, cadence)))


if __name__ == "__main__":
    main()
