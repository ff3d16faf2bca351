"""Batch-count scaling for the mergeable streaming state family —
all five members: HLL registers (streaming/hllcount.py, max-merge),
OLS moments (streaming/momentstate.py, sum-merge), HDR buckets
(streaming/histstate.py, sum-merge), CMS counters
(streaming/cmsstate.py, sum-merge), and Datasketches frequent-items
states (streaming/topkstate.py, combine-merge): how do index size and serve wall
grow with the number of ingested micro-batches, and what does
sketch-aware compaction recover?

The claim under test: per-batch deltas are METADATA-SIZED (<= 64
registers / 6 moments per group / ~2k HDR buckets / <= 256 CMS
counters / 1 top-k state row per group), so the index grows linearly in BATCHES (not rows),
serve-side merge cost grows with delta count until compaction folds
it back to one row per register/group/bucket/counter — after which
serving is flat no matter how many batches were ingested.

Usage: python scripts/scaleup_mergeable_state.py [sf_dir] [n_batches]
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
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 48

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.session import get_spark
    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming import (
        cmsstate, histstate, hllcount, momentstate, topkstate)

    spark = get_spark("scaleup-mergeable", master="local[32]")
    tmp = tempfile.mkdtemp(prefix="mergeable_scale_")
    out: dict = {"sf_dir": sf_dir, "n_batches": n_batches,
                 "hll": {}, "moments": {}, "hist": {}, "cms": {},
                 "topk": {}}
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_type", "user_id")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        dc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        from mental_health_bigdata_project_spark.plans.textops import (
            tokens_col)
        tk = (load_table(spark, sf_dir, "documents")
              .select("doc_id", "source",
                      F.explode(tokens_col()).alias("token")))
        hll_dir = os.path.join(tmp, "hll")
        mom_dir = os.path.join(tmp, "mom")
        hist_dir = os.path.join(tmp, "hist")
        cms_dir = os.path.join(tmp, "cms")
        tk_dir = os.path.join(tmp, "topk")
        cms_probe = ["the", "tok1", "data"]

        checkpoints = sorted({8, n_batches // 2, n_batches})
        for b in range(n_batches):
            hllcount.register_batch(
                ev.filter(F.pmod("user_id", F.lit(n_batches)) == b),
                b, hll_dir)
            momentstate.moments_batch(
                li.filter(F.pmod("l_orderkey", F.lit(n_batches)) == b),
                b, mom_dir)
            histstate.hist_batch(
                li.filter(F.pmod("l_orderkey", F.lit(n_batches)) == b),
                b, hist_dir)
            cmsstate.cms_batch(
                dc.filter(F.pmod("doc_id", F.lit(n_batches)) == b),
                b, cms_dir)
            topkstate.accumulate_batch(
                tk.filter(F.pmod("doc_id", F.lit(n_batches)) == b),
                b, tk_dir)
            done = b + 1
            if done in checkpoints:
                out["hll"][f"serve_wall_{done}b"] = _serve_wall(
                    lambda: hllcount.read_distinct_estimates(spark, hll_dir))
                out["moments"][f"serve_wall_{done}b"] = _serve_wall(
                    lambda: momentstate.read_linreg(spark, mom_dir))
                out["hist"][f"serve_wall_{done}b"] = _serve_wall(
                    lambda: histstate.read_quantiles(spark, hist_dir))
                out["cms"][f"serve_wall_{done}b"] = _serve_wall(
                    lambda: cmsstate.read_estimates(spark, cms_dir,
                                                    cms_probe))
                out["topk"][f"serve_wall_{done}b"] = _serve_wall(
                    lambda: topkstate.read_topk(spark, tk_dir, 20))

        out["hll"]["rows_pre_compact"] = spark.read.parquet(
            os.path.join(hll_dir, "hll_regs")).count()
        out["moments"]["rows_pre_compact"] = spark.read.parquet(
            os.path.join(mom_dir, "moments")).count()
        out["hist"]["rows_pre_compact"] = spark.read.parquet(
            os.path.join(hist_dir, "hdr_hist")).count()
        out["cms"]["rows_pre_compact"] = spark.read.parquet(
            os.path.join(cms_dir, "cms")).count()
        out["topk"]["rows_pre_compact"] = spark.read.parquet(
            os.path.join(tk_dir, "topk_state")).count()
        out["hll"]["files_pre_compact"] = len(glob.glob(
            os.path.join(hll_dir, "hll_regs", "batch_id=*", "*.parquet")))

        before_h = sorted(tuple(r) for r in
                          hllcount.read_distinct_estimates(
                              spark, hll_dir).collect())
        before_m = sorted(tuple(r) for r in
                          momentstate.read_linreg(spark, mom_dir).collect())
        before_q = sorted(tuple(r) for r in
                          histstate.read_quantiles(spark, hist_dir).collect())
        before_c = sorted(tuple(r) for r in
                          cmsstate.read_estimates(spark, cms_dir,
                                                  cms_probe).collect())
        before_t = sorted(tuple(r) for r in
                          topkstate.read_topk(spark, tk_dir, 20).collect())

        t0 = time.monotonic()
        hllcount.compact_hll_index(spark, hll_dir, through=n_batches - 1)
        out["hll"]["compact_wall"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        momentstate.compact_moment_index(spark, mom_dir,
                                         through=n_batches - 1)
        out["moments"]["compact_wall"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        histstate.compact_hist_index(spark, hist_dir,
                                     through=n_batches - 1)
        out["hist"]["compact_wall"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        cmsstate.compact_cms_index(spark, cms_dir, through=n_batches - 1)
        out["cms"]["compact_wall"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        topkstate.compact_topk_index(spark, tk_dir, through=n_batches - 1)
        out["topk"]["compact_wall"] = round(time.monotonic() - t0, 3)

        out["hll"]["serve_wall_post_compact"] = _serve_wall(
            lambda: hllcount.read_distinct_estimates(spark, hll_dir))
        out["moments"]["serve_wall_post_compact"] = _serve_wall(
            lambda: momentstate.read_linreg(spark, mom_dir))
        out["hll"]["rows_post_compact"] = spark.read.parquet(glob.glob(
            os.path.join(hll_dir, "hll_regs", "_compacted_v*"))[0]).count()
        out["moments"]["rows_post_compact"] = spark.read.parquet(glob.glob(
            os.path.join(mom_dir, "moments", "_compacted_v*"))[0]).count()
        out["hist"]["serve_wall_post_compact"] = _serve_wall(
            lambda: histstate.read_quantiles(spark, hist_dir))
        out["hist"]["rows_post_compact"] = spark.read.parquet(glob.glob(
            os.path.join(hist_dir, "hdr_hist", "_compacted_v*"))[0]).count()
        out["cms"]["serve_wall_post_compact"] = _serve_wall(
            lambda: cmsstate.read_estimates(spark, cms_dir, cms_probe))
        out["cms"]["rows_post_compact"] = spark.read.parquet(glob.glob(
            os.path.join(cms_dir, "cms", "_compacted_v*"))[0]).count()
        after_c = sorted(tuple(r) for r in
                         cmsstate.read_estimates(spark, cms_dir,
                                                 cms_probe).collect())
        out["cms"]["answers_identical_post_compact"] = int(
            before_c == after_c)
        out["topk"]["serve_wall_post_compact"] = _serve_wall(
            lambda: topkstate.read_topk(spark, tk_dir, 20))
        out["topk"]["rows_post_compact"] = spark.read.parquet(glob.glob(
            os.path.join(tk_dir, "topk_state", "_compacted_v*"))[0]).count()
        after_t = sorted(tuple(r) for r in
                         topkstate.read_topk(spark, tk_dir, 20).collect())
        out["topk"]["answers_identical_post_compact"] = int(
            before_t == after_t)

        after_h = sorted(tuple(r) for r in
                         hllcount.read_distinct_estimates(
                             spark, hll_dir).collect())
        after_m = sorted(tuple(r) for r in
                         momentstate.read_linreg(spark, mom_dir).collect())
        out["hll"]["answers_identical_post_compact"] = int(
            before_h == after_h)
        out["moments"]["answers_identical_post_compact"] = int(
            before_m == after_m)
        after_q = sorted(tuple(r) for r in
                         histstate.read_quantiles(spark, hist_dir).collect())
        out["hist"]["answers_identical_post_compact"] = int(
            before_q == after_q)
        print(json.dumps(out, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
