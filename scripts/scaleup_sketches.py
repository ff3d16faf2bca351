"""10x scale-up measurement for the portable-sketch surface: HLL
distinct count (orders), HDR quantiles (lineitem), and the Bloom
decontamination gate (documents).

Method mirrors scripts/scaleup_semdedup.py: replicate each input table
FACTOR times with shifted primary keys.  The sketch claim under test
is that STATE stays bounded while the scan grows linearly:

- HLL: o_orderkey shifts but o_custkey is UNCHANGED, so the true
  distinct count is identical at 10x rows — the register table (64
  rows/group) and the estimate must come back bit-identical while
  wall grows ~linearly with the scan.
- HDR: replicated prices leave every quantile unchanged; the bucket
  histogram has the same ~2k rows at any factor.
- Bloom: shifted doc_ids create new benchmark members (doc_id %% 97),
  so the filter load grows — fp_rate is re-measured at 10x load to
  show the m=2^14 sizing headroom, and wall tracks the gram explode.

Usage: python scripts/scaleup_sketches.py [base_sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _replicate(spark, base_dir: str, out_dir: str, table: str,
               id_col: str, factor: int) -> int:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table

    df = load_table(spark, base_dir, table)
    shift = (df.agg(F.max(id_col)).collect()[0][0] or 0) + 1
    copies = None
    for k in range(factor):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(k * shift))
        copies = c if copies is None else copies.unionByName(c)
    copies.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
    return factor * df.count()


def _timed(fn, spark, sf_dir):
    t0 = time.monotonic()
    rows = fn(spark, sf_dir).collect()
    return round(time.monotonic() - t0, 2), rows


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import SparkSession

    from mental_health_bigdata_project_spark.plans.sketches import (
        lm_kneser_ney_bigram, sketch_bloom_decontam, sketch_hdr_quantiles,
        sketch_hll_portable)
    from mental_health_bigdata_project_spark.session import (
        ensure_runtime_confs)

    # 10x document replication explodes grams well past the 1g default
    # driver heap in local mode (see the verify recipe's round-4 note)
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_confs(spark)
    tmp = tempfile.mkdtemp(prefix="sketch_scale_")
    result: dict = {"base_dir": base, "factor": factor}
    try:
        result["scaled_orders"] = _replicate(
            spark, base, tmp, "orders", "o_orderkey", factor)
        result["scaled_lineitem"] = _replicate(
            spark, base, tmp, "lineitem", "l_orderkey", factor)
        result["scaled_documents"] = _replicate(
            spark, base, tmp, "documents", "doc_id", factor)

        for name, fn, key_cols in [
            ("hll", sketch_hll_portable, ("yr", "est", "n_exact")),
            ("hdr", sketch_hdr_quantiles, ("q", "est", "exact")),
            ("bloom", sketch_bloom_decontam,
             ("n_train_grams", "fp_rate", "n_false_neg")),
            ("kn", lm_kneser_ney_bigram, ()),
        ]:
            wb, rb = _timed(fn, spark, base)
            ws, rs = _timed(fn, spark, tmp)
            entry = {"wall_base": wb, "wall_scaled": ws,
                     "wall_ratio": round(ws / wb, 2),
                     "rows_base": len(rb), "rows_scaled": len(rs)}
            if key_cols:
                entry["base"] = [
                    {c: r[c] for c in key_cols} for r in rb][:3]
                entry["scaled"] = [
                    {c: r[c] for c in key_cols} for r in rs][:3]
            if name == "hll":
                # identical key population at 10x rows: estimates must
                # be bit-identical per year
                eb = {r["yr"]: (r["est"], r["harmonic_s"]) for r in rb}
                es = {r["yr"]: (r["est"], r["harmonic_s"]) for r in rs}
                entry["estimates_identical"] = int(eb == es)
            if name == "hdr":
                entry["quantiles_identical"] = int(
                    {(r["q"], r["est"], r["exact"]) for r in rb}
                    == {(r["q"], r["est"], r["exact"]) for r in rs})
            result[name] = entry
        print(json.dumps(result, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
