"""10x scale-up measurement for the embedding-heavy chain (VERDICT r3
item 5): dedup_semdedup (the slowest headliner) and the IVFADC serving
query sim_ivfpq_topk.

Method: replicate the base `embeddings` table FACTOR times with shifted
vec_ids and UNCHANGED vectors.  Copies of a vector land in the SAME
sign cell, so at fixed _SEM_BITS the per-cell population grows by
FACTOR and the intra-cell quadratic interior grows by FACTOR^2 — the
exact failure mode the dedup_semdedup docstring's "raise _SEM_BITS so
cells stay ~1k vectors" knob exists to prevent.  The harness measures
all three corners:

- factor=1, bits=_SEM_BITS      (the oracle-checked baseline)
- factor=N, bits=_SEM_BITS      (the naive scale-up: quadratic cells)
- factor=N, bits=_SEM_BITS+4    (the knob applied: 16x more cells)

For each run it records wall time, cell-population stats, and the
candidate-pair mass sum(n_c^2)/2 that governs the quadratic interior.
sim_ivfpq_topk is timed at both factors: its probe set is
metadata-sized and the 4-byte-code ADC scan is linear in the probed
cells' population, so wall should grow ~linearly with FACTOR.

Replicated identical vectors are also mutually near-duplicate (cosine
1 >= threshold), so the semdedup keep-rule output is exercised with a
genuinely duplicate-heavy corpus rather than the near-uniform base.

Usage: python scripts/scaleup_semdedup.py [base_sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def build_scaled(spark, base_dir: str, out_dir: str, factor: int) -> int:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.sources import load_table

    emb = load_table(spark, base_dir, "embeddings")
    shift = (emb.agg(F.max("vec_id")).collect()[0][0] or 0) + 1
    copies = None
    for k in range(factor):
        c = emb.select((F.col("vec_id") + F.lit(k * shift)).alias("vec_id"),
                       "embedding",
                       *[col for col in emb.columns
                         if col not in ("vec_id", "embedding")])
        copies = c if copies is None else copies.unionByName(c)
    copies.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    return factor * emb.count()


def cell_stats(spark, sf_dir: str, bits: int) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans.similarity import (
        embedding_cell_expr)
    from mental_health_bigdata_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    per_cell = (emb.select(embedding_cell_expr("embedding", bits)
                           .alias("cell"))
                .groupBy("cell").agg(F.count("*").alias("n")))
    row = per_cell.agg(
        F.count("*").alias("n_cells"),
        F.max("n").alias("max_cell"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .alias("p50_cell"),
        F.sum(F.col("n") * F.col("n") / 2).alias("pair_mass")).collect()[0]
    return {"n_cells": row["n_cells"], "max_cell": row["max_cell"],
            "p50_cell": int(row["p50_cell"]),
            "candidate_pairs": int(row["pair_mass"])}


def run_semdedup(spark, sf_dir: str, bits: int) -> dict:
    from mental_health_bigdata_project_spark.plans.similarity import (
        _SEM_BITS, dedup_semdedup)

    t0 = time.monotonic()
    out = dedup_semdedup(spark, sf_dir,
                         bits=None if bits == _SEM_BITS else bits)
    n_rows = out.count()
    n_dropped = out.filter("keep = 0").count()
    wall = round(time.monotonic() - t0, 2)
    return {"wall_sec": wall, "rows": n_rows, "dropped": n_dropped,
            **cell_stats(spark, sf_dir, bits)}


def run_ivfpq(spark, sf_dir: str) -> dict:
    from mental_health_bigdata_project_spark.plans.similarity import (
        sim_ivfpq_topk)

    t0 = time.monotonic()
    n = sim_ivfpq_topk(spark, sf_dir).count()
    return {"wall_sec": round(time.monotonic() - t0, 2), "rows": n}


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from mental_health_bigdata_project_spark.plans.similarity import _SEM_BITS
    from mental_health_bigdata_project_spark.session import get_spark

    spark = get_spark("scaleup-semdedup", master="local[32]")
    tmp = tempfile.mkdtemp(prefix="semdedup_scale_")
    try:
        n_scaled = build_scaled(spark, base, tmp, factor)
        result = {
            "base_dir": base, "factor": factor, "scaled_vectors": n_scaled,
            "sem_bits": _SEM_BITS,
            "semdedup_base": run_semdedup(spark, base, _SEM_BITS),
            "semdedup_scaled_fixed_bits": run_semdedup(spark, tmp, _SEM_BITS),
            "semdedup_scaled_raised_bits": run_semdedup(spark, tmp,
                                                        _SEM_BITS + 4),
            "ivfpq_base": run_ivfpq(spark, base),
            "ivfpq_scaled": run_ivfpq(spark, tmp),
        }
        print(json.dumps(result, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
