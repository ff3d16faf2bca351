"""10x scale-up measurement for the unrolled-Lloyd k-means chain
(plans/similarity._lloyd_chain) and the learned-quantizer IVF probe.

Method: replicate `embeddings` FACTOR times with shifted vec_ids and
unchanged vectors (same harness as scripts/scaleup_semdedup.py).  Per
Lloyd iteration the work is one scan of the exploded corpus (n x dim
rows) joined to a BROADCAST k x dim centroid table plus a (vec_id,
cid)-keyed partial agg — all linear in n with k, dim, iterations
fixed — so wall should grow ~FACTOR, and the centroid/assignment
state stays k x dim / n rows.  A super-linear ratio would mean the
broadcast orientation or the checkpoint truncation regressed.

Usage: python scripts/scaleup_kmeans.py [base_sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def run_kmeans(spark, sf_dir: str) -> dict:
    from mental_health_bigdata_project_spark.plans.similarity import (
        ml_kmeans_lloyd_portable)

    t0 = time.monotonic()
    rows = ml_kmeans_lloyd_portable(spark, sf_dir).collect()
    wall = round(time.monotonic() - t0, 2)
    return {"wall_sec": wall, "clusters": len(rows),
            "vectors": sum(r.n_vecs for r in rows),
            "mean_inertia": round(sum(r.avg_sqdist * r.n_vecs for r in rows)
                                  / sum(r.n_vecs for r in rows), 6)}


def run_ivf_kmeans(spark, sf_dir: str) -> dict:
    from mental_health_bigdata_project_spark.plans.similarity import (
        sim_ann_ivf_kmeans)

    t0 = time.monotonic()
    n = sim_ann_ivf_kmeans(spark, sf_dir).count()
    return {"wall_sec": round(time.monotonic() - t0, 2), "rows": n}


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from mental_health_bigdata_project_spark.session import get_spark
    from scaleup_semdedup import build_scaled

    spark = get_spark("scaleup-kmeans", master="local[32]")
    tmp = tempfile.mkdtemp(prefix="kmeans_scale_")
    try:
        n_scaled = build_scaled(spark, base, tmp, factor)
        result = {
            "base_dir": base, "factor": factor, "scaled_vectors": n_scaled,
            "kmeans_base": run_kmeans(spark, base),
            "kmeans_scaled": run_kmeans(spark, tmp),
            "ivf_kmeans_base": run_ivf_kmeans(spark, base),
            "ivf_kmeans_scaled": run_ivf_kmeans(spark, tmp),
        }
        r = result
        result["kmeans_wall_ratio"] = round(
            r["kmeans_scaled"]["wall_sec"] / r["kmeans_base"]["wall_sec"], 2)
        result["ivf_wall_ratio"] = round(
            r["ivf_kmeans_scaled"]["wall_sec"]
            / r["ivf_kmeans_base"]["wall_sec"], 2)
        print(json.dumps(result, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
