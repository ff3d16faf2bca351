"""Build an Nx-scaled copy of a testdata dir for LOAD verification
(VERDICT r10 item 2: the sf0.1 bench is overhead-bound at 32 cores, so
at-scale rewrites need a bigger corpus to show data-bound behavior).

Fact tables are replicated FACTOR times with shifted keys (disjoint id
spaces per copy; documents additionally get a per-copy token suffix so
copies share no shingles — the construction of SCALING.md's scale-up
runs, which makes dedup/text structure scale exactly linearly).
Dimension tables (region/nation/customer/supplier/part) are copied
unchanged, so join fan-in per dim row grows by FACTOR — the realistic
direction at scale.

Usage: python scripts/make_sfN.py <base_sf_dir> <out_dir> [factor=10]
The output dir is NOT registered testdata: it exists for profiling
only and must never feed oracle checks (ids overlap semantics the
oracle fixtures assume).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    base, out = sys.argv[1], sys.argv[2]
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.session import get_spark
    from mental_health_bigdata_project_spark.sources import load_table

    spark = get_spark("make-sfN", master="local[32]")
    os.makedirs(out, exist_ok=True)

    for dim in ("region", "nation", "customer", "supplier", "part"):
        load_table(spark, base, dim).write.mode("overwrite").parquet(
            os.path.join(out, f"{dim}.parquet"))

    def replicate(name: str, shifts: dict, extra=None):
        df = load_table(spark, base, name)
        offs = {c: (df.agg(F.max(c)).collect()[0][0] or 0) + 1
                for c in shifts}
        copies = None
        for k in range(factor):
            c = df
            for col in shifts:
                c = c.withColumn(col, F.col(col) + F.lit(k * offs[col]))
            if extra is not None:
                c = extra(c, k)
            copies = c if copies is None else copies.unionByName(c)
        (copies.repartition(32)
         .write.mode("overwrite")
         .parquet(os.path.join(out, f"{name}.parquet")))
        print(f"# {name}: x{factor}", file=sys.stderr)

    replicate("lineitem", {"l_orderkey": True})
    replicate("orders", {"o_orderkey": True})
    replicate("events", {"event_id": True, "user_id": True})
    replicate("embeddings", {"vec_id": True})
    replicate("documents", {"doc_id": True},
              extra=lambda c, k: c.withColumn(
                  "text", F.regexp_replace("text", r"(\S+)", f"$1x{k}")))
    spark.stop()
    print("done", out)


if __name__ == "__main__":
    main()
