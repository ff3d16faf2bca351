"""10x scale-up measurement for the near-dup chain (VERDICT r2 item 5):
dedup_minhash_near (pair generation) -> _min_label_components
(connected-component label propagation), the slowest headliner chain.

Method: replicate the base `documents` table FACTOR times with shifted
doc_ids and a per-copy token suffix appended to EVERY token, so copies
are textually disjoint (no cross-copy shingles -> no cross-copy
candidate pairs) while each copy's internal near-dup structure is
IDENTICAL to the base corpus.  Edges, components, and component
diameters therefore scale exactly linearly by construction, and the
measured wall-time growth isolates the ENGINE's scaling behavior:

- pair generation is banded LSH (shuffle on (band, key)) — expect
  ~linear wall growth;
- label propagation is O(diameter) passes of join+groupBy over edges —
  expect the SAME pass count at both scales (diameters unchanged) and
  ~linear per-pass cost in edges.

Usage: python scripts/scaleup_dedup_chain.py [base_sf_dir] [factor]
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

    docs = load_table(spark, base_dir, "documents")
    shift = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    copies = None
    for k in range(factor):
        c = docs.select(
            (F.col("doc_id") + F.lit(k * shift)).alias("doc_id"),
            # suffix every token -> copies share no shingles
            F.regexp_replace("text", r"(\S+)", f"$1x{k}").alias("text"),
            "lang", "source", "n_chars",
        )
        copies = c if copies is None else copies.unionByName(c)
    copies.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return factor * docs.count()


def run_chain(spark, sf_dir: str) -> dict:
    from mental_health_bigdata_project_spark.plans import similarity as S

    t0 = time.monotonic()
    pairs = (S.dedup_minhash_near(spark, sf_dir)
             .select("doc_a", "doc_b").distinct().localCheckpoint())
    n_pairs = pairs.count()
    t1 = time.monotonic()
    labels = S._min_label_components(pairs)
    n_components = labels.select("label").distinct().count()
    t2 = time.monotonic()
    return {
        "pairs": n_pairs,
        "components": n_components,
        "passes": S.LAST_PROPAGATION_PASSES,
        "pairgen_sec": round(t1 - t0, 2),
        "propagation_sec": round(t2 - t1, 2),
    }


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import SparkSession

    from mental_health_bigdata_project_spark.session import ensure_runtime_confs

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_confs(spark)

    out = {"base_sf_dir": base, "factor": factor}
    # warm-up: run the full chain once untimed so the x1 measurement
    # isn't billed the per-JVM codegen/shuffle first-touch costs
    # (measured ~4s once per session, independent of data volume)
    warm = tempfile.mkdtemp(prefix="scaleup_warm_")
    try:
        build_scaled(spark, base, warm, 1)
        run_chain(spark, warm)
    finally:
        shutil.rmtree(warm, ignore_errors=True)
    for label, f in (("x1", 1), ("xN", factor)):
        tmp = tempfile.mkdtemp(prefix=f"scaleup_{label}_")
        try:
            n_docs = build_scaled(spark, base, tmp, f)
            stats = run_chain(spark, tmp)
            out[label] = {"docs": n_docs, **stats}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    x1, xn = out["x1"], out["xN"]
    out["growth"] = {
        "pairs": round(xn["pairs"] / max(x1["pairs"], 1), 2),
        "pairgen_wall": round(xn["pairgen_sec"] / max(x1["pairgen_sec"], 1e-9), 2),
        "propagation_wall": round(
            xn["propagation_sec"] / max(x1["propagation_sec"], 1e-9), 2),
        "passes_delta": xn["passes"] - x1["passes"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
