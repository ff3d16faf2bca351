"""Candidate-pruning measurement for the prefix-filtered exact
set-similarity join (dedup_setsim_prefix) vs the naive co-shingle
join it replaces at scale.

Two questions, two corpora:

1. BASE corpus (sf_dir as-is): how many candidate pairs does the
   naive join (every pair sharing ANY shingle) generate vs the prefix
   join (pairs sharing a PREFIX element, size-filtered), and what
   fraction of each survives exact verification?  The pruning ratio
   is the scale argument: the naive candidate mass is what explodes
   on common shingles.

2. DUP-HEAVY corpus (documents replicated FACTOR times with shifted
   doc_ids): replicas are exact duplicates, so every replica pair is
   a TRUE result — candidates are output-bound and no filter can
   prune them.  This measures the irreducible floor: prefix
   candidates should track the true-pair count (growing ~FACTOR^2
   per duplicated doc), while the naive join's FALSE-candidate mass
   grows FACTOR^2 on top of it.

Usage: python scripts/scaleup_setsim.py [sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")


def measure(spark, docs):
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans.textops import (
        setsim_candidates, setsim_index, setsim_shingles, setsim_verify,
        tokens_col)

    d = docs.select("doc_id", tokens_col().alias("toks"))
    sh = setsim_shingles(d).localCheckpoint(eager=True)

    t0 = time.monotonic()
    a, b = sh.alias("a"), sh.alias("b")
    naive = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id"), F.col("b.doc_id"))
             .distinct().count())
    t_naive = time.monotonic() - t0

    t0 = time.monotonic()
    per_doc = setsim_index(sh)
    cand = setsim_candidates(per_doc).localCheckpoint(eager=True)
    n_cand = cand.count()
    t_prefix = time.monotonic() - t0

    t0 = time.monotonic()
    n_out = setsim_verify(per_doc, cand).count()
    t_verify = time.monotonic() - t0

    return {
        "n_docs": docs.count(),
        "shingle_rows": sh.count(),
        "naive_candidates": naive,
        "naive_candidate_wall_s": round(t_naive, 2),
        "prefix_candidates": n_cand,
        "prefix_wall_s": round(t_prefix, 2),
        "results": n_out,
        "verify_wall_s": round(t_verify, 2),
        "pruning_ratio": round(naive / max(n_cand, 1), 2),
        "verify_yield": round(n_out / max(n_cand, 1), 4),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import SparkSession, functions as F

    from mental_health_bigdata_project_spark.session import (
        ensure_runtime_confs)
    from mental_health_bigdata_project_spark.sources import load_table

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_confs(spark)
    docs = load_table(spark, sf_dir, "documents")

    base = measure(spark, docs)

    shift = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    reps = docs
    for k in range(1, factor):
        reps = reps.unionAll(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * shift)))
    dup = measure(spark, reps.localCheckpoint(eager=True))

    print(json.dumps({"sf_dir": sf_dir, "factor": factor,
                      "base": base, "dup_heavy": dup}))


if __name__ == "__main__":
    main()
