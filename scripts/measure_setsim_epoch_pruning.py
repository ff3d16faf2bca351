"""Deterministic evidence for the r11 setsim epoch re-sort (VERDICT
r10 item 4): per-batch PRIOR-PROBE CANDIDATE COUNTS with and without
the rarest-first re-sort at the compaction boundary.

Wall clocks on this host drift ~2.6x within a run, but the candidate
set of the prefix filter is a pure function of (corpus, element
order), so the pruning win is measured exactly: two stores are fed the
same batch stream, both compacted after ``compact_after``, one with
``reorder=True`` (df-order epoch) and one with ``reorder=False``
(md5 order), and every post-compaction batch's candidate-pair count
against the prior index is counted the same way the batch body builds
it (touched-bucket pruning included).  Verified-duplicate counts must
match between the stores (exactness is order-independent) — the script
asserts it.

Usage: python scripts/measure_setsim_epoch_pruning.py [sf_dir]
                                                      [n_batches]
                                                      [compact_after]
                                                      [factor]
``factor`` > 1 replicates the corpus with shifted doc_ids and
per-copy token suffixes (the sweep_setsim_probe recipe) so the index
ages factor x deeper — where the md5 order's common-shingle prefix
fan-out compounds.  Prints one JSON line; paste into
OPTIMIZATION_r11.md / SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    compact_after = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    factor = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    from pyspark.sql import SparkSession, functions as F

    from mental_health_bigdata_project_spark.session import configure
    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming import setsimdedup as S

    spark = configure(SparkSession.builder.master("local[32]")) \
        .appName("setsim-epoch-pruning").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if factor > 1:
        shift = (base.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
        copies = [base.select(
            (F.col("doc_id") + F.lit(k * shift)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1x{k}").alias("text"))
            for k in range(factor)]
        b = copies[0]
        for c in copies[1:]:
            b = b.unionByName(c)
        base = b
    docs = base.localCheckpoint(eager=True)
    n_docs = docs.count()
    per_batch = n_docs // n_batches

    def probe_counts(idx: str, bdf, batch_id: int):
        """Candidate + index-row counts exactly as the batch body
        would build them (epoch order + touched-bucket pruning)."""
        dford = S._load_dforder(spark, idx)
        arrs = S.setsim_arrays(bdf, dforder=dford).localCheckpoint(eager=True)
        pre = S.setsim_prefix_rows(arrs, S._T).localCheckpoint(eager=True)
        prior_pre, _ = S._read_prefix_index(spark, idx, batch_id)
        if prior_pre is None:
            return None
        touched = sorted(r[0] for r in pre.select(
            S._bucket(F.col("shingle")).alias("bucket")).distinct().collect())
        prior_pre = (prior_pre.filter(F.col("bucket").isin(touched))
                     .drop("bucket"))
        from mental_health_bigdata_project_spark.plans.textops import (
            setsim_candidates_between, setsim_verify_pairs)
        cand = setsim_candidates_between(
            pre.hint("shuffle_hash"), prior_pre, F.lit(True), S._T) \
            .localCheckpoint(eager=True)
        prior_arrs = S.read_index(spark, S._arrs_path(idx),
                                  ["doc_id", "arr", "sz"],
                                  before_batch=batch_id)
        dups = setsim_verify_pairs(cand, arrs, prior_arrs, S._T) \
            .select("doc_a").distinct().count()
        return {"candidates": cand.count(), "dup_docs": dups,
                "index_prefix_rows": prior_pre.count()}

    roots = {k: tempfile.mkdtemp(prefix=f"setsim_epoch_{k}_")
             for k in ("md5", "dford")}
    out = {"sf_dir": sf_dir, "n_batches": n_batches,
           "compact_after": compact_after, "rows_per_batch": per_batch,
           "per_batch": {}}
    try:
        for b in range(n_batches):
            hi = n_docs if b == n_batches - 1 else (b + 1) * per_batch
            bdf = (docs.filter((F.col("doc_id") >= b * per_batch)
                               & (F.col("doc_id") < hi))
                   .localCheckpoint(eager=True))
            rec = {}
            for k, root in roots.items():
                idx = f"{root}/idx"
                if b > compact_after:
                    rec[k] = probe_counts(idx, bdf, b)
                S.dedup_setsim_batch_against_index(
                    bdf, b, f"{root}/out", idx)
                if b == compact_after:
                    S.compact_setsim_index(spark, idx, through=b,
                                           reorder=(k == "dford"))
            if rec:
                assert rec["md5"]["dup_docs"] == rec["dford"]["dup_docs"], rec
                out["per_batch"][b] = rec
        acc = {k: spark.read.parquet(f"{root}/out/accepted").count()
               for k, root in roots.items()}
        assert acc["md5"] == acc["dford"], acc
        out["accepted_total"] = acc["md5"]
        tot = {k: sum(v[k]["candidates"] for v in out["per_batch"].values())
               for k in roots}
        out["candidates_total"] = tot
        out["candidate_ratio_md5_over_dford"] = round(
            tot["md5"] / max(1, tot["dford"]), 3)
    finally:
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
