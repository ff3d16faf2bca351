"""10x scale-up measurement for the ExactSubstr span-dedup chain:
span_grams_df (overlapping-gram explode + first-occurrence agg) ->
merge_spans_df (per-doc interval sweep) -> span_rewrite_df (position
anti-join + doc rebuild).

Method: the scaleup_dedup_chain recipe — replicate the base
`documents` table FACTOR times with shifted doc_ids and a per-copy
token suffix on EVERY token, so copies share no grams (no cross-copy
duplicate windows) while each copy's internal duplicate-span structure
is IDENTICAL to the base corpus.  Duplicate windows, merged spans, and
cut tokens therefore scale exactly linearly by construction; measured
wall growth isolates the engine:

- gram explode + (count, min) agg + join back: shuffle on the gram
  hash — expect ~linear;
- interval sweep + anti-join + rebuild: shuffles on doc-bounded keys —
  expect ~linear.

Usage: python scripts/scaleup_span_chain.py [base_sf_dir] [factor]
Prints one JSON line; paste the numbers into SCALING.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from scripts.scaleup_dedup_chain import build_scaled  # noqa: E402


def run_chain(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans import textops as T
    from mental_health_bigdata_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.monotonic()
    t, spans = T._span_frames(docs)
    spans = spans.localCheckpoint()
    n_spans = spans.count()
    t1 = time.monotonic()
    rewritten = T.span_rewrite_df(t, spans)
    agg = rewritten.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("n_tokens") - F.col("kept_tokens")).alias("cut_tokens"),
    ).collect()[0]
    t2 = time.monotonic()
    return {
        "docs": agg["docs"],
        "spans": n_spans,
        "cut_tokens": int(agg["cut_tokens"] or 0),
        "spandetect_sec": round(t1 - t0, 2),
        "rewrite_sec": round(t2 - t1, 2),
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
    warm = tempfile.mkdtemp(prefix="scaleup_span_warm_")
    try:
        build_scaled(spark, base, warm, 1)
        run_chain(spark, warm)
    finally:
        shutil.rmtree(warm, ignore_errors=True)
    for label, f in (("x1", 1), ("xN", factor)):
        tmp = tempfile.mkdtemp(prefix=f"scaleup_span_{label}_")
        try:
            build_scaled(spark, base, tmp, f)
            out[label] = run_chain(spark, tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    x1, xn = out["x1"], out["xN"]
    out["growth"] = {
        "spans": round(xn["spans"] / max(x1["spans"], 1), 2),
        "cut_tokens": round(xn["cut_tokens"] / max(x1["cut_tokens"], 1), 2),
        "spandetect_wall": round(
            xn["spandetect_sec"] / max(x1["spandetect_sec"], 1e-9), 2),
        "rewrite_wall": round(
            xn["rewrite_sec"] / max(x1["rewrite_sec"], 1e-9), 2),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
