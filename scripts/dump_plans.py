"""Dump `.explain("formatted")` (plus the AQE-final executed plan) for
named queries to plans/dumps/<qid>_<suffix>.txt — the evidence files
plan claims are checked against.

Usage: python scripts/dump_plans.py <suffix> <sf_dir> <qid> [qid ...]

SPARK_GRAFT_DUMP_NOPIN=1 replaces DataFrame.localCheckpoint with a
no-op for the dump session, so a query whose expensive chain hides
behind an eager pin (the final plan is then just the pinned relation)
exposes its FULL lazy plan — the only honest way to diff a rewrite
that happens upstream of a checkpoint.  Never set it for timing runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix, sf_dir = sys.argv[1], sys.argv[2]
    qids = sys.argv[3:]

    from mental_health_bigdata_project_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("dump-plans")
    if os.environ.get("SPARK_GRAFT_DUMP_NOPIN") == "1":
        # patch the CONCRETE class (Spark 4: pyspark.sql.classic
        # overrides the base DataFrame's methods)
        DataFrame = type(spark.range(1))
        DataFrame.localCheckpoint = (
            lambda self, eager=True, storageLevel=None: self)
    qs = entry_mod.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "dumps")
    os.makedirs(outdir, exist_ok=True)
    for qid in qids:
        df = qs[qid](spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        # run it so AQE finalizes (the executed plan shows the real
        # exchange/join choices); noop sink per guide §1.4
        df.write.format("noop").mode("overwrite").save()
        executed = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(outdir, f"{qid}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {qid} ({suffix}, {sf_dir}) ==\n\n")
            fh.write("---- explain(formatted), pre-execution ----\n")
            fh.write(formatted)
            fh.write("\n---- executed plan (AQE final) ----\n")
            fh.write(executed)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
