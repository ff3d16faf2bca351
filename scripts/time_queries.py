"""Targeted query timing: bench.py's methodology (same session confs,
scan + machinery warm-up, cold + warm execution through the noop sink)
over just the named queries, so an old-vs-new comparison doesn't need
two full 134-query bench runs.

- $SPARK_GRAFT_EXTRA_CONFS: semicolon-separated k=v SQL confs applied
  after session build and before every run (for config A/B
  experiments).  The registry wrapper re-applies ``session.CONFS`` and
  the shuffle partition count before each query, so those are varied
  in session.py or, for the partition cap, through $SPARK_GRAFT_CPUS;
- $SPARK_GRAFT_TIME_CPUS: local[] core count (default 32).

Usage: python scripts/time_queries.py <sf_dir> <qid> [qid ...]
Prints one JSON line {qid: {"cold": s, "warm": s}, "_calibration": s}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    qids = sys.argv[2:]
    cpus = os.environ.get("SPARK_GRAFT_TIME_CPUS", "32")

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("time-queries", master=f"local[{cpus}]")
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    applied = {}
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
        applied[k.strip()] = v.strip()
    qs = entry_mod.queries()

    spark.range(1000).count()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
    wa = spark.range(10_000).select((F.col("id") % 7).alias("k"),
                                    F.col("id").cast("double").alias("v"))
    wa.groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    (wa.join(F.broadcast(spark.range(7).withColumnRenamed("id", "k")), "k")
     .write.format("noop").mode("overwrite").save())
    from pyspark.sql.window import Window as WW
    (wa.select(F.row_number().over(
        WW.partitionBy("k").orderBy("v")).alias("rn"))
     .write.format("noop").mode("overwrite").save())

    def calibrate() -> float:
        c = (spark.range(30_000_000)
             .select((F.col("id") % 1009).alias("k"),
                     (F.col("id") * 2654435761 % 97).cast("double")
                     .alias("v"))
             .groupBy("k").agg(F.sum("v").alias("s"),
                               F.count("*").alias("n"))
             .groupBy((F.col("k") % 7).alias("g")).agg(F.sum("s"),
                                                       F.sum("n")))
        t0 = time.perf_counter()
        c.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    calibrate()
    cal = sorted(calibrate() for _ in range(3))[1]

    out: dict = {}
    for qid in qids:
        spark.sparkContext.setJobDescription(f"time-queries: {qid}")
        fn = qs[qid]

        def run() -> float:
            # bench methodology: the clock covers DataFrame build AND
            # the action (queries with eager checkpoints do their work
            # at build time).
            for k, v in applied.items():
                spark.conf.set(k, v)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        cold = run()
        warm = run()
        out[qid] = {"cold": round(cold, 3), "warm": round(warm, 3)}
    out["_calibration"] = round(cal, 3)
    out["_confs"] = applied
    out["_cpus"] = int(cpus)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
