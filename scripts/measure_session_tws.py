"""Event-time session-tws cost (streaming/sessiontws.py): drain the
full events corpus through the watermark-timer sessionizer at a given
sf and report maintenance wall, rows/s, emitted sessions, and the
state bound (open sessions never exceed live users — the ListState
holds intervals, not events).

Usage: python scripts/measure_session_tws.py [sf_dir] [n_batches]
Prints one JSON line; paste into SCALING.md §15.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.session import get_spark
    from mental_health_bigdata_project_spark.sources import load_table
    from mental_health_bigdata_project_spark.streaming.sessiontws import (
        sessionize_tws, ts_micros)

    spark = get_spark("measure-session-tws", master="local[32]")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                   "false")
    ev = load_table(spark, sf_dir, "events")
    mic = (ev.select("user_id", ts_micros(ev, "ts").alias("us"))
           .localCheckpoint(eager=True))
    n_rows = mic.count()
    hi = mic.agg(F.max("us")).collect()[0][0]
    n_users = mic.select("user_id").distinct().count()
    tmp = tempfile.mkdtemp(prefix="sess_tws_")
    src, ckpt, out = (os.path.join(tmp, d) for d in ("src", "ckpt", "out"))

    def drain():
        stream = (spark.readStream
                  .schema("user_id bigint, ts timestamp")
                  .parquet(src))

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(out)

        q = (sessionize_tws(stream)
             .writeStream.outputMode("append")
             .foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(600)

    res: dict = {"sf_dir": sf_dir, "n_batches": n_batches,
                 "rows": n_rows, "users": n_users}
    try:
        # time-ordered batches (the realistic arrival order), then the
        # sentinel pair that flushes every open session via timers
        cuts = [int(mic.agg(F.expr(
            f"percentile(us, {q / n_batches})")).collect()[0][0])
            for q in range(1, n_batches)] + [hi]
        walls = []
        prev = -1
        for i, c in enumerate(cuts):
            (mic.filter((F.col("us") > prev) & (F.col("us") <= c))
             .select("user_id", F.timestamp_micros("us").alias("ts"))
             .write.mode("append").parquet(src))
            prev = c
            t0 = time.monotonic()
            drain()
            walls.append(round(time.monotonic() - t0, 3))
        for step in (1, 2):
            (spark.range(1)
             .select(F.lit(-1).cast("bigint").alias("user_id"),
                     F.timestamp_micros(
                         F.lit(hi + step * 86_400_000_000)).alias("ts"))
             .write.mode("append").parquet(src))
            t0 = time.monotonic()
            drain()
            walls.append(round(time.monotonic() - t0, 3))
        res["drain_walls"] = walls
        res["maintain_wall"] = round(sum(walls), 3)
        res["rows_per_sec"] = int(n_rows / sum(walls))
        emitted = spark.read.parquet(out).filter("user_id >= 0")
        res["sessions_emitted"] = emitted.count()
        res["dup_emissions"] = emitted.groupBy(
            "user_id", "session_no").count().filter("count > 1").count()
        print(json.dumps(res, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
