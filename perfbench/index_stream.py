"""``index_stream``: closed-loop micro-batches through the four persisted
index stores, with a mid-run compaction and serve reads after every
batch — the writes-beside-reads workload where the store layer works.

One pass = two seeded micro-batches of ``documents`` (near-dup
and set-similarity dedup) and time-ordered ``events`` (keyed upsert and
HLL registers), each store written through its foreachBatch body, then
served; after the first batch the neardup, setsim and HLL indexes are
compacted.  The four stores of a batch run concurrently, one thread
each, as four independent foreachBatch sinks of one stream would.
Every pass starts from empty store dirs.  The warm-up
(``cold_wall_s``) is the first batch alone, into scratch stores.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen
from .harness import dir_stats, median, quarter_growth, tail

STORES = ("neardup", "setsimdedup", "upsert", "hllcount")
PASS_S = 12.0
# merge_upsert_cdc's base/change cut-offs: events before T1 are the base
# snapshot (all upserts), [T1, T2) the changeset, T2 onward is not upserted
T1, T2 = "2024-01-20 00:00:00", "2024-01-27 00:00:00"


class IndexStream:
    name = "index_stream"

    def __init__(self, sess, tracer, seed: int, work: str, tiny: bool,
                 seconds: float):
        self.sess, self.tr, self.seed, self.work = sess, tracer, seed, work
        self.sf = 0.001 if tiny else 0.01
        self.n_batches = 2
        self.passes: list[dict] = []
        self.pool = ThreadPoolExecutor(len(STORES),
                                       thread_name_prefix="perfbench-store")

    # -- set-up ------------------------------------------------------
    def prepare(self, k: int) -> None:
        self.sf_dir = os.path.join(self.work, f"inputs{k}")
        sizes = gen.make_tables(self.sf_dir, self.seed, self.sf,
                                only=("documents", "events"))
        spark = self.sess.spark
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from mental_health_bigdata_project_spark.sources import load_table

        docs = load_table(spark, self.sf_dir, "documents") \
            .select("doc_id", "text")
        ev = load_table(spark, self.sf_dir, "events")
        self.n_docs, self.n_events = (
            pq.ParquetFile(f"{self.sf_dir}/{t}.parquet").metadata.num_rows
            for t in ("documents", "events"))
        b = self.n_batches
        # documents by id range, events by time range (generated events
        # are ts-ordered by event_id): batch i is the i-th slice of each,
        # read from the parquet inputs like a file source would
        def sliced(df, col, n, i):
            return (df.filter(F.col(col) * b / n >= i)
                    .filter(F.col(col) * b / n < i + 1))

        self.doc_batches = [sliced(docs, "doc_id", self.n_docs, i)
                            for i in range(b)]
        self.ev_batches = [sliced(ev, "event_id", self.n_events, i)
                           for i in range(b)]
        t1 = F.lit(T1).cast("timestamp_ntz")
        self.cdc_batches = [
            e.filter(F.col("ts") < F.lit(T2).cast("timestamp_ntz"))
            .select("user_id", "ts", F.col("event_id").alias("seq"),
                    F.when((F.col("ts") >= t1)
                           & (F.col("event_type") == "error"), "D")
                    .otherwise("U").alias("op"), "value")
            for e in self.ev_batches]
        self.in_bytes = {
            "neardup": sizes["documents"] / b,
            "setsimdedup": sizes["documents"] / b,
            "upsert": sizes["events"] / b,
            "hllcount": sizes["events"] / b,
        }

    def cold(self) -> float:
        """Warm-up: the first batch through every store and its serve
        reads, into scratch stores — the first execution of each
        store's plans in this JVM."""
        t0 = time.perf_counter()
        self._batch(os.path.join(self.work, "stores", "cold"), 0)
        return time.perf_counter() - t0

    # -- one pass ----------------------------------------------------
    def _batch(self, root: str, i: int, rec: dict | None = None) -> None:
        from mental_health_bigdata_project_spark.streaming import (
            compaction, hllcount, neardup, setsimdedup, upsert)

        spark = self.sess.spark
        calls = {
            "neardup": lambda: neardup.dedup_batch_against_index(
                self.doc_batches[i], i, f"{root}/neardup/out",
                f"{root}/neardup/idx"),
            "setsimdedup": lambda: setsimdedup.dedup_setsim_batch_against_index(
                self.doc_batches[i], i, f"{root}/setsim/out",
                f"{root}/setsim/idx"),
            "upsert": lambda: upsert.upsert_batch(
                self.cdc_batches[i], i, f"{root}/upsert"),
            "hllcount": lambda: hllcount.register_batch(
                self.ev_batches[i], i, f"{root}/hll"),
        }
        serves = {
            "neardup": lambda: compaction.read_live(
                spark, f"{root}/neardup/idx/bands").count(),
            "setsimdedup": lambda: compaction.read_live(
                spark, f"{root}/setsim/idx/prefix").count(),
            "upsert": lambda: upsert.read_state(spark, f"{root}/upsert").count(),
            "hllcount": lambda: hllcount.read_distinct_estimates(
                spark, f"{root}/hll").collect(),
        }
        self._concurrently(calls, "batch", i, rec)
        self._concurrently(serves, "serve", i, rec)

    def _concurrently(self, calls: dict, kind: str, i: int,
                      rec: dict | None) -> None:
        """One thread per store, as four independent sinks of one
        micro-batch would run; every future's result is read."""
        def timed(store, call):
            t0 = time.perf_counter()
            with self.tr.span(f"streaming.{store}.{kind}", op=f"b{i}"):
                call()
            return time.perf_counter() - t0

        futs = {s: self.pool.submit(timed, s, c) for s, c in calls.items()}
        for store, fut in futs.items():
            dt = fut.result()
            if rec is not None:
                rec[f"{kind}_s"][store].append(dt)

    def _compact(self, root: str, through: int) -> None:
        from mental_health_bigdata_project_spark.streaming import (
            compaction, hllcount, setsimdedup)

        spark = self.sess.spark
        with self.tr.span("streaming.compaction.compact"):
            compaction.compact_index(spark, f"{root}/neardup/idx/bands",
                                     through)
            setsimdedup.compact_setsim_index(spark, f"{root}/setsim/idx",
                                             through)
            hllcount.compact_hll_index(spark, f"{root}/hll", through)

    def _pass(self, root: str) -> dict:
        rec = {"batch_s": {s: [] for s in STORES},
               "serve_s": {s: [] for s in STORES},
               "op_s": [], "compact_s": 0.0}
        t_pass = time.perf_counter()
        with self.tr.span("index_stream.pass"):
            for i in range(self.n_batches):
                t0 = time.perf_counter()
                with self.tr.span("index_stream.batch", op=f"b{i}"):
                    self._batch(root, i, rec)
                rec["op_s"].append(time.perf_counter() - t0)
                if i == 0:
                    t0 = time.perf_counter()
                    self._compact(root, i)
                    rec["compact_s"] = time.perf_counter() - t0
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["root"] = root
        return rec

    def measure(self, seconds: float) -> None:
        """A fixed number of passes for ``seconds`` (one pass takes about
        ``PASS_S`` on four cores), so every run does the same work."""
        for k in range(max(1, round(seconds / PASS_S))):
            self.passes.append(
                self._pass(os.path.join(self.work, "stores", f"p{k}")))

    # -- results -----------------------------------------------------
    def end_to_end(self) -> dict:
        walls = [p["wall_s"] for p in self.passes]
        ops = [x for p in self.passes for x in p["op_s"]]
        t, pct, n = tail(ops)
        return {
            "wall_s": median(walls),
            "latency_p50_s": median(ops),
            "latency_tail_s": t, "_tail_pct": pct, "_n": n,
            "rows_per_s": (self.n_docs + self.n_events) / median(walls),
            "_attempted": n, "_failed": 0,
        }

    def layers(self) -> dict:
        out: dict[str, float] = {}
        for s in STORES:
            per_pass = [p["batch_s"][s] for p in self.passes]
            out[f"streaming.{s}.batch_s"] = median(
                [x for xs in per_pass for x in xs])
            out[f"streaming.{s}.batch_growth"] = median(
                [quarter_growth(xs) for xs in per_pass])
            out[f"streaming.{s}.serve_s"] = median(
                [x for p in self.passes for x in p["serve_s"][s]])
            sub = {"neardup": "neardup/idx", "setsimdedup": "setsim/idx",
                   "upsert": "upsert", "hllcount": "hll"}[s]
            files, size = dir_stats(os.path.join(self.passes[-1]["root"], sub))
            out[f"streaming.{s}.files"] = files
            out[f"streaming.{s}.bytes"] = size
            out[f"streaming.{s}.write_amp"] = (
                size / (self.in_bytes[s] * self.n_batches))
        out["streaming.compaction.compact_s"] = median(
            [p["compact_s"] for p in self.passes])
        return out

    def close(self) -> None:
        self.pool.shutdown(wait=True)

    # -- correctness -------------------------------------------------
    def check(self) -> list[str]:
        """Upsert state == merge_upsert_cdc; served HLL estimates == a
        one-shot register build; dedup output identical across passes."""
        from pyspark.sql import functions as F

        from mental_health_bigdata_project_spark.plans.quality import (
            merge_upsert_cdc)
        from mental_health_bigdata_project_spark.plans.sketches import (
            _hll_estimate, _hll_registers)
        from mental_health_bigdata_project_spark.sources import load_table
        from mental_health_bigdata_project_spark.streaming import (
            hllcount, upsert)

        spark = self.sess.spark
        problems = []
        last = self.passes[-1]["root"]
        got = {tuple(r) for r in upsert.read_state(spark, f"{last}/upsert")
               .select("user_id", "value").collect()}
        want = {tuple(r) for r in merge_upsert_cdc(spark, self.sf_dir)
                .select("user_id", "value").collect()}
        if got != want:
            problems.append(f"upsert state != merge_upsert_cdc "
                            f"({len(got ^ want)} rows differ)")
        served = {tuple(r) for r in
                  hllcount.read_distinct_estimates(spark, f"{last}/hll")
                  .collect()}
        ev = load_table(spark, self.sf_dir, "events").select(
            "event_type", F.md5(F.col("user_id").cast("string")).alias("h"))
        oneshot = {tuple(r) for r in _hll_estimate(
            _hll_registers(ev, ["event_type"]), ["event_type"]).collect()}
        if served != oneshot:
            problems.append("HLL served estimates != one-shot register build")
        # batch 0 meets empty stores in the warm-up and in every pass, so
        # it must accept the same ids each time
        cold = os.path.join(self.work, "stores", "cold")
        for out in ("neardup/out/accepted", "setsim/out/accepted"):
            ids = [sorted(r[0] for r in spark.read.parquet(f"{root}/{out}")
                          .filter("batch_id = 0").select("doc_id").collect())
                   for root in (cold, last)]
            if ids[0] != ids[1] or not ids[0]:
                problems.append(f"{out}: batch 0 accepted ids differ "
                                "between the warm-up and the pass")
        return problems
