"""``queries``: closed loop, one client, registry queries through the
driver contract (``__spark_entry__.queries()``), one fresh
``spark.newSession()`` per round so every round rebuilds its per-session
memos.

The round mixes two classes, timed apart in the traced run:
``DRIVER_BOUND`` queries spend most of their wall building the plan in
the driver (Python loops, py4j calls, driver-side collects), and
``SCAN_BOUND`` queries spend most of it inside the action.  Each query
is executed through the ``noop`` sink (every output column
materialised); the build is the call of the query function, the action
is the write.
"""

from __future__ import annotations

import os
import time

from . import gen
from .harness import median, tail

# >= 85% of a warm query's wall before the action at sf0.03 on 4 cores
DRIVER_BOUND = ["ml_naive_bayes"]
# >= 75% of it inside the action
SCAN_BOUND = ["q1_pricing_summary", "q18_large_orders"]
ROUND_S = 4.0           # about one round on four cores
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class Queries:
    name = "queries"

    def __init__(self, sess, tracer, seed: int, work: str, tiny: bool,
                 seconds: float):
        self.sess, self.tr, self.seed, self.work = sess, tracer, seed, work
        self.sf = 0.001 if tiny else 0.03
        self.ids = DRIVER_BOUND + SCAN_BOUND
        self.passes: list[dict] = []

    def prepare(self, k: int) -> None:
        import __spark_entry__

        self.sf_dir = os.path.join(self.work, f"inputs{k}")
        gen.make_tables(self.sf_dir, self.seed, self.sf)
        self.fns = __spark_entry__.queries()

    def _round(self) -> dict:
        s = self.sess.spark.newSession()
        rec = {"build_s": {}, "action_s": {}, "query_s": {}, "win": []}
        t_round = time.perf_counter()
        with self.tr.span("queries.round"):
            for qid in self.ids:
                tq = time.perf_counter()
                with self.tr.span("queries.query", op=qid):
                    t0, w0 = time.perf_counter(), time.time()
                    with self.tr.span("plans.build", op=qid):
                        df = self.fns[qid](s, self.sf_dir)
                    t1, w1 = time.perf_counter(), time.time()
                    with self.tr.span("spark.action", op=qid):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                rec["query_s"][qid] = time.perf_counter() - tq
                rec["build_s"][qid] = t1 - t0
                rec["action_s"][qid] = t2 - t1
                rec["win"].append((w0, w1))
        rec["wall_s"] = time.perf_counter() - t_round
        return rec

    def cold(self) -> float:
        """Warm-up: the first round in this JVM, which pays analysis,
        codegen compiles and the per-session memo builds."""
        self.cold_rec = self._round()
        return self.cold_rec["wall_s"]

    def measure(self, seconds: float) -> None:
        """A fixed number of rounds for ``seconds``, so every run does
        the same work."""
        for _ in range(max(1, round(seconds / ROUND_S))):
            self.passes.append(self._round())

    # -- results -----------------------------------------------------
    def end_to_end(self) -> dict:
        walls = [p["wall_s"] for p in self.passes]
        ops = [p["build_s"][q] + p["action_s"][q]
               for p in self.passes for q in self.ids]
        t, pct, n = tail(ops)
        return {
            "wall_s": median(walls),
            "latency_p50_s": median(ops),
            "latency_tail_s": t, "_tail_pct": pct, "_n": n,
            # lineitem + orders rows per second of a round: the input the
            # scan-bound half reads on every round
            "rows_per_s": self.n_rows / median(walls),
            "_attempted": n, "_failed": 0,
        }

    @property
    def n_rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f"{self.sf_dir}/{t}.parquet")
                   .metadata.num_rows for t in ("lineitem", "orders"))

    def layers(self) -> dict:
        from .harness import event_log_metrics

        def per_round(key, ids):
            return median([sum(p[key][q] for q in ids) for p in self.passes])

        build_wins = [w for p in self.passes for w in p["win"]]
        # share of executions whose build + action is within 10% of the
        # query's own traced wall (spans included)
        split_ok = [abs(p["build_s"][q] + p["action_s"][q] - p["query_s"][q])
                    <= 0.1 * p["query_s"][q]
                    for p in self.passes for q in self.ids]
        jobs = event_log_metrics(os.path.join(self.work, "eventlog"),
                                 build_wins)["jobs"]
        return {
            "plans.build_s": per_round("build_s", self.ids),
            "plans.build_jobs": jobs / len(self.passes),
            "spark.action_s": per_round("action_s", self.ids),
            "queries.driver_bound.build_s": per_round("build_s", DRIVER_BOUND),
            "queries.driver_bound.action_s": per_round("action_s",
                                                       DRIVER_BOUND),
            "queries.scan_bound.build_s": per_round("build_s", SCAN_BOUND),
            "queries.scan_bound.action_s": per_round("action_s", SCAN_BOUND),
            "queries.split_within_10pct": sum(split_ok) / len(split_ok),
        }

    # -- correctness -------------------------------------------------
    def check(self) -> list[str]:
        """Each query hash-matches its DuckDB ``oracle_sql()`` twin with
        the comparator of scripts/check_oracles.py."""
        import duckdb

        import __spark_entry__
        from scripts.check_oracles import hash_rows

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        spark = self.sess.spark.newSession()
        problems = []
        for qid in self.ids:
            df = self.fns[qid](spark, self.sf_dir)
            s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(oracles[qid])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            if (sorted(s_cols) != sorted(d_cols)
                    or len(s_rows) != len(d_rows)
                    or hash_rows(s_cols, s_rows) != hash_rows(d_cols, d_rows)):
                problems.append(f"{qid}: result != oracle_sql twin")
        return problems
