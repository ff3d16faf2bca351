"""``posts_live``: the paper's own path, open loop at a fixed rate.

A generator thread writes pre-rendered post JSON-lines files into the
stream's input dir on a fixed schedule that does not slow down when the
system does.  Two ingest threads each re-trigger one of the program's
runners back to back (``availableNow`` is the only trigger they
expose): ``serving.maintain_stats`` over the enriched stream, and
``pipeline.run_to_parquet(..., latest_n=100)``.  A dashboard thread
calls ``serve_stats`` and reads ``latest`` at a fixed cadence.  A post
is visible at the first successful dashboard read whose ``total_posts``
covers it; its latency runs from the moment its file was due.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen
from .harness import median, quarter_growth, tail

RATE = 2000            # posts per second
FILE_EVERY = 0.5       # seconds between generated files
READ_EVERY = 0.25      # seconds between dashboard reads
LIMIT_S = 15.0         # the reference's trigger + poll envelope
LATEST_N = 100
PROGRESS_KEYS = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
                 "walCommit", "commitOffsets")


class PostsLive:
    name = "posts_live"

    def __init__(self, sess, tracer, seed: int, work: str, tiny: bool,
                 seconds: float):
        self.sess, self.tr, self.seed, self.work = sess, tracer, seed, work
        self.rate = 200 if tiny else RATE
        self.seconds = seconds

    # -- set-up ------------------------------------------------------
    def prepare(self, k: int) -> None:
        """Pre-render the warm-up's and the timed session's post files."""
        self.sf_dir = os.path.join(self.work, f"inputs{k}")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.per_file = int(self.rate * FILE_EVERY)
        self.cold_file = self._render(self.seed + 1, FILE_EVERY)[1][0]
        self.posts, self.files = self._render(self.seed, self.seconds)

    def _render(self, seed: int, seconds: float):
        n_files = max(1, int(round(seconds / FILE_EVERY)))
        posts = gen.make_posts(seed, self.per_file * n_files, rate=self.rate)
        return posts, gen.render_files(posts, self.per_file)

    # -- the program's runners and reads -----------------------------
    def _tick_serving(self, d: str):
        from mental_health_bigdata_project_spark.streaming import (
            pipeline, serving)

        spark = self.sess.spark
        q = serving.maintain_stats(
            pipeline.enriched_stream(
                pipeline.read_posts_json_stream(spark, f"{d}/in")),
            f"{d}/state", f"{d}/ckpt_serving")
        q.awaitTermination()
        return q

    def _tick_pipeline(self, d: str):
        from mental_health_bigdata_project_spark.streaming import pipeline

        spark = self.sess.spark
        q = pipeline.run_to_parquet(
            pipeline.enriched_stream(
                pipeline.read_posts_json_stream(spark, f"{d}/in")),
            f"{d}/out", f"{d}/ckpt_pipeline", latest_n=LATEST_N)
        q.awaitTermination()
        return q

    def _read(self, d: str) -> tuple[dict, list]:
        from mental_health_bigdata_project_spark.streaming import serving

        spark = self.sess.spark
        stats = serving.serve_stats(spark, f"{d}/state")
        latest = spark.read.parquet(f"{d}/out/latest").collect()
        return stats, latest

    # -- one open-loop session ----------------------------------------
    def _session(self, d: str, files: list[bytes]) -> dict:
        """Emit ``files`` on schedule, drain, return the raw record."""
        os.makedirs(f"{d}/in", exist_ok=True)
        n_files = len(files)
        due = []                       # wall time each file was due
        written = []                   # wall time each file landed
        reads = []                     # (t_end, total_posts) of good reads
        read_fail = [0]
        read_s = []
        ticks = []                     # (runner, t0, t1, rows, progress)
        stop = threading.Event()
        t_start = time.time() + 0.2

        def generator():
            for i, payload in enumerate(files):
                t_due = t_start + i * FILE_EVERY
                pause = t_due - time.time()
                if pause > 0:
                    time.sleep(pause)
                tmp = f"{d}/in/.f{i:05d}.json"
                with open(tmp, "wb") as fh:
                    fh.write(payload)
                os.rename(tmp, f"{d}/in/f{i:05d}.json")
                due.append(t_due)
                written.append(time.time())

        def dashboard():
            while not stop.is_set():
                t0 = time.time()
                try:
                    with self.tr.span("streaming.serving.read"):
                        stats, _ = self._read(d)
                except Exception:  # noqa: BLE001 - counted, never retried
                    read_fail[0] += 1
                else:
                    t1 = time.time()
                    reads.append((t1, stats["total_posts"]))
                    read_s.append(t1 - t0)
                stop.wait(max(0.0, READ_EVERY - (time.time() - t0)))

        total = n_files * self.per_file
        deadline = t_start + n_files * FILE_EVERY + LIMIT_S
        drained = threading.Event()

        def runner_loop(runner: str, tick) -> None:
            """Re-trigger one runner back to back until the session has
            drained, then once more, so it has seen every file."""
            while True:
                last = drained.is_set()
                t0 = time.time()
                with self.tr.span(f"streaming.{runner}.tick"):
                    q = tick(d)
                prog = q.recentProgress
                rows = sum(p["numInputRows"] for p in prog)
                ticks.append((runner, t0, time.time(), rows, prog))
                if last or time.time() > deadline:
                    return

        gen_t = threading.Thread(target=generator, name="perfbench-gen")
        dash_t = threading.Thread(target=dashboard, name="perfbench-dash")
        gen_t.start()
        while time.time() < t_start:
            time.sleep(0.01)
        dash_t.start()
        # the two runners are independent streaming queries of one app
        with ThreadPoolExecutor(2, thread_name_prefix="perfbench-tick") as ex:
            futs = [ex.submit(runner_loop, "serving", self._tick_serving),
                    ex.submit(runner_loop, "pipeline", self._tick_pipeline)]
            try:
                while time.time() < deadline and not any(
                        f.done() for f in futs):
                    if (not gen_t.is_alive() and reads
                            and reads[-1][1] >= total):
                        break
                    time.sleep(0.05)
            finally:
                drained.set()
                gen_t.join()
                for f in futs:
                    f.result()
                # one more read period so the last tick's result is seen
                stop.wait(2 * READ_EVERY)
                stop.set()
                dash_t.join()
        return {"due": due, "written": written, "reads": reads,
                "read_fail": read_fail[0], "read_s": read_s,
                "ticks": ticks, "total": total, "dir": d,
                "t_start": t_start}

    def cold(self) -> float:
        """Warm-up: one file through one tick of each runner, then one
        dashboard read, in a fresh dir — the first ticks and reads in
        this JVM pay stream start-up and codegen."""
        d = os.path.join(self.work, "cold")
        os.makedirs(f"{d}/in", exist_ok=True)
        t0 = time.perf_counter()
        with open(f"{d}/in/f00000.json", "wb") as fh:
            fh.write(self.cold_file)
        self._tick_serving(d)
        self._tick_pipeline(d)
        self._read(d)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.rec = self._session(os.path.join(self.work, "live"), self.files)
        self.rec["wall_s"] = time.perf_counter() - t0
        self.passes = [self.rec]

    # -- results -----------------------------------------------------
    def _latencies(self) -> tuple[list[float], int]:
        """Per-post due -> visible latency, and posts never visible
        within the limit (failed)."""
        rec = self.rec
        lat, failed = [], 0
        reads = rec["reads"]
        j = 0
        for i in range(rec["total"]):
            f = i // self.per_file
            t_due = rec["due"][f]
            while j < len(reads) and reads[j][1] < i + 1:
                j += 1
            if j == len(reads) or reads[j][0] - t_due > LIMIT_S:
                failed += 1
                continue
            lat.append(reads[j][0] - t_due)
        return lat, failed

    def end_to_end(self) -> dict:
        lat, failed = self._latencies()
        t, pct, n = tail(lat)
        visible = len(lat)
        span = self.rec["reads"][-1][0] - self.rec["t_start"] \
            if self.rec["reads"] else 1.0
        return {
            "wall_s": self.rec["wall_s"],
            "latency_p50_s": median(lat),
            "latency_tail_s": t, "_tail_pct": pct, "_n": n,
            "rows_per_s": visible / span,
            "_attempted": self.rec["total"], "_failed": failed,
        }

    def layers(self) -> dict:
        rec = self.rec
        out: dict[str, float] = {}
        for runner in ("serving", "pipeline"):
            # ticks that found new files; an empty tick only lists the dir
            ts = [t1 - t0 for r, t0, t1, rows, _ in rec["ticks"]
                  if r == runner and rows]
            out[f"streaming.{runner}.tick_s"] = median(ts)
            if runner == "pipeline":
                out["streaming.pipeline.tick_growth"] = quarter_growth(ts)
            progs = [p for r, _, _, _, ps in rec["ticks"] if r == runner
                     for p in ps]
            for k in PROGRESS_KEYS:
                out[f"streaming.progress.{runner}.{k}_ms"] = median(
                    [p["durationMs"].get(k, 0) for p in progs])
        out["streaming.serving.read_s"] = median(rec["read_s"])
        out["streaming.serving.read_failed"] = rec["read_fail"]
        out["streaming.serving.read_attempted"] = (
            rec["read_fail"] + len(rec["reads"]))
        out["streaming.source.gen_lag_s"] = max(
            (w - d for w, d in zip(rec["written"], rec["due"])), default=0.0)
        out.update(self._latency_split())
        return out

    def _latency_split(self) -> dict:
        """Median visible latency split into: due -> start of the
        serving tick that ingested the post (queue), that tick's wall,
        and tick end -> first good read covering it (read)."""
        rec = self.rec
        serving = [(t0, t1, rows) for r, t0, t1, rows, _ in rec["ticks"]
                   if r == "serving"]
        cum, bounds = 0, []
        for t0, t1, rows in serving:
            cum += rows
            bounds.append((cum, t0, t1))
        reads = rec["reads"]
        q, tk, rd = [], [], []
        b = j = 0
        for i in range(rec["total"]):
            while b < len(bounds) and bounds[b][0] < i + 1:
                b += 1
            while j < len(reads) and reads[j][1] < i + 1:
                j += 1
            if b == len(bounds) or j == len(reads):
                continue
            t_due = rec["due"][i // self.per_file]
            q.append(bounds[b][1] - t_due)
            tk.append(bounds[b][2] - bounds[b][1])
            rd.append(reads[j][0] - bounds[b][2])
        return {"streaming.visible.latency_s": median(self._latencies()[0]),
                "streaming.visible.queue_s": median(q),
                "streaming.visible.tick_s": median(tk),
                "streaming.visible.read_s": median(rd)}

    # -- correctness -------------------------------------------------
    def check(self) -> list[str]:
        """The served payload equals a DuckDB recompute of every emitted
        post; ``latest`` holds the newest ``LATEST_N`` posts."""
        import duckdb
        import pyarrow as pa

        from mental_health_bigdata_project_spark.functions.text import (
            HIGH_RISK_THRESHOLD, RISK_BUCKET_SQL, risk_score_sql)

        problems = []
        try:
            stats, latest = self._read(self.rec["dir"])
        except Exception as e:  # noqa: BLE001 - a failed final read fails the run
            return [f"final dashboard read failed: {type(e).__name__}"]
        if stats["total_posts"] != self.rec["total"]:
            problems.append(f"total_posts {stats['total_posts']} != "
                            f"{self.rec['total']} emitted")
        con = duckdb.connect()
        con.register("posts", pa.Table.from_pylist(self.posts))
        rows = con.execute(f"""
            WITH s AS (SELECT subreddit,
                {risk_score_sql("concat_ws(' ', title, text)")} AS r
              FROM posts)
            SELECT subreddit, count(*), sum(r),
                   sum(CASE WHEN r >= {HIGH_RISK_THRESHOLD} THEN 1 ELSE 0 END),
                   {RISK_BUCKET_SQL.format(c='r')} AS bucket
            FROM s GROUP BY subreddit, bucket""").fetchall()
        by_sub: dict = {}
        dist = {b: 0 for b in ("0-10", "10-20", "20-30", "30+")}
        high = 0
        for sub, n, r_sum, hi, bucket in rows:
            e = by_sub.setdefault(sub, {"count": 0, "total_risk": 0})
            e["count"] += n
            e["total_risk"] += int(r_sum)
            dist[bucket] += n
            high += int(hi)
        total = sum(e["count"] for e in by_sub.values())
        risk = sum(e["total_risk"] for e in by_sub.values())
        for e in by_sub.values():
            e["avg_risk"] = round(e["total_risk"] / e["count"], 2)
        want = {"total_posts": total,
                "avg_risk_score": round(risk / total, 2) if total else 0.0,
                "high_risk_count": high, "by_subreddit": by_sub,
                "risk_distribution": dist}
        if stats != want:
            problems.append("serve_stats payload != DuckDB recompute")
        newest = sorted(self.posts, key=lambda p: (p["created_utc"], p["id"]),
                        reverse=True)[:LATEST_N]
        if sorted(r["id"] for r in latest) != sorted(p["id"] for p in newest):
            problems.append("latest != the newest posts")
        return problems
