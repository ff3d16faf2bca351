"""Session lifecycle, tracing and statistics shared by the workloads.

Everything a run writes lives under ``<checkout>/.perfbench_work/``:
Spark local dirs, the JVM's ``java.io.tmpdir``, Python's ``TMPDIR``,
the warehouse dir, the event log and the trace file.  ``prepare_env``
must run before ``pyspark`` is imported.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "1g"


def prepare_env(work: str, cores: int) -> None:
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


# ---------------------------------------------------------------- stats

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples beyond it — the 11th-largest sample.  With ten
    samples or fewer there is no such percentile; the maximum is
    reported as p100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(s[-1]), 100.0, n
    return float(s[n - 11]), round(100.0 * (n - 10) / n, 2), n


def quarter_growth(xs) -> float:
    """Median of the last quarter of ``xs`` over median of the first
    (last over first when there are fewer than four)."""
    if not xs:
        return 0.0
    q = max(1, len(xs) // 4)
    first = median(xs[:q])
    return median(xs[-q:]) / first if first else 0.0


def host_probe(reps: int = 5) -> list[float]:
    """Walls of a fixed CPU job that touches none of the program: a pure
    Python loop (the driver thread's kind of work) plus a multi-threaded
    numpy matmul (the executors' kind).  A yardstick for how fast the
    host is running right now."""
    import numpy as np

    a = np.random.default_rng(0).random((700, 700))
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        s = 0
        for i in range(400_000):
            s += i
        a @ a
        walls.append(time.perf_counter() - t0)
    return walls


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this Python process plus the driver JVM, in MB."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files skipped."""
    files = size = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, n))
    return files, size


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans recorded around calls into the program's layers,
    plus a py4j round-trip counter.  Disabled tracers record nothing and
    cost one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "op": op, "parent": parent, "start": time.time(),
               "py4j0": self.py4j_calls, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._local.current = rec["id"]
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            self._local.current = parent

    def count_py4j(self, gateway_client) -> None:
        if not self.enabled:
            return
        orig = gateway_client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = counted

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------- session

class Session:
    """One driver JVM, re-used across several SparkContexts.

    ``launch`` starts the JVM once (``session.start_s``); ``context``
    starts a fresh SparkContext + SparkSession through the program's own
    session factory.  A run sets up several times on the same JVM and
    reports the median set-up."""

    def __init__(self, work: str, cores: int, tracer: Tracer) -> None:
        self.work, self.cores, self.tracer = work, cores, tracer
        self.spark = None
        self.conf = None
        self.jvm_pid: int | None = None

    def launch(self) -> float:
        t0 = time.perf_counter()
        from pyspark import SparkConf, SparkContext

        w = self.work
        # the driver heap is pinned (initial = max = Spark's default 1g):
        # left to grow, G1 committed anywhere from 400 to 630 MB of it
        # by the end of a run, depending on GC timing, and peak RSS
        # followed that rather than the program
        pairs = [
            ("spark.master", f"local[{self.cores}]"),
            ("spark.app.name", "perfbench"),
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.driver.memory", DRIVER_HEAP),
            ("spark.driver.extraJavaOptions",
             f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={w}/tmp"),
            ("spark.local.dir", f"{w}/local"),
            ("spark.sql.warehouse.dir", f"{w}/warehouse"),
        ]
        if self.tracer.enabled:
            pairs += [("spark.eventLog.enabled", "true"),
                      ("spark.eventLog.compress", "false"),
                      ("spark.eventLog.dir", f"file://{w}/eventlog")]
        self.conf = SparkConf().setAll(pairs)
        SparkContext._ensure_initialized(conf=self.conf)
        self.tracer.count_py4j(SparkContext._gateway._gateway_client)
        self.jvm_pid = int(
            SparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return time.perf_counter() - t0

    def context(self) -> float:
        """Stop the current context (if any) and start a fresh one."""
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        from mental_health_bigdata_project_spark.session import (
            configure, ensure_runtime_confs)

        if self.spark is not None:
            self.spark.stop()
        builder = SparkSession.builder.config(conf=self.conf)
        spark = configure(builder, self.cores).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = ensure_runtime_confs(spark)
        return time.perf_counter() - t0

    def old_gen_peak_mb(self, reset: bool = False) -> float:
        """Peak used bytes of the JVM's old-generation heap pool since
        the last reset, in MB: the heap demand that the pinned heap
        hides from peak RSS."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        peak = 0
        for pool in mf.getMemoryPoolMXBeans():
            if "Old Gen" in pool.getName():
                if reset:
                    pool.resetPeakUsage()
                peak += pool.getPeakUsage().getUsed()
        return peak / 2**20

    def codegen_compiles(self) -> int:
        cm = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------- event log

def event_log_metrics(eventlog_dir: str, windows: list[tuple[float, float]],
                      ) -> dict[str, float]:
    """Sum task/stage/job counters of every event whose completion time
    falls inside one of ``windows`` (epoch seconds).  Task skew is the
    mean, over stages with at least two tasks, of max/mean executor run
    time."""
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "scan_bytes", "scan_rows")
    out = dict.fromkeys(keys, 0.0)
    per_stage: dict[tuple, list[float]] = {}

    def inside(ms) -> bool:
        t = (ms or 0) / 1000.0
        return any(a <= t <= b for a, b in windows)

    # Spark writes one event-log dir per application (rolling v2 layout):
    # events_<n>_<app> files beside an appstatus marker
    paths = [os.path.join(dp, n) for dp, _, names in os.walk(eventlog_dir)
             for n in names if not n.startswith(("appstatus", "."))]
    for path in paths:
        app = os.path.dirname(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobEnd":
                    out["jobs"] += inside(ev.get("Completion Time"))
                elif kind == "SparkListenerStageCompleted":
                    out["stages"] += inside(
                        ev["Stage Info"].get("Completion Time"))
                elif kind == "SparkListenerTaskEnd":
                    if not inside(ev["Task Info"].get("Finish Time")):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    run = m.get("Executor Run Time", 0) / 1000.0
                    out["tasks"] += 1
                    out["executor_run_s"] += run
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    out["scan_bytes"] += im.get("Bytes Read", 0)
                    out["scan_rows"] += im.get("Records Read", 0)
                    key = (app, ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                    per_stage.setdefault(key, []).append(run)
    skews = [max(r) / (sum(r) / len(r)) for r in per_stage.values()
             if len(r) >= 2 and sum(r) > 0]
    out["task_skew"] = sum(skews) / len(skews) if skews else 1.0
    return out

