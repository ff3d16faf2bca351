"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Set-up is the JVM launch (once),
``SETUPS`` repeats of a fresh SparkContext plus seeded inputs (median
taken), and a warm-up, the first execution of the workload's work in
this JVM (also reported alone as ``cold_wall_s``).  Then the timed
window runs a fixed amount of work sized from ``--seconds``.
Correctness checks run after the window; any mismatch exits 1.  The
last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (a separate, traced run) with
``--trace 1``.  ``--cores`` (default: the cores this process may use)
gives the ``local[N]`` width; ``--tiny`` shrinks the inputs for the
smoke test.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

SETUPS = 3
# latency_tail_s and failed_ratio are printed on "#" lines, not gated:
# the tail's run-to-run spread sits at the largest bound allowed, and
# failed_ratio is 0 on most runs
END_TO_END = {"setup_s": "s", "wall_s": "s", "cold_wall_s": "s",
              "latency_p50_s": "s", "rows_per_s": "rows/s",
              "peak_rss_mb": "MB"}


def _workloads() -> dict:
    from perfbench.index_stream import IndexStream
    from perfbench.posts_live import PostsLive
    from perfbench.queries import Queries

    return {w.name: w for w in (PostsLive, IndexStream, Queries)}


def _program_present() -> bool:
    return all(os.path.exists(os.path.join(harness.ROOT, p)) for p in (
        "mental_health_bigdata_project_spark/__init__.py",
        "__spark_entry__.py", "scripts/check_oracles.py"))


def _refuse_prebuilt_artifacts(sf_dir: str) -> None:
    """bench.py's guard: every index must be computed in-run, never read
    from an artifact store left by an earlier run."""
    import glob

    from mental_health_bigdata_project_spark import artifacts

    if artifacts.persistence_enabled():
        raise RuntimeError("$SPARK_GRAFT_ARTIFACT_DIR is set: the benchmark "
                           "must compute every index from its inputs")
    found = glob.glob(os.path.join(
        artifacts.artifact_root(), artifacts._dataset_key(sf_dir), "*",
        "manifest.json"))
    if found:
        raise RuntimeError(f"{len(found)} prebuilt artifact manifest(s) "
                           f"for {sf_dir}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    work = os.path.join(harness.WORK_ROOT,
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.prepare_env(work, args.cores)
    tracer = harness.Tracer(bool(args.trace))
    sess = harness.Session(work, args.cores, tracer)
    try:
        return _run(args, work, tracer, sess, workloads[args.workload])
    finally:
        sess.close()
        if args.trace:
            os.makedirs(os.path.join(harness.WORK_ROOT, "traces"),
                        exist_ok=True)
            tracer.write(os.path.join(
                harness.WORK_ROOT, "traces",
                f"{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)


def _log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_PROCESS:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _run(args, work, tracer, sess, wl_cls) -> int:
    sess.launch()
    _log("JVM up")
    wl = wl_cls(sess, tracer, args.seed, work, args.tiny, args.seconds)
    setups, contexts = [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        with tracer.span("session.context"):
            contexts.append(sess.context())
        with tracer.span("setup.inputs"):
            wl.prepare(k)
        _refuse_prebuilt_artifacts(wl.sf_dir)
        setups.append(time.perf_counter() - t0)
        _log(f"set-up {k}: {setups[-1]:.2f}s")
    launch_total = time.perf_counter() - T_PROCESS - sum(setups)

    # the warm-up is the first pass of the workload's work in this JVM:
    # billed to set-up and reported on its own as cold_wall_s
    probes = harness.host_probe()
    cg0 = sess.codegen_compiles()
    t_cold0 = time.time()
    with tracer.span("cold"):
        cold_s = wl.cold()
    t_cold1 = time.time()
    cg_cold = sess.codegen_compiles() - cg0
    _log(f"cold pass: {cold_s:.2f}s")
    # process start -> JVM up (once), plus the median of the repeated
    # context + inputs set-ups, plus the warm-up
    setup_s = launch_total + harness.median(setups) + cold_s

    cg1, py0 = sess.codegen_compiles(), tracer.py4j_calls
    sess.old_gen_peak_mb(reset=True)
    t_win0 = time.time()
    with tracer.span("window"):
        wl.measure(args.seconds)
    t_win1 = time.time()
    rss = harness.peak_rss_mb(sess.jvm_pid)
    old_gen = sess.old_gen_peak_mb()
    probes += harness.host_probe()
    probe_s = harness.median(probes)
    cg_warm = sess.codegen_compiles() - cg1
    py4j_window = tracer.py4j_calls - py0

    _log("window done")
    try:
        problems = wl.check()
    finally:
        if hasattr(wl, "close"):
            wl.close()
    _log("checks done")
    e2e = wl.end_to_end()
    passes = len(wl.passes)
    attempted, failed = e2e.pop("_attempted"), e2e.pop("_failed")
    tail_s, tail_pct, n = (e2e.pop("latency_tail_s"), e2e.pop("_tail_pct"),
                           e2e.pop("_n"))
    e2e.update(setup_s=setup_s, cold_wall_s=cold_s, peak_rss_mb=rss)

    print(f"# workload={args.workload} seed={args.seed} cores={args.cores} "
          f"SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"passes={passes} trace={args.trace}")
    # printed, never applied: the metrics stay as measured
    print(f"# host_probe_s={probe_s:.6f}")
    print(f"# latency_tail_s={tail_s:.6f} s (p{tail_pct} of {n} samples)")
    print(f"# failed_ratio={failed / max(1, attempted):.6f} "
          f"({failed}/{attempted})")
    for p in problems:
        print(f"# CORRECTNESS: {p}")

    if args.trace:
        sess.close()    # flushes the event log
        ev = harness.event_log_metrics(os.path.join(work, "eventlog"),
                                       [(t_win0, t_win1)])
        ev_cold = harness.event_log_metrics(os.path.join(work, "eventlog"),
                                            [(t_cold0, t_cold1)])
        metrics = {
            "session.start_s": launch_total,
            "session.context_s": harness.median(contexts),
            "sources.scan_bytes": ev["scan_bytes"] / passes,
            "sources.scan_rows": ev["scan_rows"] / passes,
            "plans.py4j_calls": py4j_window / passes,
            "spark.codegen_compiles": cg_cold,
            "spark.codegen_compiles_warm": cg_warm / passes,
            "spark.cold_jobs": ev_cold["jobs"],
            "jvm.old_gen_peak_mb": old_gen,
            "trace.wall_s": e2e["wall_s"],
            "trace.spans": len(tracer.spans),
            "host.probe_s": probe_s,
        }
        for k in ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            metrics[f"spark.{k}"] = ev[k] / passes
        metrics["spark.task_skew"] = ev["task_skew"]
        metrics.update(wl.layers())
        # a layer the workload does not touch reads 0
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in _per_layer_units().items()}
    else:
        out = {k: {"value": float(e2e[k]), "unit": u}
               for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not problems, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}), flush=True)
    return 1 if problems else 0


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
