"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {qid: sec}, "sf": ...}.

Each query is executed to completion through the `noop` sink — unlike
count(), noop materializes EVERY output column (count lets Spark prune
computed projections, which would under-measure projection-heavy
queries).  Per-query wall time is measured around the action after a
session warm-up.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: reference surface + relational + text/dedup/similarity +
# streaming twins — the mix the engine must keep fast at scale.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_forecast",
    "q18_large_orders",
    "q4_order_priority",
    "q13_custdist",
    "q21_waiting_supplier",
    "win_range_frame",
    "sessionize_lag_gaps",
    "pipeline_training_data",
    "join_interval_events",
    "groupby_subreddit",
    "project_processed",
    "histogram_risk_buckets",
    "join_inner_equi",
    "join_broadcast_dim",
    "join_range_theta",
    "join_asof_events",
    "agg_rollup_region_nation",
    "win_running_sum",
    "topk_recent",
    "dedup_exact_docs",
    "dedup_minhash_near",
    "text_token_freq",
    "text_tfidf",
    "sim_cosine_topk",
    "stream_window_tumbling",
    "stream_window_session",
    "q11_important_parts",
    "pack_sequences",
    "decontam_benchmark",
    "q2_min_cost_supplier",
    "concurrency_peak",
    "text_repetition_stats",
    "text_pmi_bigrams",
    "ts_resample_ohlc",
    "wau_sliding_distinct",
    "skyline_pareto_orders",
    "interval_merge_overlaps",
    "agg_bitmap_distinct",
    "join_asof_nearest",
    "ts_ewma",
    "abc_classification",
    "session_path_topn",
    "sim_sparse_tfidf_cosine",
    "text_bigram_lm_score",
    "join_range_bucketed",
    # §2.10 scale paths added round 2 (VERDICT r1 item 8)
    "sim_ann_ivf",
    "multimodal_dedup_bytes",
    "dedup_cluster_components",
    "bpe_encode_apply",
    # rewritten from a global window to TakeOrderedAndProject in r2 —
    # keep its plan in the per-round audit (VERDICT r1 weak #2)
    "retain_last_n",
    # round-2 curation additions: C4 chunk rewrite, Gopher battery,
    # ANN recall harness, recipe/shard/enumeration/decontam ops
    # (dedup_survivor_select is deliberately absent: it re-executes the
    # full portable-minhash + components pipeline, whose stages are
    # already timed via dedup_minhash_near / dedup_cluster_components)
    "dedup_chunk_rewrite",
    "text_gopher_rules",
    "sim_ann_recall_eval",
    "mixture_token_budget",
    "decontam_embedding_cells",
    "corpus_shard_shuffle",
    "assign_contiguous_ids",
    # round-3 additions: ExactSubstr span removal (the overlapping-gram
    # explode is the costliest dedup shape — ~1 row per corpus token),
    # SemDeDup cluster-prune, and the composed IVFADC search
    "dedup_substring_rewrite",
    "dedup_semdedup",
    "sim_ivfpq_topk",
    "quality_ensemble_score",
    # ANN serving shape: one code scan, 8 queries
    "sim_ivfpq_batch",
    # round-4 additions: CCNet perplexity partition (bigram-LM chain +
    # per-lang tertiles), the diversity saturation curve (span-dedup
    # shuffle mass), and the cross-modality dedup agreement table
    "quality_ppl_buckets",
    "ngram_novelty_decay",
    "dedup_modality_agreement",
    # round-4 retrieval surface: BM25 inverted-index scoring and the
    # hybrid RRF combiner (BM25 arm + dense top-k + fusion join)
    "sim_bm25_topk",
    "rank_fusion_rrf",
    # round-4 layout surface: Z-order rewrite + min/max skipping eval
    # (two two-phase global ranks over lineitem — the dominant cost)
    "layout_zorder_skipping",
    # round-4 (late): iterative k-means training as dataflow — two
    # Lloyd passes over the exploded corpus with broadcast centroids
    "ml_kmeans_lloyd_portable",
    # round-4 (late): the portable-sketch surface — HLL register build
    # (one scan -> 64-row partials), Bloom bitmap probe (broadcast bit
    # join), and the three-way Kneser–Ney count aggregation
    "sketch_hll_portable", "sketch_bloom_decontam", "lm_kneser_ney_bigram",
    # round-4 (late): exact set-similarity self-join via prefix
    # filtering — the lossless full-corpus near-dup shape (df rank +
    # prefix candidate join + array_intersect verify)
    "dedup_setsim_prefix",
    # round-6 additions: the nprobe sweep (one ADC pass + 3 re-ranks —
    # the index-tuning shape), and the engine-native Datasketches
    # surface (JVM sketch aggs: HLL scan, theta set algebra, mergeable
    # frequent-items rollup)
    "sim_ivfpq_recall_sweep",
    "sketch_hll_native", "sketch_theta_setops_native",
    "sketch_topk_native_merge",
    # round-6 (late): the oracle-checked iterative graph shape —
    # five weighted-PageRank passes over the transition edge relation
    "graph_pagerank_fixed",
    # round-7: seeded walk, greedy farthest-point selection,
    # dimension-truncation recall
    "graph_ppr_fixed", "sample_coreset_kcenter", "vec_matryoshka_recall",
    # round-7 (late): the rank-statistic value-grid shape (two-phase
    # running sums over the distinct-value grid), the b-bit signature
    # compare over the memoized pair artifact, and the in-row window
    # battery (MATTR: ~n*w cell compares per row at scan speed)
    "stat_mann_whitney", "dedup_bbit_minhash", "text_ttr_mattr",
    # round-7 (late): double value-grid rank shape over the widest
    # fact table (two range exchanges of lineitem onto its grids)
    "stat_spearman_rho",
    # round-7 (late): grid-collapsed concordance and the stopword-run
    # phrase pipeline (posexplode + per-doc window + vocab broadcast)
    "stat_kendall_tau", "text_rake_keywords",
    # round-7 (late): the single-scan 64-aggregate bootstrap rollup
    # and the wedge-join link-prediction shape
    "stat_bootstrap_ci", "graph_adamic_adar",
    # round-8: register-merge overlap (no fp join), rolling-hash CDC
    # chunking (two doc-partitioned windows), the quantized-histogram
    # PSI drift gate, and the grid-interval packing planner
    "source_overlap_hll", "dedup_cdc_chunks", "dq_psi_drift",
    "pack_sequences_pairwise",
    # round-8 (late): oracle-checked power-iteration PCA (corpus
    # touched once for the Gram matrix; iterations metadata-sized)
    # and the grid-exact median/MAD robust outlier gate
    "ml_power_iteration_portable", "dq_mad_outliers",
    # round-8 (late): the two newest scan-and-scalar trainers — the
    # Newton logistic fit (two 5-aggregate scans) and split-conformal
    # calibration + coverage (three scans, grid-exact quantile)
    "ml_logreg_newton_portable", "stat_conformal_interval",
    # round-9: the d-feature Newton fit (20-aggregate scan + unrolled
    # 5x5 elimination), the REAL RIFF/PCM decode through mapInPandas,
    # the one-scan DoReMi EG reweighting, and the dual-quantile
    # conformal fairness gap
    "ml_logreg_newton_d", "media_decode_wav",
    "mixture_doremi_weights", "stat_conformal_group_gap",
    # round-9 (late): Heaps-law fit — the two-phase cumulative-curve
    # shape (range exchange of the doc grid) + log-log OLS — and the
    # RHO-loss cross-fitted selection (two LM scorings in one join)
    "text_heaps_law", "sample_rho_excess_loss",
    # round-9 (late): CUPED + the power/MDE readout over its moments,
    # and the two-step DoReMi trajectory (moving-reference EG)
    "stat_cuped_adjustment", "stat_power_mde",
    "mixture_doremi_trajectory",
    # round-9 (late): watermark z-scan — pure explode+agg riding the
    # scan — and the adjacent-pair Self-BLEU diversity join
    "text_watermark_detect", "text_self_bleu_adjacent",
    # round-10: the real float32/mu-law decodes through the same
    # mapInPandas path, LOGO influence (one grouped 20-sum scan + per-
    # group unrolled solves), calibration/Brier scoring scans, the
    # 13-gram bloom gate (span-shaped gram explode + bitmap semi-join)
    "media_decode_wav_float32", "media_decode_wav_mulaw",
    "ml_influence_logo_newton", "ml_calibration_bins",
    "stat_brier_decomposition", "decontam_ngram13_bloom",
    # round-10 (late): ring Self-BLEU (2 offset joins over one bigram
    # relation), T=5 DoReMi (5 vocab-shaped EG steps), the per-user
    # delta-method agg, two-phase SPRT curve, fertility Pareto, and
    # the exact moment-subtraction linreg LOGO
    "text_self_bleu_ring", "mixture_doremi_t5", "bpe_mixture_pareto",
    "stat_delta_method_ratio", "stat_sprt_ab",
    "ml_influence_linreg_logo",
    # round-10 (batch 2): the budget knapsack's score-ordered two-phase
    # cumsum, scan-riding code detect, two-gram-agg entropy rate, the
    # grouped pass@k scan, and the windowed-pairs Bradley-Terry MM
    "sample_quality_budget", "text_code_detect", "text_entropy_rate",
    "eval_pass_at_k", "eval_bradley_terry",
    # round-10 (batch 3): the sequential IMA-ADPCM decode through the
    # same mapInPandas path, the distinct-score-grid AUC/KS rank
    # shape, the two-scan histogram GBDT, the vocabulary-join Naive
    # Bayes loop, and the cluster-moment sandwich
    "media_decode_wav_adpcm", "eval_auc_roc", "ml_gbdt_stumps",
    "ml_naive_bayes", "stat_cluster_robust_se",
    # round-10 (batch 3, late): the audit->fix->re-audit Platt loop
    # (3 calibration-split Newton scans + one dual-ECE eval scan)
    "ml_platt_scaling",
]

# Queries per calibration group: a host-speed probe runs between
# groups and each query normalizes by its group's LOCAL divisor
# (VERDICT r8 item 1: one divisor per run cannot normalize intra-run
# drift — r8 measured a 0.96 spread WITHIN one bench).
GROUP_SIZE = 10


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from mental_health_bigdata_project_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("bench", master=f"local[{cpus}]")
    qs = entry_mod.queries()

    # Warm up the JVM once, plus each table's scan path (footer reads,
    # vectorized-reader init) so per-query numbers measure steady-state
    # execution rather than first-touch costs the queries don't own.
    spark.range(1000).count()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()

    # Warm the execution machinery itself — Janino/whole-stage-codegen
    # compiler, broadcast-exchange threads, shuffle writer, window path,
    # and the noop sink — with tiny synthetic plans.  First-touch of
    # these costs 2-3 s *once per JVM* and would otherwise be billed to
    # whichever query happens to run first (measured: the same query is
    # ~3 s cold / ~0.5 s once the machinery is up, independent of its
    # own expression complexity).  Each timed query below still pays its
    # own plan analysis + codegen compile.
    from pyspark.sql import functions as WF
    wa = spark.range(10_000).select((WF.col("id") % 7).alias("k"),
                                    WF.col("id").cast("double").alias("v"))
    wa.groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    (wa.join(WF.broadcast(spark.range(7).withColumnRenamed("id", "k")), "k")
     .write.format("noop").mode("overwrite").save())
    from pyspark.sql.window import Window as WW
    (wa.select(WF.row_number().over(
        WW.partitionBy("k").orderBy("v")).alias("rn"))
     .write.format("noop").mode("overwrite").save())

    # Host-speed calibration: a fixed synthetic workload that never
    # touches engine code or testdata (range -> hash agg -> shuffle ->
    # rollup), timed after warm-up.  BENCH totals proved to be a
    # property of the host era (SCALING.md §5: the SAME commit ran
    # 65 s one week and 109 s the next on this shared-infra machine),
    # so cross-round comparisons divide by this number instead of
    # trusting absolute walls.  Median of 3 to shed scheduler noise.
    def _calibrate() -> float:
        c = (spark.range(30_000_000)
             .select((WF.col("id") % 1009).alias("k"),
                     (WF.col("id") * 2654435761 % 97).cast("double")
                     .alias("v"))
             .groupBy("k").agg(WF.sum("v").alias("s"), WF.count("*")
                               .alias("n"))
             .groupBy((WF.col("k") % 7).alias("g")).agg(WF.sum("s"),
                                                        WF.sum("n")))
        t0 = time.perf_counter()
        c.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # ONE probe estimator everywhere — median of 5 — for the pre/post
    # brackets AND the inter-group probes (ADVICE r9: mixed
    # median-of-3/median-of-5 gave group divisors unequal variance);
    # the full sample lists are kept so each group carries a
    # confidence BAND, not just a point divisor (VERDICT r9 item 8).
    def _probe_samples() -> list[float]:
        return sorted(_calibrate() for _ in range(5))

    _calibrate()  # warm its codegen
    cal_pre_samples = _probe_samples()
    calibration_pre = round(cal_pre_samples[2], 3)

    # Two executions per query: the first (untimed beyond `cold`) pays
    # plan analysis + whole-stage-codegen compile for this query's
    # generated classes; the second reuses them and measures
    # steady-state execution — the number that scales with data volume
    # on a cluster (compile cost is per-JVM-per-plan, not per-row, and
    # amortizes to noise at 100 TB).  Both are reported: `queries` is
    # steady-state (the headline), `queries_cold` the first-run wall
    # incl. compile, so the one-shot cost stays visible.
    # Disclose the artifact-store state BEFORE the loop: with the
    # on-disk corpus artifacts (artifacts.py) a later bench run serves
    # the gram/setsim/IVF/PQ/pair tables from committed snapshots, so
    # even "cold" walls exclude the index builds.  The count of
    # pre-committed manifests rides the stdout line — 0 means this run
    # paid the builds, >0 means it read them from disk.
    import glob as _glob

    from mental_health_bigdata_project_spark import artifacts as _arts
    artifacts_prebuilt = len(_glob.glob(os.path.join(
        _arts.artifact_root(), _arts._dataset_key(sf_dir),
        "*", "manifest.json")))
    # Guard (VERDICT r10 item 9): without an explicit artifact store the
    # bench must COMPUTE every index in-run — a nonzero count here means
    # a regression re-enabled cross-run caching, and printing a bench
    # line over prebuilt indexes would be silent gaming.  Refuse loudly
    # (a raise, not assert: assert vanishes under -O).
    if not _arts.persistence_enabled() and artifacts_prebuilt:
        raise RuntimeError(
            f"{artifacts_prebuilt} prebuilt artifact manifest(s) found "
            "under the default store while $SPARK_GRAFT_ARTIFACT_DIR is "
            "unset — the bench must compute from the parquet inputs; "
            "delete .artifact_store or set the env var explicitly")

    # Per-GROUP calibration (VERDICT r8 item 1): a median-of-5 probe
    # runs between every GROUP_SIZE queries, and each query's
    # normalized time divides by the mean of the two probes BRACKETING
    # its group — a local divisor that tracks intra-run host drift the
    # single per-run median cannot (r8's own spread: the host moved
    # ~2x WITHIN one run).  The probe is the same fixed workload as
    # the run-level calibration, so group divisors and the run divisor
    # share units.
    groups = [HEADLINE[i:i + GROUP_SIZE]
              for i in range(0, len(HEADLINE), GROUP_SIZE)]
    probe_samples: list[list[float]] = [cal_pre_samples]  # pre bracket
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    group_of: dict[str, int] = {}
    for gi, group in enumerate(groups):
        for qid in group:
            fn = qs[qid]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold[qid] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[qid] = round(time.perf_counter() - t0, 3)
            group_of[qid] = gi
            print(f"# {qid}: {timings[qid]:.3f}s (cold {cold[qid]:.3f}s)",
                  file=sys.stderr)
        if gi < len(groups) - 1:
            probe_samples.append(_probe_samples())
            print(f"# calibration probe after group {gi}: "
                  f"{probe_samples[-1][2]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Host-normalized total (VERDICT r4 item 3): totals divided by the
    # calibration workload's wall, so cross-round readers compare ONE
    # dimensionless number instead of re-deriving host drift (same
    # commit measured 65 s one week, 109 s the next — SCALING.md §5).
    # The probe runs BEFORE and AFTER the query loop and the mean is
    # the divisor: same-day calibration walls were observed drifting
    # 2x within an hour on this shared-infra host, so a single
    # point-in-time probe over- or under-corrects a ~5-min run.
    # Median-of-5 before AND after the loop (VERDICT r7 item 1: the
    # single-shot probe swung 24% between rounds on identical
    # hardware class, poisoning every normalized cross-round delta).
    # The divisor is the median of ALL 10 samples; the spread
    # (max-min)/median is recorded so a reader can tell a real
    # regression from probe noise — a common-query normalized delta
    # smaller than the spread is not attributable.
    cal_post_samples = _probe_samples()
    calibration_post = round(cal_post_samples[2], 3)
    cal_all = sorted(cal_pre_samples + cal_post_samples)
    calibration_sec = round((cal_all[4] + cal_all[5]) / 2, 3)
    calibration_spread = round(
        (cal_all[-1] - cal_all[0]) / calibration_sec, 3)
    normalized_total = round(total / calibration_sec, 1)
    # per-group local divisors: mean of the two probe MEDIANS
    # bracketing each group (the post-loop probe closes the last
    # bracket).  A query's normalized time is dimensionless "multiples
    # of the probe workload at the moment the query actually ran" —
    # cross-round deltas in queries_normalized are attributable to
    # code, not to when within the run the host slowed down.
    probe_samples.append(cal_post_samples)
    group_probes = [round(s[2], 3) for s in probe_samples]
    group_div = [round((group_probes[i] + group_probes[i + 1]) / 2, 3)
                 for i in range(len(group_probes) - 1)]
    # per-group confidence BAND (VERDICT r9 item 8): relative +- half-
    # width of the bracketing probes' full sample range around the
    # divisor.  A cross-round normalized delta smaller than the sum of
    # the two rounds' bands is not attributable to code — the
    # adjudication r8's three noise suspects needed, now mechanical.
    group_band = [
        round((max(max(probe_samples[i]), max(probe_samples[i + 1]))
               - min(min(probe_samples[i]), min(probe_samples[i + 1])))
              / (2 * group_div[i]), 3)
        for i in range(len(group_div))]
    queries_normalized = {qid: round(t / group_div[group_of[qid]], 3)
                          for qid, t in timings.items()}
    normalized_total_grouped = round(sum(queries_normalized.values()), 1)
    probe_med = sorted(group_probes)[len(group_probes) // 2]
    calibration_group_spread = round(
        (max(group_probes) - min(group_probes)) / probe_med, 3)
    # Cross-round swing annotation: against the PREVIOUS BENCH_LOCAL
    # (if present), flag every common query whose normalized time
    # moved >30% and say whether the move fits inside the two rounds'
    # combined calibration bands — in_band swings are host noise by
    # construction, out-of-band ones deserve a code look.
    bench_local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    normalized_swings: dict[str, dict] = {}
    try:
        with open(bench_local_path) as fh:
            prev = json.load(fh)
        prev_norm = prev.get("queries_normalized", {})
        prev_bands = prev.get("calibration_group_bands", {})
        prev_group_of = prev.get("query_group", {})
        for qid, now in queries_normalized.items():
            was = prev_norm.get(qid)
            if not was:
                continue
            delta = (now - was) / was
            if abs(delta) <= 0.30:
                continue
            band_now = group_band[group_of[qid]]
            band_prev = (prev_bands.get(str(prev_group_of.get(qid)))
                         if isinstance(prev_bands, dict)
                         else None) or band_now
            normalized_swings[qid] = {
                "prev": was, "now": now,
                "delta_pct": round(100 * delta, 1),
                "band_pct": round(100 * (band_now + band_prev), 1),
                "in_band": abs(delta) <= band_now + band_prev,
            }
    except (OSError, ValueError):
        pass                       # first run, or unreadable prior file
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf else None

    # Streaming incremental-dedup throughput (VERDICT r2 item 6): the
    # foreachBatch bodies with persisted indexes, timed end-to-end by
    # scripts/bench_streaming_dedup.py.  Full detail goes to
    # BENCH_LOCAL.json; one compact rows/s map rides the stdout line.
    try:
        from scripts.bench_streaming_dedup import run as run_streaming
        streaming_detail = run_streaming(spark, sf_dir, n_batches=4)
        streaming_line = {
            name: stats["rows_per_sec"]
            for name, stats in streaming_detail["paths"].items()}
    except Exception as exc:  # never let the sidecar sink the bench line
        streaming_detail = {"error": str(exc)[:200]}
        streaming_line = {}
    # Full detail (cold runs, totals) goes to a file; stdout gets ONE
    # compact line in exactly the driver's schema.  r1's line carried the
    # cold map too and overflowed the driver's capture buffer
    # ("parsed": null), and r4's 76-query 3dp map overflowed it AGAIN
    # (~2.2k chars vs the ~2k capture -> BENCH_r04 "parsed": false).
    # Hard budget: the whole line stays under 1900 chars — top-55
    # queries by wall at 2dp, the rest rolled into "_other", streaming
    # rows/s as integers; BENCH_LOCAL.json keeps every query at 3dp.
    detail = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "total_cold_sec": round(sum(cold.values()), 3),
        "artifacts_prebuilt": artifacts_prebuilt,
        "sf": sf_val,
        "cpus": int(cpus),
        "calibration_sec": calibration_sec,
        "calibration_sec_median": calibration_sec,
        "calibration_spread": calibration_spread,
        "calibration_pre": calibration_pre,
        "calibration_post": calibration_post,
        "calibration_samples": [round(s, 3) for s in cal_all],
        "calibration_groups": group_probes,
        "calibration_group_spread": calibration_group_spread,
        "probe_estimator": "median_of_5",
        "calibration_group_bands": {str(i): b
                                    for i, b in enumerate(group_band)},
        "query_group": group_of,
        "normalized_swings_vs_prev": normalized_swings,
        "group_size": GROUP_SIZE,
        "queries_normalized": queries_normalized,
        "normalized_total": normalized_total,
        "normalized_total_grouped": normalized_total_grouped,
        "streaming_dedup": streaming_detail,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])

    def build_line(top_n: int) -> str:
        line_queries = {k: round(v, 2) for k, v in ranked[:top_n]}
        if len(ranked) > top_n:
            line_queries["_other"] = round(
                sum(v for _, v in ranked[top_n:]), 2)
        return json.dumps({
            "metric": "headline_query_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": line_queries,
            "sf": sf_val,
            "calibration_sec": calibration_sec,
            "calibration_sec_median": calibration_sec,
            "calibration_spread": calibration_spread,
            "calibration_group_spread": calibration_group_spread,
            "calibration_band_max": max(group_band),
            "normalized_total": normalized_total,
            # sum of per-query times each divided by its group's LOCAL
            # probe divisor — the drift-robust cross-round number
            "normalized_total_grouped": normalized_total_grouped,
            # cold totals on the DRIVER-VISIBLE line too (VERDICT r6
            # item 6): cross-round readers get warm AND cold from the
            # same record, so comparisons can't pick the flattering one
            "total_cold_sec": round(sum(cold.values()), 3),
            "artifacts_prebuilt": artifacts_prebuilt,
            "streaming_dedup_rows_per_sec": {k: round(v)
                                             for k, v in
                                             streaming_line.items()},
        }, separators=(",", ":"))

    # the driver's capture buffer truncates ~2k chars (r1 and r4 both
    # produced "parsed": false lines) — shrink the per-query map until
    # the line fits instead of dying line-less (a bare assert here once
    # killed the run pre-print and pre-stop, and vanishes under -O)
    line = build_line(55)
    top_n = 55
    while len(line) >= 1900 and top_n > 0:
        top_n -= 5
        line = build_line(top_n)
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    try:
        main()
    finally:
        # shut the JVM down even when a run dies mid-bench — a leaked
        # local[32] session would contend with (and skew) the next run
        from pyspark.sql import SparkSession
        _active = SparkSession.getActiveSession()
        if _active is not None:
            _active.stop()
