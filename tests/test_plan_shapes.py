"""Plan-shape regression guard: no single-partition exchanges, no
sort-merge joins — enforced for the north-star operators so a refactor
cannot silently reintroduce a global sort or an unbroadcast big join.
Runs the FINAL (AQE) plan at sf0.001, so it is cheap.  Any other
query's plan prints on demand with ``explain()``, or to
``plans/dumps/`` via ``scripts/dump_plans.py``."""

from __future__ import annotations

import re

import pytest

# Long-running parity/e2e/compaction tests: slow tier (r11; see
# pytest.ini) — the driver's default `pytest tests/ -x -q` gate
# outgrew its time budget (VERDICT r10 item 1); run with -m slow.
pytestmark = pytest.mark.slow


# (qid, max single-partition exchanges, max sort-merge joins) —
# budgets are the DOCUMENTED benign cases, not slack:
#   text_tfidf: one 1-row global-N aggregate for the IDF denominator
#     (the q6_revenue_forecast class — a one-row exchange, not a sort
#     of data);
#   merge_upsert_cdc: one FULL OUTER join, where SortMergeJoin is the
#     correct physical strategy (broadcast does not support full-outer
#     on either side) and both inputs arrive pre-partitioned on the
#     key from their compaction windows.
GUARDED = [
    ("dedup_exact_docs", 0, 0),
    ("dedup_chunk_rewrite", 0, 0),
    ("dedup_substring_rewrite", 0, 0),
    ("dedup_semdedup", 0, 0),
    ("sim_ivfpq_topk", 0, 0),
    ("sim_cosine_topk", 0, 0),
    ("text_tfidf", 1, 0),
    ("quality_ensemble_score", 0, 0),
    ("pipeline_training_data", 0, 0),
    ("merge_upsert_cdc", 0, 1),
    ("q1_pricing_summary", 0, 0),
    ("q3_shipping_priority", 0, 0),
    # round-4 widening: the rest of the LLM-pipeline north stars.
    #   dsir_importance_weights: one exchange collapsing the 256-bucket
    #     hashed-bigram LLR table to a broadcastable lookup (256 rows —
    #     metadata, not data);
    #   split_leakage_audit: one 1-row global aggregate of the
    #     train-side leak totals (the q6/text_tfidf class).
    ("dedup_minhash_near", 0, 0),
    ("dedup_cluster_components", 0, 0),
    ("sim_ivfpq_batch", 0, 0),
    ("dedup_soft_weights", 0, 0),
    ("dsir_importance_weights", 1, 0),
    ("split_leakage_audit", 1, 0),
    ("decontam_benchmark", 0, 0),
    ("text_repetition_stats", 0, 0),
    ("dedup_chunk_exact", 0, 0),
    ("source_overlap_matrix", 0, 0),
    ("mine_hard_negatives", 0, 0),
    ("pack_sequences", 0, 0),
    ("dedup_substring_spans", 0, 0),
    ("text_gopher_rules", 0, 0),
    # round-4 queries: each nonzero budget is a documented 1-row
    # global aggregate (vocab size / max-id broadcast / output rollup)
    ("quality_ppl_buckets", 1, 0),
    ("ngram_novelty_decay", 1, 0),
    ("dedup_modality_agreement", 0, 0),
    ("emb_cell_balance", 1, 0),
    ("doc_length_survival", 1, 0),
    ("bpe_fertility_by_lang", 0, 0),
    # round-4 retrieval surface: BM25's budget is the 1-row avgdl/N
    # scalar aggregate; RRF additionally ranks the fused ≤40-row
    # candidate list in one bounded single-partition window.
    ("sim_bm25_topk", 1, 0),
    ("rank_fusion_rrf", 3, 0),
    ("retrieval_eval_ndcg", 0, 0),
    # layout_zorder_skipping: the 1-row domain-max aggregate plus one
    # P-row (P = shuffle partitions) offset prefix-sum window per
    # layout (the _two_phase_global_rank pattern — metadata-sized;
    # the wide data moves only through range exchanges)
    ("layout_zorder_skipping", 3, 0),
    # round-4 sketch surface.  Budgets are documented benign cases:
    #   sketch_hdr_quantiles: two cumulative-count windows over BOUNDED
    #     tables (the ~2k-row bucket histogram and the distinct-cents
    #     CDF) plus the 1-row total-count aggregate;
    #   sketch_bloom_decontam / lm_kneser_ney_bigram: one 1-row global
    #     aggregate each (the summary row / the bigram-type total).
    ("sketch_hll_portable", 0, 0),
    ("sketch_hll_merge", 0, 0),
    ("sketch_hdr_quantiles", 3, 0),
    ("sketch_bloom_decontam", 1, 0),
    ("sample_weighted_reservoir", 0, 0),
    ("ml_linreg_closed_form", 0, 0),
    ("lm_kneser_ney_bigram", 1, 0),
    ("vec_jl_distortion", 0, 0),
    ("sim_jl_topk_recall", 0, 0),
    # sketch_hdr_merge: three 1-row summary aggregates (cross-joined
    # into the single output row) and one full-outer join over the
    # ~2k-row bucket histograms, where SMJ is the only strategy
    ("sketch_hdr_merge", 3, 1),
    # sketch_hll_setops: three 1-row summary aggregates (estimate
    # pivot, exact counts, exact intersection) into the single output
    ("sketch_hll_setops", 3, 0),
    # assoc_rules_pairs: one 1-row basket-count aggregate
    ("assoc_rules_pairs", 1, 0),
    ("dq_profile_columns", 0, 0),
    # round-4 (late) additions.
    #   dedup_setsim_prefix: all joins key on shingles / doc ids (hash
    #     strategies); no global aggregate anywhere;
    #   er_sorted_neighborhood: window partitioned by lang — no global
    #     sort, no join at all;
    #   ivm_agg_refresh: the state fold is one FULL OUTER join of two
    #     #groups-sized aggregate tables, where SMJ is the only
    #     physical strategy (the merge_upsert_cdc class);
    #   ts_twap: one user_id window + grouped aggregate, same exchange.
    ("dedup_setsim_prefix", 0, 0),
    ("er_sorted_neighborhood", 0, 0),
    ("ivm_agg_refresh", 0, 1),
    ("ts_twap", 0, 0),
    #   neardup_lsh_eval: one full-outer join of the two pair sets
    #     (SMJ is the only full-outer strategy) into a 1-row rollup.
    ("neardup_lsh_eval", 1, 1),
    #   anomaly_cusum_shift: windows over the |types|x|days| rollup,
    #     per-type mu broadcast — no global sort, no SMJ.
    ("anomaly_cusum_shift", 0, 0),
    # round-6 additions.
    #   sim_ivfpq_recall_sweep: candidate scoring joins are broadcast;
    #     the 16-row cell-rank window and 10-row top-k selections stay
    #     out of the final plan's exchanges at sf0.001;
    #   sketch_theta_setops_native: two 1-row summary aggregates (the
    #     sketch pivot and the exact counts) cross-joined into the
    #     single output row;
    #   sketch_topk_native(_merge): one 1-row corpus-sketch aggregate
    #     (the combine/estimate fold — state is KB-sized by design).
    ("sim_ivfpq_recall_sweep", 0, 0),
    ("sketch_hll_native", 0, 0),
    ("sketch_hll_native_merge", 0, 0),
    ("sketch_theta_setops_native", 2, 0),
    ("sketch_topk_native", 1, 0),
    ("sketch_topk_native_merge", 1, 0),
    #   graph_pagerank_fixed: the per-pass 1-row aggregates land on
    #     checkpointed 5-row frames, so the final plan carries no
    #     single-partition exchange and no SMJ
    ("graph_pagerank_fixed", 1, 0),
    ("graph_hits_fixed", 1, 0),
    # round-7 additions.
    #   stat_mann_whitney: the stat_ks class — the P-row offset
    #     prefix-sum window plus the 1-row totals and 1-row rollup
    #     aggregates (all metadata-sized; the wide data moves through
    #     the one range exchange of the value grid);
    #   stat_chi_square: two 1-row summary aggregates (totals pivot,
    #     decimal ratio sum) cross-joined into the single output row;
    #   dedup_bbit_minhash / text_ttr_mattr: no global aggregate — the
    #     pair artifact joins hash on doc ids, MATTR is pure scan.
    ("stat_mann_whitney", 3, 0),
    ("stat_chi_square", 2, 0),
    ("dedup_bbit_minhash", 0, 0),
    ("text_ttr_mattr", 0, 0),
    #   privacy_t_closeness / stat_anova_oneway: one 1-row global
    #     aggregate each (the N scalar / the k-group rollup)
    ("privacy_t_closeness", 1, 0),
    ("stat_anova_oneway", 1, 0),
    #   ts_holt_linear: the 1-row last-day max, the 1-row collected
    #     day-series fold (bpe_train precedent — metadata-sized), and
    #     the 1-row train-horizon max
    ("ts_holt_linear", 3, 0),
    #   stat_spearman_rho: two P-row offset prefix-sum windows (one
    #     per variable's value grid) and the 1-row decimal rollup
    ("stat_spearman_rho", 3, 0),
    #   win_sliding_median: one user_id window exchange, no global sort;
    #   agg_theil_inequality: two 1-row summary aggregates (totals,
    #     decimal term rollup)
    ("win_sliding_median", 0, 0),
    ("agg_theil_inequality", 2, 0),
    #   stat_kendall_tau: four 1-row rollups (totals, x-ties, y-ties,
    #     concordance) cross-joined into the single output row; the
    #     quadratic self-join is the broadcast ~550-row grid
    ("stat_kendall_tau", 4, 0),
    #   text_rake_keywords: per-doc windows + hash aggs + broadcast
    #     vocab join; TakeOrderedAndProject for the top-20
    ("text_rake_keywords", 0, 0),
    #   stat_bootstrap_ci: one 1-row 64-aggregate rollup (the whole
    #     point — all 32 replicates in a single scan);
    #   dq_referential_integrity: three 1-row orphan-count aggregates
    #     unioned; win_streak_islands: per-user window + hash aggs only
    ("stat_bootstrap_ci", 1, 0),
    ("dq_referential_integrity", 3, 0),
    ("win_streak_islands", 0, 0),
    #   stat_ab_srm: the 1-row total + 1-row chi2 rollup;
    #   text_burstiness: the 1-row doc-count broadcast;
    #   graph_adamic_adar: all joins key on doc/neighbor/degree — no
    #     global aggregate (top-25 is TakeOrderedAndProject)
    ("stat_ab_srm", 2, 0),
    ("text_burstiness", 1, 0),
    ("graph_adamic_adar", 0, 0),
]


def _final_plan(df) -> str:
    df.collect()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("qid,max_single,max_smj", GUARDED)
def test_no_single_partition_or_smj(spark, sf_dir, qid, max_single,
                                    max_smj):
    from mental_health_bigdata_project_spark.plans import QUERIES

    plan = _final_plan(QUERIES[qid](spark, sf_dir))
    single = len(re.findall(r"Exchange SinglePartition", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    assert single <= max_single, (
        f"{qid}: {single} single-partition exchange(s), budget {max_single}")
    assert smj <= max_smj, (
        f"{qid}: {smj} sort-merge join(s), budget {max_smj}")
