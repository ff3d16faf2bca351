"""Semantic tests for the round-4 (late) operators: prefix-filtered
exact set-similarity join, sorted-neighborhood entity resolution,
time-weighted averaging, and incremental aggregate-view refresh.
Value-parity vs DuckDB is scripts/check_oracles.py; these pin the
*semantics* on hand-built inputs plus cross-query invariants at
sf0.001."""

from __future__ import annotations
import pytest

import datetime

from pyspark.sql import functions as F

from mental_health_bigdata_project_spark.plans import QUERIES

# Long-running parity/e2e/compaction tests: slow tier (r11; see
# pytest.ini) — the driver's default `pytest tests/ -x -q` gate
# outgrew its time budget (VERDICT r10 item 1); run with -m slow.
pytestmark = pytest.mark.slow



def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint")
    d = str(tmp_path / "docs")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


# --- dedup_setsim_prefix ---------------------------------------------------

def test_setsim_prefix_finds_exact_jaccard_pair(spark, tmp_path):
    # doc 2's token stream is doc 1's minus the last token: shingle
    # sets are 10 vs 9 with all 9 shared -> J = 9/10.
    toks = [f"w{i}" for i in range(12)]
    d = _write_docs(spark, tmp_path, [
        (1, " ".join(toks), "en"),
        (2, " ".join(toks[:-1]), "en"),
        (3, " ".join(f"z{i}" for i in range(12)), "en"),
    ])
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in QUERIES["dedup_setsim_prefix"](spark, d).collect()}
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - 0.9) < 1e-12


def test_setsim_prefix_matches_naive_join_on_shared_scope(spark, sf_dir):
    """Prefix filtering is LOSSLESS: restricted to the naive query's
    doc_id < 200 scope, the full-corpus prefix join must produce the
    bitwise-identical pair set (dedup_ngram_jaccard is itself
    oracle-checked, so this transitively pins the filter's
    no-false-negative guarantee on real data)."""
    naive = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()}
    pref = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in QUERIES["dedup_setsim_prefix"](spark, sf_dir)
            .filter((F.col("doc_a") < 200) & (F.col("doc_b") < 200))
            .collect()}
    assert pref == naive


def test_setsim_prefix_lossless_at_awkward_thresholds(spark, tmp_path):
    """The pruning bounds compare with epsilon slack so float rounding
    can never tighten them past the exact rational bound (e.g.
    ceil(0.18/1.18 * 413) = 64 in doubles vs 63 exact).  Pin the
    lossless contract at thresholds where t/(1+t) and t*sz are
    non-representable, against in-test brute force."""
    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.plans.textops import (
        setsim_candidates, setsim_index, setsim_shingles, setsim_verify,
        tokens_col)

    # overlapping token windows: doc i = tokens [2i, 2i+24) over a
    # shared vocabulary, so neighbors overlap at a sliding range of
    # jaccards crossing any threshold
    rows = [(i, " ".join(f"w{j}" for j in range(2 * i, 2 * i + 24)), "en")
            for i in range(40)]
    d = _write_docs(spark, tmp_path, rows)
    docs = spark.read.parquet(f"{d}/documents.parquet").select(
        "doc_id", tokens_col().alias("toks"))
    sh = setsim_shingles(docs)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("c"))
    naive = (sh.alias("a").join(
                 sh.alias("b"),
                 (F.col("a.shingle") == F.col("b.shingle"))
                 & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter"))
             .join(cnt.select(F.col("doc_id").alias("doc_a"),
                              F.col("c").alias("ca")), "doc_a")
             .join(cnt.select(F.col("doc_id").alias("doc_b"),
                              F.col("c").alias("cb")), "doc_b")
             .withColumn("j", F.col("inter")
                         / (F.col("ca") + F.col("cb") - F.col("inter"))))
    per_doc = setsim_index(sh)
    for t in (0.18, 0.5, 0.73):
        want = {(r["doc_a"], r["doc_b"])
                for r in naive.filter(F.col("j") >= t).collect()}
        got = {(r["doc_a"], r["doc_b"]) for r in
               setsim_verify(per_doc, setsim_candidates(per_doc, t), t)
               .collect()}
        assert got == want, f"t={t}: prefix filter dropped true pairs"


# --- er_sorted_neighborhood ------------------------------------------------

def test_sorted_neighborhood_windows_within_lang(spark, tmp_path):
    # Sort order within lang 'en' by head: doc 3 ("aaa..."), doc 1
    # ("abc..."), doc 2 ("abd...").  Window w=3 covers all in-lang
    # pairs here; the de doc never pairs with en docs.
    d = _write_docs(spark, tmp_path, [
        (1, "abc " + "x " * 30, "en"),
        (2, "abd " + "x " * 30, "en"),
        (3, "aaa " + "y " * 30, "en"),
        (4, "abc " + "x " * 30, "de"),
    ])
    rows = QUERIES["er_sorted_neighborhood"](spark, d).collect()
    pairs = {(r["doc_a"], r["doc_b"]): (r["gap"], r["dist"]) for r in rows}
    assert (4, 1) not in pairs and (1, 4) not in pairs  # lang blocks
    assert pairs[(3, 1)][0] == 1          # adjacent in sort order
    assert pairs[(1, 2)] == (1, 1)        # abc vs abd: one substitution
    assert pairs[(3, 2)][0] == 2          # two apart
    assert all(1 <= g <= 3 and d_ <= 20 for g, d_ in pairs.values())


def test_sorted_neighborhood_cost_is_linear_in_rows(spark, sf_dir):
    # O(n*w) candidates: never more than 3 emitted pairs per doc.
    out = QUERIES["er_sorted_neighborhood"](spark, sf_dir)
    per_doc = out.groupBy("doc_a").agg(F.count("*").alias("n")).collect()
    assert per_doc and max(r["n"] for r in per_doc) <= 3


# --- ts_twap ---------------------------------------------------------------

def test_twap_weights_by_holding_duration(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, 10.0),
        (2, t0 + datetime.timedelta(seconds=10), 10, 20.0),
        (3, t0 + datetime.timedelta(seconds=40), 10, 30.0),  # no successor
        (4, t0, 11, 5.0),                                    # single event
    ]
    df = spark.createDataFrame(
        [(i, ts, u, "view", v, "{}") for i, ts, u, v in rows],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string")
    d = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in QUERIES["ts_twap"](spark, d).collect()}
    # user 10: 10 held 10s, 20 held 30s -> (100+600)/40 = 17.5
    assert out[10]["n_intervals"] == 2
    assert out[10]["span_us"] == 40_000_000
    assert abs(out[10]["twap"] - 17.5) < 1e-9
    assert 11 not in out  # a lone reading has no holding interval


def test_twap_bounded_by_value_range(spark, sf_dir):
    from mental_health_bigdata_project_spark.sources import load_table
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    out = QUERIES["ts_twap"](spark, sf_dir)
    bad = out.filter((F.col("twap") < lo - 1e-6)
                     | (F.col("twap") > hi + 1e-6)).count()
    assert bad == 0 and out.count() > 0


# --- anomaly_cusum_shift ---------------------------------------------------

def test_cusum_matches_sequential_recurrence_and_alarms_on_shift(
        spark, tmp_path):
    """The window identity S_t = P_t - min(0, min P_i) must equal the
    sequential recurrence max(0, S+dev) day by day, and a sustained
    level shift must alarm where a stationary series never does."""
    t0 = datetime.datetime(2024, 1, 1)
    # 10 days at ~10 events/day, then 8 days at 20/day (the shift)
    counts = [10, 11, 9, 10, 10, 11, 9, 10, 11, 9] + [20] * 8
    rows, eid = [], 0
    for d, c in enumerate(counts):
        for i in range(c):
            rows.append((eid, t0 + datetime.timedelta(days=d, seconds=i),
                         1, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    d = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = sorted(QUERIES["anomaly_cusum_shift"](spark, d).collect(),
                 key=lambda r: r["day"])

    # independent sequential CUSUM with the query's mu/k rule
    mu = round(sum(counts) / len(counts), 6)
    k, h = round(mu * 0.1, 6), round(mu * 0.3, 6)
    s, expect = 0.0, []
    for c in counts:
        s = max(0.0, s + (c - mu - k))
        expect.append(round(s, 6))
    got = [r["cusum"] for r in out]
    assert all(abs(g - e) < 1e-6 for g, e in zip(got, expect))
    alarms = [r["day"].day for r in out if r["alarm"] == 1]
    assert alarms and min(alarms) >= 11   # fires only after the shift
    assert all(r["alarm"] == 0 for r in out[:10])


def test_cusum_zero_event_days_reset_isolated_bursts(spark, tmp_path):
    """Days with NO events are real CUSUM observations (strong
    negative drift): isolated bursts separated by silence must not
    ratchet S upward across the gaps, so the densified series never
    alarms — and the gap days appear in the output with n = 0."""
    t0 = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for d in (0, 10, 20):               # 3 one-day bursts, 9 silent days
        for i in range(30):             # between each
            rows.append((eid, t0 + datetime.timedelta(days=d, seconds=i),
                         1, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    d = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = sorted(QUERIES["anomaly_cusum_shift"](spark, d).collect(),
                 key=lambda r: r["day"])
    assert len(out) == 21                       # densified 21-day spine
    assert sum(1 for r in out if r["n"] == 0) == 18
    # the silent gaps drain S back to zero, so each burst starts from
    # scratch: identical cusum on every burst day, zero on the eve of
    # the next burst — no ratcheting across unrelated spikes (a single
    # 7x-mean day alarming on its own day is correct chart behavior)
    by_idx = {i: r for i, r in enumerate(out)}
    assert by_idx[9]["cusum"] == 0.0 and by_idx[19]["cusum"] == 0.0
    assert (by_idx[0]["cusum"] == by_idx[10]["cusum"]
            == by_idx[20]["cusum"] > 0.0)


# --- ivm_agg_refresh -------------------------------------------------------

def test_ivm_refresh_equals_full_recompute(spark, sf_dir):
    from mental_health_bigdata_project_spark.sources import load_table
    o = load_table(spark, sf_dir, "orders")
    direct = {r["o_orderpriority"]: (r["n"], float(r["s"]))
              for r in o.groupBy("o_orderpriority").agg(
                  F.count("*").alias("n"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("s")).collect()}
    folded = {r["o_orderpriority"]: (r["n_orders"], r["total_price"])
              for r in QUERIES["ivm_agg_refresh"](spark, sf_dir).collect()}
    assert folded == direct


# --- corpus_shingles session memo (round 6) --------------------------------

def test_corpus_shingles_memoized_and_identical_to_fresh(spark, sf_dir):
    """The session-wide gram-table memo (VERDICT r5 item 3) must hand
    every consumer the SAME materialized relation (one checkpoint per
    (session, sf_dir)) and that relation must equal a fresh
    un-memoized computation row-for-row."""
    from mental_health_bigdata_project_spark.plans.textops import (
        _docs, corpus_shingles, setsim_shingles, tokens_col)

    a = corpus_shingles(spark, sf_dir)
    b = corpus_shingles(spark, sf_dir)
    assert a is b  # memo hit: the checkpointed frame itself is reused
    fresh = setsim_shingles(
        _docs(spark, sf_dir).select("doc_id", tokens_col().alias("toks")))
    assert a.count() == fresh.count()
    assert a.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(a).count() == 0


# --- graph_pagerank_fixed (round 6) -----------------------------------------

def test_pagerank_mass_conserved_and_nonuniform(spark, sf_dir):
    """Weighted PageRank invariants the oracle hash can't see: total
    rank mass stays 1 (damping + dangling redistribution conserve it)
    and the weighted graph yields NON-uniform ranks — the complete
    unweighted transition graph has uniform ranks as a fixed point, so
    uniformity here would mean the weights aren't reaching the
    propagation."""
    from mental_health_bigdata_project_spark.plans import QUERIES

    rows = QUERIES["graph_pagerank_fixed"](spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.pagerank for r in rows) - 1.0) < 1e-6
    assert len({r.pagerank for r in rows}) > 1
    assert all(r.pagerank > 0 for r in rows)


def test_hits_scores_bounded_and_nonuniform(spark, sf_dir):
    """Weighted HITS invariants: max-normalized scores sit in (0, 1]
    with at least one exact 1.0 per vector, and the weighted graph
    yields non-uniform scores (the unweighted complete transition
    graph has uniform scores as a fixed point)."""
    from mental_health_bigdata_project_spark.plans import QUERIES

    rows = QUERIES["graph_hits_fixed"](spark, sf_dir).collect()
    assert rows
    for col in ("authority", "hub"):
        vals = [getattr(r, col) for r in rows]
        assert all(0 < v <= 1.0 for v in vals), (col, vals)
        assert max(vals) == 1.0
        assert len(set(vals)) > 1, (col, vals)


# --- graph_ppr_fixed / sample_coreset_kcenter (round 7) ---------------------

def test_ppr_mass_conserved_and_seed_concentrated(spark, sf_dir):
    """Personalized PageRank invariants: teleport + dangling both
    return to the seed, so total mass stays 1; the seed holds the
    largest rank on this diffusive graph; non-seed ranks are strictly
    positive only via propagation (>= 0 always).  Mass is asserted on
    the unrounded iteration: the five 6dp output ranks may sum to
    1 +- 2.5e-6 by rounding alone."""
    from mental_health_bigdata_project_spark.plans import QUERIES
    from mental_health_bigdata_project_spark.plans.advanced import (
        ppr_ranks_from_edges, transition_edges)
    from mental_health_bigdata_project_spark.sources import load_table

    ranks = ppr_ranks_from_edges(transition_edges(
        load_table(spark, sf_dir, "events"))).collect()
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-6
    rows = QUERIES["graph_ppr_fixed"](spark, sf_dir).collect()
    assert rows
    seed = min(r.node for r in rows)
    by_node = {r.node: r.ppr for r in rows}
    assert by_node[seed] == max(by_node.values())
    assert all(v >= 0 for v in by_node.values())
    assert len(set(by_node.values())) > 1


def test_ppr_streaming_serve_equals_batch(spark, sf_dir, tmp_path):
    """The folded streaming edge state serves PPR too — third
    algorithm over one edge relation."""
    from mental_health_bigdata_project_spark.plans import QUERIES
    from mental_health_bigdata_project_spark.streaming.graphstate import (
        edges_batch, read_ppr)
    from mental_health_bigdata_project_spark.sources import load_table

    idx = str(tmp_path / "idx")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    edges_batch(ev, 0, idx)   # single batch: ordering contract trivial
    got = sorted(tuple(r) for r in read_ppr(spark, idx).collect())
    want = sorted(tuple(r) for r in
                  QUERIES["graph_ppr_fixed"](spark, sf_dir).collect())
    assert got == want


def test_kcenter_radius_monotone_and_distinct(spark, sf_dir):
    """Greedy k-center invariants the oracle hash can't see: the
    covering radius (sep) is non-increasing after step 2, all picks
    are distinct, and step 1 is the deterministic min-vec_id start."""
    from mental_health_bigdata_project_spark.plans import QUERIES
    from mental_health_bigdata_project_spark.sources import load_table

    rows = sorted(QUERIES["sample_coreset_kcenter"](spark, sf_dir)
                  .collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == list(range(1, 9))
    assert len({r.vec_id for r in rows}) == 8
    seps = [r.sep for r in rows[1:]]
    assert all(a >= b for a, b in zip(seps, seps[1:]))
    assert all(s > 0 for s in seps)
    min_vec = load_table(spark, sf_dir, "embeddings") \
        .agg({"vec_id": "min"}).collect()[0][0]
    assert rows[0].vec_id == min_vec and rows[0].sep == 0.0


def test_matryoshka_recall_monotone_anchor(spark, sf_dir):
    """Dimension-truncation recall invariants: the full-dim arm is the
    ground truth (recall exactly 1.0), every arm is in [0, 1] in
    tenths, and wider prefixes never hurt on this corpus's anchor row
    count (4 arms present, ordered)."""
    from mental_health_bigdata_project_spark.plans import QUERIES

    rows = sorted(QUERIES["vec_matryoshka_recall"](spark, sf_dir)
                  .collect(), key=lambda r: r.dims)
    assert [r.dims for r in rows] == [8, 16, 32, 64]
    assert rows[-1].recall_at_10 == 1.0
    for r in rows:
        assert 0.0 <= r.recall_at_10 <= 1.0
        assert abs(r.recall_at_10 * 10 - round(r.recall_at_10 * 10)) < 1e-9


def test_ppr_multi_slice_equals_single_seed(spark, sf_dir):
    """The seed-batched matrix's min-seed slice must equal
    graph_ppr_fixed bit-for-bit (same loop arithmetic, batched), and
    every seed's slice conserves unit mass."""
    from collections import defaultdict

    from mental_health_bigdata_project_spark.plans import QUERIES

    multi = QUERIES["graph_ppr_multi"](spark, sf_dir).collect()
    single = {(r.node): r.ppr for r in
              QUERIES["graph_ppr_fixed"](spark, sf_dir).collect()}
    seed0 = min(r.seed for r in multi)
    slice0 = {r.node: r.ppr for r in multi if r.seed == seed0}
    assert slice0 == single
    mass = defaultdict(float)
    for r in multi:
        mass[r.seed] += r.ppr
    assert len(mass) >= 2
    for s, m in mass.items():
        assert abs(m - 1.0) < 1e-5, (s, m)


def test_benford_shares_sum_to_one(spark, sf_dir):
    from mental_health_bigdata_project_spark.plans import QUERIES

    rows = QUERIES["dq_benford_deviation"](spark, sf_dir).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.expected for r in rows) - 1.0) < 1e-4
    assert all(r.abs_dev >= 0 for r in rows)


def test_ks_statistic_matches_exact_recompute(spark, sf_dir):
    """D recomputed in pure Python over collected samples (exact
    integer arithmetic, same sup-over-grid definition) must equal the
    distributed two-phase result — pins the running-sum offsets."""
    from mental_health_bigdata_project_spark.plans import QUERIES
    from mental_health_bigdata_project_spark.sources import load_table
    from fractions import Fraction

    row = QUERIES["stat_ks_two_sample"](spark, sf_dir).collect()[0]
    li = (load_table(spark, sf_dir, "lineitem")
          .filter("l_returnflag IN ('R','N')")
          .select("l_extendedprice", "l_returnflag").collect())
    from collections import Counter
    ca, cb = Counter(), Counter()
    for r in li:
        (ca if r.l_returnflag == "R" else cb)[r.l_extendedprice] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    assert (row.n_a, row.n_b) == (na, nb)
    cum_a = cum_b = 0
    best = Fraction(0)
    for v in sorted(set(ca) | set(cb)):
        cum_a += ca.get(v, 0)
        cum_b += cb.get(v, 0)
        best = max(best, abs(Fraction(cum_a, na) - Fraction(cum_b, nb)))
    assert abs(row.d_stat - float(best)) < 5e-7
