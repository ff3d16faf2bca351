"""Fast tier for the paper's serving path: the foreachBatch bodies
(``serving.fold_batch``, ``pipeline.write_batch``) called directly on
small static DataFrames, no streaming query.  The streaming end-to-end
twins live in test_serving.py / test_streaming.py (slow tier)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from mental_health_bigdata_project_spark.operators.analytics import stats_payload
from mental_health_bigdata_project_spark.streaming import pipeline as sp
from mental_health_bigdata_project_spark.streaming import serving as ssv

SCHEMA = ("id string, subreddit string, risk_score int, created_utc double, "
          "processed_at string")
# (subreddit, risk_score) per post; risks hit every bucket edge, one
# group is null, and no group mean sits on a rounding half-way
BATCHES = [
    [("depression", 5), ("anxiety", 12), (None, 31), ("depression", 25),
     ("anxiety", 40)],
    [("anxiety", 0), (None, 18), ("mentalhealth", 33), ("depression", 9)],
    [("depression", 30), ("mentalhealth", 22), (None, 7), ("anxiety", 10),
     ("depression", 20)],
]


def _batches(spark):
    """One DataFrame per batch; created_utc interleaves across batches
    so every batch moves the newest-N."""
    out, i = [], 0
    for rows in BATCHES:
        recs = []
        for sub, risk in rows:
            recs.append((f"p{i:02d}", sub, risk, float((i * 7) % 17), f"t{i:02d}"))
            i += 1
        out.append(spark.createDataFrame(recs, SCHEMA))
    return out


def test_serve_before_first_fold_is_zero_payload(spark, tmp_path):
    assert ssv.serve_stats(spark, str(tmp_path / "state")) == {
        "total_posts": 0, "avg_risk_score": 0.0, "high_risk_count": 0,
        "by_subreddit": {},
        "risk_distribution": {"0-10": 0, "10-20": 0, "20-30": 0, "30+": 0}}


def test_fold_matches_batch_payload_over_union(spark, tmp_path):
    state = str(tmp_path / "state")
    dfs = _batches(spark)
    for bid, df in enumerate(dfs):
        ssv.fold_batch(df, bid, state)
    union = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    expected = stats_payload(spark, union)
    del expected["recent_posts"]
    served = ssv.serve_stats(spark, state)
    assert served == expected
    assert served["total_posts"] == 14
    assert ssv.load_state(state)["through"] == 2


def test_refolding_a_batch_id_changes_nothing(spark, tmp_path):
    state = str(tmp_path / "state")
    dfs = _batches(spark)
    ssv.fold_batch(dfs[0], 0, state)
    ssv.fold_batch(dfs[1], 1, state)
    before = (ssv.load_state(state), ssv.serve_stats(spark, state))
    ssv.fold_batch(dfs[1], 1, state)   # replay after a crash
    ssv.fold_batch(dfs[2], 0, state)   # any id at or below `through`
    assert (ssv.load_state(state), ssv.serve_stats(spark, state)) == before


def test_null_group_round_trips(spark, tmp_path):
    state = str(tmp_path / "state")
    for bid, df in enumerate(_batches(spark)):
        ssv.fold_batch(df, bid, state)
    by_group = ssv.serve_stats(spark, state)["by_subreddit"]
    assert set(by_group) == {None, "depression", "anxiety", "mentalhealth"}
    assert by_group[None] == {"count": 3, "total_risk": 56, "avg_risk": 18.67}


def test_concurrent_reads_never_fail_or_go_back(spark, tmp_path):
    state = str(tmp_path / "state")
    df = _batches(spark)[0]
    seen, errors = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(ssv.serve_stats(spark, state)["total_posts"])
            except Exception as e:  # noqa: BLE001 - the assertion target
                errors.append(e)
            done.wait(0.001)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for bid in range(20):
            ssv.fold_batch(df, bid, state)
    finally:
        done.set()
        t.join(timeout=30)
    assert not t.is_alive()
    assert errors == []
    assert seen == sorted(seen) and len(set(seen)) > 1
    assert ssv.serve_stats(spark, state)["total_posts"] == 20 * len(BATCHES[0])


def test_incremental_latest_n_matches_full_sort(spark, tmp_path):
    out = str(tmp_path / "out")
    dfs = _batches(spark)
    for bid, df in enumerate(dfs):
        sp.write_batch(df, bid, out, latest_n=4)
    sp.write_batch(dfs[2], 2, out, latest_n=4)   # replay of the last batch
    union = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    want = union.orderBy(F.desc("created_utc"), F.desc("id")).limit(4)
    got = spark.read.parquet(f"{out}/latest")
    assert sorted(got.drop("batch_id").collect()) == sorted(want.collect())
    assert spark.read.parquet(f"{out}/all").count() == union.count()
