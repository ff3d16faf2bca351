"""Source/sink tests: JSON posts source (both layouts + missing file),
partitioned parquet sink with pruning, latest-N query."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mental_health_bigdata_project_spark.operators import io as mio
from mental_health_bigdata_project_spark.sources import load_table
from mental_health_bigdata_project_spark.sources.json_posts import read_posts_json

POST = {"id": "p1", "title": "t", "text": "x", "author": "a",
        "subreddit": "s", "created_utc": 1.0, "score": 1,
        "num_comments": 0, "url": "", "timestamp": "2024-01-01T00:00:00"}


def test_missing_file_empty_df(spark, tmp_path):
    df = read_posts_json(spark, str(tmp_path / "nope.json"))
    assert df.count() == 0
    assert "risk_score" not in df.columns and "id" in df.columns


def test_json_lines_and_array_layouts(spark, tmp_path):
    jl = tmp_path / "posts.jsonl"
    with open(jl, "w") as f:
        f.write(json.dumps(POST) + "\n")
    arr = tmp_path / "posts_array.json"
    with open(arr, "w") as f:
        json.dump([POST, {**POST, "id": "p2"}], f)
    assert read_posts_json(spark, str(jl)).count() == 1
    got = read_posts_json(spark, str(arr), multi_line=True)
    assert sorted(r.id for r in got.collect()) == ["p1", "p2"]


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_part")
    mio.write_partitioned(docs, out, ["lang"])
    back = mio.read_partitioned(spark, out)
    assert back.count() == docs.count()
    # partition pruning: the lang filter must become a PartitionFilter
    pruned = back.filter(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_latest_n_query(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    got = mio.latest_n(ev, "ts", "event_id", 5).collect()
    assert len(got) == 5
    expect = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(5).collect()
    assert got == expect
    plan = mio.latest_n(ev, "ts", "event_id", 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with no
    Exchange in the plan — the write-once-shuffle-never contract."""
    from mental_health_bigdata_project_spark.operators.io import (
        join_bucketed, write_bucketed)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders")
        c = load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey")
        write_bucketed(o, "bkt_orders", "o_custkey", 8)
        write_bucketed(c, "bkt_customer", "o_custkey", 8)
        joined = join_bucketed(spark, "bkt_orders", "bkt_customer", "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == o.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_corrupt_json_quarantined_not_fatal(spark, tmp_path):
    """A malformed line must surface in _corrupt_record while good rows
    parse normally (dead-letter routing, not job failure)."""
    from mental_health_bigdata_project_spark.sources.json_posts import (
        read_posts_json_strict)

    p = tmp_path / "posts.json"
    p.write_text(
        '{"id": "ok1", "title": "fine", "score": 3}\n'
        '{"id": "bad1", "title": THIS-IS-NOT-JSON}\n'
        '{"id": "ok2", "title": "also fine", "score": 7}\n')
    # cache() first: Spark refuses queries whose referenced columns are
    # only the internal corrupt-record column on a raw file scan.
    df = read_posts_json_strict(spark, str(p)).cache()
    try:
        good = [r for r in df.collect() if r._corrupt_record is None]
        bad = [r for r in df.collect() if r._corrupt_record is not None]
        assert sorted(r.id for r in good) == ["ok1", "ok2"]
        assert len(bad) == 1
        assert "THIS-IS-NOT-JSON" in bad[0]._corrupt_record
    finally:
        df.unpersist()


def test_csv_roundtrip_preserves_values(spark, sf_dir, tmp_path):
    """events -> CSV -> events must round-trip values and types under an
    explicit schema (timestamps via ISO format)."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    out = str(tmp_path / "events_csv")
    mio.write_csv(ev, out)
    back = mio.read_csv(spark, out, schema=ev.schema)
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_xml_roundtrip_preserves_values(spark, sf_dir, tmp_path):
    """documents -> XML (built-in Spark 4 xml source) -> documents must
    round-trip values under an explicit schema.  Empty strings are the
    XML gotcha (self-closing tags read back as null) — normalize both
    sides through NULLIF semantics for the comparison."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(200)
    out = str(tmp_path / "docs_xml")
    mio.write_xml(docs, out, row_tag="doc")
    back = mio.read_xml(spark, out, row_tag="doc", schema=docs.schema)

    def norm(df):
        cols = [F.nullif(F.col(c), F.lit("")).alias(c)
                if t == "string" else F.col(c)
                for c, t in df.dtypes]
        return sorted(map(tuple, df.select(cols).collect()))

    assert norm(docs) == norm(back)


def test_merge_upsert_replaces_and_appends(spark, sf_dir):
    """Updated keys replace old rows, new keys append, untouched rows
    survive — and the plan is one anti-join + union (single shuffle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    updates = spark.createDataFrame(
        [(1, "zz"), (2, "zz"), (10_000_001, "new")], "doc_id bigint, lang string")
    merged = mio.merge_upsert(docs, updates, ["doc_id"])
    n0 = docs.count()
    got = {r.doc_id: r.lang for r in merged.collect()}
    assert merged.count() == n0 + 1
    assert got[1] == "zz" and got[2] == "zz" and got[10_000_001] == "new"
    sample = docs.filter(~F.col("doc_id").isin(1, 2)).limit(3).collect()
    for r in sample:
        assert got[r.doc_id] == r.lang


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Two snapshot generations with different schemas must read as one
    table: old rows NULL in the new column, values preserved."""
    out = str(tmp_path / "evolving")
    docs = load_table(spark, sf_dir, "documents").limit(10)
    docs.select("doc_id", "text").write.parquet(f"{out}/gen=1")
    docs.select("doc_id", "text", "lang").write.parquet(f"{out}/gen=2")
    got = mio.read_evolved(spark, out)
    assert {"doc_id", "text", "lang", "gen"} == set(got.columns)
    rows = got.collect()
    assert len(rows) == 20
    g1 = [r for r in rows if r.gen == 1]
    assert g1 and all(r.lang is None for r in g1)
    g2 = [r for r in rows if r.gen == 2]
    assert g2 and all(r.lang is not None for r in g2)


def test_cbo_analyze_enables_stats_based_broadcast(spark, sf_dir):
    """Cost-based optimization: after ANALYZE TABLE, the optimizer knows
    the filtered dim is tiny and broadcasts it WITHOUT a hint, where the
    same query over a stats-less view falls back to sort-merge under a
    disabled size-estimate threshold.  At 100 TB, collected stats (row
    counts + column NDV/min/max) are what let Catalyst choose join
    sides and orders from data, not file sizes."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        load_table(spark, sf_dir, "customer").write.mode("overwrite") \
            .saveAsTable("cbo_customer")
        load_table(spark, sf_dir, "orders").write.mode("overwrite") \
            .saveAsTable("cbo_orders")
        spark.sql("ANALYZE TABLE cbo_customer COMPUTE STATISTICS "
                  "FOR COLUMNS c_custkey, c_mktsegment")
        spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS "
                  "FOR COLUMNS o_custkey")
        stats = spark.sql(
            "DESC EXTENDED cbo_customer c_custkey").collect()
        info = {r.info_name: r.info_value for r in stats}
        assert info.get("distinct_count") not in (None, "NULL")

        joined = (spark.table("cbo_orders")
                  .join(spark.table("cbo_customer")
                        .filter(F.col("c_mktsegment") == "BUILDING"),
                        F.col("o_custkey") == F.col("c_custkey")))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
        spark.sql("DROP TABLE IF EXISTS cbo_customer")
        spark.sql("DROP TABLE IF EXISTS cbo_orders")


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """ORC sink/scan round-trips values and keeps scan-side filter
    pushdown (min/max stripe stats), like parquet."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "docs_orc")
    mio.write_orc(docs, out)
    back = mio.read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    plan = back.filter(F.col("n_chars") > 500)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan and "n_chars" in plan


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Many tiny files in, few right-sized files out, rows preserved —
    and the rewrite plan contains no Exchange (coalesce, not
    repartition)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n = docs.count()
    small = str(tmp_path / "small")
    docs.repartition(32).write.parquet(small)  # simulate epoch droppings
    assert len(spark.read.parquet(small).inputFiles()) == 32
    out = str(tmp_path / "compacted")
    n_files = mio.compact_small_files(spark, small, out, rows_per_file=200)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert n_files == len(back.inputFiles()) <= -(-n // 200) + 1
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_metadata_file_provenance(spark, sf_dir, tmp_path):
    """Row-level lineage via the hidden _metadata struct: per-file row
    counts from _metadata.file_path must equal the per-partition counts
    that produced the files — the audit primitive for tracing any
    training example back to its source file at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    mio.write_partitioned(docs, out, ["lang"])
    back = spark.read.parquet(out)
    per_file = (back.groupBy(F.col("_metadata.file_path").alias("f"))
                .count().collect())
    expect = {r.lang: r.n for r in docs.groupBy("lang")
              .agg(F.count("*").alias("n")).collect()}
    got = {}
    for r in per_file:
        lang = r.f.split("lang=")[1].split("/")[0]
        got[lang] = got.get(lang, 0) + r["count"]
    assert got == expect
    # row_index is dense per file
    mx = (back.select(F.col("_metadata.file_path").alias("f"),
                      F.col("_metadata.row_index").alias("i"))
          .groupBy("f").agg(F.max("i").alias("mx"), F.count("*").alias("n")))
    assert all(r.mx == r.n - 1 for r in mx.collect())


def test_zorder_layout_prunes_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustering on (l_partkey, l_suppkey) must let parquet
    min/max stats prune row groups for predicates on EITHER column;
    a linear sort on l_partkey alone only prunes its own column."""
    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

    lin_dir, z_dir = str(tmp_path / "linear"), str(tmp_path / "zorder")
    small_rg = str(64 * 1024)   # tiny row groups so sf0.001 has many
    (li.repartitionByRange(8, "l_partkey").sortWithinPartitions("l_partkey")
       .write.mode("overwrite").option("parquet.block.size", small_rg)
       .parquet(lin_dir))
    mio.write_zordered(li, z_dir, ["l_partkey", "l_suppkey"], bits=12,
                       files=8, options={"parquet.block.size": small_rg})

    # Correctness: layout change only.
    assert (spark.read.parquet(z_dir).count() == li.count())
    hi = li.agg(F.max("l_suppkey")).first()[0]
    lo_bound = hi // 4          # selective band on the NON-primary dim
    hi_bound = hi // 2

    def overlap_frac(out_dir: str, col: str) -> float:
        import glob
        tot = hit = 0
        for f in glob.glob(out_dir + "/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                stats = {meta.row_group(rg).column(i).path_in_schema:
                         meta.row_group(rg).column(i).statistics
                         for i in range(meta.row_group(rg).num_columns)}
                s = stats[col]
                tot += 1
                if s.min <= hi_bound and s.max >= lo_bound:
                    hit += 1
        assert tot > 0
        return hit / tot

    lin_frac = overlap_frac(lin_dir, "l_suppkey")
    z_frac = overlap_frac(z_dir, "l_suppkey")
    # Linear-by-partkey layout leaves suppkey unclustered: (almost)
    # every row group overlaps the band.  Z-order clusters both dims.
    assert lin_frac > 0.9
    assert z_frac < lin_frac * 0.8

    # And the z layout still prunes the primary dim comparably well.
    pk_hi = li.agg(F.max("l_partkey")).first()[0]
    lo_bound, hi_bound = pk_hi // 4, pk_hi // 2
    assert overlap_frac(z_dir, "l_partkey") < 1.0


def test_bloom_file_index_prunes_point_lookups(spark, sf_dir, tmp_path):
    """The per-file Bloom index must (a) return the same rows as the
    full scan for a present key, (b) read fewer files doing it, and
    (c) read zero files for an absent key (no false negatives ever;
    false positives bounded by fpp)."""
    out = str(tmp_path / "orders_by_key")
    orders = load_table(spark, sf_dir, "orders")
    (orders.repartitionByRange(8, "o_orderkey")
     .write.mode("overwrite").parquet(out))

    idx = mio.build_bloom_index(spark, out, "o_orderkey")
    assert len(idx.file_bits) == 8

    key = orders.agg(F.max("o_orderkey")).first()[0]
    pruned = mio.read_bloom_pruned(spark, out, idx, key)
    full = spark.read.parquet(out).filter(F.col("o_orderkey") == key)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    # range-clustered files: the key lives in 1 file; fpp may add a few
    assert len(idx.candidate_files(spark, key)) <= 3

    absent = key + 999_999
    assert mio.read_bloom_pruned(spark, out, idx, absent).count() == 0


# -- per-process schema memo (sources/tables.py) ---------------------------

def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _write(path, **cols) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_schema_memo_skips_inference_job(spark, tmp_path):
    """A file's second load, in a fresh session, runs no Spark job (the
    footer-reading inference job is paid once per process) and sees the
    same schema and rows."""
    _write(tmp_path / "t.parquet", k=[1, 2, 3], v=["a", "b", "c"])
    first = load_table(spark.newSession(), str(tmp_path), "t")
    s = spark.newSession()
    j0 = _jobs(s)
    again = load_table(s, str(tmp_path), "t")
    assert _jobs(s) == j0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_schema_memo_reinfers_rewritten_file(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1, 2, 3])
    assert load_table(spark.newSession(), str(tmp_path), "t").dtypes == \
        [("k", "bigint")]
    _write(tmp_path / "t.parquet", k=["x", "yy", "zzz", "w"])
    df = load_table(spark.newSession(), str(tmp_path), "t")
    assert df.dtypes == [("k", "string")]
    assert sorted(r.k for r in df.collect()) == ["w", "x", "yy", "zzz"]


def test_schema_memo_keys_on_nanos_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` is a bigint under nanosAsLong
    (normalized to TIMESTAMP_NTZ) and unreadable without it; a schema
    inferred under one setting is never served to the other."""
    import datetime

    import pyarrow as pa
    from pyspark.errors import AnalysisException

    key = "spark.sql.legacy.parquet.nanosAsLong"
    _write(tmp_path / "events.parquet", event_id=[1],
           ts=pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")))
    want = [(1, datetime.datetime(2023, 11, 14, 22, 13, 20, 123456))]

    def load(nanos_as_long: str):
        s = spark.newSession()
        s.conf.set(key, nanos_as_long)
        return load_table(s, str(tmp_path), "events")

    df = load("true")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert [tuple(r) for r in df.collect()] == want
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load("false")
    j0 = _jobs(spark)
    df = load("true")
    assert _jobs(spark) == j0
    assert [tuple(r) for r in df.collect()] == want


def test_schema_memo_leaves_directories_to_spark(spark, tmp_path):
    """A directory table is inferred from its current listing on every
    load: rewriting it with another column type is seen at once."""
    out = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,), (2,)], "k bigint").write.parquet(out)
    assert load_table(spark.newSession(), str(tmp_path), "t").dtypes == \
        [("k", "bigint")]
    spark.createDataFrame([("a",), ("b",), ("c",)], "k string") \
        .write.mode("overwrite").parquet(out)
    df = load_table(spark.newSession(), str(tmp_path), "t")
    assert df.dtypes == [("k", "string")]
    assert sorted(r.k for r in df.collect()) == ["a", "b", "c"]
