"""Fast tier for the shared streaming delta log (streaming/compaction.py):
every mergeable-state member serves through ``read_state`` and compacts
with the same fold, on ~10-row static batches, no streaming query; a
store of an earlier on-disk layout is refused.  The parity/end-to-end twins per member live in the slow-tier
test_streaming_*.py / test_*_monitor.py files."""

from __future__ import annotations

import ast
import glob
import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from mental_health_bigdata_project_spark.plans.similarity import (
    embedding_cell_expr)
from mental_health_bigdata_project_spark.plans.textops import (
    setsim_prefix_rows)
from mental_health_bigdata_project_spark.streaming import (
    bootstrapstate, calibmonitor, cmsstate, conformalmonitor, driftgate,
    histstate, hllcount, minhashstate, mixturestate, momentstate, neardup,
    setsimdedup, topkstate)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAMING = os.path.join(ROOT, "mental_health_bigdata_project_spark",
                         "streaming")

# serve call per member: (spark, index_dir, artifact_dir) -> DataFrame
SERVES = {
    "hll": lambda s, d, a: hllcount.read_distinct_estimates(s, d),
    "moments": lambda s, d, a: momentstate.read_linreg(s, d),
    "hist": lambda s, d, a: histstate.read_quantiles(s, d),
    "cms": lambda s, d, a: cmsstate.read_estimates(s, d, ["a"]),
    "topk": lambda s, d, a: topkstate.read_topk(s, d),
    "bootstrap": lambda s, d, a: bootstrapstate.read_bootstrap_ci(s, d),
    "mixture": lambda s, d, a: mixturestate.serve_weights(s, d),
    "minhash": lambda s, d, a: minhashstate.read_group_sigs(s, d),
    "drift": lambda s, d, a: driftgate.serve_psi(s, a, d),
    "conformal": lambda s, d, a: conformalmonitor.serve_coverage(s, a, d),
    "calib": lambda s, d, a: calibmonitor.serve_calibration(s, d),
}
# each member's store subdirectory under index_dir
SUBDIRS = ["hll_regs", "moments", "hdr_hist", "cms", "topk_state", "boot",
           "mixture_counts", "sigs", "buckets", "coverage", "calib_bins"]


@pytest.mark.parametrize("killed_first_write", [False, True])
@pytest.mark.parametrize("member", sorted(SERVES))
def test_serve_before_first_batch_raises_file_not_found(
        spark, tmp_path, member, killed_first_write):
    """No store, or a store dir a killed first write left holding only
    ``_temporary``: every member raises FileNotFoundError, not a raw
    AnalysisException."""
    idx = str(tmp_path / "idx")
    if killed_first_write:
        for sub in SUBDIRS:
            os.makedirs(os.path.join(idx, sub, "_temporary", "0"))
    with pytest.raises(FileNotFoundError):
        SERVES[member](spark, idx, str(tmp_path / "art"))


def _conformal_model(spark, art):
    spark.createDataFrame(
        [("a", 5.0, 10, 10, 150, 200), ("b", 2.0, 10, 10, 80, 200)],
        "grp string, mean_tr double, n_train bigint, n_cal bigint, "
        "qhat_cell bigint, qhat_marginal bigint",
    ).write.parquet(os.path.join(art, "model"))


# one member per combine kind: (ingest(batch_df, batch_id, index_dir,
# artifact_dir), compact(spark, index_dir, through), serve, schema,
# the two ~10-row batches)
KINDS = {
    "max": (lambda df, b, d, a: hllcount.register_batch(df, b, d),
            hllcount.compact_hll_index,
            SERVES["hll"], "user_id bigint, event_type string",
            [[(i, "view" if i % 3 else "click") for i in range(10)],
             [(i, "view" if i % 2 else "cart") for i in range(6, 16)]]),
    "decimal_sum": (lambda df, b, d, a: momentstate.moments_batch(df, b, d),
                    momentstate.compact_moment_index, SERVES["moments"],
                    "l_returnflag string, l_quantity double, "
                    "l_extendedprice double",
                    [[("AR"[i % 2], float(i + 1), 10.5 * i + 3)
                      for i in range(10)],
                     [("AR"[i % 2], float(2 * i), 7.25 * i + 1)
                      for i in range(10)]]),
    "min": (lambda df, b, d, a: minhashstate.minhash_batch(df, b, d),
            minhashstate.compact_minhash_index, SERVES["minhash"],
            "source string, text string",
            [[("web" if i % 2 else "code", f"w{i} w{i + 1} w{i + 2} w{i + 3}")
              for i in range(10)],
             [("web" if i % 3 else "code", f"w{i} w{i + 2} w{i + 4} w{i + 6}")
              for i in range(10)]]),
    # distinct totals (a 6, b 5, d 4, c 1) so ranks have no ties
    "sketch": (lambda df, b, d, a: topkstate.accumulate_batch(df, b, d),
               topkstate.compact_topk_index, SERVES["topk"],
               "source string, token string",
               [[("s", t) for t in "aaaaabbbc"] + [("x", "d")],
                [("s", t) for t in "abbddd"]]),
    "basis": (lambda df, b, d, a: conformalmonitor.coverage_batch(
                  df, b, d, a),
              conformalmonitor.compact_coverage_state, SERVES["conformal"],
              "event_type string, value double",
              [[("ab"[i % 2], 0.7 * i) for i in range(10)],
               [("ab"[i % 2], 1.9 * i - 3) for i in range(10)] +
               [("a", None)]]),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_replay_and_compaction_leave_served_state_unchanged(
        spark, tmp_path, kind):
    ingest, compact, serve, schema, batches = KINDS[kind]
    idx, art = str(tmp_path / "idx"), str(tmp_path / "art")
    if kind == "basis":
        _conformal_model(spark, art)
    dfs = [spark.createDataFrame(rows, schema) for rows in batches]
    for b, df in enumerate(dfs):
        ingest(df, b, idx, art)
    want = _rows(serve(spark, idx, art))
    assert want
    ingest(dfs[1], 1, idx, art)          # crash-retry of batch 1
    assert _rows(serve(spark, idx, art)) == want
    compact(spark, idx, 0)               # compacted batch 0 + delta 1
    assert _rows(serve(spark, idx, art)) == want


def _tree(root) -> list[tuple[str, int, int]]:
    """Every path under ``root`` with its size and modification time."""
    return sorted((p, os.stat(p).st_size, os.stat(p).st_mtime_ns)
                  for p in glob.glob(f"{root}/**", recursive=True))


def test_setsim_rejected_horizon_leaves_the_store_unchanged(
        spark, tmp_path):
    """A horizon above the newest batch is refused before either index
    table is written."""
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"t{i} shared words in every doc x{i % 3}") for i in range(8)],
        "doc_id bigint, text string")
    setsimdedup.dedup_setsim_batch_against_index(
        docs, 0, str(tmp_path / "out"), idx)
    before = _tree(tmp_path)
    with pytest.raises(ValueError, match="exceeds newest live batch"):
        setsimdedup.compact_setsim_index(spark, idx, through=1)
    assert _tree(tmp_path) == before


_DOC = "one two three four five six seven eight nine ten eleven"
_VEC = [1.0, 0.5, -0.2, 0.8, -0.1, 0.3, 0.9, -0.4]


def _old_setsim(spark, idx):
    """Batch 0 as the bucket-less writer laid it out: ``prefix`` and
    ``arrs`` partitioned by ``batch_id`` only."""
    arrs = setsimdedup.setsim_arrays(spark.createDataFrame(
        [(1, _DOC)], "doc_id bigint, text string"))
    (setsim_prefix_rows(arrs, 0.5).withColumn("batch_id", F.lit(0))
     .write.partitionBy("batch_id").parquet(f"{idx}/prefix"))
    (arrs.select("doc_id", "arr", "sz").withColumn("batch_id", F.lit(0))
     .write.partitionBy("batch_id").parquet(f"{idx}/arrs"))


def _next_setsim(spark, idx, out):
    setsimdedup.dedup_setsim_batch_against_index(
        spark.createDataFrame([(2, _DOC), (3, "a fresh doc of words")],
                              "doc_id bigint, text string"), 1, out, idx)


def _old_vectors(spark, idx):
    """Batch 0 in the ``(cell, batch_id)`` vector-index layout."""
    (spark.createDataFrame([(1, _VEC)], "vec_id bigint, embedding array<float>")
     .select(embedding_cell_expr("embedding").alias("cell"),
             F.col("embedding").cast("array<double>").alias("_iemb"))
     .withColumn("batch_id", F.lit(0))
     .write.partitionBy("cell", "batch_id").parquet(f"{idx}/vectors"))


def _next_vectors(spark, idx, out):
    neardup.dedup_embeddings_against_index(
        spark.createDataFrame([(2, [x * 1.01 for x in _VEC])],
                              "vec_id bigint, embedding array<float>"),
        1, out, idx)


def _old_coverage(spark, idx):
    """A coverage state without ``covered_marginal`` (nor
    ``total_marginal``)."""
    (spark.createDataFrame([("a", 9, 10), ("b", 5, 5)],
                           "grp string, covered bigint, total bigint")
     .withColumn("batch_id", F.lit(0))
     .write.partitionBy("batch_id").parquet(f"{idx}/coverage"))


def _serve_coverage(spark, idx, out):
    conformalmonitor.serve_coverage(spark, out, idx).collect()


# earlier layout: (write batch 0 under it, the next batch or serve)
LAYOUTS = {"setsim": (_old_setsim, _next_setsim),
           "vectors": (_old_vectors, _next_vectors),
           "coverage": (_old_coverage, _serve_coverage)}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_store_of_an_earlier_layout_is_refused(spark, tmp_path, layout):
    """A store written under an earlier on-disk layout fails its next
    batch (or its serve) on Spark's unresolved-column error, and nothing
    is written: no accepted output, no index delta."""
    write_old, step = LAYOUTS[layout]
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    write_old(spark, idx)
    before = sorted(glob.glob(f"{tmp_path}/**", recursive=True))
    with pytest.raises(AnalysisException) as err:
        step(spark, idx, out)
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert sorted(glob.glob(f"{tmp_path}/**", recursive=True)) == before


def test_resorted_setsim_store_is_refused(spark, tmp_path):
    """A setsim store whose prefix manifest names a document-frequency
    order snapshot (``dforder_dir``, written by an earlier layout's
    compaction re-sort) holds prefix rows in that order, which the md5
    order would probe unsoundly.  Its next batch and its compaction both
    raise before any write."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    setsimdedup.dedup_setsim_batch_against_index(
        spark.createDataFrame([(1, _DOC)], "doc_id bigint, text string"),
        0, out, idx)
    setsimdedup.compact_setsim_index(spark, idx, through=0)
    manifest = os.path.join(idx, "prefix", "_compaction.json")
    with open(manifest) as f:
        m = json.load(f)
    with open(manifest, "w") as f:
        json.dump({**m, "dforder_dir": "epoch_v1"}, f)
    before = _tree(tmp_path)
    with pytest.raises(ValueError, match="replaying its source"):
        _next_setsim(spark, idx, out)
    with pytest.raises(ValueError, match="replaying its source"):
        setsimdedup.compact_setsim_index(spark, idx, through=0)
    assert _tree(tmp_path) == before


def _sources():
    for sub in ("mental_health_bigdata_project_spark", "scripts", "tests",
                "perfbench"):
        yield from glob.glob(os.path.join(ROOT, sub, "**", "*.py"),
                             recursive=True)


def test_compaction_is_the_only_owner_of_the_delta_log():
    """Delta writes and availableNow runners live in compaction.py
    (upsert.py's bucket rewrite is not a delta log; the serving and
    run_to_parquet runners are their own topologies), and nothing
    imports the retired private ``neardup._read_index``."""
    for path in glob.glob(os.path.join(STREAMING, "*.py")):
        name = os.path.basename(path)
        src = open(path).read()
        if name not in ("compaction.py", "upsert.py"):
            assert "partitionOverwriteMode" not in src, name
        if name not in ("compaction.py", "serving.py", "pipeline.py"):
            assert "trigger(availableNow" not in src, name
    for path in _sources():
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.ImportFrom):
                assert "_read_index" not in [a.name for a in node.names], \
                    path
            elif isinstance(node, ast.Attribute):
                assert node.attr != "_read_index", path
