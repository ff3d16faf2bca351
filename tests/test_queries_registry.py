"""Registry sanity: every query runs at sf0.001 and returns a stable
schema; entry() smoke; oracle ids are a subset of query ids.  (Full
value-parity against DuckDB is scripts/check_oracles.py / the driver.)"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from conftest import ROOT


def test_oracles_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the bulk of the surface must be oracle-checked, not rows-only
    assert len(oracles) >= 35


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"lang", "n_docs", "avg_risk", "high_risk"} <= set(df.columns)


# The handful of registry queries whose sf0.001 run alone costs 5-20 s
# (md5-replicate bootstrap, HLL register builds, conformal dual
# quantiles, PQ residual sweep): slow tier — the oracle gate
# (scripts/check_oracles.py and the driver's own CORRECTNESS run)
# still covers their results; the fast tier keeps the other ~390.
_SLOW_QUERY_RUNS = {"stat_bootstrap_ci", "source_overlap_hll",
                    "sketch_hll_setops", "stat_conformal_group_gap",
                    "vec_pq_residual_mse"}


@pytest.mark.parametrize(
    "qid",
    [pytest.param(q, marks=pytest.mark.slow) if q in _SLOW_QUERY_RUNS
     else q for q in sorted(entry_mod.queries())])
def test_query_runs(spark, sf_dir, qid):
    df = entry_mod.queries()[qid](spark, sf_dir)
    assert df.columns  # schema resolves
    # scalar-cell output contract (ARCHITECTURE §4.8): the driver's
    # canonicalizer cannot hash array/map/struct cells (the r02 ERR
    # class) — every oracle-checked query must emit atomic columns
    from pyspark.sql import types as T
    from mental_health_bigdata_project_spark.plans import ORACLES
    if qid in ORACLES:
        complex_cols = [f.name for f in df.schema.fields
                        if isinstance(f.dataType,
                                      (T.ArrayType, T.MapType, T.StructType))]
        assert not complex_cols, (
            f"{qid} is oracle-checked but emits non-scalar cells: "
            f"{complex_cols}")
    n = df.count()
    assert n >= 0


# Arrow-batched by design (mapInPandas / applyInPandas / MLlib fit):
ARROW_QUERIES = {"sim_ann_lsh", "sim_ann_ivf", "grouped_zscore_by_user",
                 "multimodal_features", "multimodal_bytes",
                 # real RIFF decode paths (PCM16 / float32 / mu-law /
                 # A-law / IMA ADPCM): synth + parse are mapInPandas
                 # stages by design (rounds 9-10)
                 "media_decode_wav", "media_decode_wav_float32",
                 "media_decode_wav_mulaw", "media_decode_wav_alaw",
                 "media_decode_wav_adpcm",
                 "ml_tfidf_hashed", "ml_minhash_lsh",
                 "ml_kmeans_embeddings", "ml_classify_embeddings",
                 "dedup_cluster_components",
                 # Arrow UDTF (data-dependent fan-out) + pandas UDAF —
                 # deliberate Python boundaries, plans/udtf_udaf.py
                 "udtf_chunk_documents", "udaf_geomean_chars",
                 "sim_topk_batch_gemm",
                 # Python Data Source connector: the source itself is
                 # a Python boundary by construction
                 "source_rest_poll", "rest_poll_dedup",
                 # cogrouped applyInPandas / polymorphic UDTF /
                 # iterator pandas UDF — deliberate Arrow boundaries
                 "cogroup_asof_enrich", "udtf_unpack_props",
                 "text_token_count_iter", "multimodal_bytes_arrow"}


@pytest.mark.slow
def test_no_python_row_udf_in_any_registry_plan(spark, sf_dir):
    """Sweeping invariant: every registry query compiles to a plan with
    NO row-at-a-time Python (BatchEvalPython) anywhere, and Arrow-batch
    nodes (ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas) appear
    only in the queries documented as Arrow paths.  The same pass
    lints the SPARK-side output schema of every oracle-backed query:
    no DECIMAL or FLOAT32 output columns (the engine twin of the
    DuckDB DESCRIBE lint — a bigint/decimal-literal division like
    `x / 18.0` silently yields DECIMAL on Spark while the oracle
    emits DOUBLE, a schema mismatch the value hash can mask; caught
    live on ts_trend_mann_kendall's var_s)."""
    import __spark_entry__ as e
    oracles = e.oracle_sql()
    for qid, fn in sorted(e.queries().items()):
        if qid in ARROW_QUERIES:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, f"{qid} uses a Python row UDF"
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{qid} unexpectedly uses {node}"
        if qid in oracles:
            bad = [(c, t) for c, t in df.dtypes
                   if "decimal" in t or t == "float"]
            assert not bad, f"{qid} emits decimal/float32 columns: {bad}"


def test_entry_schema_stable(spark):
    """The driver smoke-checks entry() for a stable schema — pin it."""
    import __spark_entry__ as e
    df = e.entry(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("lang", "string"), ("n_docs", "bigint"), ("avg_risk", "double"),
        ("high_risk", "bigint"), ("avg_cleaned_len", "double")]


def test_coverage_md_check_column_matches_registry():
    """COVERAGE.md is the coverage contract: any table row naming a
    registered query id must claim 'oracle' iff the id actually has a
    DuckDB twin in ORACLES (VERDICT r2 item 4 caught a stale
    'rows-only' label after a query was oracle-converted).  Rows whose
    ids aren't registry queries (sources/sinks/library code) are out
    of scope; a row claiming both 'oracle' and 'rows-only' is
    ambiguous and fails."""
    import re

    from mental_health_bigdata_project_spark.plans import ORACLES, QUERIES

    mismatches = []
    in_ledger = False
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        for lineno, line in enumerate(f, 1):
            if line.startswith("#"):
                # the rows-only ledger's last column NAMES sibling
                # oracle queries, so the substring heuristic below
                # doesn't apply there; its claims are checked by the
                # dedicated ledger test below
                in_ledger = line.startswith("## Rows-only ledger")
                continue
            if in_ledger or not line.startswith("|") or line.startswith("|---"):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) < 3 or cells[0] == "id":
                continue
            ids = [m for m in re.findall(r"`([a-z0-9_]+)`", cells[0])
                   if m in QUERIES]
            if not ids:
                continue
            check = cells[-1]
            claims_oracle = "oracle" in check
            claims_rows_only = "rows-only" in check
            for qid in ids:
                if claims_oracle and claims_rows_only:
                    mismatches.append(
                        f"L{lineno} {qid}: ambiguous claim ({check!r})")
                elif claims_oracle and qid not in ORACLES:
                    mismatches.append(
                        f"L{lineno} {qid}: claims oracle, not in ORACLES")
                elif claims_rows_only and qid in ORACLES:
                    mismatches.append(
                        f"L{lineno} {qid}: claims rows-only, has an oracle")
    assert not mismatches, "\n".join(mismatches)


def test_coverage_rows_only_ledger_complete_and_consistent():
    """The rows-only ledger in COVERAGE.md must list EXACTLY the
    registered queries without oracles, and every sibling query it
    cites in its third column must itself be oracle-backed."""
    import re

    from mental_health_bigdata_project_spark.plans import ORACLES, QUERIES

    rows_only = {q for q in QUERIES if q not in ORACLES}
    listed, bad_siblings = set(), []
    in_ledger = False
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        for line in f:
            if line.startswith("#"):
                in_ledger = line.startswith("## Rows-only ledger")
                continue
            if not in_ledger or not line.startswith("|") \
                    or line.startswith("|---"):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) < 3 or cells[0] == "rows-only id":
                continue
            ids = re.findall(r"`([a-z0-9_]+)`", cells[0])
            listed.update(ids)
            for sib in re.findall(r"`([a-z0-9_]+)`", cells[2]):
                if sib in QUERIES and sib not in ORACLES:
                    bad_siblings.append(f"{ids}: sibling {sib} has no oracle")
    assert listed == rows_only, (
        f"ledger missing {sorted(rows_only - listed)}, "
        f"stale {sorted(listed - rows_only)}")
    assert not bad_siblings, "\n".join(bad_siblings)


def test_no_hugeint_in_any_oracle_output():
    """Driver-canonicalizer tripwire (VERDICT r3 item 2): DuckDB SUM()
    over integer columns returns HUGEINT (int128), which the driver's
    canonicalizer renders differently than Spark's BIGINT even when the
    values are identical — the r3 hash-fails on text_repetition_stats /
    dedup_chunk_exact were exactly this.  DESCRIBE plans each oracle
    without executing it and we reject any int128-typed output column;
    the fix at a flagged site is CAST(... AS BIGINT)."""
    import duckdb

    from mental_health_bigdata_project_spark.plans import ORACLES

    from conftest import SF_DIR as sf_dir
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for qid, sql in sorted(ORACLES.items()):
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # a broken oracle fails loudly here too
            bad.append(f"{qid}: DESCRIBE failed: {type(e).__name__}: {e}")
            continue
        for name, typ, *_ in cols:
            base = typ.upper().split("(")[0]
            # types the two engines (or the driver canonicalizer)
            # render differently: int128 (the observed r3 failure),
            # DECIMAL (trailing-zero repr), FLOAT (f32 vs f64 repr),
            # INTERVAL/TIME (no Spark twin), unsigned ints
            if base in ("HUGEINT", "UHUGEINT", "DECIMAL", "FLOAT",
                        "INTERVAL", "TIME", "UTINYINT", "USMALLINT",
                        "UINTEGER", "UBIGINT"):
                bad.append(f"{qid}: column {name} is {typ}")
    assert not bad, ("oracle outputs with cross-engine-unsafe types "
                     "(cast to BIGINT/DOUBLE/VARCHAR):\n" + "\n".join(bad))


def test_doc_count_claims_match_registry():
    """Doc-count lint (VERDICT r9 item 6: a stale COVERAGE claim
    survived two rounds): the CURRENT registry-size claims in
    README.md, REGISTRY.md's generated header, and the LATEST
    round section of COVERAGE.md must equal the live registry.
    Historical per-round counts (earlier 'registry is now ...'
    lines) are exempt — only the most recent claim is the contract."""
    import re

    from mental_health_bigdata_project_spark.plans import ORACLES, QUERIES

    n_q, n_o = len(QUERIES), len(ORACLES)
    problems = []

    with open(os.path.join(ROOT, "README.md")) as f:
        m = re.search(r"the query registry: (\d+) queries, (\d+) with",
                      f.read())
    if m and (int(m.group(1)), int(m.group(2))) != (n_q, n_o):
        problems.append(f"README.md claims {m.groups()}, registry is "
                        f"({n_q}, {n_o})")

    with open(os.path.join(ROOT, "REGISTRY.md")) as f:
        m = re.search(r"(\d+) queries, (\d+) oracle-backed", f.read())
    if m and (int(m.group(1)), int(m.group(2))) != (n_q, n_o):
        problems.append(f"REGISTRY.md claims {m.groups()}, registry is "
                        f"({n_q}, {n_o})")

    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        claims = re.findall(r"registry is now (\d+) queries /\s*(\d+)",
                            f.read())
    if claims and (int(claims[-1][0]), int(claims[-1][1])) != (n_q, n_o):
        problems.append(f"COVERAGE.md latest claim {claims[-1]}, registry "
                        f"is ({n_q}, {n_o})")

    assert not problems, "\n".join(problems)


def test_readme_and_architecture_counts_match_registry():
    """README's "N queries, M with DuckDB oracle twins" and
    ARCHITECTURE's "M of N queries" must both be present and equal the
    registry's sizes."""
    import re

    from mental_health_bigdata_project_spark.plans import ORACLES, QUERIES

    with open(os.path.join(ROOT, "README.md")) as f:
        readme = re.search(r"(\d+) queries, (\d+) with DuckDB oracle twins",
                           f.read())
    with open(os.path.join(ROOT, "ARCHITECTURE.md")) as f:
        arch = re.search(r"(\d+) of (\d+) queries", f.read())
    assert readme and arch
    assert (int(readme[1]), int(readme[2])) == (len(QUERIES), len(ORACLES))
    assert (int(arch[2]), int(arch[1])) == (len(QUERIES), len(ORACLES))


def test_registry_md_is_current():
    """REGISTRY.md is generated: the committed file must equal what
    ``scripts/registry_index.py`` renders from the live registry, so an
    added query or an edited summary line cannot leave it stale.  Rows
    cite the defining module without a line number, so moving code
    inside a module does not touch the file."""
    from scripts.registry_index import render

    with open(os.path.join(ROOT, "REGISTRY.md")) as f:
        committed = f.read()
    assert committed == render(), (
        "REGISTRY.md is stale: run python scripts/registry_index.py")
