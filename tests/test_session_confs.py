"""Session configuration has one owner, ``session.py``: the conf table,
the core count (read at call time), the data-derived shuffle
partition rule, the static codegen cache size and the console progress
bar.  Every case runs on ``spark.newSession()`` so the shared fixture's
confs stay untouched."""

from __future__ import annotations

import ast
import functools
import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame, SparkSession, functions as F

import __spark_entry__ as entry_mod
from conftest import ROOT, python_sources
from mental_health_bigdata_project_spark.session import (
    CODEGEN_CACHE_ENTRIES, CONFS, configure, ensure_runtime_confs)

PACKAGE = os.path.join(ROOT, "mental_health_bigdata_project_spark")
SESSION_PY = os.path.join(PACKAGE, "session.py")
PARTITIONS = "spark.sql.shuffle.partitions"
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
CONSOLE_PROGRESS = "spark.ui.showConsoleProgress"


def test_core_count_read_at_call_time(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    s = ensure_runtime_confs(spark.newSession())
    assert s.conf.get(PARTITIONS) == "3"


def test_core_count_defaults_to_parallelism(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    s = ensure_runtime_confs(spark.newSession())
    assert s.conf.get(PARTITIONS) == str(
        spark.sparkContext.defaultParallelism)


def test_runtime_confs_restore_every_table_entry(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    expected = {**CONFS, PARTITIONS: "3"}
    perturbed = {k: ("false" if v == "true" else "America/New_York")
                 for k, v in CONFS.items()}
    perturbed[PARTITIONS] = "200"
    s = spark.newSession()
    for k, bad in perturbed.items():
        s.conf.set(k, bad)
        assert s.conf.get(k) == bad
        ensure_runtime_confs(s)
        assert {key: s.conf.get(key) for key in expected} == expected, k


@pytest.mark.parametrize("cpus, parts", [("3", "3"), ("16", "8")])
def test_wrapped_query_derives_partitions_from_input(
        spark, sf_dir, monkeypatch, cpus, parts):
    """sf0.001 is far below 8 x 2 MiB, so the rule lands on its floor of
    8 partitions, capped at the core count."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    s = spark.newSession()
    s.conf.set(PARTITIONS, "200")
    entry_mod.queries()["q1_pricing_summary"](s, sf_dir)
    assert s.conf.get(PARTITIONS) == parts


def test_configure_sizes_codegen_cache(spark):
    assert configure(SparkSession.Builder())._options[CODEGEN_CACHE] == \
        str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(CODEGEN_CACHE) == str(CODEGEN_CACHE_ENTRIES)


def test_configure_turns_console_progress_off(spark):
    """Spark's console progress bar ends in a carriage return, so with
    stdout and stderr in one file it shares a line with the next
    printed result (``check_oracles.py``'s PASS lines)."""
    assert configure(SparkSession.Builder())._options[CONSOLE_PROGRESS] == \
        "false"
    assert spark.sparkContext.getConf().get(CONSOLE_PROGRESS) == "false"


def test_workers_import_package_outside_repo_root(sf_dir, tmp_path):
    """A driver run from outside the repo root, with the package on its
    own ``sys.path`` only, runs a query whose Python workers import the
    package: ``media_decode_wav`` on a plain session handed to
    ``__spark_entry__``, in a fresh process whose environment carries no
    ``PYTHONPATH``."""
    script = "\n".join([
        "import sys",
        f"sys.path.insert(0, {ROOT!r})",
        "from pyspark.sql import SparkSession",
        "import __spark_entry__ as m",
        "spark = SparkSession.builder.master('local[1]').getOrCreate()",
        f"n = m.queries()['media_decode_wav'](spark, {sf_dir!r}).count()",
        "spark.stop()",
        "print('ROWS', n)",
    ])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split("ROWS ")[1]) > 0


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def test_warm_query_compiles_nothing_after_filler(spark, sf_dir):
    """A registry query re-run after 150 other generated classes compiles
    nothing: the JVM-wide codegen cache holds more than Spark's default
    100 entries, so the filler does not evict the query's classes."""
    q1 = entry_mod.queries()["q1_pricing_summary"]
    s = spark.newSession()

    def run_q1() -> int:
        c0 = _compiles(s)
        q1(s, sf_dir).write.format("noop").mode("overwrite").save()
        return _compiles(s) - c0

    run_q1()
    # Each branch inlines its own literal, so each is a distinct class.
    c0 = _compiles(s)
    functools.reduce(DataFrame.union, [
        s.range(1).select((F.col("id") + i).alias("x")) for i in range(150)
    ]).collect()
    assert _compiles(s) - c0 >= 150
    assert run_q1() == 0


def _str_arg(call: ast.Call) -> str | None:
    if call.args and isinstance(call.args[0], ast.Constant):
        return call.args[0].value
    return None


def test_session_py_is_the_only_partition_writer():
    """No ``.config("spark.sql.shuffle.partitions", ...)`` or
    ``conf.set("spark.sql.shuffle.partitions", ...)`` outside session.py,
    and no package module but session.py reads ``SPARK_GRAFT_CPUS``."""
    writers = []
    for path in python_sources(
            ["mental_health_bigdata_project_spark", "scripts", "tests"],
            ["__spark_entry__.py", "bench.py"]):
        if path == SESSION_PY:
            continue
        for node in ast.walk(ast.parse(open(path).read())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and _str_arg(node) == PARTITIONS
                    and (node.func.attr == "config"
                         or (node.func.attr == "set"
                             and isinstance(node.func.value, ast.Attribute)
                             and node.func.value.attr == "conf"))):
                writers.append(
                    f"{os.path.relpath(path, ROOT)}:{node.args[0].lineno}")
    assert not writers, writers

    readers = []
    for path in python_sources(["mental_health_bigdata_project_spark"], []):
        if path == SESSION_PY:
            continue
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Constant) and node.value == "SPARK_GRAFT_CPUS":
                readers.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not readers, readers
