"""Parquet table loaders for the driver testdata star schema.

The reference reads only JSON (SURVEY.md §2.1); parquet is the [EXT]
columnar path this engine standardizes on: vectorized scans, predicate
pushdown, and column pruning all come for free from the Spark parquet
source once plans stay declarative.

Scale notes (100 TB posture):
- Loads are plain ``spark.read.parquet`` — no driver-side collects; at
  cluster scale the same call reads a partitioned directory tree and
  prunes partitions from pushed-down filters.  A single-file table's
  inferred schema is kept per process (``_SCHEMAS``), so only the first
  load of a file pays Spark's one-task footer-reading job.
- ``events.ts`` in the testdata is parquet TIMESTAMP(MICROS) (pyarrow
  ``timestamp[us]``) and reads as TIMESTAMP_NTZ directly.  A file that
  stores it as TIMESTAMP(NANOS) reads as bigint under
  ``spark.sql.legacy.parquet.nanosAsLong`` and we normalize it to
  TIMESTAMP_NTZ with integer division (exact, no float rounding).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Columns that, when a file stores them as TIMESTAMP(NANOS), surface
# as bigint under nanosAsLong and must be normalized to TIMESTAMP_NTZ.
_NANOS_COLS = {"events": ["ts"]}


# Memoized (session, dir, table) -> DataFrame.  DataFrames are immutable
# plans, so handing the same object to every query is safe, and it skips
# the per-call file listing + footer/schema resolution (~50-100 ms each)
# when a driver loop evaluates hundreds of registered queries against the
# same tables.  No .persist() here: queries must keep their native scan
# plans (pushed filters, column pruning) — caching would replace them
# with InMemoryTableScan and mask the very plan properties we assert.
# Weak-keyed on the session (ADVICE r6): a stopped session's entries
# become collectable instead of pinned for process lifetime.
from ..artifacts import SessionMemo  # noqa: E402

_TABLE_MEMO = SessionMemo()

# Only the driver's read-only testdata is memoized: the cached
# DataFrame pins the file listing made at first read, so a directory
# that can be rewritten within a session (tmp dirs in tests, user
# output paths) must be re-listed on every load.
_MEMO_ROOTS = ("/root/testdata/",)


def _memoizable(sf_dir: str) -> bool:
    return sf_dir.startswith(_MEMO_ROOTS)


# Under _TABLE_MEMO sits a per-process schema memo for every input, not
# only the read-only roots: (file path, inference confs) -> (size,
# mtime_ns, schema).  Inferring a parquet schema runs a one-task Spark
# job that reads a footer, on every load in every fresh session; with
# the schema known, ``spark.read.schema(...)`` skips that job.  A
# rewritten file changes its size or mtime and is inferred again.  A
# directory is read as is: its schema depends on its whole listing
# (and on mergeSchema/respectSummaryFiles), which this key does not
# cover.
_SCHEMAS: dict[tuple, tuple[int, int, StructType]] = {}

# The session confs that change the schema Spark infers from one file.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    conf = spark.conf
    key = (os.path.abspath(path), tuple(conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[:2] == (st.st_size, st.st_mtime_ns):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (st.st_size, st.st_mtime_ns, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    memoizable = _memoizable(sf_dir)
    if memoizable:
        hit = _TABLE_MEMO.get(spark, (sf_dir, name))
        if hit is not None:
            return hit
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _NANOS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # ns -> us by integer division (floor; matches DuckDB's
            # CAST(TIMESTAMP_NS AS TIMESTAMP) truncation).
            df = df.withColumn(c, F.expr(f"CAST(timestamp_micros({c} div 1000) AS TIMESTAMP_NTZ)"))
    if memoizable:
        _TABLE_MEMO.put(spark, (sf_dir, name), df)
    return df


def register_temp_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
