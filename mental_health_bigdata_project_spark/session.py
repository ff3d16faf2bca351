"""SparkSession factory and the one owner of this engine's session confs.

The reference builds its session at
spark_jobs/preprocessing_streaming.py:27-32 (local[*], 2g driver, Kafka
package).  Here every conf the engine sets is decided in this module:
AQE on (runtime join re-planning, partition coalescing, skew handling),
Arrow enabled for any pandas-UDF paths, UTC session time zone
(deterministic timestamp semantics against the DuckDB oracle),
nanos-as-long parquet reads (a parquet TIMESTAMP(NANOS) column, which
Spark does not natively map, reads as bigint and ``sources/tables.py``
normalizes it; the testdata's ``events.ts`` is TIMESTAMP(MICROS)), and
the shuffle partition count.  Python workers get this package's parent
directory on their ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``
on a builder, the context's worker environment on a live session), so
queries that run Python on the workers import the package whatever the
driver's working directory is.

``configure`` applies ``CONFS`` to a builder; ``ensure_runtime_confs``
applies the same table to a live session (a caller of
``__spark_entry__`` hands over its own plain one) and sets the partition
count, sized to the input data when the query's ``sf_dir`` is given.

Three confs are static, so only ``configure`` can set them: Kryo, the
console progress bar (off: it ends in a carriage return and shares a
line with whatever a script prints next when stdout and stderr go to
one file), and the size of Spark's JVM-wide generated-class cache
(``spark.sql.codegen.cache.maxEntries``, ``CODEGEN_CACHE_ENTRIES``).
Spark's default of 100 classes is below this engine's working set: one
round of the perfbench ``queries`` workload (three registry queries)
generates about 104 classes and one ``index_stream`` pass about 310, so
under the default every warm run evicts and recompiles its own classes
(40-73 compiles per warm ``queries`` round, 2-4 with the larger
cache).  The cache is built once per JVM, from the conf of the first
session that generates code, so a session built without ``configure``
(such as the plain one a caller hands to ``__spark_entry__``) keeps
Spark's 100, and ``ensure_runtime_confs`` cannot change that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "mental-health-bigdata-spark"

# Runtime-settable SQL confs, applied on both the builder and the
# runtime path.  The shuffle partition count is not here: it needs the
# live context's core count (``cores``).
CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
}

# The directory holding this package, put on the Python workers' path.
PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

# Generated classes kept by the JVM-wide codegen cache (static conf, see
# the module docstring); about 6x the largest measured working set.
CODEGEN_CACHE_ENTRIES = 2000


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_MASTER", f"local[{cpus}]")


def cores(spark: SparkSession) -> int:
    """The core count partitions are sized to: ``$SPARK_GRAFT_CPUS`` if
    set, else the live context's ``defaultParallelism``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else spark.sparkContext.defaultParallelism


def _input_bytes(sf_dir: str) -> int:
    total = 0
    try:
        for dirpath, _, names in os.walk(sf_dir):
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
    except OSError:
        pass
    return total


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply ``CONFS`` (plus the static Kryo, console-progress and
    codegen-cache confs, which only a builder can set) to any builder.
    The partition count is set here only when given; otherwise
    ``ensure_runtime_confs`` sets it once the context exists."""
    for k, v in CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return (builder
            .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
            .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)))


def ensure_runtime_confs(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply ``CONFS``, the shuffle partition count and the workers'
    ``PYTHONPATH`` entry to a live session.

    The count is the core count, or with the query's input dir
    ``min(cores, max(8, input_bytes // 2 MiB))``.  The data-derived form
    right-sizes the map side at small scale (measured at sf0.1 on 32
    cores: q2 1.42 -> 0.99 s; a flat core-count initial left 32
    near-empty reduce tasks per exchange, and AQE coalescing cannot
    recover the map-side overhead).  At production scale the byte term
    exceeds any core count, so the rule becomes partitions = total
    cores, with AQE size-based coalescing on top.  Called before every
    registered query, so one query's count never outlives it."""
    parts = cores(spark)
    if sf_dir is not None:
        parts = min(parts, max(8, _input_bytes(sf_dir) // (2 << 20)))
    conf = spark.conf
    for k, v in {**CONFS, "spark.sql.shuffle.partitions": str(parts)}.items():
        try:
            conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be locked
            pass
    # Python functions capture this environment when they are built, so
    # it must be set before the query's plan is
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_PARENT, *paths])
    return spark


def get_spark(app_name: str = DEFAULT_APP_NAME, master: str | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
