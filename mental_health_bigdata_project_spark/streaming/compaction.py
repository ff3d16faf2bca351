"""The delta log every log-structured streaming store shares, and its
offline compaction.

This module is the ONLY owner of the ``batch_id=N`` delta-log layout.
Every incremental sink in this package (chunk/span/near/setsim dedup,
the BM25 and ANN indexes, the graph state, the mergeable-state
monitors, ``pipeline.write_batch``) writes through ``write_delta``,
reads prior state through ``read_index`` / ``read_state``, and drains
its stream through ``run_available_now``.

The delta-log contract (exactly-once, stated once here):

- A micro-batch writes its delta into its OWN ``batch_id=N`` partition
  via dynamic partition overwrite (``write_delta``), so a crash-retried
  batch overwrites its own partitions instead of appending duplicates.
- A sink whose delta depends only on its own batch (every mergeable-
  state member) never reads prior state, so replay is exactly-once
  with zero read-modify-write.  A sink that DOES read prior state
  (the dedup indexes, the graph frontier) passes ``before_batch=N`` to
  ``read_index`` so a replayed batch never sees its own committed
  delta as prior state.
- A mergeable-state member is three things on top of this layout: its
  delta expression, ONE associative ``fold`` (live rows -> combined
  rows), and an estimator.  Serving is ``estimator(read_state(spark,
  path, fold))``; compaction is ``compact_index(transform=fold)`` —
  the same fold, so the served state before and after compaction is
  identical by construction.

This module is also the maintenance path (SCALING.md §7): at 100 TB
the delta file count grows without bound, so ``compact_index``
rewrites all deltas through batch N into one consolidated store,
atomically.

Snapshot layout (inside each table directory):

- ``batch_id=*/``          live delta partitions (written by the sinks;
                           a store with a second partition column nests
                           it below: ``batch_id=N/bucket=B``)
- ``_compacted_v{k}/``     consolidated rows for every batch <= through,
                           carrying a literal ``batch_id = through``
                           column; the underscore prefix makes Spark's
                           file index IGNORE these dirs, so the sinks'
                           plain ``read.parquet(table)`` delta reads
                           never double-count them
- ``_compaction.json``     the manifest: {"version": k, "dir":
                           "_compacted_v{k}", "through": N}; written
                           via tmp-file + os.replace (atomic on POSIX)

Readers (``read_index``, ``bm25index.bm25_query``) resolve the live
view as ``compacted ∪ deltas(batch_id > through)``.  Crash
safety falls out of the ordering: a crash after writing the compacted
dir but before the manifest leaves an orphan dir readers ignore; a
crash after the manifest but before garbage collection leaves stale
delta partitions readers filter out (batch_id <= through).  No state
is ever readable twice.

CONTRACT: only compact through batches the streaming checkpoint has
fully committed.  A compacted batch can no longer replay (its delta
partition is gone and its rows carry ``batch_id = through``), so
``read_index`` refuses ``before_batch <= through`` loudly rather
than silently treating a replayed batch's own data as prior state.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, "_compaction.json")


def _batch_dirs(table_path: str) -> list[str]:
    """Every ``batch_id=*`` partition directory of the table; every
    delta layout puts ``batch_id`` first, at the table root."""
    return glob.glob(os.path.join(table_path, "batch_id=*"))


def _batch_id_of(d: str) -> int | None:
    try:
        return int(os.path.basename(d).split("=", 1)[1])
    except ValueError:
        return None


def load_manifest(table_path: str) -> dict | None:
    p = _manifest_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _is_missing(exc) -> bool:
    """True iff ``exc`` means "no store yet": the path does not exist,
    or a killed first write left a directory with nothing committed
    into it (only ``_temporary`` — no schema to infer).  Anything else
    (corrupt footers, permissions) is a real failure."""
    msg = str(exc)
    return ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg)


def _read_deltas(spark, table_path: str, after_batch: int):
    """Delta partitions with batch_id > after_batch, or None when every
    delta partition has been garbage-collected (the table dir then
    holds only underscore-prefixed entries Spark cannot infer a schema
    from)."""
    try:
        df = spark.read.parquet(table_path)
    except AnalysisException as e:
        if _is_missing(e):
            return None
        raise
    return df.filter(F.col("batch_id") > F.lit(after_batch))


def read_live(spark, table_path: str) -> DataFrame:
    """The manifest-aware live view of a delta-indexed table: the
    consolidated store (if any) unioned with the delta partitions it
    does not cover.  Without a manifest this is exactly
    ``spark.read.parquet(table_path)``.  Deltas missing a column of the
    consolidated store (a store of an earlier layout) fail the union
    with Spark's unresolved-column error."""
    m = load_manifest(table_path)
    if m is None:
        return spark.read.parquet(table_path)
    comp = spark.read.parquet(os.path.join(table_path, m["dir"]))
    deltas = _read_deltas(spark, table_path, m["through"])
    if deltas is None:
        return comp
    return comp.unionByName(deltas.select(*comp.columns))


def write_delta(df: DataFrame, batch_id: int, path: str,
                partition_by=("batch_id",)) -> None:
    """Write ``df`` as micro-batch ``batch_id``'s delta of the table at
    ``path``: a literal ``batch_id`` column, dynamic partition
    overwrite, so a replayed batch rewrites only its own partitions.
    ``partition_by`` names the partition columns of a layout that nests
    a second column below ``batch_id`` (``("batch_id", "bucket")``);
    ``df`` carries that column itself."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by)
     .parquet(path))


def read_index(spark, path: str, cols, before_batch: int | None = None):
    """Read a persisted index, returning None ONLY when the path does
    not exist yet (first batch).  Any other failure — corrupt footer,
    filesystem error, permissions — must raise and fail the batch so
    the checkpoint retries it; swallowing it would silently disable
    dedup for the batch and leak duplicates permanently.

    ``before_batch`` is REQUIRED for exactly-once replay: a crash-
    retried micro-batch N finds its own ``batch_id=N`` delta already
    committed, and without ``batch_id < N`` partition pruning it would
    treat its own fingerprints as prior duplicates and overwrite its
    accepted partition with gutted output.  Pass the current batch_id;
    the filter is a partition-pruned read, not a scan.

    Compaction-aware: when a manifest is present the view is
    compacted ∪ newer deltas, and replaying a batch at or below the
    compaction horizon raises — its delta is gone and its rows carry
    the horizon's batch_id, so the replay would silently see an empty
    prior index and leak duplicates."""
    manifest = load_manifest(path)
    if manifest is not None and before_batch is not None \
            and before_batch <= manifest["through"]:
        raise ValueError(
            f"batch {before_batch} is at or below the compaction "
            f"horizon {manifest['through']} of {path}; compact only "
            f"through checkpoint-committed batches")
    try:
        df = read_live(spark, path)
    except AnalysisException as e:
        if _is_missing(e):
            return None
        raise
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < F.lit(before_batch))
    return df.select(*cols)


def read_state(spark, path: str, fold) -> DataFrame:
    """Serve a mergeable-state store: ``fold`` applied to its live view
    (without ``batch_id``) — the same fold ``compact_index`` gets as
    its ``transform``.  Raises FileNotFoundError when no batch has
    committed a delta yet."""
    live = read_index(spark, path, ["*"])
    if live is None:
        raise FileNotFoundError(f"no delta store at {path}")
    return fold(live.drop("batch_id"))


def run_available_now(stream: DataFrame, checkpoint_dir: str, body):
    """Attach ``body(batch_df, batch_id)`` to ``stream`` as its
    foreachBatch sink and drain the available input (availableNow).
    Returns the started query."""
    return (stream.writeStream
            .foreachBatch(body)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def live_batch_ids(table_path: str) -> list[int]:
    """Batch ids of the table's live delta partitions, plus the
    compaction horizon when a manifest exists."""
    bids = [b for b in map(_batch_id_of, _batch_dirs(table_path))
            if b is not None]
    m = load_manifest(table_path)
    if m is not None:
        bids.append(int(m["through"]))
    return bids


def _check_through(table_path: str, through: int) -> int:
    """Validate a compaction horizon against the table's live batches
    and return the newest live batch id.  The horizon must name an
    EXISTING batch: one above the newest live batch would make
    ``read_live`` skip deltas written later with smaller ids (silent
    data loss), and one below the oldest would write an empty,
    schema-less snapshot that breaks every subsequent read."""
    m = load_manifest(table_path)
    if m is not None and through < m["through"]:
        raise ValueError(
            f"through={through} precedes existing compaction horizon "
            f"{m['through']}")
    live_bids = live_batch_ids(table_path)
    if not live_bids:
        raise ValueError(f"{table_path} has no batches to compact")
    if through > max(live_bids):
        raise ValueError(
            f"through={through} exceeds newest live batch "
            f"{max(live_bids)}; later deltas would become invisible")
    if not any(b <= through for b in live_bids):
        raise ValueError(
            f"no batch at or below through={through} in {table_path}")
    return max(live_bids)


def compact_index(spark, table_path: str, through: int,
                  partition_by: list[str] | None = None,
                  transform=None,
                  transform_keeps_batch: bool = False) -> dict:
    """Consolidate every live row with batch_id <= ``through`` into a
    new ``_compacted_v{k}`` store, commit the manifest, then garbage-
    collect superseded delta partitions and older compacted versions.

    ``partition_by`` preserves intra-store partition pruning (e.g.
    ``["bucket"]`` for BM25 postings).  ``transform`` (DataFrame ->
    DataFrame, optional) folds the consolidated rows before writing —
    for MERGEABLE state like HLL registers, where deltas collapse by
    an associative combine (per-register max) instead of being
    preserved row-for-row; it must not depend on ``batch_id`` (the
    column is rewritten to ``through`` afterwards).
    ``transform_keeps_batch`` hands the transform the rows WITH their
    ``batch_id`` — for transforms whose row filter compares ingest
    position against external state (tombstone application needs
    "row batch <= tombstone horizon"); the output's batch_id is still
    rewritten to ``through``.  Re-compaction is
    supported: the previous compacted store (batch_id = old through <=
    new through) folds into the new one.  Returns the new manifest."""
    _check_through(table_path, through)
    m = load_manifest(table_path)
    version = (m["version"] + 1) if m else 1
    dest_name = f"_compacted_v{version}"

    live = read_live(spark, table_path).filter(
        F.col("batch_id") <= F.lit(through))
    if transform is not None:
        live = transform(live if transform_keeps_batch
                         else live.drop("batch_id"))
        if transform_keeps_batch and "batch_id" in live.columns:
            live = live.drop("batch_id")
    consolidated = live.withColumn("batch_id",
                                   F.lit(int(through)).cast("int"))
    if partition_by:
        # hash-cluster rows by the partition columns so each partition
        # value is written by exactly ONE task — without this, every
        # shuffle task holding rows of a dir writes its own file there
        # and the consolidated store keeps ~task-count files per dir
        # (measured: 514 -> 64 postings files at 48 batches).  A huge
        # single file per value is bounded by
        # spark.sql.files.maxRecordsPerFile if set.
        consolidated = consolidated.repartition(*partition_by)
    writer = consolidated.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(table_path, dest_name))

    manifest = {"version": version, "dir": dest_name, "through": through}
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_path))  # the commit point

    # garbage collection — everything after the commit point is
    # invisible to readers already, so a crash here only leaves litter
    for d in _batch_dirs(table_path):
        bid = _batch_id_of(d)
        if bid is not None and bid <= through:
            shutil.rmtree(d, ignore_errors=True)
    for d in glob.glob(os.path.join(table_path, "_compacted_v*")):
        if os.path.basename(d) != dest_name:
            shutil.rmtree(d, ignore_errors=True)
    return manifest


def compact_vector_index(spark, index_dir: str, through: int) -> dict:
    """Compact the streaming embedding-dedup vector index
    (``neardup.dedup_embeddings_against_index``'s ``vectors`` table),
    keeping its ``bucket`` partitioning (see ``neardup._vec_bucket``)
    so probe pruning survives."""
    return compact_index(spark, os.path.join(index_dir, "vectors"),
                         through, partition_by=["bucket"])


def compact_bm25_index(spark, index_dir: str, through: int,
                       through_deletes: int | None = None) -> dict:
    """Compact all three BM25 index tables; postings keep their bucket
    partitioning so probe-side partition pruning survives compaction.
    Tombstoned docs (bm25index.delete_docs_batch) are PHYSICALLY
    purged from postings/doclen; the stats/stats_neg partials keep
    cancelling after their independent sum-folds.  ``through_deletes``
    additionally compacts the delete-stream tables (their own batch
    counter).

    Purging with ALL tombstones — including delete batches the delete
    stream's checkpoint has not committed yet — is safe because
    ``delete_docs_batch`` short-circuits a replay whose own tombstone
    partition is committed: the replay can no longer recompute (and
    zero out) its stats_neg partial against the purged doclen."""
    from .bm25index import _read_tombs

    tombs = _read_tombs(spark, index_dir)
    if tombs is not None:
        tombs = tombs.localCheckpoint(eager=True)  # pre-GC snapshot

    def purge(live):
        return (live if tombs is None
                else live.join(tombs, "doc_id", "left_anti"))

    def sum_stats(live):
        return live.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("decimal(18,0)").alias("sum_dl"))

    out = {
        "postings": compact_index(spark,
                                  os.path.join(index_dir, "postings"),
                                  through, partition_by=["bucket"],
                                  transform=purge),
        "doclen": compact_index(spark, os.path.join(index_dir, "doclen"),
                                through, transform=purge),
        "stats": compact_index(spark, os.path.join(index_dir, "stats"),
                               through, transform=sum_stats),
    }
    if through_deletes is not None and tombs is not None:
        out["tombs"] = compact_index(
            spark, os.path.join(index_dir, "tombs"), through_deletes,
            transform=lambda live: live.distinct())
        neg_path = os.path.join(index_dir, "stats_neg")
        if os.path.isdir(neg_path):
            out["stats_neg"] = compact_index(
                spark, neg_path, through_deletes, transform=sum_stats)
    return out
