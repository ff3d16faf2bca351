"""Incremental vector-search (IVFADC) index over a stream.

The streaming face of plans/similarity.sim_ivfpq_topk: micro-batches
of (vec_id, embedding) rows are ingested into a log-structured ANN
index — exactly the 100 TB vector-serving layout, built online:

- **Quantizers are per-vector deterministic** (md5-Rademacher IVF
  cells and PQ codes — the oracle-green portable recipes), so a
  batch's cell/code assignment depends only on its own rows: no
  read-modify-write, and a crash-retried batch overwrites its own
  ``batch_id=N`` partitions bit-identically (exactly-once).
- **The codebook is MERGEABLE state**: per-(sub, code, j) integer
  partial sums (sum of quantized components + count) per batch, folded
  at serve time into exact means — bit-identical to the batch-built
  codebook over the ingested union, because integer addition is
  associative.  Same for the per-(cell, pos) coarse-centroid partials
  that rank probe cells.
- **Serving is the batch plan on the stored artifacts**: rank cells by
  decimal-summed centroid cosine, probe the top ``nprobe``, score
  candidates by PQ asymmetric distance against a 128-row broadcast
  table, carry the exact distance per candidate — every fold uses the
  identical 9dp-decimal expressions, so ``search_topk`` over an
  ingested corpus HASH-MATCHES ``sim_ivfpq_topk`` run in batch over
  the same rows (pinned in tests/test_streaming_ann.py).
- **Compaction is cell-aware**: codes and raw components consolidate
  PARTITIONED BY CELL, so a steady-state probe reads nprobe/k of the
  store partition-pruned; the codebook partials fold to one row per
  (sub, code, j).

- **Deletes are EXACT UNLEARNING**: a tombstone batch records the
  deleted ids with the ingest horizon it covers, and writes NEGATIVE
  codebook / coarse-centroid partials computed from the stored
  components of the doomed rows.  Integer sums cancel exactly, so
  after deleting B from an A∪B index, every served distance is
  bit-identical to an index that never ingested B (pinned in
  tests/test_streaming_ann.py) — the GDPR/right-to-be-forgotten path
  without a single index rebuild.  Re-ingest after delete works: a
  tombstone kills only rows at or below its recorded horizon.

Log-structured tables under ``index_dir`` (ingest-stream counter):
  codes/    (vec_id, cell, sub, code)        — the 4-bit PQ index rows
  vecs/     (vec_id, sub, j, qv, xv)         — raw components (exact
                                               rescoring / refinement)
  cbook/    (sub, code, j, s_qv, n)          — codebook partials
  cellcen/  (cell, pos, s_qv, n)             — coarse-centroid partials
Delete-stream counter (independent micro-batch sequence):
  tombs/       (vec_id, thru_ingest)         — tombstones + horizon
  cbook_neg/   (sub, code, j, s_qv, n)       — negative partials
  cellcen_neg/ (cell, pos, s_qv, n)          — negative partials
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..plans.similarity import (_IVF_N_PROBE, _PQ_SUBDIM, _ivf_cells,
                                _pq_assign)
from .compaction import (compact_index, live_batch_ids, read_index,
                         run_available_now, write_delta)


def _p(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def index_batch(batch_df: DataFrame, batch_id: int, index_dir: str) -> None:
    """One micro-batch of index maintenance (the foreachBatch body):
    assign cells and PQ codes to the batch's vectors (deterministic,
    batch-local) and append the four deltas."""
    cells = _ivf_cells(batch_df).localCheckpoint(eager=True)
    assigned, _ = _pq_assign(batch_df, materialize=True)
    codes = (assigned.filter(F.col("j") == 0)
             .select("vec_id", "sub", "code")
             .join(cells.select("vec_id", "cell"), "vec_id"))
    write_delta(codes, batch_id, _p(index_dir, "codes"))
    write_delta(assigned.select("vec_id", "sub", "j", "qv", "xv"),
                 batch_id, _p(index_dir, "vecs"))
    cbook = (assigned.groupBy("sub", "code", "j")
             .agg(F.sum("qv").alias("s_qv"), F.count("qv").alias("n")))
    write_delta(cbook, batch_id, _p(index_dir, "cbook"))
    cellcen = (cells.select("cell", F.posexplode("q").alias("pos", "qv"))
               .groupBy("cell", "pos")
               .agg(F.sum("qv").alias("s_qv"), F.count("qv").alias("n")))
    write_delta(cellcen, batch_id, _p(index_dir, "cellcen"))


def _read(spark, index_dir: str, name: str, cols) -> DataFrame:
    df = read_index(spark, _p(index_dir, name), cols)
    if df is None:
        raise FileNotFoundError(f"no {name} table under {index_dir}")
    return df


def _read_opt(spark, index_dir: str, name: str, cols):
    """Like ``_read`` but a missing table is a legitimate state (no
    delete has ever run): returns None instead of raising."""
    return read_index(spark, _p(index_dir, name), cols)


def _max_ingest_batch(spark, index_dir: str) -> int:
    """Newest live ingest batch of the vecs table (delta partitions
    plus, if compacted, the manifest horizon) — the horizon a
    tombstone freezes so replays of the delete batch subtract the
    SAME contributions even if ingest advanced in between."""
    bids = live_batch_ids(_p(index_dir, "vecs"))
    if not bids:
        raise FileNotFoundError(f"no ingested batches under {index_dir}")
    return max(bids)


def _kill_filter(rows: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """Drop rows a tombstone covers: dead iff the row's ingest
    ``batch_id`` <= some tombstone's ``thru_ingest`` for that vec_id.
    Re-ingests above the horizon survive.  ``rows`` must carry
    batch_id; the column passes through."""
    if tombs is None:
        return rows
    kill = tombs.groupBy("vec_id").agg(
        F.max("thru_ingest").alias("_ktb"))
    return (rows.join(kill, "vec_id", "left")
            .filter(F.col("_ktb").isNull()
                    | (F.col("batch_id") > F.col("_ktb")))
            .drop("_ktb"))


def delete_batch(spark, ids_df: DataFrame, batch_id: int,
                 index_dir: str) -> None:
    """One micro-batch of tombstone deletes (the foreachBatch body of
    the delete stream, an INDEPENDENT batch counter from ingest).

    Exact unlearning in three writes, crash-safe in this order:
    negative codebook partials, negative coarse-centroid partials,
    then the tombstones themselves (the commit point); a crash before
    the tombstone write leaves unreferenced negatives the retry
    overwrites in place via dynamic partition overwrite.  A replay
    whose OWN tombstone partition is already committed is a NO-OP:
    the write order guarantees its negatives committed first, and
    recomputing them against an index a compaction may since have
    physically purged would find no doomed rows and overwrite the
    partition with empty partials — silently undoing the unlearning.
    The short-circuit is what lets ``compact_ann_index`` purge
    codes/vecs with ALL tombstones, committed to the delete-stream
    checkpoint or not (gating the purge on committed batches instead
    would let the compaction batch_id rewrite raise an unpurged dead
    row's ingest position above its tombstone horizon and resurrect
    it at serve time).

    Contract: deletes apply to data ingested at or below the horizon
    taken when the delete is processed; an ingest batch racing the
    delete with a smaller-or-equal batch_id is covered by it.  Deletes
    and compaction must not run concurrently: nothing here locks
    against a compaction, and a delete racing one can see the
    codes/vecs manifests swap mid-join and under-subtract."""
    tombs_path = _p(index_dir, "tombs")
    own_dir = os.path.join(tombs_path, f"batch_id={batch_id}")
    if os.path.isdir(own_dir):  # replay of a committed delete: no-op
        return
    ids = ids_df.select("vec_id").distinct().localCheckpoint(eager=True)
    thru = _max_ingest_batch(spark, index_dir)
    prior = read_index(spark, tombs_path, ["vec_id", "thru_ingest"],
                       before_batch=batch_id)
    vecs = _read(spark, index_dir, "vecs",
                 ["vec_id", "sub", "j", "qv", "batch_id"])
    codes = _read(spark, index_dir, "codes",
                  ["vec_id", "cell", "sub", "code", "batch_id"])
    # doomed MULTIPLICITY comes from vecs alone; codes is a pure
    # (vec_id, sub) -> (cell, code) LOOKUP deduplicated across batches
    # after passing the SAME horizon + prior-tombstone filters as the
    # doomed vecs rows, so a re-ingest that followed an earlier delete
    # keys the negatives to its LIVE assignment, not a dead one.  The
    # join is deliberately not batch-keyed so a crash between the
    # per-table compactions (codes rewritten to the horizon batch_id,
    # vecs not yet) cannot misalign it and silently under-subtract —
    # safe because compaction only ever rewrites batch_id UPWARD to a
    # horizon <= the current max ingest batch, and purges rows a prior
    # tombstone covers before rewriting.  Two live copies of a vec_id
    # must carry identical embeddings (quantizers are per-vector
    # deterministic); in-place updates without an intervening delete
    # are unsupported.
    doomed_v = _kill_filter(
        vecs.filter(F.col("batch_id") <= F.lit(int(thru)))
        .join(ids, "vec_id", "left_semi"), prior)
    code_lut = (_kill_filter(
        codes.filter(F.col("batch_id") <= F.lit(int(thru)))
        .join(ids, "vec_id", "left_semi"), prior)
                .dropDuplicates(["vec_id", "sub"])
                .select("vec_id", "cell", "sub", "code"))
    # negative codebook partials: the doomed components keyed by their
    # stored code assignment (a twice-ingested, once-deleted id
    # subtracts twice — two vecs rows, one lookup row)
    doomed = doomed_v.join(code_lut, ["vec_id", "sub"])
    neg_cb = (doomed.groupBy("sub", "code", "j")
              .agg((-F.sum("qv")).alias("s_qv"),
                   (-F.count("qv")).alias("n")))
    write_delta(neg_cb, batch_id, _p(index_dir, "cbook_neg"))
    # negative coarse-centroid partials: same components re-keyed to
    # (cell, flat position) — cellcen's q[pos] IS vecs.qv at
    # pos = sub*SUBDIM + j (both are floor(x*1e6) of the embedding)
    neg_cc = (doomed
              .select((F.col("sub") * _PQ_SUBDIM + F.col("j"))
                      .alias("pos"), "cell", "qv")
              .groupBy("cell", "pos")
              .agg((-F.sum("qv")).alias("s_qv"),
                   (-F.count("qv")).alias("n")))
    write_delta(neg_cc, batch_id, _p(index_dir, "cellcen_neg"))
    write_delta(ids.withColumn("thru_ingest", F.lit(int(thru))),
                 batch_id, tombs_path)  # the commit point


def search_topk(spark, index_dir: str, query_vec_id: int = 1) -> DataFrame:
    """Serve the IVFADC search from the persisted index: candidates in
    the query's top-``_IVF_N_PROBE`` cells scored by ADC, exact
    squared distance riding along — the same output schema and values
    as the batch ``sim_ivfpq_topk`` over the ingested union
    (vec_id, cell, adc_dist, exact_dist)."""
    dsum9 = lambda c: (F.sum(F.round(c, 9).cast("decimal(28,9)"))  # noqa: E731
                       .cast("double"))
    dsum9_38 = lambda c: (F.sum(F.round(c, 9).cast("decimal(38,9)"))  # noqa: E731
                          .cast("double"))
    tombs = _read_opt(spark, index_dir, "tombs", ["vec_id", "thru_ingest"])
    vecs = _kill_filter(
        _read(spark, index_dir, "vecs",
              ["vec_id", "sub", "j", "qv", "xv", "batch_id"]),
        tombs).drop("batch_id")
    codes = _kill_filter(
        _read(spark, index_dir, "codes",
              ["vec_id", "cell", "sub", "code", "batch_id"]),
        tombs).drop("batch_id")
    # exact integer-mean codebook from the folded partials (sum of
    # per-batch sums == corpus sum: merge-lossless; delete batches'
    # NEGATIVE partials cancel doomed contributions exactly, so the
    # folded means equal a never-ingested-the-deleted index bit for
    # bit; n = 0 rows are fully-unlearned codes with no members left)
    cb = _read(spark, index_dir, "cbook", ["sub", "code", "j", "s_qv", "n"])
    cb_neg = _read_opt(spark, index_dir, "cbook_neg",
                       ["sub", "code", "j", "s_qv", "n"])
    if cb_neg is not None:
        cb = cb.unionByName(cb_neg)
    cen = (cb.groupBy("sub", "code", "j")
           .agg(F.sum("s_qv").alias("s_qv"), F.sum("n").alias("n"))
           .filter(F.col("n") > 0)
           .select("sub", "code", "j",
                   (F.col("s_qv").cast("double") / F.col("n")
                    / F.lit(1_000_000.0)).alias("cv")))
    qe = (vecs.filter(F.col("vec_id") == query_vec_id)
          .select("sub", "j", F.col("xv").alias("qx"))
          .localCheckpoint(eager=True))
    # coarse probe: rank cells by decimal-summed centroid cosine
    cc = _read(spark, index_dir, "cellcen", ["cell", "pos", "s_qv", "n"])
    cc_neg = _read_opt(spark, index_dir, "cellcen_neg",
                       ["cell", "pos", "s_qv", "n"])
    if cc_neg is not None:
        cc = cc.unionByName(cc_neg)
    cellcen = (cc.groupBy("cell", "pos")
               .agg(F.sum("s_qv").alias("s_qv"), F.sum("n").alias("n"))
               .filter(F.col("n") > 0)
               .select("cell", "pos",
                       (F.col("s_qv").cast("double") / F.col("n")
                        / F.lit(1_000_000.0)).alias("centroid_val")))
    qpos = qe.select((F.col("sub") * _PQ_SUBDIM + F.col("j")).alias("pos"),
                     F.col("qx"))
    sc = (cellcen.join(F.broadcast(qpos), "pos")
          .groupBy("cell")
          .agg(dsum9_38(F.col("centroid_val") * F.col("qx")).alias("dot"),
               dsum9_38(F.col("centroid_val") * F.col("centroid_val"))
               .alias("cnorm2")))
    probe = (sc.orderBy(F.desc(F.col("dot") / F.sqrt(F.col("cnorm2"))),
                        "cell")
             .limit(_IVF_N_PROBE).select("cell"))
    # the probe list is <= _IVF_N_PROBE rows BY CONSTRUCTION — collect
    # it and push the cell predicate down as a literal isin so the
    # compacted cell-partitioned codes store is PARTITION-PRUNED at
    # plan time (a broadcast join on the partition column does not
    # trigger DPP in this shape — verified; the setsimdedup
    # touched-bucket pushdown, bounded edition)
    probe_cells = [r["cell"] for r in probe.collect()]
    codes_probed = codes.filter(F.col("cell").isin(probe_cells))
    dt = (cen.join(F.broadcast(qe), ["sub", "j"])
          .groupBy("sub", "code")
          .agg(dsum9((F.col("cv") - F.col("qx"))
                     * (F.col("cv") - F.col("qx"))).alias("d")))
    adc = (codes_probed
           .join(F.broadcast(dt), ["sub", "code"])
           .groupBy("vec_id", "cell")
           .agg(F.round(dsum9(F.col("d")), 6).alias("adc_dist")))
    cand_ids = codes_probed.select("vec_id")
    exact = (vecs.join(cand_ids, "vec_id", "left_semi")
             .join(F.broadcast(qe), ["sub", "j"])
             .groupBy("vec_id")
             .agg(F.round(dsum9((F.col("xv") - F.col("qx"))
                                * (F.col("xv") - F.col("qx"))), 6)
                  .alias("exact_dist")))
    return (adc.join(exact, "vec_id")
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "cell", "adc_dist", "exact_dist"))


def run_incremental_ann(stream: DataFrame, checkpoint_dir: str,
                        index_dir: str):
    """Attach the index-maintenance sink to a stream of
    (vec_id, embedding) rows and drain available input."""
    return run_available_now(stream, checkpoint_dir, lambda df, bid: (
        index_batch(df, bid, index_dir)))


def compact_ann_index(spark, index_dir: str, through: int,
                      through_deletes: int | None = None) -> dict:
    """Cell-aware compaction: codes and raw components consolidate
    PARTITIONED BY CELL (codes) so steady-state probes read nprobe/k
    of the store partition-pruned; the codebook / coarse-centroid
    partials FOLD by integer sum to one row per key.  Tombstoned rows
    are PHYSICALLY dropped from codes/vecs (the kill rule sees each
    row's pre-compaction batch_id via ``transform_keeps_batch``); the
    tombstones themselves stay — folded to one max-horizon row per
    vec_id — because post-horizon ingest deltas may still hold rows
    they cover.  ``through_deletes`` additionally compacts the
    delete-stream tables (their own batch counter) through that
    checkpoint-committed delete batch.  Returns the new manifests.

    Purging with ALL tombstones — even delete batches the delete
    stream's checkpoint has not committed — is safe because
    ``delete_batch`` short-circuits a replay whose own tombstone
    partition is committed (it cannot re-key negatives against purged
    rows), and REQUIRED: an unpurged dead row would have its batch_id
    rewritten up to the compaction horizon, potentially above its
    tombstone's thru_ingest, resurrecting it at serve time."""

    def fold(keys):
        def f(live: DataFrame) -> DataFrame:
            return live.groupBy(*keys).agg(
                F.sum("s_qv").alias("s_qv"), F.sum("n").alias("n"))
        return f

    tombs = _read_opt(spark, index_dir, "tombs", ["vec_id", "thru_ingest"])
    if tombs is not None:
        tombs = tombs.localCheckpoint(eager=True)  # pre-GC snapshot

    def purge(live: DataFrame) -> DataFrame:
        return _kill_filter(live, tombs)

    out = {
        "codes": compact_index(spark, _p(index_dir, "codes"), through,
                               partition_by=["cell"], transform=purge,
                               transform_keeps_batch=True),
        "vecs": compact_index(spark, _p(index_dir, "vecs"), through,
                              transform=purge,
                              transform_keeps_batch=True),
        "cbook": compact_index(spark, _p(index_dir, "cbook"), through,
                               transform=fold(["sub", "code", "j"])),
        "cellcen": compact_index(spark, _p(index_dir, "cellcen"), through,
                                 transform=fold(["cell", "pos"])),
    }
    if through_deletes is not None and tombs is not None:
        out["tombs"] = compact_index(
            spark, _p(index_dir, "tombs"), through_deletes,
            transform=lambda live: live.groupBy("vec_id").agg(
                F.max("thru_ingest").alias("thru_ingest")))
        for t in ("cbook_neg", "cellcen_neg"):
            if _read_opt(spark, index_dir, t,
                         ["s_qv"]) is not None:
                keys = (["sub", "code", "j"] if t == "cbook_neg"
                        else ["cell", "pos"])
                out[t] = compact_index(spark, _p(index_dir, t),
                                       through_deletes,
                                       transform=fold(keys))
    return out
