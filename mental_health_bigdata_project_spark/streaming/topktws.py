"""[EXT] Frequent-items (top-k) as a ``transformWithStateInPandas``
operator — the state-store architecture twin of the parquet-delta
``topkstate`` sink (VERDICT r6 item 3).

The engine now spans BOTH streaming-state architectures for the same
semantics, so their costs can be compared like-for-like
(``SCALING.md`` carries the comparison):

- **parquet-delta** (``topkstate.py``): each micro-batch reduces to
  one mergeable sketch row per group, appended to a log-structured
  table; serving folds all deltas.  Maintenance writes are
  batch-sized and blind (no read), replay overwrites its own
  partition, compaction is an offline fold.  State lives OUTSIDE the
  stream engine — any session can serve it.
- **state-store** (this module): per-(group, token) counts live in
  the checkpoint's RocksDB column family, read-modified-written per
  batch by the runtime, emitted as the group's current top-k every
  batch the group appears in.  Serving is push (results stream out);
  exactly-once comes from the store's own version lineage; TTL and
  timers give per-entry expiry and idle-group eviction that the
  parquet layout would need a compaction policy to express.

Counts here are EXACT (a map state over the observed vocabulary), so
in the sketch's exact regime the emitted top-k matches
``topkstate.read_topk`` item-for-item — the parity test pins that.
Past the exact regime the architectures diverge by design: the sketch
degrades to bounded error with KB state; the map state stays exact
but grows with the group's distinct-item count (RocksDB spills it off
heap — still bounded by vocabulary, not stream length; TTL bounds it
in wall-clock).

Same pickling discipline as ``stateful.py``: the processor is a
MODULE-LEVEL class so workers unpickle it by reference and run this
module's import-time ``protobuf_compat.install()`` before pyspark's
lazy ``StateMessage_pb2`` import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import protobuf_compat

protobuf_compat.install()

TOPK_TWS_OUTPUT_SCHEMA = "source string, rnk int, item string, n bigint"
# tombstone emitted by the idle-group timer so eviction is observable
# downstream (and testable) instead of silent
EVICTED_ITEM = "__evicted__"


def _make_topk_processor():
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class TopKTokensProcessor(StatefulProcessor):
        """Per-group exact token counts in a MapState; emits the
        group's current top-k each batch.  ``ttl_ms`` expires
        individual (token -> count) entries that long after their
        last update; ``idle_timer_ms`` registers a processing-time
        timer re-armed on every batch the group appears in — if it
        fires, the WHOLE group's state is dropped and a tombstone row
        is emitted."""

        def __init__(self, k: int = 20, ttl_ms: int | None = None,
                     idle_timer_ms: int | None = None) -> None:
            self.k = k
            self.ttl_ms = ttl_ms
            self.idle_timer_ms = idle_timer_ms

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.counts = handle.getMapState(
                "counts", "item string", "n bigint",
                ttlDurationMs=self.ttl_ms)

        def _topk_frame(self, key):
            items = sorted(
                ((k[0], v[0]) for k, v in self.counts.iterator()),
                key=lambda kv: (-kv[1], kv[0]))[: self.k]
            return pd.DataFrame({
                "source": [key[0]] * len(items),
                "rnk": list(range(1, len(items) + 1)),
                "item": [i for i, _ in items],
                "n": [n for _, n in items]})

        def handleInputRows(self, key, rows, timerValues):
            upd: dict[str, int] = {}
            for pdf in rows:
                for item, c in pdf["token"].value_counts().items():
                    upd[item] = upd.get(item, 0) + int(c)
            for item, c in upd.items():
                prev = self.counts.getValue((item,))
                self.counts.updateValue(
                    (item,), ((prev[0] if prev is not None else 0) + c,))
            if self.idle_timer_ms:
                # re-arm: one live timer per group, at last-seen + idle
                for t in self.handle.listTimers():
                    self.handle.deleteTimer(t)
                self.handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs()
                    + self.idle_timer_ms)
            yield self._topk_frame(key)

        def handleExpiredTimer(self, key, timerValues,
                               expiredTimerInfo):
            self.counts.clear()
            yield pd.DataFrame({
                "source": [key[0]], "rnk": [0],
                "item": [EVICTED_ITEM], "n": [0]})

        def close(self) -> None:
            pass

    TopKTokensProcessor.__module__ = __name__
    TopKTokensProcessor.__qualname__ = "TopKTokensProcessor"
    return TopKTokensProcessor


TopKTokensProcessor = _make_topk_processor()


def topk_tokens_tws(tokens: DataFrame, k: int = 20,
                    ttl_ms: int | None = None,
                    idle_timer_ms: int | None = None) -> DataFrame:
    """Attach the top-k processor to a (source, token) stream.

    ``timeMode="ProcessingTime"`` is required for the per-entry TTL
    and the idle-group timers — but it is requested ONLY when one of
    them is configured: under ProcessingTime an availableNow drain
    keeps scheduling EMPTY micro-batches after the input is exhausted
    (~100 observed, each paying the full per-partition state-store
    commit overhead — measured as the dominant wall before this guard,
    SCALING.md §15).  The state
    store must be the RocksDB provider (per-state column families) —
    see the parity test for the session conf."""
    time_mode = ("ProcessingTime" if (ttl_ms or idle_timer_ms)
                 else "None")
    return (tokens.select("source", "token")
            .groupBy("source")
            .transformWithStateInPandas(
                TopKTokensProcessor(k, ttl_ms, idle_timer_ms),
                outputStructType=TOPK_TWS_OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode=time_mode))
