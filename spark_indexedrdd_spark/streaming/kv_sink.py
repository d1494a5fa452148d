"""Streaming updatable KV store: an IndexedDataFrame maintained by a
Structured Streaming query via foreachBatch multiput — the streaming form
of the reference's incremental-update pattern (repeated
``fullOuterJoin(maybeLazy=true)`` merges, reference IndexedRDD.scala:237-252
+ LazyPartition.scala:29-46).

Each micro-batch:

1. pre-aggregates the batch to unique keys (map-side combine),
2. ``multiput_df`` merges it into the current version (shuffled-hash
   full outer: the base never re-shuffles or sorts),
3. every ``compact_every`` batches, ``IndexedDataFrame.reindex()``
   materializes the accumulated join chain (lineage cut, key partitioning
   kept) and the previous compaction's blocks are released (unless
   ``keep_history`` still serves it; the caller-supplied base is never
   released) — bounding plan depth and block footprint like the
   reference's LazyPartition merge (LazyPartition.scala:134-135).

Versions are retained: ``history[i]`` is the IndexedDataFrame after batch
i, still queryable (the reference's multi-version README demo). Without
``keep_history`` a frame from before the latest compaction has no
lineage left once its blocks are released, so hold versions through
``keep_history``, not through saved references to ``current``.
"""

from __future__ import annotations

from spark_indexedrdd_spark.checkpoint import release_lineage
from spark_indexedrdd_spark.core import IndexedDataFrame, MergeFn, SUM_MERGE


class StreamingKVStore:
    def __init__(
        self,
        base: IndexedDataFrame,
        merge: MergeFn = SUM_MERGE,
        compact_every: int = 8,
        keep_history: bool = False,
    ):
        self.current = base
        self.merge = merge
        self.compact_every = compact_every
        self.keep_history = keep_history
        self.history: list[IndexedDataFrame] = []
        self._batches = 0
        # the last compaction: materialized by this store, so owned by it
        self._compacted: IndexedDataFrame | None = None

    def foreach_batch(self, batch_df, batch_id: int) -> None:
        """Pass to ``writeStream.foreachBatch``. Expects batch rows of
        (key cols..., one value col) matching the base's schema."""
        if not batch_df.take(1):
            return
        updated = self.current.multiput_df(batch_df, f=self.merge)
        self._batches += 1
        if self._batches % self.compact_every == 0:
            updated = updated.reindex()
            if self._compacted is not None and not self.keep_history:
                release_lineage(self._compacted.df)
            self._compacted = updated
        if self.keep_history:
            self.history.append(self.current)
        self.current = updated

    def attach(self, stream_df, checkpoint_dir: str, **trigger_kwargs):
        """Start the streaming query feeding this store."""
        return (
            stream_df.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.foreach_batch)
            .trigger(**trigger_kwargs)
            .start()
        )
