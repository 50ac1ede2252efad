"""The base every foreachBatch streaming maintainer builds on.

`StreamingMaintainer.attach` is the one place a maintainer is wired to a
stream: checkpointed foreachBatch under an availableNow trigger, each
micro-batch handed to `process_batch(batch, batch_id)`.  Structured
Streaming delivers foreachBatch at-least-once — a batch that failed, or
whose commit the checkpoint never recorded, is handed over again with
the same id — so every fold must turn a replay into a no-op.  Two kinds
of state get there differently:

- idempotent state needs no bookkeeping: a min-fold (sketch, sample)
  or a MERGE keyed on the record's own identity (ann, anomaly,
  curation, dedup, scd2) lands the same rows on every replay;
- SUMS would double-count, so `LedgeredMaintainer` makes them
  exactly-once the way a Structured Streaming sink does (Spark SQL,
  SIGMOD 2015): per-batch partials keyed on `batch_id` plus an applied-
  batch ledger at `<store_root>/applied` (count-min, index stats,
  manifest source counts, rollup; cluster uses the ledger to skip a
  replay's relabeling work).

The ledgered protocol, per micro-batch:

1. ledger probe — a batch already in the ledger is skipped whole;
2. the subclass's `_fold` MERGEs the batch's partials keyed on
   (key…, batch_id), so a re-run OVERWRITES its own identical rows;
3. the ledger row is appended LAST.

A crash after (2) and before (3) leaves partials without a ledger row;
the replay passes the probe and re-merges identical rows by key, then
completes the ledger — exact with no atomic multi-table commit.  Read
views sum the partials per key, so state grows O(keys × batches) until
`_compact` folds history into one `_COMPACTED` row per key.  Compaction
folds only LEDGERED partials: an unledgered batch's rows keep their
batch_id, so its replay still overwrites them instead of adding a second
copy on top of the sentinel.  The ledger itself is never compacted, so a
replay of a folded batch stays skippable.
"""

from __future__ import annotations

import copy
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into

#: sentinel batch_id for compacted rows (real batch ids are ≥ 0)
_COMPACTED = -1


class StreamingMaintainer:
    """A fold over micro-batches, drained from a stream by `attach`."""

    def process_batch(self, batch: DataFrame, batch_id: int):
        raise NotImplementedError

    def attach(self, stream: DataFrame, checkpoint: str):
        """Run `process_batch` over `stream` as a checkpointed
        foreachBatch query that drains what is available, then stops."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


class LedgeredMaintainer(StreamingMaintainer):
    """Exactly-once fold of SUM state: skip applied batches, fold, append
    the ledger row last. Subclasses implement `_fold` and set `_SKIPPED`
    to what `process_batch` returns for a replay."""

    _SKIPPED: object = 0

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.applied = ParquetTable(spark, os.path.join(store_root, "applied"))

    def _fold(self, batch: DataFrame, batch_id: int):
        raise NotImplementedError

    def _is_applied(self, batch_id: int) -> bool:
        if not self.applied.exists():
            return False
        return (
            self.applied.read().where(F.col("batch_id") == batch_id).limit(1).count()
            > 0
        )

    def process_batch(self, batch: DataFrame, batch_id: int):
        """Fold one micro-batch exactly once; a replay returns `_SKIPPED`."""
        if self._is_applied(batch_id):
            return copy.copy(self._SKIPPED)
        result = self._fold(batch, batch_id)
        ledger = self.spark.createDataFrame([(batch_id,)], "batch_id long")
        merge_into(self.applied, ledger, ("batch_id",))
        return result

    def _compact(
        self, table: ParquetTable, keys: tuple[str, ...], sums: tuple[str, ...]
    ) -> int:
        """Fold `table`'s ledgered partials into one `_COMPACTED` row per
        `keys` (summing `sums`); unledgered partials keep their batch_id.
        Returns the resulting row count."""
        if not table.exists():
            return 0
        cols = (*keys, *sums, "batch_id")
        parts = table.read()
        applied = (
            self.applied.read()
            if self.applied.exists()
            else self.spark.createDataFrame([], "batch_id long")
        )
        sentinel = F.col("batch_id") == _COMPACTED
        ledgered = parts.where(sentinel).unionByName(
            parts.where(~sentinel).join(F.broadcast(applied), "batch_id", "left_semi")
        )
        unledgered = parts.where(~sentinel).join(
            F.broadcast(applied), "batch_id", "left_anti"
        )
        folded = (
            ledgered.groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sums])
            .withColumn("batch_id", F.lit(_COMPACTED).cast("long"))
        )
        rows = folded.unionByName(unledgered.select(*cols)).select(*cols).persist()
        n = rows.count()
        table.overwrite(rows)
        rows.unpersist()
        return n
