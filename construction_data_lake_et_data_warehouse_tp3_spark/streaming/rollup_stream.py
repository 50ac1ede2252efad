"""Continuous aggregate — the streaming twin of the batch hypertable
rollup (operators/analytics.time_bucket_rollup): an hour-grain
materialized aggregate maintained incrementally by foreachBatch, exact
under at-least-once replays by the partials + applied-ledger protocol
of streaming/maintainer.py.

Each micro-batch aggregates map-side to per-bucket partial sums (COUNT,
BIGINT cents) keyed (bucket, batch_id); the serving view sums partials
per bucket. Scale: per-batch shuffle is on the bucket key of the batch's
own data only; the store join is MERGE's key equi-join; nothing rescans
history except compact(), which is itself one bucket-keyed aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into
from .maintainer import LedgeredMaintainer


class StreamingRollup(LedgeredMaintainer):
    """Incrementally-maintained hour-grain continuous aggregate."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        ts_col: str = "ts",
        value_col: str = "value",
        grain: str = "hour",
    ):
        super().__init__(spark, store_root)
        self.partials = ParquetTable(spark, os.path.join(store_root, "partials"))
        self.ts = ts_col
        self.value = value_col
        self.grain = grain

    # ------------------------------------------------------------------
    def _partials_of(self, batch: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch.groupBy(
                F.date_trunc(self.grain, self.ts).alias("bucket")
            )
            .agg(
                F.count("*").alias("n_rows"),
                # nanvl (ADVICE/ask r8 dirty sweep): a NaN measure made
                # this CAST raise under ANSI and abort the micro-batch;
                # NaN quarantines to NULL cents (counted row, skipped
                # sum) — the money helpers' posture
                F.sum(
                    F.expr(
                        "CAST(round(nanvl("
                        f"{self.value}, CAST(NULL AS DOUBLE)) * 100)"
                        " AS BIGINT)"
                    )
                ).alias("total_cents"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )

    def _fold(self, batch: DataFrame, batch_id: int) -> int:
        """Merge one micro-batch's partials; returns upserted rows."""
        return merge_into(
            self.partials, self._partials_of(batch, batch_id), ("bucket", "batch_id")
        )

    # ------------------------------------------------------------------
    def rollup(self) -> DataFrame:
        """The serving view: per-bucket totals across all partials."""
        return (
            self.partials.read()
            .groupBy("bucket")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("total_cents").alias("total_cents"),
            )
        )

    def compact(self) -> int:
        """Fold ledgered partials into one row per bucket; returns the
        resulting partial-row count."""
        return self._compact(self.partials, ("bucket",), ("n_rows", "total_cents"))
