"""Incremental count-min sketch — the streaming FREQUENCY twin that
completes the sketch family's continuous story (sketch_stream = KMV
cardinality, sample_stream = bottom-k sample/quantiles, this = CMS
counts/heavy-hitters; batch twin operators/pipelines.cms_heavy_hitters).

CMS cells are SUMS, so unlike the min-monoid sketches a replayed batch
WOULD double-count — this maintainer therefore uses the partials +
applied-ledger protocol of streaming/maintainer.py: per-batch cell
increments MERGE keyed (d, bucket, batch_id); estimates fold the
partials at read time, and compact() keeps state at the grid size
(DEPTH×WIDTH counters) forever.

The bucket derivation is IMPORTED from the batch operator (not
reimplemented), so a stream fold over any batch split equals the batch
sketch bit-for-bit — proven differentially in tests/test_cms_stream.py.

Scale: per batch one token aggregation (map-side combinable) + a
DEPTH×|distinct batch tokens| increment frame collapsing to ≤ DEPTH×WIDTH
cells; the store rewrite is the plain-parquet MERGE trade-off
(warehouse/merge.py notes). estimate() is a broadcast of probe rows
against the grid — the grid is 32 KB at ANY corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipelines import _CMS_BUCKET, CMS_DEPTH
from ..warehouse.merge import ParquetTable, merge_into
from .maintainer import LedgeredMaintainer


class StreamingCountMin(LedgeredMaintainer):
    """Exactly-once incremental CMS over micro-batches of (token) rows
    (pass any frame with a `token` column; weights via `n` column)."""

    def __init__(self, spark: SparkSession, store_root: str):
        super().__init__(spark, store_root)
        self.cells = ParquetTable(spark, os.path.join(store_root, "cells"))

    def _fold(self, tokens: DataFrame, batch_id: int) -> int:
        """Fold one micro-batch of token rows; returns the number of
        (d, bucket) cells the batch touched."""
        counts = tokens.groupBy("token").agg(F.count("*").alias("n"))
        incr = (
            counts.withColumn(
                "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
            )
            .withColumn("bucket", F.expr(_CMS_BUCKET))
            .groupBy("d", "bucket")
            .agg(F.expr("CAST(sum(n) AS BIGINT)").alias("cell"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        return merge_into(self.cells, incr, ("d", "bucket", "batch_id"))

    # ------------------------------------------------------------------
    def grid(self) -> DataFrame:
        """Folded (d, bucket, cell) grid across all applied batches."""
        if not self.cells.exists():
            return self.spark.createDataFrame(
                [], "d int, bucket bigint, cell bigint"
            )
        return (
            self.cells.read()
            .groupBy("d", "bucket")
            .agg(F.expr("CAST(sum(cell) AS BIGINT)").alias("cell"))
        )

    def estimate(self, tokens: DataFrame) -> DataFrame:
        """CMS estimate per probe token (min over the DEPTH rows) — the
        same probe expression as the batch operator."""
        probes = tokens.select("token").distinct().withColumn(
            "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
        ).withColumn("bucket", F.expr(_CMS_BUCKET))
        return (
            probes.join(F.broadcast(self.grid()), ["d", "bucket"], "left")
            .groupBy("token")
            .agg(
                F.expr("CAST(min(coalesce(cell, 0)) AS BIGINT)").alias(
                    "cms_estimate"
                )
            )
        )

    def compact(self) -> int:
        """Fold ledgered partials into one row per cell; returns the
        resulting cell-row count."""
        return self._compact(self.cells, ("d", "bucket"), ("cell",))
