"""Incremental fixed-k-per-group sampling — the streaming twin of the
batch `fixed_k_sample` (operators/curation.py:256), completing the
sampler family's batch↔streaming story (stratified/fixed-rate sampling
is map-only and needs no state; the fixed-SIZE sampler does).

An eval-set builder over a stream ("keep exactly K docs per language,
uniformly, forever") is a bottom-k sketch: the K smallest md5(doc_id)
coins per group.  Because min-k over a fixed hash is an idempotent,
commutative monoid on the SET of seen ids, at-least-once redelivery and
batch reordering cannot change the result — the sketch_stream discipline
(ledger-free exactly-once by algebra), contrasted with rollup_stream's
partials+ledger for sums.

Per micro-batch:

1. coin each incoming (doc_id, group) with the SAME md5 derivation as
   the batch operator (imported expression shape, not reimplemented).
2. union with the stored candidate set, keep each group's K smallest
   (h, doc_id) rows — a per-group top-k that compiles to a window over
   the CANDIDATE frame (≤ K + |batch| rows per group, never the corpus).
3. overwrite the candidate store (bounded: ≤ K rows per group forever).

The maintained sample equals the batch operator run over everything
ingested so far, bit-for-bit, at every prefix — proven differentially in
tests/test_sample_stream.py.

Scale: state is K·|groups| rows regardless of corpus size; per batch one
group-keyed exchange over candidates+batch.  At 10^9 rows/batch the
batch side pre-prunes map-side (per-partition top-k before the window)
— the standard bottom-k sketch refinement, noted not needed at test SF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..warehouse.merge import ParquetTable
from .maintainer import StreamingMaintainer

#: the md5 coin — identical to fixed_k_sample's ordering hash.
_COIN = "md5(CAST(doc_id AS STRING))"


class StreamingFixedKSampler(StreamingMaintainer):
    """Persistent bottom-k uniform sample per group over micro-batches
    of (doc_id, group) rows."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        k: int,
        group_col: str = "lang",
        value_col: str | None = None,
    ):
        self.spark = spark
        self.k = k
        self.group_col = group_col
        #: optional metric column carried through the sample — turns the
        #: maintained bottom-k into a streaming QUANTILE sketch (see
        #: quantiles(); batch twin operators/sketches.quantile_sketch_check)
        self.value_col = value_col
        self.store = ParquetTable(spark, os.path.join(store_root, "candidates"))

    def _candidates(self) -> DataFrame:
        if self.store.exists():
            return self.store.read()
        extra = f", {self.value_col} bigint" if self.value_col else ""
        return self.spark.createDataFrame(
            [], f"doc_id long, {self.group_col} string, h string{extra}"
        )

    def sample(self) -> DataFrame:
        """The current sample in the batch operator's output shape:
        (doc_id, group, sample_rank)."""
        w = Window.partitionBy(self.group_col).orderBy("h", "doc_id")
        return (
            self._candidates()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= self.k)
            .select(
                "doc_id",
                self.group_col,
                F.col("rn").cast("bigint").alias("sample_rank"),
            )
        )

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Fold one micro-batch; returns the stored candidate count.
        No ledger: min-k of a deterministic coin is idempotent under
        replay and commutative across batch order by construction."""
        carried = [self.value_col] if self.value_col else []
        coined = batch.select(
            "doc_id", self.group_col, F.expr(_COIN).alias("h"), *carried
        )
        merged = self._candidates().unionByName(coined).dropDuplicates(
            ["doc_id", self.group_col]
        )
        w = Window.partitionBy(self.group_col).orderBy("h", "doc_id")
        kept = (
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= self.k)
            .select("doc_id", self.group_col, "h", *carried)
            .persist()
        )
        n = kept.count()
        self.store.overwrite(kept)
        kept.unpersist()
        return n

    def quantiles(self, probs: tuple[float, ...] = (0.5, 0.9)) -> DataFrame:
        """Disc-percentile estimates per group read off the maintained
        sample (requires value_col) — the streaming quantile sketch:
        value at position ceil(p·n) under the total (value, h) order,
        the SAME pick as the batch quantile_sketch_check, so a stream
        fold and the batch sketch over identical rows agree exactly."""
        if not self.value_col:
            raise ValueError("quantiles() needs value_col")
        v = self.value_col
        w = Window.partitionBy(self.group_col).orderBy(v, "h")
        ranked = self._candidates().withColumn(
            "vr", F.row_number().over(w)
        )
        ns = ranked.groupBy(self.group_col).agg(F.count("*").alias("n_sample"))
        # ceil(p·n) in INTEGER basis points — float ceil(0.9·10) is 10 on
        # IEEE doubles; the integer form matches the batch sketch exactly
        aggs = []
        for p in probs:
            bp = int(round(p * 10000))
            aggs.append(
                F.expr(
                    f"max(CASE WHEN vr <= ({bp} * n_sample + 9999) DIV 10000"
                    f" THEN {v} END)"
                ).alias(f"p{int(p * 100)}_est")
            )
        return ranked.join(ns, self.group_col).groupBy(
            self.group_col, "n_sample"
        ).agg(*aggs)
