"""Incremental CMS (streaming/cms_stream.py): the stream fold over any
batch split must equal the batch sketch bit-for-bit, replays must not
double-count (sums need the ledger, unlike the min-monoid sketches),
compaction must preserve every estimate, and estimates must hold the
CMS invariant (estimate >= exact)."""

from __future__ import annotations

from pyspark.sql import functions as F

from construction_data_lake_et_data_warehouse_tp3_spark.streaming.cms_stream import (
    StreamingCountMin,
)

SF_DIR = "/root/testdata/sf0.001"


def _tokens(spark, words):
    return spark.createDataFrame([(w,) for w in words], "token string")


def _grid(cms):
    return sorted((r.d, r.bucket, r.cell) for r in cms.grid().collect())


class TestStreamingCms:
    def test_fold_equals_batch_sketch_and_invariant(self, spark, tmp_path):
        """Two-batch fold == one-shot fold over the union; estimates
        >= exact counts, exact for collision-free tokens."""
        b0 = ["apple"] * 5 + ["pear"] * 2
        b1 = ["apple"] * 3 + ["fig"]
        two = StreamingCountMin(spark, str(tmp_path / "two"))
        two.process_batch(_tokens(spark, b0), 0)
        two.process_batch(_tokens(spark, b1), 1)
        one = StreamingCountMin(spark, str(tmp_path / "one"))
        one.process_batch(_tokens(spark, b0 + b1), 0)
        assert _grid(two) == _grid(one)
        est = {
            r.token: r.cms_estimate
            for r in two.estimate(_tokens(spark, ["apple", "pear", "fig", "ghost"])).collect()
        }
        assert est["apple"] >= 8 and est["pear"] >= 2 and est["fig"] >= 1
        assert est["ghost"] >= 0  # unseen token: collisions only

    def test_replay_is_a_noop_and_compact_preserves(self, spark, tmp_path):
        cms = StreamingCountMin(spark, str(tmp_path / "s"))
        b = _tokens(spark, ["x"] * 4 + ["y"])
        cms.process_batch(b, 0)
        before = _grid(cms)
        assert cms.process_batch(b, 0) == 0  # ledger short-circuit
        assert _grid(cms) == before
        probes = _tokens(spark, ["x", "y"])
        est_before = sorted(map(tuple, cms.estimate(probes).collect()))
        cms.compact()
        assert _grid(cms) == before
        assert sorted(map(tuple, cms.estimate(probes).collect())) == est_before
        # post-compaction batches keep folding
        cms.process_batch(_tokens(spark, ["x"]), 1)
        est = {r.token: r.cms_estimate for r in cms.estimate(probes).collect()}
        assert est["x"] >= 5

    def test_differential_vs_batch_operator_on_corpus(self, spark, tmp_path):
        """The sf0.001 corpus streamed in 2 chunks must reproduce the
        batch cms_heavy_hitters estimates for its top-K exactly."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.pipelines import (
            cms_heavy_hitters,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.sources.registry import (
            load_table,
        )

        docs = load_table(spark, SF_DIR, "documents")
        words = docs.select(
            "doc_id", F.explode(F.expr("split(trim(text), '\\\\s+')")).alias("token")
        )
        cms = StreamingCountMin(spark, str(tmp_path / "s"))
        cms.process_batch(words.where("doc_id % 2 = 0").select("token"), 0)
        cms.process_batch(words.where("doc_id % 2 = 1").select("token"), 1)
        batch = cms_heavy_hitters(spark, SF_DIR)
        est = cms.estimate(batch.select("token"))
        joined = {
            r.token: (r.cms_estimate, r.stream_est)
            for r in batch.join(
                est.withColumnRenamed("cms_estimate", "stream_est"), "token"
            ).collect()
        }
        assert joined and all(b == s for b, s in joined.values()), joined

    def test_attach_drains_a_real_stream(self, spark, tmp_path):
        words = _tokens(spark, ["a", "a", "b", "c", "c", "c"])
        src = str(tmp_path / "src")
        words.write.parquet(src)
        stream = spark.readStream.schema(words.schema).parquet(src)
        cms = StreamingCountMin(spark, str(tmp_path / "store"))
        q = cms.attach(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        est = {r.token: r.cms_estimate for r in cms.estimate(words).collect()}
        assert est["a"] >= 2 and est["b"] >= 1 and est["c"] >= 3
