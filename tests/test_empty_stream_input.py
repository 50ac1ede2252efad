"""Zero-row micro-batch sweep over every maintainer that drains a stream
through StreamingMaintainer.attach (streaming/maintainer.py): a trigger
that finds no new rows hands foreachBatch an EMPTY frame of the input
schema. process_batch must not raise, and every read view must then
return its declared columns with no rows or only zero measures — never
a crash on a store that holds no data.

Entry points covered: StreamingVectorIndex, StreamingAnomalyMonitor,
StreamingClusterMaintainer, StreamingCountMin, StreamingCurator,
StreamingDeduper, StreamingIndexStats, StreamingManifest,
StreamingRollup, StreamingFixedKSampler, StreamingScd2,
StreamingCardinality."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark import streaming
from construction_data_lake_et_data_warehouse_tp3_spark.operators.clustering import DIM
from construction_data_lake_et_data_warehouse_tp3_spark.streaming import (
    ann_stream,
    anomaly_stream,
    cluster_stream,
    cms_stream,
    curation_stream,
    dedup_stream,
    index_stream,
    manifest_stream,
    rollup_stream,
    sample_stream,
    scd2_stream,
    sketch_stream,
)
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.maintainer import (
    StreamingMaintainer,
)

DOCS = "doc_id long, text string"
VEC = "array<double>"


def _cases(spark):
    """name -> (store factory, input schema, {view: (read, columns)});
    columns None marks a view that returns a plain count."""
    cents = spark.createDataFrame([(0, [0.5] * DIM)], f"cid long, cd {VEC}")
    queries = spark.createDataFrame([(1, [0.5] * DIM)], f"query_id long, embedding {VEC}")
    probe = spark.createDataFrame([("x",)], "token string")
    no_docs = spark.createDataFrame([], DOCS)
    return {
        "ann": (
            lambda root: ann_stream.StreamingVectorIndex(spark, root, cents),
            f"vec_id long, embedding {VEC}",
            {
                "size": (lambda s: s.size(), None),
                "topk": (
                    lambda s: s.topk(queries),
                    ["query_id", "cand_id", "cosine", "rank"],
                ),
            },
        ),
        "anomaly": (
            lambda root: anomaly_stream.StreamingAnomalyMonitor(
                spark, root, mu=0.0, sigma=1.0
            ),
            "transaction_id long, amount double",
            {"alert_count": (lambda s: s.alert_count(), None)},
        ),
        "cluster": (
            lambda root: cluster_stream.StreamingClusterMaintainer(spark, root),
            "doc_a long, doc_b long",
            {
                "edges": (lambda s: s.edges(), ["doc_a", "doc_b"]),
                "labels": (lambda s: s.labels(), ["node", "lbl"]),
                "clusters": (
                    lambda s: s.clusters(),
                    ["doc_id", "cluster_id", "cluster_size", "is_canonical"],
                ),
            },
        ),
        "cms": (
            lambda root: cms_stream.StreamingCountMin(spark, root),
            "token string",
            {
                "grid": (lambda s: s.grid(), ["d", "bucket", "cell"]),
                "estimate": (lambda s: s.estimate(probe), ["token", "cms_estimate"]),
            },
        ),
        "curation": (
            lambda root: curation_stream.StreamingCurator(spark, root),
            DOCS,
            {
                "content_hashes": (lambda s: s.content_hashes(), ["h", "doc_id"]),
                "kept_docs": (
                    lambda s: s.kept_docs(),
                    ["doc_id", "n_words", "mean_word_len", "symbol_ratio"],
                ),
            },
        ),
        "dedup": (
            lambda root: dedup_stream.StreamingDeduper(spark, root),
            DOCS,
            {
                "signatures": (lambda s: s.signatures(), ["doc_id", "band", "sig"]),
                "candidate_pairs": (lambda s: s.candidate_pairs(), ["doc_a", "doc_b"]),
            },
        ),
        "index": (
            lambda root: index_stream.StreamingIndexStats(spark, root),
            DOCS,
            {
                "stats": (lambda s: s.stats(), ["n_docs", "total_tokens"]),
                "term_df": (lambda s: s.term_df(), ["term", "df"]),
                "score": (
                    lambda s: s.score(no_docs, ("fox",)),
                    ["doc_id", "dl", "tf0", "score_micro"],
                ),
            },
        ),
        "manifest": (
            lambda root: manifest_stream.StreamingManifest(
                spark, root, eval_shingles=["a b c"]
            ),
            f"{DOCS}, source string",
            {
                "manifest": (
                    lambda s: s.manifest(),
                    ["doc_id", "source", "n_words", "weight"],
                ),
                "weights": (lambda s: s.weights(), ["source", "sample_weight"]),
            },
        ),
        "rollup": (
            lambda root: rollup_stream.StreamingRollup(spark, root),
            "ts timestamp, value double",
            {"rollup": (lambda s: s.rollup(), ["bucket", "n_rows", "total_cents"])},
        ),
        "sample": (
            lambda root: sample_stream.StreamingFixedKSampler(
                spark, root, k=3, value_col="v"
            ),
            "doc_id long, lang string, v bigint",
            {
                "sample": (lambda s: s.sample(), ["doc_id", "lang", "sample_rank"]),
                "quantiles": (
                    lambda s: s.quantiles(),
                    ["lang", "n_sample", "p50_est", "p90_est"],
                ),
            },
        ),
        "scd2": (
            lambda root: scd2_stream.StreamingScd2(spark, root),
            "user_id long, ts timestamp, state string",
            {
                "history": (
                    lambda s: s.history(),
                    ["user_id", "version", "state", "valid_from", "valid_to", "is_current"],
                )
            },
        ),
        "sketch": (
            lambda root: sketch_stream.StreamingCardinality(spark, root),
            "event_type string, user_id long",
            {"estimates": (lambda s: s.estimates(), ["event_type", "est_distinct"])},
        ),
    }


NAMES = "ann anomaly cluster cms curation dedup index manifest rollup sample scd2 sketch"


def test_sweep_covers_every_attached_maintainer():
    """Every concrete StreamingMaintainer in the package has a case."""
    for mod in pkgutil.iter_modules(streaming.__path__):
        importlib.import_module(f"{streaming.__name__}.{mod.name}")
    leaves, todo = set(), [StreamingMaintainer]
    while todo:
        subs = todo.pop().__subclasses__()
        todo.extend(subs)
        leaves.update(c.__name__ for c in subs if not c.__subclasses__())
    assert len(leaves) == len(NAMES.split()), sorted(leaves)


@pytest.mark.parametrize("name", NAMES.split())
def test_empty_micro_batch(spark, tmp_path, name):
    make, schema, views = _cases(spark)[name]
    store = make(str(tmp_path / "store"))
    store.process_batch(spark.createDataFrame([], schema), 0)
    for view, (read, columns) in views.items():
        got = read(store)
        if columns is None:
            assert got == 0, view
            continue
        assert got.columns == columns, view
        rows = got.collect()  # probe views keep their probe keys
        assert all(v == 0 for r in rows for v in r if not isinstance(v, str)), (
            view,
            rows,
        )
