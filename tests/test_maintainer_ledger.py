"""Crash-replay exactness for every ledgered streaming maintainer
(streaming/maintainer.py): a batch whose state landed but whose ledger
append failed, followed by compact() where the class has one, then a
replay of that batch, must leave every state view equal to a clean
two-batch fold. Compaction must fold only LEDGERED partials — folding
the crashed batch's rows into the sentinel would let its replay count
it twice."""

from __future__ import annotations

import datetime as dt

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.streaming import maintainer
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.cluster_stream import (
    StreamingClusterMaintainer,
)
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.cms_stream import (
    StreamingCountMin,
)
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.index_stream import (
    StreamingIndexStats,
)
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.manifest_stream import (
    StreamingManifest,
)
from construction_data_lake_et_data_warehouse_tp3_spark.streaming.rollup_stream import (
    StreamingRollup,
)


def _rollup(spark):
    t = dt.datetime(2024, 1, 1, 10, 0)
    m = dt.timedelta(minutes=1)
    rows = [[(t, 1.0), (t + m, 2.0)], [(t + 2 * m, 2.0), (t + 60 * m, 4.0)]]
    return (
        lambda root: StreamingRollup(spark, root),
        [spark.createDataFrame(r, "ts timestamp, value double") for r in rows],
        [lambda s: s.rollup()],
    )


def _cms(spark):
    words = [["x"] * 4 + ["y"], ["x", "x", "z"]]
    return (
        lambda root: StreamingCountMin(spark, root),
        [spark.createDataFrame([(w,) for w in b], "token string") for b in words],
        [lambda s: s.grid()],
    )


def _index(spark):
    docs = [
        [(1, "the quick fox"), (2, "the lazy dog")],
        [(3, "a quick dog barks")],
    ]
    return (
        lambda root: StreamingIndexStats(spark, root),
        [spark.createDataFrame(d, "doc_id long, text string") for d in docs],
        [lambda s: s.stats(), lambda s: s.term_df()],
    )


def _cluster(spark):
    pairs = [[(1, 2), (5, 6)], [(2, 3), (3, 5), (8, 9)]]
    return (
        lambda root: StreamingClusterMaintainer(spark, root),
        [spark.createDataFrame(p, "doc_a long, doc_b long") for p in pairs],
        [lambda s: s.edges(), lambda s: s.labels(), lambda s: s.clusters()],
    )


def _manifest(spark):
    # batch 1 repeats doc 1's text (hash owned by doc 1) and adds a doc
    # that fails the quality gate but still counts toward its source
    docs = [
        [
            (1, "the quick brown fox jumps", "web"),
            (2, "a lazy dog sleeps in the sun", "web"),
            (3, "the cat sat on the mat today", "books"),
        ],
        [
            (4, "the quick brown fox jumps", "books"),
            (5, "we walked to the old harbour", "web"),
            (6, "x", "web"),
        ],
    ]
    return (
        lambda root: StreamingManifest(spark, root, eval_shingles=["no such shingle"]),
        [spark.createDataFrame(d, "doc_id long, text string, source string") for d in docs],
        [lambda s: s.manifest(), lambda s: s.weights()],
    )


CASES = {
    "rollup": _rollup,
    "cms": _cms,
    "index": _index,
    "cluster": _cluster,
    "manifest": _manifest,
}


def _rows(df):
    df = df.drop("updated_at")
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(CASES))
def test_crash_replay_equals_clean_fold(spark, tmp_path, monkeypatch, name):
    make, (b0, b1), views = CASES[name](spark)
    store = make(str(tmp_path / "crashed"))
    store.process_batch(b0, 0)

    merge_into = maintainer.merge_into

    def ledger_append_fails(table, *args, **kwargs):
        if table.path == store.applied.path:
            raise RuntimeError("injected crash before the ledger append")
        return merge_into(table, *args, **kwargs)

    with monkeypatch.context() as patch:
        patch.setattr(maintainer, "merge_into", ledger_append_fails)
        with pytest.raises(RuntimeError, match="injected crash"):
            store.process_batch(b1, 1)
    assert not store._is_applied(1)

    if hasattr(store, "compact"):
        store.compact()
    store.process_batch(b1, 1)
    assert store._is_applied(1)

    clean = make(str(tmp_path / "clean"))
    clean.process_batch(b0, 0)
    clean.process_batch(b1, 1)
    for view in views:
        expected = _rows(view(clean))
        assert expected and _rows(view(store)) == expected
