"""Commit-log concurrency tests (VERDICT r1 §What's missing #3): two
concurrent export_table calls must never double-allocate a version, and
readers must never see an uncommitted (claimed / in-flight) version as
latest."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.lake import (
    DataLakeWriter,
    FeedCatalog,
    FeedConfig,
    FeedType,
    PartitioningType,
    StorageMode,
)


@pytest.fixture
def config(tmp_path):
    catalog = FeedCatalog(str(tmp_path / "lake"))
    return catalog, catalog.add(
        FeedConfig(
            feed_name="snap",
            feed_type=FeedType.TABLE,
            source="s",
            partitioning=PartitioningType.VERSION,
            storage_mode=StorageMode.OVERWRITE,
            keep_versions=20,
        )
    )


def test_concurrent_writers_get_distinct_versions(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)

    def export(n):
        return writer.export_table(spark.range(n), cfg)["version"]

    with ThreadPoolExecutor(max_workers=6) as pool:
        versions = list(pool.map(export, [10, 20, 30, 40, 50, 60]))

    assert sorted(versions) == [1, 2, 3, 4, 5, 6]  # no double-allocation
    assert writer.committed_versions(cfg) == {1, 2, 3, 4, 5, 6}
    # every snapshot intact: each version dir holds exactly one write
    sizes = sorted(
        writer.read_table_feed(cfg, version=v).count() for v in versions
    )
    assert sizes == [10, 20, 30, 40, 50, 60]
    # the stats sidecar kept every writer's entry (lock, no lost updates)
    import json

    with open(writer._metadata_path(cfg)) as fh:
        meta = json.load(fh)
    assert len(meta["partitions"]) == 6
    assert meta["total_records"] == 210


def test_claim_race_probes_upward(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)
    a = writer.claim_version(cfg)
    b = writer.claim_version(cfg)  # same writer state, claim still on disk
    assert (a, b) == (1, 2)


def test_inflight_claim_not_visible_to_readers(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)
    writer.export_table(spark.range(10), cfg)
    # a second writer claims v2 and crashes before committing
    crashed = writer.claim_version(cfg)
    assert crashed == 2
    os.makedirs(
        os.path.join(catalog.feed_data_path(cfg), f"version=v{crashed}"), exist_ok=True
    )  # partial dir, no commit record
    assert writer.committed_versions(cfg) == {1}
    assert writer.read_table_feed(cfg).count() == 10  # latest == v1, not v2
    # and the next successful export skips past the crashed claim
    meta = writer.export_table(spark.range(99), cfg)
    assert meta["version"] == 3
    assert writer.read_table_feed(cfg).count() == 99


def test_pre_log_legacy_dirs_still_readable(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)
    # simulate a table written before the commit log existed
    path = os.path.join(catalog.feed_data_path(cfg), "version=v3")
    spark.range(7).write.mode("overwrite").parquet(path)
    assert writer.committed_versions(cfg) == {3}
    assert writer.read_table_feed(cfg).count() == 7
    # upgrading in place: next export claims v4 through the log
    meta = writer.export_table(spark.range(11), cfg)
    assert meta["version"] == 4
    assert writer.read_table_feed(cfg).count() == 11


def test_log_claims_race_free_under_threads(tmp_path):
    """The shared claim → publish protocol behind feed versions and lake
    transactions: more committers than cores, with frequent thread
    switches, each get a distinct number and every record lands whole."""
    import sys

    from construction_data_lake_et_data_warehouse_tp3_spark.lake.commitlog import (
        CommitLog,
    )

    log = CommitLog(str(tmp_path / "_txn_log"), "", ".json")

    def commit(i):
        n = log.claim(f"writer-{i}")
        log.publish(n, {"snapshot": n, "writer": i})
        return n

    workers = 4 * (os.cpu_count() or 1)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(commit, i) for i in range(workers)]
            got = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert sorted(got) == list(range(1, workers + 1))
    assert log.published() == sorted(got) and log.claims() == set(got)
    assert {log.record(n)["writer"] for n in got} == set(range(workers))
    assert not [n for n in os.listdir(log.directory) if n.endswith(".tmp")]
