"""Partitioned lake writers + metadata stats (SURVEY §2.1 #7-9, §2.4 #30,
§2.6 #41).

Reference behaviors re-expressed Spark-first:
- date-partitioned append (export_to_data_lake.py:105-158, path scheme
  data_lake_config.py:141-143) → `partitionBy("year","month","day")`
  with mode=append; Spark discovers the Hive-style dirs natively.
- version-partitioned snapshot (export_to_data_lake.py:160-212,
  version scan :235-245) → literal `version=vN` partition column with
  dynamic partition overwrite; N is claimed through the lake commit log
  (lake/commitlog.py) above every on-disk version, like
  `_get_next_version`.
- `_metadata.json` running stats (export_to_data_lake.py:277-328) →
  per-partition record/size stats computed from the committed files.

Scale notes: writers never collect data to the driver; stats come from
file-system listing (O(partitions), not O(rows)). At 100 TB the date
partitioning bounds every retention delete and every time-ranged scan to
partition pruning; version overwrite touches one version directory.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import FeedCatalog, FeedConfig
from .commitlog import CommitLog
from .retention import apply_version_retention, list_versions


def _dir_size_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return round(total / (1024 * 1024), 6)


class DataLakeWriter:
    """Feed-aware exporter: DataFrame → partitioned parquet + metadata."""

    def __init__(self, spark: SparkSession, catalog: FeedCatalog):
        self.spark = spark
        self.catalog = catalog

    # ---- streams: date-partitioned append (#8) -------------------------

    def export_stream(
        self,
        df: DataFrame,
        config: FeedConfig,
        partition_date: date | None = None,
        event_time_col: str | None = None,
    ) -> dict:
        """Append df under year=/month=/day= of the feed dir.

        Partition date defaults to *processing time* — the reference's
        behavior (kafka_consumer_datalake.py:35; SURVEY §7 risk 3 keeps
        this default). Pass ``event_time_col`` to opt into event-time
        partitioning: partition columns derive from that column per row,
        so one batch may fan out to many day-partitions."""
        if not config.enabled:  # #19 enabled-feed predicate
            return {"skipped": "disabled"}
        if df.isEmpty():  # #20 empty-input guard
            return {"skipped": "empty"}
        path = self.catalog.feed_data_path(config)
        if event_time_col is not None:
            out = (
                df.withColumn("year", F.year(event_time_col))
                .withColumn("month", F.month(event_time_col))
                .withColumn("day", F.dayofmonth(event_time_col))
            )
            out.write.mode("append").partitionBy("year", "month", "day").parquet(path)
            return self._update_metadata(config, "event-time multi-partition", df)
        when = partition_date or datetime.now(timezone.utc).date()
        out = (
            df.withColumn("year", F.lit(when.year))
            .withColumn("month", F.lit(when.month))
            .withColumn("day", F.lit(when.day))
        )
        out.write.mode("append").partitionBy("year", "month", "day").parquet(path)
        return self._update_metadata(
            config, f"year={when.year}/month={when.month}/day={when.day}", df
        )

    # ---- tables: version-partitioned overwrite (#9, #41) ---------------
    #
    # Concurrent-writer safety (VERDICT r1 §What's missing #3): version
    # numbers come from the lake commit log (lake/commitlog.py) under
    # <feed>/_commit_log/: vN.claim owns N, vN.commit publishes it, and
    # readers see only committed versions — a crashed or in-flight write
    # is never "latest". Tables written before the log existed fall back
    # to the directory listing.

    def _log(self, config: FeedConfig) -> CommitLog:
        path = os.path.join(self.catalog.feed_data_path(config), "_commit_log")
        return CommitLog(path, "v", ".commit")

    def _dir_versions(self, config: FeedConfig) -> set[int]:
        return {n for n, _ in list_versions(self.catalog.feed_data_path(config))}

    def committed_versions(self, config: FeedConfig) -> set[int]:
        """Versions safe to read: committed in the log (intersected with
        the directories that survived retention), plus pre-log legacy
        directories."""
        log = self._log(config)
        dirs, commits = self._dir_versions(config), set(log.published())
        legacy = dirs - commits - log.claims()  # written before the log existed
        return (commits & dirs) | legacy

    def claim_version(self, config: FeedConfig) -> int:
        """Atomically allocate the next version number above every claim,
        commit and on-disk version (export_to_data_lake.py:235-245)."""
        return self._log(config).claim(
            datetime.now(timezone.utc).isoformat(),
            floor=max(self._dir_versions(config), default=0),
        )

    def export_table(
        self,
        df: DataFrame,
        config: FeedConfig,
        version: int | None = None,
        partition_cols: tuple[str, ...] | None = None,
    ) -> dict:
        """Write a full snapshot under version=v<N> (claimed through the
        commit log), then purge versions beyond keep_versions (export
        post-export cleanup, export_to_data_lake.py:204-206).

        ``partition_cols`` lays the snapshot out as key=value directories
        INSIDE the version dir (e.g. the ANN postings partitionBy("cid"))
        so readers filtering on those columns prune whole files at
        planning time; versioning, commit-log atomicity, and retention
        are unchanged — the partitioning is a layout detail of one
        committed version."""
        if not config.enabled:
            return {"skipped": "disabled"}
        if df.isEmpty():
            return {"skipped": "empty"}
        n = version if version is not None else self.claim_version(config)
        path = os.path.join(self.catalog.feed_data_path(config), f"version=v{n}")
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        meta = self._update_metadata(config, f"version=v{n}", df)
        self._log(config).publish(
            n,
            {
                "version": n,
                "records": meta["records"],
                "committed_at": datetime.now(timezone.utc).isoformat(),
            },
        )
        if config.keep_versions:
            apply_version_retention(
                self.catalog.feed_data_path(config), config.keep_versions
            )
        meta["version"] = n
        return meta

    # ---- readers --------------------------------------------------------

    def read_stream_feed(self, config: FeedConfig) -> DataFrame:
        """Batch view over all date partitions; year/month/day become
        partition columns usable for pruning."""
        return self.spark.read.parquet(self.catalog.feed_data_path(config))

    def read_table_feed(self, config: FeedConfig, version: int | None = None) -> DataFrame:
        base = self.catalog.feed_data_path(config)
        if version is None:
            live = self.committed_versions(config)
            if not live:
                raise LookupError(f"no committed version of {config.feed_name}")
            version = max(live)  # never an in-flight claim
        return self.spark.read.parquet(os.path.join(base, f"version=v{version}"))

    def read_table_as_of(self, config: FeedConfig, as_of_iso: str) -> DataFrame:
        """Time travel: latest snapshot exported at or before `as_of_iso`
        (ISO timestamp) — the Delta `VERSION AS OF`/`TIMESTAMP AS OF`
        equivalent over explicit version=vN partitions, resolved from the
        feed's export metadata (surviving retention pruning)."""
        path = self._metadata_path(config)
        if not os.path.exists(path):
            raise FileNotFoundError(f"no export metadata for {config.feed_name}")
        with open(path) as fh:
            meta = json.load(fh)
        candidates = {
            int(p["path"].replace("version=v", ""))
            for p in meta["partitions"]
            if p["path"].startswith("version=v") and p["exported_at"] <= as_of_iso
        } & self.committed_versions(config)
        if not candidates:
            raise LookupError(
                f"no live version of {config.feed_name} at or before {as_of_iso}"
            )
        return self.read_table_feed(config, version=max(candidates))

    # ---- metadata (#30, export_to_data_lake.py:277-328) -----------------

    def _metadata_path(self, config: FeedConfig) -> str:
        # NOT inside the data dir: Spark special-cases files named
        # _metadata* in a parquet directory as parquet sidecars.
        meta_dir = os.path.join(self.catalog.root, "feeds", "meta")
        os.makedirs(meta_dir, exist_ok=True)
        return os.path.join(meta_dir, f"{config.feed_name}_metadata.json")

    def _update_metadata(self, config: FeedConfig, partition: str, df: DataFrame) -> dict:
        """Read-modify-write of the feed's stats sidecar, serialized by an
        O_EXCL lock file so concurrent exporters (now legal, see commit
        log above) can't lose each other's partition entries. Locks older
        than 60 s are presumed crashed and stolen."""
        import time

        lock = self._metadata_path(config) + ".lock"
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        # Steal by atomic rename, not unlink: two waiters
                        # observing the same stale lock could otherwise
                        # both unlink — the second removing the FIRST
                        # stealer's fresh lock and letting a third writer
                        # into the critical section. rename() succeeds
                        # for exactly one stealer; the loser gets ENOENT
                        # and retries the O_EXCL create.
                        stolen = f"{lock}.stale.{os.getpid()}.{time.monotonic_ns()}"
                        os.rename(lock, stolen)
                        os.unlink(stolen)
                        continue
                except OSError:
                    continue
                time.sleep(0.01)
        try:
            return self._update_metadata_locked(config, partition, df)
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    def _update_metadata_locked(
        self, config: FeedConfig, partition: str, df: DataFrame
    ) -> dict:
        path = self._metadata_path(config)
        meta = {
            "source": config.source,
            "type": config.feed_type.value,
            "storage_mode": config.storage_mode.value,
            "format": config.format,
            "partitioning": config.partitioning.value,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "total_records": 0,
            "total_size_mb": 0.0,
            "partitions": [],
        }
        if os.path.exists(path):
            with open(path) as fh:
                meta = json.load(fh)
        records = df.count()
        part_path = os.path.join(self.catalog.feed_data_path(config), partition)
        size_mb = _dir_size_mb(part_path)
        entry = {
            "path": partition,
            "records": records,
            "size_mb": size_mb,
            "exported_at": datetime.now(timezone.utc).isoformat(),
        }
        existing = [p for p in meta["partitions"] if p["path"] == partition]
        if existing:  # #25 partition-info merge (export_to_data_lake.py:313-322)
            existing[0].update(entry)
        else:
            meta["partitions"].append(entry)
        meta["total_records"] = sum(p["records"] for p in meta["partitions"])
        meta["total_size_mb"] = round(sum(p["size_mb"] for p in meta["partitions"]), 6)
        meta["last_export"] = entry["exported_at"]
        with open(path, "w") as fh:
            json.dump(meta, fh, indent=2)
        return {"partition": partition, "records": records, "size_mb": size_mb}
