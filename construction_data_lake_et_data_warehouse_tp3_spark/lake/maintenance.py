"""Lake maintenance: small-file compaction (OPTIMIZE-style).

Streaming ingest writes one file per micro-batch per partition
(kafka_consumer_datalake.py batches ≙ our checkpointed sink) — at 100 TB
that means millions of small files and a metadata-bound scan. Compaction
rewrites a partition's many small files into few right-sized ones with
the commit log's directory swap (lake/commitlog.swap_dir), preserving
every row.

Target sizing: files ≈ total_bytes / target_file_mb, min 1. The rewrite
is one narrow job (read → coalesce → write); no shuffle unless the
partition is wildly over-split, in which case coalesce just merges
splits."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from .commitlog import swap_dir


def partition_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for one partition directory."""
    n, total = 0, 0
    for name in os.listdir(path):
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            n += 1
            total += os.path.getsize(os.path.join(path, name))
    return n, total


def compact_partition(
    spark: SparkSession,
    partition_path: str,
    target_file_mb: int = 128,
    min_files_to_compact: int = 4,
) -> dict:
    """Rewrite a partition's files into ~target_file_mb chunks.

    Returns stats; no-op (files_before < min_files_to_compact) keeps the
    partition untouched. Row counts are preserved (verified before swap).
    """
    files_before, total_bytes = partition_file_stats(partition_path)
    if files_before < min_files_to_compact:
        return {"skipped": True, "files_before": files_before}

    df = spark.read.parquet(partition_path)
    rows_before = df.count()
    n_files = max(1, total_bytes // (target_file_mb * 1024 * 1024))

    tmp = f"{partition_path}__compact_{uuid.uuid4().hex[:8]}"
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(tmp)

    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:  # never swap in a lossy rewrite
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row mismatch {rows_before} -> {rows_after}, aborted"
        )
    swap_dir(partition_path, tmp)
    files_after, _ = partition_file_stats(partition_path)
    return {
        "skipped": False,
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows_before,
    }
