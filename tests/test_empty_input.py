"""Zero-row robustness: EVERY registry query must execute cleanly over
empty tables (schema-correct, 0 rows) — the generalization of the r5
ADVICE class (checked_write crashed on an empty micro-batch). An empty
partition, a fully-filtered feed, or a fresh deployment must produce an
empty (or zero-valued) frame, never a crash. Pooled like the parity
sweep; every failing query named."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        df.limit(0).coalesce(1).write.parquet(f"{dst}/{t}.parquet")
    return dst


def test_every_query_survives_empty_tables(spark, empty_dir):
    failures = []

    def run(item):
        name, fn = item
        try:
            fn(spark, empty_dir).count()
        except Exception as exc:  # noqa: BLE001 - aggregate, then fail
            failures.append(f"{name}: {type(exc).__name__}: {exc}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run, sorted(entry_mod.queries().items())))
    assert not failures, (
        f"{len(failures)} queries crash on zero-row input:\n"
        + "\n".join(sorted(failures))
    )


def test_deployment_forms_survive_empty_tables(spark, empty_dir):
    """The five bench deployment forms live outside the registry, so the
    sweep above misses them: each must return 0 rows over empty tables,
    with the column names and types it has over real data (nullability
    may be stricter on the empty path)."""
    import bench

    def columns(df):
        return [(f.name, f.dataType) for f in df.schema]

    forms = bench._deployment_forms()
    assert sorted(forms) == [
        "dup_clusters_fast",
        "edit_distance_pairs_capped",
        "jaccard_dup_pairs_router",
        "leakage_safe_split_fast",
        "minhash_lsh_candidates_fast",
    ]
    failures = []
    for name, fn in sorted(forms.items()):
        try:
            got = fn(spark, empty_dir)
            if got.count() != 0:
                failures.append(f"{name}: rows on empty input")
            elif columns(got) != columns(fn(spark, SRC)):
                failures.append(f"{name}: schema {got.schema.simpleString()}")
        except Exception as exc:  # noqa: BLE001 - aggregate, then fail
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, "\n".join(failures)
