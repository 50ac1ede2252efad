"""Physical-plan inspection helpers.

The reference has no plan layer (SURVEY §3: its IR is SQL strings +
pandas frames); in the rebuild Catalyst owns planning, and this module is
how tests and perf work *assert* the plans are the ones we want at 100 TB:
filters pushed to the parquet scan, column-pruned ReadSchema, dimension
joins broadcast, wide codegen spans (the checklist in SURVEY §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    text = explain_str(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", text)


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — the column-pruning witness."""
    text = explain_str(df)
    return re.findall(r"ReadSchema: (struct<[^>]*>)", text)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_partition_filters(df: DataFrame) -> bool:
    text = explain_str(df)
    match = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    return bool(match and match.group(1).strip())


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of distinct shuffle Exchange nodes in the physical plan
    (BroadcastExchange excluded — broadcasts are the cheap kind). Counted
    from the formatted detail section so each node counts once."""
    text = explain_str(df)
    return len(set(re.findall(r"\((\d+)\) Exchange\b", text)))


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen stages (wider = fewer = better).

    Executes the plan first: under AQE the codegen markers only exist in
    the finalized physical plan (isFinalPlan=true). Use on test-sized
    inputs only."""
    df.collect()
    text = explain_str(df, "simple")
    spans = set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    spans |= set(re.findall(r"\*\((\d+)\)", text))  # Spark's *(N) shorthand
    return len(spans)


def without_embeddings_spread(plan: str, parallelism: int) -> str:
    """`plan` (explain text) with the loader's spread of the embeddings
    scan renamed so it no longer reads as a shuffle Exchange:
    `sources.registry.load_table` hash-repartitions a small embeddings
    input on `vec_id` into `parallelism` partitions. Only that exchange,
    directly over the embeddings parquet scan and its pushed filter, is
    renamed; every computed shuffle stays."""
    spread = re.compile(
        rf"Exchange hashpartitioning\(vec_id#\d+L?, {parallelism}\), REPARTITION_BY_NUM"
        r"[^\n]*\n(?:[ :]*\+- (?:Filter|ColumnarToRow) [^\n]*\n)*"
        r"[ :]*\+- (?:File)?Scan parquet [^\n]*/embeddings\.parquet\b"
    )
    return spread.sub(
        lambda m: m.group(0).replace("Exchange", "LoaderSpread", 1), plan
    )
