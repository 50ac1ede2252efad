"""The benchmark's workloads. Each is a single-client closed loop: the next
operation starts when the previous one has returned.

A workload object owns its generated inputs and exposes

- ``warm(spark)``: one untimed run of every distinct plan, the plans run
  concurrently (part of set-up);
- ``round(spark, k, tracer)``: one timed pass over its fixed operation
  mix, returning the :class:`tracing.Op` list and the pass's wall time; the
  round's correctness gates run outside that time;
- ``report(ops, wall)``: the workload's own named metrics for the report;
- ``layers(tracer, ops, jobs)``: the per-layer metrics only it has.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import duckdb

import gen
from tracing import Op, catalyst_phases, epoch, log, self_time

#: the reference aggregate surface plus TPC-H shapes, in rotation order.
#: One query per plan shape: the EUR summary and star_schema_revenue repeat
#: shapes already here. event_sessions is left out: it disagrees with its
#: DuckDB oracle whenever a user's consecutive events are 1799-1801 s apart
#: (Spark compares whole seconds, the oracle fractional ones), which about
#: one seed in six produces; top_event_per_user covers the per-user window.
BI_QUERIES = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "user_transaction_summary",
    "payment_method_totals",
    "product_purchase_counts",
    "rollup_revenue",
    "top_event_per_user",
    "asof_latest_order",
    "blacklist_filter",
)


def log_failure(what: str) -> None:
    log(f"{what} failed:\n{traceback.format_exc()}")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float | None, str]:
    """The highest whole percentile with at least ten samples above it,
    as (value, unit naming the percentile); None below 20 samples."""
    n = len(values)
    if n < 20:
        return None, "s"
    pct = math.floor(100 * (n - 10) / n)
    cut = statistics.quantiles(values, n=100, method="inclusive")[pct - 1]
    return cut, f"s (p{pct} of {n})"


def _normalize(value):
    """Value normalisation of the repository's oracle parity tests."""
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 6)
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return round(float(value), 6)
    return value


def row_set(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in sorted-name order, normalised and sorted
    (None-safe), so two engines' results compare order-insensitively."""
    order = [columns.index(c) for c in sorted(columns)]
    return sorted(
        (tuple(_normalize(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


class BiQueries:
    """Analyst reads: the registry's reference aggregates and TPC-H
    shapes, each called through ``__spark_entry__.queries()`` so one
    operation is ``tune()`` + plan build + ``count()``."""

    name = "bi_queries"

    def __init__(self, tmp: str, seed: int) -> None:
        import __spark_entry__ as entry

        self.sf = os.path.join(tmp, "tables")
        self.table_rows = gen.make_tables(self.sf, seed)
        self.queries = entry.queries()
        self.expected = self._oracle(entry.oracle_sql())
        self.bad: set[str] = set()

    def _oracle(self, sql: dict[str, str]) -> dict[str, list[tuple]]:
        con = duckdb.connect()
        for table in self.table_rows:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{self.sf}/{table}.parquet'"
            )
        out = {}
        for name in BI_QUERIES:
            res = con.execute(sql[name])
            out[name] = row_set([d[0] for d in res.description], res.fetchall())
        con.close()
        return out

    def warm(self, spark) -> None:
        """Run every query once, from a thread pool: ``count()`` warms the
        timed plan, ``collect()`` gives the result that is hash-matched
        against DuckDB."""

        def collect(name):
            try:
                df = self.queries[name](spark, self.sf)
                df.count()
                return row_set(df.columns, df.collect())
            except Exception:
                log_failure(f"warm-up of {name}")
                return None

        workers = spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(collect, BI_QUERIES))
        for name, got in zip(BI_QUERIES, results):
            if got != self.expected[name]:
                log(f"{name}: result differs from the DuckDB oracle")
                self.bad.add(name)

    def round(self, spark, k: int, tracer=None) -> tuple[list[Op], float]:
        span = tracer.span if tracer else (lambda *a, **kw: nullcontext())
        ops = []
        begin = time.perf_counter()
        for name in BI_QUERIES:
            group = f"{name}#{k}"
            if tracer:
                tracer.op_id = group
                spark.sparkContext.setJobGroup(group, name)
            df, ok = None, False
            start = time.time()
            try:
                with span("operators.build"):
                    df = self.queries[name](spark, self.sf)
                with span("operators.action"):
                    ok = df.count() == len(self.expected[name])
            except Exception:
                log_failure(name)
            op = Op(name, start, time.time(), ok and name not in self.bad, group)
            if tracer and df is not None:
                op.phases = catalyst_phases(df)
            ops.append(op)
        if tracer:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return ops, time.perf_counter() - begin

    def report(self, ops: list[Op], wall: float) -> dict[str, tuple]:
        lat = [o.wall for o in ops]
        return {
            "query_p50_s": (median(lat), "s"),
            "query_tail_s": tail(lat),
            "queries_per_s": (len(ops) / wall, "1/s"),
        }

    def layers(self, tracer, ops: list[Op], jobs: list[dict]) -> dict[str, float]:
        spans = tracer.spans
        loads = tracer.by_name("sources.load_table")
        submitted = [(j.get("jobGroup"), epoch(j["submissionTime"])) for j in jobs]
        schema_jobs = sum(
            1
            for s in loads
            for group, t in submitted
            if group == s["op_id"] and s["start"] <= t <= s["end"]
        )
        return {
            "sources.load_table_s": median(s["end"] - s["start"] for s in loads),
            "sources.tables_per_op": len(loads) / len(ops),
            "sources.schema_jobs_per_op": schema_jobs / len(ops),
            "operators.build_s": median(
                self_time(s, spans) for s in tracer.by_name("operators.build")
            ),
            "operators.action_s": median(
                s["end"] - s["start"] for s in tracer.by_name("operators.action")
            ),
            "plans.analysis_s": median(o.phases.get("analysis", 0.0) for o in ops),
            "plans.optimization_s": median(o.phases.get("optimization", 0.0) for o in ops),
            "plans.planning_s": median(o.phases.get("planning", 0.0) for o in ops),
        }


#: streaming consumers, drained one after another over the same topic.
CONSUMERS = ("lake", "upsert", "rollup")
#: progress ``durationMs`` keys reported per consumer.
PROGRESS_PHASES = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "queryPlanning": "query_planning_s",
    "getBatch": "get_batch_s",
}
TOPIC_BATCHES = 2
TOPIC_ROWS = 2000
UPDATE_SHARE = 0.2
TOPIC_COLUMNS = ("transaction_id", "user_id", "amount", "currency", "timestamp", "status")


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(suffix)
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _files(path))


class StreamWrite:
    """Writes: a seeded JSON topic drained in turn by the lake file sink,
    the warehouse upsert sink (``merge_into`` on ``transaction_id``) and
    the ledgered hour rollup. One operation is one topic file, i.e. one
    micro-batch of each consumer; its latency is the sum of the three
    consumers' batch times."""

    name = "stream_write"

    def __init__(self, tmp: str, seed: int) -> None:
        self.tmp = tmp
        self.seed = seed
        self.warm_count = 0
        self.lake_stats: list[tuple[int, int, int, int]] = []  # files, bytes, rows, batches
        self.target: dict[str, int] = {}

    def _drain(self, spark, stream: int, batches: int, tracer=None, together=False):
        """Write topic ``stream`` and drain it through every consumer, one
        after another (``together``: all at once). Returns (ops per
        consumer, failed consumers, out dir, topic dir)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming import (
            ingest_stream_to_lake,
            json_feed_schema,
            stream_to_warehouse,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.rollup_stream import (
            StreamingRollup,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.merge import (
            ParquetTable,
        )

        out = os.path.join(self.tmp, f"stream-{stream}")
        topic = os.path.join(out, "topic")
        gen.make_topic(topic, self.seed, stream, batches, TOPIC_ROWS, UPDATE_SHARE)
        schema = json_feed_schema("transaction_stream")

        def source():
            return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(topic)

        def start(consumer: str):
            ck = os.path.join(out, f"ck-{consumer}")
            if consumer == "lake":
                return ingest_stream_to_lake(source(), os.path.join(out, "lake"), ck)
            if consumer == "upsert":
                table = ParquetTable(spark, os.path.join(out, "warehouse"))
                return stream_to_warehouse(source(), table, ["transaction_id"], ck)
            self.rollup = StreamingRollup(
                spark, os.path.join(out, "rollup"), ts_col="timestamp", value_col="amount"
            )
            return self.rollup.attach(source(), ck)

        queries: dict[str, object] = {}
        failed: set[str] = set()

        def run(consumer: str, wait: bool) -> None:
            try:
                if consumer not in queries:
                    if tracer:
                        tracer.op_id = f"{consumer}#{stream}"
                    queries[consumer] = start(consumer)
                if wait:
                    queries[consumer].awaitTermination()
            except Exception:
                log_failure(f"{consumer} consumer")
                failed.add(consumer)

        for consumer in CONSUMERS:
            run(consumer, wait=not together)
        if together:
            for consumer in list(queries):
                run(consumer, wait=True)
        ops = {c: self._batch_ops(c, q) for c, q in queries.items()}
        return ops, failed, out, topic

    @staticmethod
    def _batch_ops(consumer: str, query) -> list[Op]:
        ops = []
        for p in query.recentProgress:
            if not p["numInputRows"]:
                continue
            start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            dur = p["durationMs"]
            op = Op(
                consumer,
                start.timestamp(),
                start.timestamp() + dur["triggerExecution"] / 1000.0,
                group=str(query.runId),
                rows=p["numInputRows"],
                phases={k: dur.get(k, 0) / 1000.0 for k in PROGRESS_PHASES},
            )
            ops.append(op)
        return ops

    def warm(self, spark) -> None:
        """Drain a one-batch topic through every consumer at once."""
        self.warm_count += 1
        self._drain(spark, 1000 + self.warm_count, 1, together=True)

    def round(self, spark, k: int, tracer=None) -> tuple[list[Op], float]:
        begin = time.perf_counter()
        ops, failed, out, topic = self._drain(spark, k, TOPIC_BATCHES, tracer)
        wall = time.perf_counter() - begin
        failed |= self._check(spark, out, topic, failed, len(ops.get("lake", ())))
        result = []
        for b in range(TOPIC_BATCHES):
            parts = [ops[c][b] for c in CONSUMERS if len(ops.get(c, ())) == TOPIC_BATCHES]
            ok = not failed and len(parts) == len(CONSUMERS)
            result.append(
                Op(f"batch{b}", 0.0, sum(p.wall for p in parts), ok=ok, parts=parts)
            )
        return result, wall

    def _check(self, spark, out: str, topic: str, failed: set[str], batches: int) -> set[str]:
        """The round's gates; returns the consumers whose output is wrong."""
        from pyspark.sql import functions as F

        bad = set()
        con = duckdb.connect()
        try:
            con.execute(
                f"""CREATE VIEW topic AS SELECT *, CAST(regexp_extract(filename,
                    'batch-(\\d+)\\.json', 1) AS INT) AS batch
                    FROM read_json('{topic}/batch-*.json', format='newline_delimited',
                      columns={{transaction_id: 'VARCHAR', user_id: 'BIGINT',
                      amount: 'DOUBLE', currency: 'VARCHAR', timestamp: 'VARCHAR',
                      status: 'VARCHAR'}}, filename=true)"""
            )
            sent = con.execute("SELECT count(*) FROM topic").fetchone()[0]
            if "lake" not in failed:
                lake = os.path.join(out, "lake")
                rows = spark.read.parquet(lake).count()
                self.lake_stats.append((len(_files(lake)), dir_bytes(lake), rows, batches))
                if rows != sent:
                    log(f"lake holds {rows} rows, {sent} were sent")
                    bad.add("lake")
            if "upsert" not in failed:
                cols = ", ".join(TOPIC_COLUMNS)
                want = con.execute(
                    f"""SELECT {cols} FROM topic QUALIFY row_number() OVER
                        (PARTITION BY transaction_id ORDER BY batch DESC) = 1"""
                ).fetchall()
                wh = spark.read.parquet(os.path.join(out, "warehouse"))
                got = wh.select(*TOPIC_COLUMNS).collect()
                self.target = {
                    "rows": len(got),
                    "files": len(_files(os.path.join(out, "warehouse"))),
                }
                if row_set(list(TOPIC_COLUMNS), got) != row_set(list(TOPIC_COLUMNS), want):
                    log("warehouse table differs from the last write per key")
                    bad.add("upsert")
            if "rollup" not in failed:
                want = con.execute(
                    """SELECT epoch_us(date_trunc('hour', strptime("timestamp",
                         '%Y-%m-%dT%H:%M:%S.%fZ'))) AS bucket, count(*) AS n_rows,
                         sum(CAST(round(amount * 100) AS BIGINT)) AS total_cents
                       FROM topic GROUP BY 1"""
                ).fetchall()
                got = (
                    self.rollup.rollup()
                    .select(F.unix_micros("bucket").alias("bucket"), "n_rows", "total_cents")
                    .collect()
                )
                cols = ["bucket", "n_rows", "total_cents"]
                if row_set(cols, got) != row_set(cols, want):
                    log("rollup differs from the per-hour sums of the topic")
                    bad.add("rollup")
        except Exception:
            log_failure("correctness check")
            bad |= set(CONSUMERS)
        finally:
            con.close()
        return bad

    def report(self, ops: list[Op], wall: float) -> dict[str, tuple]:
        parts = [p for o in ops if o.ok for p in o.parts]
        lake = [p for p in parts if p.name == "lake"]
        by = {c: [p.wall for p in parts if p.name == c] for c in CONSUMERS}
        _, nbytes, lake_rows, _ = self._lake_totals()
        return {
            "ingest_rows_per_s": (
                sum(o.rows for o in lake) / sum(by["lake"]) if lake else None,
                "1/s",
            ),
            "ingest_batch_p50_s": (median(by["lake"]), "s"),
            "upsert_batch_p50_s": (median(by["upsert"]), "s"),
            "upsert_batch_tail_s": tail(by["upsert"]),
            "rollup_batch_p50_s": (median(by["rollup"]), "s"),
            "lake_bytes_per_row": (nbytes / lake_rows if lake_rows else None, "B"),
        }

    def _lake_totals(self) -> tuple[int, ...]:
        """Files, bytes, rows and batches over every checked lake."""
        return tuple(sum(x) for x in zip(*self.lake_stats)) if self.lake_stats else (0,) * 4

    def layers(self, tracer, ops: list[Op], jobs: list[dict]) -> dict[str, float]:
        out = {}
        parts = [p for o in ops for p in o.parts]
        for consumer in CONSUMERS:
            mine = [p for p in parts if p.name == consumer]
            for key, metric in PROGRESS_PHASES.items():
                out[f"streaming.{consumer}.{metric}"] = median(o.phases[key] for o in mine)
        files, nbytes, rows, batches = self._lake_totals()

        def upsert_spans(name):
            return [s for s in tracer.by_name(name) if (s["op_id"] or "").startswith("upsert")]

        upserts = upsert_spans("warehouse.merge_into")
        rewrites = upsert_spans("warehouse.overwrite")
        out.update(
            {
                "lake.files_per_batch": files / batches if batches else 0.0,
                "lake.bytes_per_row": nbytes / rows if rows else 0.0,
                "warehouse.merge_s": median(
                    s["end"] - s["start"] for s in tracer.by_name("warehouse.merge_into")
                ),
                "warehouse.target_rows": float(self.target.get("rows", 0)),
                "warehouse.files_per_table": float(self.target.get("files", 0)),
                "warehouse.bytes_rewritten_per_row": (
                    sum(s["bytes"] for s in rewrites) / sum(s["rows"] for s in upserts)
                    if upserts
                    else 0.0
                ),
            }
        )
        return out


WORKLOADS = {w.name: w for w in (BiQueries, StreamWrite)}
