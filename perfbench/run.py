"""Repository benchmark: one seeded, single-client workload per run.

    python3 perfbench/run.py --workload bi_queries --seed 1 --seconds 8 --trace 0

Run from the repository root. The session is sized to the host
(``local[<usable cpus>]``, a heap that fits its memory); every other
engine default is left as the program sets it. Set-up is done three times
per run (start the SparkSession, warm every plan once) and reported as the
median. Then whole rounds of the workload's operation mix are timed until
``--seconds`` is used up; at least one round always runs.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (with one untraced round before and one after, to
report the tracing overhead). Human-readable report lines go to stdout;
the last stdout line is one JSON object. Inputs, lakes, warehouses and
checkpoints live in a temporary directory under ``perfbench/`` that is
removed at exit; a traced run also leaves its spans in
``perfbench/traces/``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

from tracing import log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "construction_data_lake_et_data_warehouse_tp3_spark"
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "jvm_heap_mb": "MB",
}

_STREAMING = {
    f"streaming.{c}.{m}": "s"
    for c in ("lake", "upsert", "rollup")
    for m in ("trigger_s", "add_batch_s", "wal_commit_s", "query_planning_s", "get_batch_s")
}
PER_LAYER = {
    "session.start_s": "s",
    "session.tune_s": "s",
    "sources.load_table_s": "s",
    "sources.tables_per_op": "count",
    "sources.schema_jobs_per_op": "count",
    "operators.build_s": "s",
    "operators.action_s": "s",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_s": "s",
    "spark.job_wall_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.cpu_util": "ratio",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    **_STREAMING,
    "lake.files_per_batch": "count",
    "lake.bytes_per_row": "B",
    "warehouse.merge_s": "s",
    "warehouse.target_rows": "count",
    "warehouse.files_per_table": "count",
    "warehouse.bytes_rewritten_per_row": "B",
    "bench.tracing_overhead": "ratio",
}


def host_sizing() -> tuple[int, str]:
    """Usable CPUs and a driver heap of 30% of physical memory, 1–6 GiB."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cpus, f"{max(1, min(6, int(mem_gib * 0.3)))}g"


def configure_env(tmp: str, cpus: int, heap: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at tmp."""
    scratch = os.path.join(tmp, "tmp")
    os.makedirs(scratch)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "spark-warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=scratch,
        TZ="UTC",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData")
            + " pyspark-shell"
        ),
    )
    time.tzset()


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM so far."""
    with open(f"/proc/{spark._jvm.ProcessHandle.current().pid()}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")) / 1024.0


def jvm_heap_mb(spark) -> float:
    """Driver heap still in use once garbage collection has settled.
    Python's collector runs first so that py4j releases the Java objects
    Python no longer holds; each JVM collection then lets Spark's cleaner
    drop broadcasts and shuffles, which frees more at the next one, so
    collect until the heap stops shrinking."""
    gc.collect()
    runtime = spark._jvm.Runtime.getRuntime()
    used = float("inf")
    for _ in range(10):
        spark._jvm.System.gc()
        time.sleep(0.5)
        now = (runtime.totalMemory() - runtime.freeMemory()) / 2**20
        if used - now < 1.0:
            return now
        used = now
    return used


def measure(wl, spark, seconds: float, tracer, first: int):
    """Whole rounds until ``seconds`` is used; stop early rather than start
    a round that would overrun by more than half a round."""
    ops, wall, rounds = [], 0.0, 0
    while True:
        round_ops, round_wall = wl.round(spark, first + rounds, tracer)
        ops += round_ops
        wall += round_wall
        rounds += 1
        if seconds - wall < wall / rounds / 2:
            return ops, wall


def install_tracer(tracer) -> None:
    """Wrap the program's layer entry points (restored by tracer.restore)."""
    from construction_data_lake_et_data_warehouse_tp3_spark import session
    from construction_data_lake_et_data_warehouse_tp3_spark.sources import registry
    from construction_data_lake_et_data_warehouse_tp3_spark.warehouse import merge

    from workloads import dir_bytes

    modules = [
        m for name, m in list(sys.modules.items())
        if name == "__spark_entry__" or name.startswith(PACKAGE)
    ]
    tracer.wrap(session, "tune", "session.tune", modules)
    tracer.wrap(registry, "load_table", "sources.load_table", modules)

    def merged(record, args, result):
        record["rows"] = result

    def rewritten(record, args, result):
        record["bytes"] = dir_bytes(args[0].path)

    tracer.wrap(merge, "merge_into", "warehouse.merge_into", modules, after=merged)
    tracer.wrap(merge.ParquetTable, "overwrite", "warehouse.overwrite", after=rewritten)


def per_layer(wl, spark, tracer, ops, base_ops, starts, cpus) -> dict[str, float]:
    from construction_data_lake_et_data_warehouse_tp3_spark.session import tune

    from tracing import SparkRest, spark_layer

    rest = SparkRest(spark)
    ok = [o for o in ops if o.ok]
    jobs = rest.jobs({p.group for o in ok for p in (o.parts or [o])})
    tunes = []
    for _ in range(5):
        t0 = time.perf_counter()
        tune(spark)
        tunes.append(time.perf_counter() - t0)
    out = dict.fromkeys(PER_LAYER, 0.0)
    timed = [p for o in ok for p in (o.parts or [o])]
    out.update(spark_layer(timed, jobs, rest.stage_metrics(jobs), cpus))
    out.update(wl.layers(tracer, ok, jobs))
    out["session.start_s"] = statistics.median(starts)
    out["session.tune_s"] = statistics.median(tunes)
    untraced = [o.wall for o in base_ops if o.ok]
    if ok and untraced:
        traced = statistics.fmean(o.wall for o in ok)
        out["bench.tracing_overhead"] = traced / statistics.fmean(untraced) - 1.0
    return out


def run(args, tmp: str) -> int:
    cpus, heap = host_sizing()
    configure_env(tmp, cpus, heap)
    os.chdir(tmp)  # files the JVM drops in its working directory land here

    import duckdb
    import pyarrow
    from construction_data_lake_et_data_warehouse_tp3_spark.session import get_spark

    from tracing import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](tmp, args.seed)
    spark, setups, starts = None, [], []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            starts.append(time.perf_counter() - t0)
            wl.warm(spark)
            setups.append(time.perf_counter() - t0)
        tracer, base_ops = None, []
        if args.trace:
            base_ops, _ = measure(wl, spark, 0, None, 0)
            tracer = Tracer()
            install_tracer(tracer)
            try:
                ops, wall = measure(wl, spark, args.seconds, tracer, 100)
            finally:
                tracer.restore()
            base_ops += measure(wl, spark, 0, None, 200)[0]
        else:
            ops, wall = measure(wl, spark, args.seconds, None, 0)
        info = {
            "cpus": cpus,
            "heap": heap,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        }
        rss = jvm_peak_rss_mb(spark)
        heap_mb = jvm_heap_mb(spark)
        if args.trace:
            metrics = per_layer(wl, spark, tracer, ops, base_ops, starts, cpus)
            units = PER_LAYER
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            tracer.write(
                os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
            )
    finally:
        if spark is not None:
            stop_spark(spark)

    good = [o.wall for o in ops if o.ok] or [o.wall for o in ops]
    attempted = len(base_ops) + len(ops)  # every round run, traced or not
    failed = sum(not o.ok for o in base_ops + ops)
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_p50_s": statistics.median(good),
            "ops_per_s": len(ops) / wall,
            "jvm_heap_mb": heap_mb,
        }
        units = END_TO_END

    print(f"workload {args.workload}  seed {args.seed}  " + "  ".join(f"{k} {v}" for k, v in info.items()))
    print(f"setups_s {' '.join(f'{s:.3f}' for s in setups)}  measured_s {wall:.3f}  jvm_peak_rss_mb {rss:.1f}")
    print(f"attempted {attempted}  failed {failed}  error_rate {failed / attempted:.4f}")
    print("ops_s " + " ".join(
        f"{o.name}={o.wall:.3f}" + "".join(f" {p.name}={p.wall:.3f}" for p in o.parts)
        for o in ops
    ))
    for name, (value, unit) in wl.report(ops, wall).items():
        shown = "n/a (fewer than 20 samples)" if value is None else f"{value:.6g} {unit}"
        print(f"  {name} = {shown}")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("bi_queries", "stream_write"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, PACKAGE))
    ):
        log(f"the program ({PACKAGE}/, __spark_entry__.py) is not beside perfbench/")
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(HERE, f".run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
