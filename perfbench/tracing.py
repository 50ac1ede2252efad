"""Per-layer tracing for the benchmark, kept entirely outside the program.

A traced run wraps the program's public layer functions (module attributes
are swapped for timing wrappers and restored afterwards), records one span
per call, and joins those spans with what Spark itself exposes:

- the monitoring REST API of the live UI: jobs (with their job group),
  stage metrics and per-stage task-time quantiles;
- the Catalyst phase tracker of the DataFrame an operation returned;
- ``StreamingQuery.recentProgress`` of each streaming consumer.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import sys
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    """One timed operation of a workload: a query, or one micro-batch
    carried through every streaming consumer (its ``parts``)."""

    name: str
    start: float  # epoch seconds
    end: float
    ok: bool = True
    group: str | None = None
    rows: int = 0  # Spark job group whose jobs belong to this op
    phases: dict[str, float] = field(default_factory=dict)  # seconds
    parts: list["Op"] = field(default_factory=list)  # sub-operations, if any

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        record = {
            "id": next(self._ids),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "op_id": self.op_id,
        }
        stack.append(record)
        try:
            yield record
        finally:
            stack.pop()
            record["end"] = time.time()
            self.spans.append(record)

    def wrap(self, owner, attr: str, span_name: str, modules=(), after=None) -> None:
        """Swap ``owner.attr``, and the same function object wherever a
        module in ``modules`` imported it, for a wrapper recording
        ``span_name`` spans. ``after(record, args, result)`` may add
        attributes to the span."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name) as record:
                result = original(*args, **kwargs)
                if after is not None:
                    after(record, args, result)
                return result

        for module in {id(m): m for m in (owner, *modules)}.values():
            if getattr(module, attr, None) is original:
                setattr(module, attr, wrapper)
                self._undo.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._undo):
            setattr(module, attr, original)
        self._undo.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part its direct children cover."""
    children = [s for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children]
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds from the QueryExecution
    tracker of ``df``. Forces the physical plan of ``df`` first (the action
    ran on a derived plan), so call it outside any timed window."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def epoch(stamp: str) -> float:
    return (
        datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class SparkRest:
    """Reader for the live UI's monitoring REST API (local only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self, groups: set[str]) -> list[dict]:
        """Finished jobs of ``groups``, waiting briefly for the listener
        to catch up with jobs that ended a moment ago."""
        deadline = time.time() + 10
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.1)

    def stage_metrics(self, jobs: list[dict]) -> dict[int, dict]:
        """Completed stage attempts of ``jobs``, with the max/median task
        run time ratio attached for multi-task stages."""
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        stages = {
            s["stageId"]: s
            for s in self.get("/stages?status=complete")
            if s["stageId"] in wanted
        }
        for sid, s in stages.items():
            if s["numCompleteTasks"] >= 2:
                q = self.get(
                    f"/stages/{sid}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                s["skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return stages


def spark_layer(ops: list[Op], jobs: list[dict], stages: dict[int, dict], cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics: each op owns the jobs of its job
    group that were submitted inside the op's interval."""
    per_op = []
    for op in ops:
        mine = [
            j for j in jobs
            if j.get("jobGroup") == op.group and "completionTime" in j
            and op.start - 0.01 <= epoch(j["submissionTime"]) <= op.end + 0.01
        ]
        spans = [(epoch(j["submissionTime"]), epoch(j["completionTime"])) for j in mine]
        job_wall = union_length(spans)
        st = [stages[sid] for j in mine for sid in j["stageIds"] if sid in stages]
        per_op.append(
            {
                "jobs": len(mine),
                "stages": len(st),
                "tasks": sum(s["numCompleteTasks"] for s in st),
                "job_wall": job_wall,
                "gap": max(op.wall - job_wall, 0.0),
                "run": sum(s["executorRunTime"] for s in st) / 1000.0,
                "cpu": sum(s["executorCpuTime"] for s in st) / 1e9,
                "gc": sum(s["jvmGcTime"] for s in st) / 1000.0,
                "shuffle_write": sum(s["shuffleWriteBytes"] for s in st),
                "shuffle_read": sum(s["shuffleReadBytes"] for s in st),
                "spill": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
                "skews": [s["skew"] for s in st if "skew" in s],
            }
        )

    def med(key):
        return statistics.median(p[key] for p in per_op) if per_op else 0.0

    def mean(key):
        return statistics.fmean(p[key] for p in per_op) if per_op else 0.0

    wall = sum(p["job_wall"] for p in per_op)
    skews = [x for p in per_op for x in p["skews"]]
    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.driver_gap_s": med("gap"),
        "spark.job_wall_s": med("job_wall"),
        "spark.executor_run_s": med("run"),
        "spark.executor_cpu_s": med("cpu"),
        "spark.gc_s": med("gc"),
        "spark.cpu_util": sum(p["cpu"] for p in per_op) / (wall * cores) if wall else 0.0,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.shuffle_write_bytes": mean("shuffle_write"),
        "spark.shuffle_read_bytes": mean("shuffle_read"),
        "spark.spill_bytes": mean("spill"),
    }
