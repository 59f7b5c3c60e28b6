"""Per-layer attribution from Spark's status store.

The benchmark owns the call boundaries run -> pass -> query -> {build,
action} and records a span for each. Stage-level counters come from the
driver's ``AppStatusStore`` (populated with the UI disabled), read once
per pass and serialised to JSON inside the JVM, so the read costs a few
py4j calls rather than one per field.

A job belongs to the query whose job group it carries; jobs started on
threads the benchmark does not own (streaming micro-batches run under
their own group) belong to the query whose wall interval contains their
submission time. Queries run one at a time, so that is unambiguous. A
stage belongs to the lowest-numbered job that lists it: later jobs list
reused shuffle stages again, as skipped.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

# Counters summed per query and per layer; the name is the metric suffix.
STAGE_SUMS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "input_mb": ("inputBytes", 1e-6),
    "output_mb": ("outputBytes", 1e-6),
    "failed_tasks": ("numFailedTasks", 1),
}
METRICS = (
    "build_s", "action_s", "driver_gap_s", "jobs", "stages", "skipped_stages",
    *STAGE_SUMS,
)


class Spans:
    """In-memory span log: name, start, end, parent span and query id.
    Times are epoch seconds (``time.time()``), the clock Spark stamps
    jobs and stages with."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None = None, query_id: str | None = None) -> int:
        self.items.append({
            "id": len(self.items), "name": name, "parent": parent,
            "query_id": query_id, "start": time.time(), "end": None,
        })
        return len(self.items) - 1

    def close(self, span: int) -> float:
        self.items[span]["end"] = time.time()
        return self.items[span]["end"]


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    return "MB" if metric.endswith("_mb") else "count"


@dataclass
class QueryWindow:
    query_id: str
    layer: str
    start: float
    build_end: float
    end: float
    metrics: dict = field(default_factory=dict)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(queries: list[QueryWindow], jobs: list[dict], stages: list[dict]) -> None:
    """Fill each query's ``metrics`` from status-store ``jobs`` and
    ``stages`` (dicts with the store's JSON field names, times in epoch
    ms). Jobs and stages outside every query are ignored."""
    by_id = {q.query_id: q for q in queries}

    def owner(job: dict) -> QueryWindow | None:
        q = by_id.get(job.get("jobGroup"))
        if q is not None:
            return q
        t = (job.get("submissionTime") or 0) / 1e3
        return next((q for q in queries if q.start <= t <= q.end), None)

    stage_owner: dict[int, QueryWindow | None] = {}
    for q in queries:
        q.metrics = {m: 0 for m in METRICS}
        q.metrics["build_s"] = q.build_end - q.start
        q.metrics["action_s"] = q.end - q.build_end
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        q = owner(job)
        for sid in job.get("stageIds", []):
            stage_owner.setdefault(sid, q)
        if q is not None:
            q.metrics["jobs"] += 1
            q.metrics["skipped_stages"] += job.get("numSkippedStages", 0)
    active: dict[str, list] = {q.query_id: [] for q in queries}
    for st in stages:
        q = stage_owner.get(st["stageId"])
        if q is None or st.get("status") == "SKIPPED":
            continue
        q.metrics["stages"] += 1
        for name, (key, scale) in STAGE_SUMS.items():
            q.metrics[name] += (st.get(key) or 0) * scale
        if st.get("submissionTime") and st.get("completionTime"):
            s = max(st["submissionTime"] / 1e3, q.start)
            e = min(st["completionTime"] / 1e3, q.end)
            active[q.query_id].append((s, e))
    for q in queries:
        q.metrics["driver_gap_s"] = (q.end - q.start) - union_length(active[q.query_id])


def layer_totals(queries: list[QueryWindow]) -> dict[str, dict[str, float]]:
    """Sum every query metric per layer."""
    out: dict[str, dict[str, float]] = {}
    for q in queries:
        acc = out.setdefault(q.layer, {m: 0 for m in METRICS})
        for m in METRICS:
            acc[m] += q.metrics[m]
    return out


def read_status_store(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stages the driver's status store still holds.

    ``stageList`` takes five arguments over py4j (no Scala defaults) and
    throws on ``None``: pass empty lists and an empty ``double[]``."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(scala, "MODULE$"))
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return json.loads(mapper.writeValueAsString(jobs)), json.loads(
        mapper.writeValueAsString(stages)
    )
