"""Tests of the benchmark's pure attribution code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

import layers
from layers import QueryWindow, attribute, layer_totals, union_length


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 4)]) == 3
    assert union_length([(0, 3), (1, 2), (2.5, 5)]) == 5
    assert union_length([(3, 4), (0, 1), (1, 2)]) == 3  # unsorted, touching
    assert union_length([(1, 1), (2, 1)]) == 0


def _job(jid, stages, group=None, submitted_ms=0, skipped=0):
    return {"jobId": jid, "jobGroup": group, "submissionTime": submitted_ms,
            "stageIds": stages, "numSkippedStages": skipped}


def _stage(sid, start_ms, end_ms, status="COMPLETE", **counters):
    return {"stageId": sid, "status": status, "submissionTime": start_ms,
            "completionTime": end_ms, **counters}


def test_attribute_by_group_then_by_time_window():
    a = QueryWindow("p1.a", "relational", 10.0, 11.0, 14.0)
    b = QueryWindow("p1.b", "streaming", 14.0, 16.0, 20.0)
    jobs = [
        _job(1, [1], group="p1.a", submitted_ms=11_000),
        # a streaming micro-batch: foreign group, inside b's window
        _job(2, [2], group="stream-run", submitted_ms=17_000),
        # an earlier pass's job: foreign group, outside every window
        _job(0, [0], group="p0.a", submitted_ms=1_000),
    ]
    stages = [
        _stage(0, 1_000, 2_000, executorRunTime=999),
        _stage(1, 11_000, 13_000, executorRunTime=500, executorCpuTime=2e8,
               shuffleWriteBytes=3_000_000),
        _stage(2, 17_000, 18_500, executorRunTime=700, numFailedTasks=1),
    ]
    attribute([a, b], jobs, stages)
    assert a.metrics["build_s"] == 1.0 and a.metrics["action_s"] == 3.0
    assert a.metrics["jobs"] == 1 and a.metrics["stages"] == 1
    assert a.metrics["executor_run_s"] == pytest.approx(0.5)
    assert a.metrics["executor_cpu_s"] == pytest.approx(0.2)
    assert a.metrics["shuffle_write_mb"] == pytest.approx(3.0)
    assert a.metrics["driver_gap_s"] == pytest.approx(4.0 - 2.0)
    assert b.metrics["jobs"] == 1 and b.metrics["failed_tasks"] == 1
    assert b.metrics["executor_run_s"] == pytest.approx(0.7)
    assert b.metrics["driver_gap_s"] == pytest.approx(6.0 - 1.5)


def test_reused_stage_belongs_to_first_job_even_from_an_earlier_pass():
    q = QueryWindow("p2.a", "ops.graph", 100.0, 101.0, 104.0)
    jobs = [
        _job(5, [7], group="p1.a", submitted_ms=50_000),  # earlier pass ran stage 7
        _job(9, [7, 8], group="p2.a", submitted_ms=101_000, skipped=1),
    ]
    stages = [
        _stage(7, 50_000, 51_000, executorRunTime=4_000),
        _stage(8, 101_000, 102_000, executorRunTime=1_000),
    ]
    attribute([q], jobs, stages)
    assert q.metrics["stages"] == 1 and q.metrics["skipped_stages"] == 1
    assert q.metrics["executor_run_s"] == pytest.approx(1.0)


def test_skipped_stage_and_stage_intervals_are_clipped_to_the_query():
    q = QueryWindow("p1.a", "parity", 10.0, 10.0, 12.0)
    jobs = [_job(1, [1, 2, 3], group="p1.a", submitted_ms=10_000)]
    stages = [
        _stage(1, 9_000, 11_000),  # submitted before the window opened
        _stage(2, 10_500, 13_000),  # overlaps stage 1 and outlives the window
        _stage(3, None, None, status="SKIPPED"),
    ]
    attribute([q], jobs, stages)
    assert q.metrics["stages"] == 2
    assert q.metrics["driver_gap_s"] == pytest.approx(0.0)


def test_layer_totals_sum_queries_of_a_layer():
    qs = [QueryWindow(f"p1.{i}", layer, 0.0, 1.0, 3.0)
          for i, layer in enumerate(["ops.dedup", "ops.dedup", "ops.graph"])]
    attribute(qs, [], [])
    totals = layer_totals(qs)
    assert set(totals) == {"ops.dedup", "ops.graph"}
    assert totals["ops.dedup"]["build_s"] == 2.0
    assert totals["ops.dedup"]["action_s"] == 4.0
    assert totals["ops.graph"]["driver_gap_s"] == 3.0
    assert set(totals["ops.graph"]) == set(layers.METRICS)


def test_units():
    assert layers.unit("gc_s") == "s"
    assert layers.unit("spill_mb") == "MB"
    assert layers.unit("jobs") == "count"
