"""bench.py protocol logic — pure-function tests (no Spark).

The bench's host-noise self-defense: every batch times a fixed canary
trio FIRST and again LAST; `_retry_batches` names the batches whose
leading or trailing canary spikes above tolerance × the run's own median
of that reading (batch-local contention → one retry). Nothing is
compared with stored state. Median statistics were chosen from 81
measured batch canaries over three idle-machine sweeps: single-batch
canaries jitter ±30-40% around the run median from JIT depth and
warm-pass composition alone.

Also pinned here: the per-query `layers` come from the timed run whose
seconds are reported, and `_emit`'s key order keeps the total and the
canary in the last 2,000 characters of its output line."""

from __future__ import annotations

import hashlib
import json
import random

import pytest

import bench
from perfbench.layers import METRICS, QueryWindow


def test_batch_spike_is_named_for_retry_against_run_median():
    # median 1.29; batch 3 spikes past 1.3 * 1.29
    assert bench._retry_batches([1.25, 1.30, 1.28, 1.75]) == [3]


def test_healthy_jitter_does_not_flag_the_run():
    # the measured shape: batches spread ±30% around the median
    per_batch = [1.15, 1.32, 1.45, 1.38, 1.22, 1.41, 1.28]
    assert bench._retry_batches(per_batch) == []


def test_uniformly_slow_batches_name_no_retry():
    # every batch ~2x: the batches agree with each other, so no retry
    # (a uniformly slow run shows only in its canary record, read
    # against runs on the same core count)
    assert bench._retry_batches([2.1, 2.3, 1.9, 2.2]) == []


def test_end_canary_spike_triggers_retry_of_clean_leading_batch():
    """Contention arriving MID-batch sits behind a clean first-position
    canary. The trailing reading must name that batch for retry —
    compared against the run's own END-canary median, since end
    canaries run at deeper JIT warmth than leading ones."""
    leading = [1.25, 1.30, 1.28, 1.27]   # all healthy
    ends = [1.05, 1.08, 1.95, 1.06]      # batch 2 went hot mid-batch
    assert bench._retry_batches(leading, ends) == [2]


def test_both_canaries_spiking_names_batch_once():
    leading = [1.25, 1.30, 1.28, 1.80]
    ends = [1.05, 1.08, 1.06, 1.90]
    assert bench._retry_batches(leading, ends) == [3]


def test_healthy_end_canaries_add_no_retries():
    leading = [1.25, 1.30, 1.28, 1.27]
    ends = [1.05, 1.18, 1.10, 1.06]  # within tolerance of their median
    assert bench._retry_batches(leading, ends) == []


# --------------------------------------------------------------------------
# per-query layers: attributed from the status store, fastest run only
# --------------------------------------------------------------------------


def _job(jid, stages, group, submitted_ms):
    return {"jobId": jid, "jobGroup": group, "submissionTime": submitted_ms,
            "stageIds": stages, "numSkippedStages": 0}


def _stage(sid, start_ms, end_ms, run_ms):
    return {"stageId": sid, "status": "COMPLETE", "submissionTime": start_ms,
            "completionTime": end_ms, "executorRunTime": run_ms}


def _two_runs():
    # run 0 is the slower (2.0 s), run 1 the reported one (1.5 s); the
    # last field is each run's process-tree CPU seconds
    return [(2.0, QueryWindow("q#0", "q", 100.0, 100.5, 102.0), 7.0),
            (1.5, QueryWindow("q#1", "q", 103.0, 103.25, 104.5), 5.0)]


def test_layers_come_from_the_reported_run_only():
    jobs = [
        _job(0, [0], None, 40_000),                       # warm pass
        _job(1, [1], "join_nation_region#1", 60_000),     # leading canary
        _job(2, [2], "q#0", 100_600),                     # slower run
        _job(3, [3], "q#0", 101_000),
        _job(4, [4], "q#1", 103_300),                     # reported run
        _job(5, [5], "stream-run", 104_000),              # its micro-batch
        _job(6, [6], "__end__:join_nation_region#0", 110_000),  # end canary
    ]
    stages = [
        _stage(0, 40_000, 41_000, 9_000),
        _stage(1, 60_000, 60_500, 9_000),
        _stage(2, 100_600, 101_000, 700),
        _stage(3, 101_000, 102_000, 800),
        _stage(4, 103_300, 103_800, 300),
        _stage(5, 104_000, 104_400, 200),
        _stage(6, 110_000, 110_500, 9_000),
    ]
    secs, lay = bench._fastest_run(_two_runs(), jobs, stages)
    assert secs == 1.5
    assert set(lay) == set(METRICS) | {"tree_cpu_s"}
    assert lay["tree_cpu_s"] == 5.0
    assert lay["jobs"] == 2 and lay["stages"] == 2
    assert lay["executor_run_s"] == pytest.approx(0.5)
    assert lay["build_s"] == pytest.approx(0.25)
    assert lay["build_s"] + lay["action_s"] == pytest.approx(secs)
    # 1.5 s wall, stages active over 103.3-103.8 and 104.0-104.4
    assert lay["driver_gap_s"] == pytest.approx(0.6)


def test_fastest_run_raises_when_the_store_dropped_timed_jobs():
    # nothing older than the first timed run: retention may have cut it
    jobs = [_job(4, [4], "q#1", 103_300)]
    stages = [_stage(4, 103_300, 103_800, 300)]
    with pytest.raises(RuntimeError, match="status store holds no job"):
        bench._fastest_run(_two_runs(), jobs, stages)


# --------------------------------------------------------------------------
# _emit: the output line's contract
# --------------------------------------------------------------------------


def test_emit_keeps_total_and_canary_in_the_last_2000_chars(capsys):
    names = [f"family_{i:03d}_query_shape" for i in range(179)]
    timings = {n: 1.234 + i / 1000 for i, n in enumerate(names)}
    per_query = {n: {m: 12.345 for m in METRICS} for n in names}
    n_batches = -(-len(names) // bench.BATCH_SIZE)
    retries = [{"batch_head": names[i], "first_canary": 1.9,
                "first_end_canary": 1.0, "retry_canary": 1.2,
                "retry_end_canary": 1.1, "kept": "retry"} for i in range(3)]
    canary = {"queries": bench.CANARY_QUERIES, "cpus": 4,
              "per_batch": [1.234] * n_batches,
              "per_batch_end": [1.234] * n_batches, "median_sec": 1.234,
              "tolerance": bench.CANARY_TOLERANCE, "retried_batches": 3}
    payload = bench._emit(timings, per_query, retries, canary)
    keys = list(payload)
    assert keys[-1] == "value"
    contract = ["metric", "unit", "queries", "sf", "canary", "value"]
    assert [k for k in keys if k in contract] == contract
    assert keys.index("layers") < keys.index("sf")
    assert keys.index("retries") < keys.index("sf")
    assert payload["value"] == round(sum(timings.values()), 3)

    line = capsys.readouterr().out.strip()
    assert json.loads(line) == payload
    tail = line[-2000:]
    decoder = json.JSONDecoder()
    for key in ("canary", "value"):
        at = tail.rindex(f'"{key}": ') + len(key) + 4
        assert decoder.raw_decode(tail, at)[0] == payload[key]


# --------------------------------------------------------------------------
# deterministic batch assignment (stable-hash order, then chunk)
# --------------------------------------------------------------------------


def test_assign_batches_is_order_independent():
    """Reordering the registry must not move anyone's batch: the
    assignment is a pure function of the SET of names."""
    names = [f"q{i:03d}" for i in range(40)]
    shuffled = names[:]
    random.Random(7).shuffle(shuffled)
    assert bench._assign_batches(names, 6) == bench._assign_batches(shuffled, 6)


def test_assign_batches_partitions_exactly():
    names = [f"query_{i}" for i in range(25)]
    batches = bench._assign_batches(names, 6)
    flat = [n for b in batches for n in b]
    assert sorted(flat) == sorted(names)
    assert all(len(b) <= 6 for b in batches)
    assert [len(b) for b in batches[:-1]] == [6] * (len(batches) - 1)


def test_assign_batches_growth_shifts_only_hash_suffix():
    """Adding one query perturbs only batches at/after its hash-order
    insertion point — earlier batches keep their exact composition."""
    names = [f"q{i:03d}" for i in range(40)]
    before = bench._assign_batches(names, 6)
    after = bench._assign_batches(names + ["zzz_new_query"], 6)

    key = hashlib.md5(b"zzz_new_query").hexdigest()
    ordered = sorted(names, key=lambda n: (hashlib.md5(n.encode()).hexdigest(), n))
    insert_at = sum(
        1 for n in ordered if hashlib.md5(n.encode()).hexdigest() < key
    )
    untouched = insert_at // 6  # whole batches strictly before the insertion
    assert before[:untouched] == after[:untouched]
