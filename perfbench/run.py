#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client, end to end and per layer.

    python3 perfbench/run.py --workload pair_similarity --seed 1 --seconds 5 --trace 0

Run from the repository root (or any checkout of it). One process drives
one ``local[nproc]`` session; items run one after another, passes back to
back, no extra threads. A run:

1. sizes the session from the host (``SPARK_GRAFT_CPUS`` from the CPU
   affinity mask, ``SPARK_GRAFT_DRIVER_MEM`` from ``/proc/meminfo``) and
   points every scratch directory (temp files, Spark local dirs, the JVM
   temp dir and crash logs) into ``.perfbench_work/`` under the checkout;
2. generates the workload's inputs from ``--seed`` (``inputs.py``); the
   seed also sets the item order of every pass;
3. with ``--trace 0``, starts the session ``SETUP_SAMPLES`` times, each in
   a fresh interpreter, and reports the median as ``setup_s``;
4. runs a cold pass, ``WARMUP_PASSES`` more, then warm passes until
   ``--seconds`` are used and at least ``MIN_WARM`` have run; each pass is
   timed in wall seconds and in CPU seconds of the whole process tree
   (this process, the JVM, its Python workers);
5. checks every result outside the timed region (``checks.py``).

``--trace 0`` prints the end-to-end metrics: ``setup_s``,
``cold_pass_cpu_s`` (the cold pass), ``warm_pass_cpu_s`` (median of the
warm passes) and ``peak_rss_mb``. The pass metrics are CPU seconds, not
wall seconds: on a shared 4-vCPU virtual machine the hypervisor took the
CPUs away for up to 27% of a run's time (steal, from ``/proc/stat``), varying
from run to run, and across five seeds the wall times spread 0.34-0.40
(quartile distance over median) where the CPU times spread 0.07-0.15.
Wall-clock pass times (``cold_pass_s``, ``warm_pass_s``) and the steal
during each pass are in the ``perfbench`` report line.

``--trace 1`` alternates untraced and traced warm passes, at least
``MIN_TRACED`` of each (job groups per item, status-store read after the
pass), and prints the per-layer totals of the traced passes, the
per-module split on the line before, and writes the spans to
``.perfbench_work/spans-<workload>-seed<n>.json``.

The last stdout line is one JSON object: correct, attempted, failed and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

import checks
import layers
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUP_SAMPLES = 2  # session starts per untraced run: one probe, then the run's own
# Passes after the cold one keep getting cheaper as the JVM compiles hot
# code (CPU seconds of passes 1-7 such as 9.4, 7.1, 7.5, 5.3, 5.0, 4.2, 4.0
# on iterative_materialize); these are run and checked, but kept out of
# every median. Four warm-up passes instead of two left the warm passes
# still getting cheaper and made a run 5-10 s longer.
WARMUP_PASSES = 2
MIN_WARM = 5  # untraced warm passes, whatever --seconds says
MIN_TRACED = 3  # traced passes in a --trace 1 run, each after an untraced one


def host_sizing() -> dict[str, str]:
    """Session size for this host: every CPU this process may run on, and
    a sixteenth of physical memory for the driver heap (512 MiB-2 GiB),
    which the engine pre-commits with ``-Xms``. The data is small; a heap
    that fills up early keeps the peak resident set steady."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = min(max(kb // (16 * 1024), 512), 2048)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
    }


def confine(work: Path) -> None:
    """Send this process's and its children's scratch files into ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        JAVA_TOOL_OPTIONS=(
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -XX:ErrorFile={work}/hs_err_pid%p.log"
        ),
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None


def start_session():
    """Import the engine and build its session; returns (spark, seconds)."""
    t0 = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from map_reduce_lite_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def setup_probe() -> float:
    """One ``setup_s`` sample in a fresh interpreter."""
    res = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--setup-probe"],
        capture_output=True, text=True, timeout=150, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])["setup_s"]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, own and reaped children's) of process
    ``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds the hypervisor has run other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    """Runs passes over a workload's items and keeps every result.

    Every execution's result size (rows, or output lines of a write) is
    recorded after its pass. The full rows, their checksum and the ground
    truth are read for the cold pass and for the last pass only: reading
    them runs each item's plan again, which would otherwise cost about as
    much as the timed actions themselves."""

    def __init__(self, ctx, items, spans, seed):
        self.ctx = ctx
        self.items = items
        self.spans = spans
        self.seed = seed
        self.run_span = spans.open("run")
        self.executions: list[dict] = []  # one per item per pass
        self.reference: dict[str, dict] = {}  # item -> first checked execution
        self.traced_windows: list[list] = []
        self.python_hwm_mb = 0.0  # this process's peak before any check ran
        self.last_pass: list[tuple] = []  # (execution, payload) of the latest pass
        self.cpu: list[float] = []  # per pass
        self.steal: list[float] = []

    def run_pass(self, pass_no: int, traced: bool) -> float:
        ctx, sc = self.ctx, self.ctx.spark.sparkContext
        order = list(self.items)
        random.Random(f"{self.seed}/{pass_no}").shuffle(order)
        pass_span = self.spans.open(f"pass{pass_no}", self.run_span)
        results = []
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
        t0 = time.perf_counter()
        for item in order:
            qid = f"p{pass_no}.{item.name}"
            if traced:
                sc.setJobGroup(qid, item.name)
            q = self.spans.open(item.name, pass_span, qid)
            b = self.spans.open("build", q, qid)
            payload = error = None
            try:
                handle = item.build(ctx)
                build_end = self.spans.close(b)
                a = self.spans.open("action", q, qid)
                payload = item.act(ctx, handle)
                self.spans.close(a)
            except Exception as e:  # noqa: BLE001 - a failed item is counted, the run goes on
                error = f"{type(e).__name__}: {e}"
                build_end = self.spans.items[b]["end"] or self.spans.close(b)
            end = self.spans.close(q)
            results.append((item, payload, error,
                            layers.QueryWindow(qid, item.layer, self.spans.items[q]["start"],
                                               build_end, end)))
        wall = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s(os.getpid()) - cpu0)
        self.steal.append(steal_s() - steal0)
        self.spans.close(pass_span)
        if pass_no == 0:
            self.python_hwm_mb = vm_hwm_mb("self")
        # Outside the timed region. Jobs started from here on carry a group
        # of their own, so no query owns them.
        if traced:
            sc.setJobGroup("perfbench-check", "result checks")
        self.last_pass = []
        for item, payload, error, window in results:
            ex = {"pass": pass_no, "item": item, "error": error, "size": None,
                  "digest": None, "secs": window.end - window.start}
            if error is None:
                try:
                    ex["size"] = item.size(ctx, payload)
                except Exception as e:  # noqa: BLE001
                    ex["error"] = f"reading result size: {type(e).__name__}: {e}"
            self.executions.append(ex)
            self.last_pass.append((ex, payload))
        if traced:
            jobs, stages = layers.read_status_store(sc)
            windows = [r[3] for r in results]
            layers.attribute(windows, jobs, stages)
            self.traced_windows.append(windows)
        return wall

    def check_last_pass(self) -> None:
        """Read the latest pass's rows and checksum them."""
        for ex, payload in self.last_pass:
            if ex["error"] is not None:
                continue
            try:
                cols, rows = ex["item"].rows(self.ctx, payload)
                ex["digest"] = checks.digest(rows)
                if ex["digest"][0] != ex["size"]:
                    ex["error"] = f"{ex['size']} rows counted, {ex['digest'][0]} read"
                elif ex["item"].name not in self.reference:
                    self.reference[ex["item"].name] = {**ex, "cols": cols, "rows": rows}
            except Exception as e:  # noqa: BLE001
                ex["error"] = f"reading result: {type(e).__name__}: {e}"

    def verify(self) -> None:
        """Fail executions whose size or checksum differs from the item's
        first checked result, and all of them if that result fails the
        item's ground-truth check."""
        truth = {}
        for name, ref in self.reference.items():
            try:
                truth[name] = ref["item"].check(self.ctx, ref["cols"], ref["rows"])
            except Exception as e:  # noqa: BLE001
                truth[name] = f"check raised {type(e).__name__}: {e}"
        for ex in self.executions:
            if ex["error"] is not None:
                continue
            ref = self.reference.get(ex["item"].name)
            if ref is None:
                ex["error"] = "no checked result of this item"
            elif ex["size"] != ref["size"]:
                ex["error"] = f"{ex['size']} rows, pass {ref['pass']} had {ref['size']}"
            elif ex["digest"] is not None and ex["digest"] != ref["digest"]:
                ex["error"] = f"checksum {ex['digest']} differs from pass {ref['pass']}"
            elif truth[ex["item"].name]:
                ex["error"] = truth[ex["item"].name]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.setup_probe and args.workload is None:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.setup_probe:
        spark, secs = start_session()
        stop_session(spark)
        print(json.dumps({"setup_s": secs}))
        return 0
    import inputs  # numpy and pyarrow; a setup probe does without them

    sizing = host_sizing()
    os.environ.update(sizing)
    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        confine(work)
        data = work / "data"
        input_stats = inputs.generate(args.workload, args.seed, data)
        phase("inputs")
        # setup_s is reported by untraced runs only, so traced runs skip
        # the extra session starts.
        setups = [] if args.trace else [setup_probe() for _ in range(SETUP_SAMPLES - 1)]
        spark, secs = start_session()
        setups.append(secs)
        phase("setup")

        from map_reduce_lite_spark.engine import Engine

        ctx = workloads.Ctx(spark, data, work / "out", Engine(spark))
        items = workloads.WORKLOADS[args.workload]()
        spans = layers.Spans()
        runner = Runner(ctx, items, spans, args.seed)

        cold = runner.run_pass(0, traced=False)
        runner.check_last_pass()
        phase("cold")
        warmup = [runner.run_pass(n, traced=False) for n in range(1, WARMUP_PASSES + 1)]
        phase("warmup")
        # Warm passes: untraced ones, each followed by a traced one in a
        # --trace 1 run; tracing overhead is taken per such pair.
        untraced: list[float] = []
        traced: list[float] = []
        min_untraced, min_traced = (MIN_TRACED, MIN_TRACED) if args.trace else (MIN_WARM, 0)
        deadline = time.perf_counter() + args.seconds
        pass_no = WARMUP_PASSES + 1
        while (len(untraced) < min_untraced or len(traced) < min_traced
               or time.perf_counter() + median(untraced) + (median(traced) if traced else 0)
               <= deadline):
            untraced.append(runner.run_pass(pass_no, traced=False))
            pass_no += 1
            if args.trace:
                traced.append(runner.run_pass(pass_no, traced=True))
                pass_no += 1
        spans.close(runner.run_span)
        phase("warm")
        runner.check_last_pass()
        jvm_hwm = vm_hwm_mb(ctx.spark.sparkContext._gateway.proc.pid)

        ctx.oracle = checks.duckdb_oracle(data, workloads.ORACLE_TABLES[args.workload])
        runner.verify()
        phase("check")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")

    failures = [ex for ex in runner.executions if ex["error"] is not None]
    for ex in failures:
        print(f"FAILED pass {ex['pass']} {ex['item'].name}: {ex['error']}", file=sys.stderr)
    report = {
        "workload": args.workload, "seed": args.seed, "sizing": sizing,
        "inputs": input_stats, "setup_samples_s": setups,
        "jvm_hwm_mb": jvm_hwm, "python_hwm_mb": runner.python_hwm_mb,
        "cold_pass_s": cold, "warm_pass_s": median(untraced), "warmup_passes_s": warmup,
        "untraced_passes_s": untraced, "traced_passes_s": traced,
        "phases_s": phases, "pass_cpu_s": runner.cpu, "pass_steal_s": runner.steal,
        "failed_frac": len(failures) / len(runner.executions),
        "item_median_s": {
            item.name: median([ex["secs"] for ex in runner.executions
                               if ex["item"] is item and ex["pass"] > WARMUP_PASSES])
            for item in items
        },
        "item_cold_s": {ex["item"].name: ex["secs"] for ex in runner.executions
                        if ex["pass"] == 0},
    }
    if args.trace:
        per_pass = [layers.layer_totals(w) for w in runner.traced_windows]
        report["layers"] = {
            f"{layer}.{m}": median([p[layer][m] for p in per_pass])
            for layer in per_pass[0] for m in layers.METRICS
        }
        WORK.mkdir(exist_ok=True)
        (WORK / f"spans-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(spans.items)
        )
        # Task GC time stays in the per-module split only: at these input
        # sizes it reads 0 in every pass.
        metrics = {
            m: {
                "value": median([sum(t[m] for t in p.values()) for p in per_pass]),
                "unit": layers.unit(m),
            }
            for m in layers.METRICS if m != "gc_s"
        }
        metrics["tracing_overhead_s"] = {
            "value": median([t - u for u, t in zip(untraced, traced)]), "unit": "s",
        }
    else:
        metrics = {
            "setup_s": {"value": median(setups), "unit": "s"},
            "cold_pass_cpu_s": {"value": runner.cpu[0], "unit": "s"},
            "warm_pass_cpu_s": {"value": median(runner.cpu[WARMUP_PASSES + 1:]), "unit": "s"},
            "peak_rss_mb": {"value": jvm_hwm + runner.python_hwm_mb, "unit": "MB"},
        }
    print("perfbench " + json.dumps(report))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(runner.executions),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
