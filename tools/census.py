#!/usr/bin/env python
"""Job census: what each registered query runs, counted from Spark's
own status stores.

Runs every query of ``__spark_entry__.queries()`` once (build, then
``count()``) at one scale, in one session, and prints one line per
query:

  jobs         Spark jobs of the build and the count (one job group
               per query);
  infer        of those, parquet schema-inference jobs: a bare
               ``spark.read.parquet`` runs one outside any SQL execution
               and names it ``parquet at <call site>`` (a parquet write's
               jobs have the same name but belong to its execution);
  executions   SQL executions started while the query ran;
  python       Python operators in the built frame's physical plan
               (``ArrowEvalPython``, ``MapInArrow``, ``FlatMapGroupsInPandas``,
               ...);

then the totals, and how many queries ran an inference job or have a
Python operator. Timings are left out on purpose: each query runs once,
cold, so only the counts are worth reading.

Usage:
  python tools/census.py <sf_dir> [--queries=a,b,c]

Exits non-zero when a query raises; its line says which.
"""

from __future__ import annotations

import re
import sys
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

INFER_JOB = "parquet at "
# a physical operator that runs Python: the first word of a plan line
PYTHON_NODE = re.compile(r"^[\s:+|-]*\*?(?:\(\d+\) )?(\w*(?:Python|InPandas|InArrow)\w*)")


def _executions(spark) -> dict:
    """The SQL executions the status store holds, by execution id."""
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {r.executionId(): r for r in map(runs.apply, range(runs.size()))}


def _job_ids(execution) -> set[int]:
    keys, out = execution.jobs().keys().iterator(), set()
    while keys.hasNext():
        out.add(keys.next())
    return out


def _python_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(bool(PYTHON_NODE.match(line)) for line in plan.splitlines())


def census(spark, sf_dir: str, builders: dict, names: list[str]) -> list[dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    rows = []
    for name in names:
        group = f"census-{uuid.uuid4().hex}"
        before = set(_executions(spark))
        sc.setJobGroup(group, name)
        row = {"query": name, "error": None}
        try:
            df = builders[name](spark, sf_dir)
            df.count()
            row["python"] = _python_nodes(df)
        except Exception as exc:  # a census reports a failing query and goes on
            row["error"] = type(exc).__name__
            row["python"] = 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        row["jobs"] = len(jobs)
        new = [r for i, r in _executions(spark).items() if i not in before]
        in_sql = set().union(*map(_job_ids, new))
        row["infer"] = sum(
            j not in in_sql and store.job(j).name().startswith(INFER_JOB) for j in jobs
        )
        row["executions"] = len(new)
        rows.append(row)
        print(
            f"{name:<44} jobs {row['jobs']:>3}  infer {row['infer']:>2}  "
            f"executions {row['executions']:>3}  python {row['python']:>2}"
            + (f"  ERROR {row['error']}" if row["error"] else ""),
            flush=True,
        )
    return rows


def main(argv: list[str]) -> int:
    from map_reduce_lite_spark.session import get_spark
    import __spark_entry__ as entry

    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    builders = entry.queries()
    names = list(builders)
    for flag in argv:
        if flag.startswith("--queries="):
            names = flag.split("=", 1)[1].split(",")
    if unknown := sorted(set(names) - set(builders)):
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="mrl_census")
    rows = census(spark, args[0], builders, names)
    total = {k: sum(r[k] for r in rows) for k in ("jobs", "infer", "executions", "python")}
    print(
        f"TOTAL {len(rows)} queries: jobs {total['jobs']}, infer {total['infer']} "
        f"(in {sum(r['infer'] > 0 for r in rows)} queries), executions "
        f"{total['executions']}, python nodes {total['python']} "
        f"(in {sum(r['python'] > 0 for r in rows)} queries), "
        f"errors {sum(r['error'] is not None for r in rows)}"
    )
    spark.stop()
    return int(any(r["error"] for r in rows))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
