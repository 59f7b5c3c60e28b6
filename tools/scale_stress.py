#!/usr/bin/env python
"""Scale-stress harness for the heavy operator families.

Runs the dedup / clustering / ANN / spans pipelines on generated
slices (tools/gen_scaledata.py) at increasing scale, reports wall
times and the fitted log-log scaling exponent per query, and measures
the boundedness caps actually ENGAGING at the largest scale
(SEMDEDUP_CLUSTER_CAP sub-splitting clusters, SHINGLE_DF_CAP dropping
saturated shingles, POSTINGS_CAP truncating posting lists).

Usage:
  python tools/gen_scaledata.py 0.1 /tmp/scaledata/s010
  python tools/gen_scaledata.py 0.3 /tmp/scaledata/s030
  python tools/gen_scaledata.py 1.0 /tmp/scaledata/s100
  python tools/scale_stress.py /tmp/scaledata/s010 /tmp/scaledata/s030 \
      /tmp/scaledata/s100

Flags (r7; note the ``=`` form — the arg loop only splits on ``=``,
a space-separated value would be read as a scale dir):
  --queries=a,b,c    scope the run to these queries (default: the
                     original heavy-family list below)
  --size-table=T     table whose row count is the scaling n
                     (default documents; use lineitem for graph runs,
                     events for the user-window family)
  --no-caps          skip the cap-engagement block (it needs
                     embeddings + the dedup fixtures; scoped text/
                     graph/events runs don't)

Adversarial graph topologies (r12 — the planted worst cases, run
WITHOUT scale dirs):
  --topology=star,path,giant   generate each topology at each size and
                               time the graph family on it directly
                               (edges= injection, no lineitem build)
  --graph-sizes=30000,100000   node counts per topology

  star  = one hub adjacent to every node (max degree skew: the wedge
          explosion the degree orientation must neutralize)
  path  = depth n (diameter ≫ rounds: the shape pointer jumping must
          cover logarithmically)
  giant = ~3n deterministic hash edges (one giant component, the
          percolated regime)

Prints one JSON object. Run on an otherwise-idle machine (timings).
"""

from __future__ import annotations

import gc
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",
    "cluster_embeddings_kmeans",
    "semdedup_embeddings",
    "similarity_ann_ivf",
    "text_inverted_index",
]


def _topology_edges(spark, kind: str, n: int):
    """Deterministic adversarial edge list (u, v) for ``kind`` at n
    nodes — built with spark.range so no driver-side list exists."""
    from pyspark.sql import functions as F

    if kind == "star":
        return spark.range(1, n + 1).select(
            F.lit(0).cast("long").alias("u"), F.col("id").alias("v")
        )
    if kind == "path":
        return spark.range(n).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
    if kind == "giant":
        # ~3n pseudorandom edges (xxhash64 endpoints — a LINEAR id map
        # here would produce an arithmetic, triangle-free, huge-diameter
        # structure, not G(n, m)): avg degree ~6, far above the
        # percolation threshold, so one giant component with log-ish
        # diameter and real triangles; deterministic (seeded hash)
        return (
            spark.range(3 * n)
            .select(
                F.pmod(F.xxhash64(F.col("id")), F.lit(n)).alias("u"),
                F.pmod(F.xxhash64(F.col("id") + 3_000_000_000), F.lit(n)).alias(
                    "v"
                ),
            )
            .filter(F.col("u") != F.col("v"))
        )
    raise SystemExit(f"unknown topology {kind!r}")


def _run_topologies(kinds: list[str], sizes: list[int]) -> None:
    """Time the graph family on planted worst-case topologies and fit
    per-(op, topology) scaling exponents. Operators take the edge list
    directly (edges= injection), so this measures the ITERATION /
    JOIN machinery, not the lineitem edge build. Every planted graph is
    below ``graph.LOCAL_GRAPH_EDGES``, so the gate is set to 0 for the
    run: the operators take their distributed rounds, not the numpy
    driver tail."""
    import math
    import time as _time

    from map_reduce_lite_spark.lineage import materialize
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import (
        connected_components,
        kcore_parts,
        label_propagation_parts,
        triangle_parts,
    )
    from map_reduce_lite_spark.session import get_spark

    spark = get_spark(app_name="mrl_topology_stress")
    ops = {
        "components": lambda e: connected_components(e, src="u", dst="v"),
        "triangles": lambda e: triangle_parts(spark, sf_dir="", edges=e),
        "kcore": lambda e: kcore_parts(spark, sf_dir="", edges=e),
        "lpa": lambda e: label_propagation_parts(spark, sf_dir="", edges=e),
    }
    out: dict = {"sizes": sizes, "topologies": {}}
    local_gate = graph.LOCAL_GRAPH_EDGES
    graph.LOCAL_GRAPH_EDGES = 0  # distributed rounds at every size
    try:
        for kind in kinds:
            rows: dict = {}
            for n in sizes:
                edges = materialize(_topology_edges(spark, kind, n), eager=True)
                for op_name, fn in ops.items():
                    fn(edges).count()  # warm
                    gc.collect()
                    spark.sparkContext._jvm.System.gc()
                    t0 = _time.perf_counter()
                    res = fn(edges).count()
                    sec = round(_time.perf_counter() - t0, 3)
                    rows.setdefault(op_name, {})[n] = {"sec": sec, "rows": res}
                    if op_name == "components":
                        rows[op_name][n]["rounds"] = connected_components.last_rounds
            exps = {}
            for op_name, per_n in rows.items():
                t0, t1 = per_n[sizes[0]]["sec"], per_n[sizes[-1]]["sec"]
                exps[op_name] = round(
                    math.log(max(t1, 1e-3) / max(t0, 1e-3))
                    / math.log(sizes[-1] / sizes[0]),
                    2,
                )
            out["topologies"][kind] = {"times": rows, "exponents": exps}
    finally:
        graph.LOCAL_GRAPH_EDGES = local_gate
    print(json.dumps(out, indent=1))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    queries = list(QUERIES)
    size_table = "documents"
    run_caps = True
    topologies: list[str] = []
    graph_sizes = [30000, 100000]
    dirs: list[str] = []
    for a in args:
        if a.startswith("--queries="):
            queries = [q for q in a.split("=", 1)[1].split(",") if q]
        elif a.startswith("--size-table="):
            size_table = a.split("=", 1)[1]
        elif a.startswith("--topology="):
            topologies = [t for t in a.split("=", 1)[1].split(",") if t]
        elif a.startswith("--graph-sizes="):
            graph_sizes = [int(x) for x in a.split("=", 1)[1].split(",") if x]
        elif a == "--no-caps":
            run_caps = False
        else:
            dirs.append(a)
    if topologies:
        _run_topologies(topologies, graph_sizes)
        return
    assert len(dirs) >= 2, "need >= 2 scale dirs"
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.relational.tables import load_table
    from map_reduce_lite_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="mrl_scale_stress")
    qs = entry_mod.queries()
    sizes: dict[str, int] = {}
    times: dict[str, dict[str, float]] = {q: {} for q in queries}
    for d in dirs:
        sizes[d] = load_table(spark, d, size_table).count()
        for name in queries:  # warm pass per scale
            qs[name](spark, d).count()
        for name in queries:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, d).count()
                best = min(best, time.perf_counter() - t0)
            times[name][d] = round(best, 3)

    # fitted exponent: slope of log(time) vs log(n_rows), first->last
    exponents = {}
    for name in queries:
        t0, t1 = times[name][dirs[0]], times[name][dirs[-1]]
        n0, n1 = sizes[dirs[0]], sizes[dirs[-1]]
        exponents[name] = round(math.log(t1 / t0) / math.log(n1 / n0), 2)

    if not run_caps:
        print(json.dumps(
            {"sizes": sizes, "times": times, "exponents": exponents}, indent=1
        ))
        spark.stop()
        return

    # --- cap engagement at the largest scale -------------------------
    big = dirs[-1]
    from map_reduce_lite_spark.lineage import materialize
    from map_reduce_lite_spark.ops import clustering
    from map_reduce_lite_spark.ops.dedup import SHINGLE_DF_CAP, shingles
    from map_reduce_lite_spark.ops.index import MIN_DF, POSTINGS_CAP
    from map_reduce_lite_spark.registry import mrl_lower, ws_tokens
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, big, "embeddings")
    assign = materialize(
        clustering.kmeans_assignments(spark, big).select("vec_id", "cluster"),
        eager=True,
    )
    cluster_sizes = [
        r["n"] for r in assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    default_cap = clustering.SEMDEDUP_CLUSTER_CAP
    caps = {}
    try:
        for cap_name, cap in (("default", default_cap), ("uncapped", 1 << 30)):
            # _semdedup_pairs reads the cap when it builds the plan
            clustering.SEMDEDUP_CLUSTER_CAP = cap
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            n_pairs = clustering._semdedup_pairs(emb, assign).count()
            caps[cap_name] = {"pairs": n_pairs, "sec": round(time.perf_counter() - t0, 3)}
    finally:
        clustering.SEMDEDUP_CLUSTER_CAP = default_cap

    docs = load_table(spark, big, "documents")
    sh = shingles(docs)
    shingle_df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    n_shingles = shingle_df.count()
    n_dropped = shingle_df.filter(F.col("df") > SHINGLE_DF_CAP).count()

    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(ws_tokens(mrl_lower("text")))).alias("token")
    )
    tok_df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_tokens = tok_df.filter(F.col("df") >= MIN_DF).count()
    n_truncated = tok_df.filter(F.col("df") > POSTINGS_CAP).count()

    print(
        json.dumps(
            {
                "sizes": sizes,
                "times": times,
                "exponents": exponents,
                "semdedup_cap": {
                    "cap": default_cap,
                    "cluster_sizes": sorted(cluster_sizes),
                    **caps,
                },
                "shingle_df_cap": {
                    "cap": SHINGLE_DF_CAP,
                    "distinct_shingles": n_shingles,
                    "dropped_over_cap": n_dropped,
                },
                "postings_cap": {
                    "cap": POSTINGS_CAP,
                    "index_tokens": n_tokens,
                    "truncated_lists": n_truncated,
                },
            },
            indent=1,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
