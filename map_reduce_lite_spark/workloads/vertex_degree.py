"""Vertex degree (reference workload ``vertex-degree``).

Reference semantics (workload/src/vertex_degree.rs:11-61): each input line
is ``src<ws>dst``; emit (src, 1) and (dst, 1); sum per vertex (undirected
degree — self-loops count twice); output ``"{vertex}, deg={n}"``.

Spark-first translation: ``explode(array(src, dst))`` → ``groupBy.count``.
The explode is narrow; the single shuffle is the count aggregation with
map-side partial aggregation. Vertex-degree on a 100 TB edge list is
shuffle-bound on distinct vertices only — skewed hubs are handled by the
partial agg (each map task emits one row per distinct vertex it saw).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from map_reduce_lite_spark.registry import ws_split


def vertex_degree(df: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(vertex, degree) from an edge-list DataFrame."""
    vertices = df.select(
        F.explode(F.array(F.col(src_col).cast("long"), F.col(dst_col).cast("long"))).alias(
            "vertex"
        )
    )
    return vertices.groupBy("vertex").agg(F.count(F.lit(1)).alias("degree"))


def vertex_degree_lines(spark, input_glob: str) -> DataFrame:
    """File-facing parity form: whitespace-separated ``src dst`` text lines."""
    edges = (
        spark.read.text(input_glob)
        .select(ws_split("value").alias("parts"))
        .filter(F.size("parts") >= 2)
        .select(
            F.col("parts")[0].cast("long").alias("src"),
            F.col("parts")[1].cast("long").alias("dst"),
        )
    )
    return vertex_degree(edges)


def format_output(df: DataFrame) -> DataFrame:
    """Reference output format ``"{v}, deg={n}"`` (vertex_degree.rs:59)."""
    return df.select(F.format_string("%d, deg=%d", "vertex", "degree").alias("value"))
