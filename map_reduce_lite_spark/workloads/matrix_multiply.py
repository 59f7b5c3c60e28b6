"""Sparse matrix multiply (reference workloads ``matrix-multiply-1/2``).

Reference semantics (workload/src/matrix_multiply.rs): cells are text
triples ``row col value matrix`` with matrix ∈ {A, B}. Phase 1 keys
A-cells by column and B-cells by row, then does a nested-loop join inside
each reduce group emitting partial products (i, j, a*b). Phase 2 re-keys
by (i, j) and sums.

Spark-first translation: the whole two-phase dance is ONE query —
``A.join(B, A.col == B.row).groupBy(i, j).agg(sum(a*b))``. Catalyst picks
broadcast-hash when one matrix is small and sort-merge otherwise; AQE
splits skewed join keys (a dense column in A). The reference's manual
tagging (matrix_multiply.rs:29-44) and per-key nested loop (54-96) are
exactly what a shuffle join does, minus the optimizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from map_reduce_lite_spark.registry import ws_split


def matrix_multiply(cells: DataFrame) -> DataFrame:
    """C = A @ B from a cells DataFrame (row, col, value, matrix).

    Returns (i, j, value) — one row per nonzero output cell.
    """
    a = cells.filter(F.col("matrix") == "A").select(
        F.col("row").alias("i"), F.col("col").alias("k"), F.col("value").alias("a_val")
    )
    b = cells.filter(F.col("matrix") == "B").select(
        F.col("row").alias("k"), F.col("col").alias("j"), F.col("value").alias("b_val")
    )
    prods = a.join(b, "k").select("i", "j", (F.col("a_val") * F.col("b_val")).alias("p"))
    return prods.groupBy("i", "j").agg(F.sum("p").alias("value"))


def matrix_multiply_phase1(cells: DataFrame) -> DataFrame:
    """Output-compatible with the reference's phase-1 job: raw partial
    products tagged 'C' (matrix_multiply.rs:88), for chained two-phase runs
    (workload_test.sh:24-29)."""
    a = cells.filter(F.col("matrix") == "A").select(
        F.col("row").alias("i"), F.col("col").alias("k"), F.col("value").alias("a_val")
    )
    b = cells.filter(F.col("matrix") == "B").select(
        F.col("row").alias("k"), F.col("col").alias("j"), F.col("value").alias("b_val")
    )
    return a.join(b, "k").select(
        F.col("i").alias("row"),
        F.col("j").alias("col"),
        (F.col("a_val") * F.col("b_val")).alias("value"),
        F.lit("C").alias("matrix"),
    )


def matrix_multiply_phase2(partials: DataFrame) -> DataFrame:
    """Sum partial products per output cell (matrix_multiply.rs:125-152)."""
    return (
        partials.groupBy(F.col("row").alias("i"), F.col("col").alias("j"))
        .agg(F.sum("value").alias("value"))
    )


def parse_triples(spark, input_glob: str) -> DataFrame:
    """Parse the reference's text format ``row col value matrix``
    (matrix_multiply.rs:19-28)."""
    parts = (
        spark.read.text(input_glob)
        .select(ws_split("value").alias("p"))
        .filter(F.size("p") == 4)
    )
    return parts.select(
        F.col("p")[0].cast("long").alias("row"),
        F.col("p")[1].cast("long").alias("col"),
        F.col("p")[2].cast("double").alias("value"),
        F.col("p")[3].alias("matrix"),
    )


def format_output(df: DataFrame) -> DataFrame:
    """Reference output format ``"{i} {j} {val} C"`` (matrix_multiply.rs:140-147)."""
    return df.select(F.format_string("%d %d %s C", "i", "j", F.col("value").cast("string")).alias("value"))
