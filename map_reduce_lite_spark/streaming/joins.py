"""Stream-stream joins (time-bounded, watermark-scoped state).

The reference has no streaming at all (SURVEY.md §2.3); this completes
the driver-mandated streaming surface: windows, sessions, dedup,
stream-static enrichment (elsewhere in streaming/) and here the
stream-STREAM join.

Semantics: purchases matched to the same user's views within a trailing
time bound. The time-range predicate is what makes unbounded state
bounded — each side's watermark plus the range tells Spark exactly when
a buffered row can never match again and can be evicted. At 100 TB/day
this is the only join shape that survives: equality keys partition the
state, the range bounds its lifetime, RocksDB holds it off-heap.

Correctness: availableNow drain must equal the identical batch join —
tests/test_streaming.py::test_stream_stream_join_equals_batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from map_reduce_lite_spark.streaming.windows import WATERMARK

LAG = "1 hour"


def purchase_view_join(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """Each purchase joined to the user's views in the ``LAG`` window
    before it (inclusive bounds on both ends).

    Works for streaming AND batch inputs — the plan is the same
    expression either way, which is what the equivalence test exploits.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", WATERMARK)
    if views.isStreaming:
        v = v.withWatermark("v_ts", WATERMARK)
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {LAG}"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    return p.join(v, cond).select(
        F.col("p_user").alias("user_id"), "purchase_id", "p_ts", "view_id", "v_ts"
    )
