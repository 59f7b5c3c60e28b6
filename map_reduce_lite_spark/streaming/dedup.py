"""Streaming dedup + stream-static enrichment.

Training-data pipelines ingest continuously; exact dedup and dimension
enrichment are the two ops every ingest stream runs before anything
else touches the data.

Scale notes: ``dropDuplicatesWithinWatermark`` keeps one state row per
key and EVICTS keys older than the watermark — state is bounded by the
key arrival rate × horizon, not by stream history (plain
``dropDuplicates`` on a stream grows state forever — never ship that).
The stream-static join re-reads the dim per micro-batch; broadcast it
(small dims) or snapshot it into the state store (Delta/Iceberg CDC) for
big dims — the plan here broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from map_reduce_lite_spark.streaming.windows import WATERMARK


def dedup_stream(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Exact streaming dedup: first arrival of each key wins; duplicates
    arriving within the watermark horizon are dropped, state for keys
    older than the horizon is evicted."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)


def enrich_stream(stream: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static left join — each micro-batch joins against the
    (broadcast) current dim snapshot; no stream-side state at all."""
    return stream.join(F.broadcast(dim), on=on, how="left")
