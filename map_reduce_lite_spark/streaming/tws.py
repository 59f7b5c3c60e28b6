"""transformWithStateInPandas operator — Spark 4's arbitrary-stateful
streaming API (typed state + event-time timers), exercised end-to-end.

The operator: per-user running purchase totals emitted in EVENT-TIME
order even though micro-batches deliver rows in arbitrary order. This
is the canonical thing `applyInPandasWithState` cannot express cleanly
and the new API can: buffer out-of-order rows in ListState, register an
event-time TIMER at the earliest buffered timestamp, and only when the
watermark proves the prefix complete does the timer fire and emit that
prefix in order, updating a ValueState running sum. State is
watermark-bounded: every buffered row is released by the first timer
firing past it.

Determinism: amounts are scaled to exact int64 (decimal 1e4) BEFORE the
Python boundary, per-key emission sorts on (ts, event_id), and the
closed-world cutoff (max purchase ts - watermark - 1s, same device as
streaming_purchase_view_left) guarantees the availableNow drain emits
exactly the batch window-cumsum oracle.

At 100 TB: state per key is O(out-of-order window), not O(stream) —
the watermark both bounds the buffer and schedules its drain. RocksDB
state store holds the ListStates off-heap; timers are per-key and fire
on watermark advance, so emission cost tracks event-time progress, not
batch count.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F


def streaming_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-ordered per-user running totals via
    transformWithStateInPandas (ListState buffer + ValueState sum +
    event-time timers)."""
    # imported here: windows registers this builder at import time
    from map_reduce_lite_spark.streaming.windows import (
        WATERMARK,
        _closed_world_cutoff,
        _stage_events,
        drain,
        events,
    )

    purchase = F.col("event_type") == "purchase"
    cutoff = _closed_world_cutoff(
        spark.read.parquet(_stage_events(spark, sf_dir)).filter(purchase),
        timedelta(hours=2, seconds=1),  # watermark 2h + 1s
    )
    stream = (
        events(spark, sf_dir)
        .filter(purchase)
        .withWatermark("ts", WATERMARK)
        .filter(F.col("ts") <= F.lit(cutoff))
        .select(
            "user_id",
            "event_id",
            "ts",
            (F.col("value").cast("decimal(18,4)") * 10000)
            .cast("long")
            .alias("m"),
        )
    )

    # Self-contained processor: defined inside the builder so cloudpickle
    # serializes it by value (executors do not have the repo on sys.path).
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.buf = handle.getListState("buf", "event_id long, ts_us long, m long")
            self.total = handle.getValueState("total", "t long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd  # noqa: F401

            min_us = None
            to_add = []
            for pdf in rows:
                for eid, ts, m in zip(pdf["event_id"], pdf["ts"], pdf["m"]):
                    ts_us = int(ts.value // 1000)  # pandas ns -> us
                    to_add.append((int(eid), ts_us, int(m)))
                    if min_us is None or ts_us < min_us:
                        min_us = ts_us
            if to_add:
                self.buf.appendList(to_add)
            if min_us is not None:
                # fire once the watermark passes the earliest buffered row
                self.handle.registerTimer(min_us // 1000 + 1)
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            wm_ms = timerValues.getCurrentWatermarkInMs()
            buffered = sorted(
                ((r[0], r[1], r[2]) for r in self.buf.get()),
                key=lambda r: (r[1], r[0]),
            )
            ready = [r for r in buffered if r[1] // 1000 < wm_ms]
            rest = [r for r in buffered if r[1] // 1000 >= wm_ms]
            if not ready:
                return iter([])
            total = self.total.get()[0] if self.total.exists() else 0
            out = []
            for eid, ts_us, m in ready:
                total += m
                out.append((key[0], eid, ts_us, total))
            self.total.update((total,))
            if rest:
                self.buf.put(rest)
                self.handle.registerTimer(rest[0][1] // 1000 + 1)
            else:
                self.buf.clear()
            pdf = pd.DataFrame(
                out, columns=["user_id", "event_id", "ts_us", "running_e4"]
            )
            pdf["ts"] = pd.to_datetime(pdf.pop("ts_us"), unit="us")
            return iter([pdf[["user_id", "event_id", "ts", "running_e4"]]])

        def close(self) -> None:
            pass

    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotal(),
        outputStructType="user_id long, event_id long, ts timestamp, running_e4 long",
        outputMode="Append",
        timeMode="EventTime",
    )
    return drain(out, output_mode="append")


RUNNING_TOTAL_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
  FROM events
  WHERE event_type = 'purchase'
    AND ts <= (SELECT max(ts) FROM events WHERE event_type = 'purchase')
              - INTERVAL 2 HOUR - INTERVAL 1 SECOND
)
SELECT user_id, event_id, ts,
       SUM(m) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_e4
FROM p
"""
