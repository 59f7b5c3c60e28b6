"""Custom stateful streaming operator: session windows via
``applyInPandasWithState``.

The batch twin is relational/queries.sessionize_events (gaps-and-islands
windows); this is the streaming form a real pipeline runs: state is one
open session per user, closed when the inactivity gap exceeds the
timeout. State size is O(active users) — watermark-driven timeouts evict
idle users, which is what keeps this viable on an unbounded 100 TB/day
stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from map_reduce_lite_spark.relational.queries import SESSION_GAP_MS

# late-data horizon of the session state
WATERMARK = "1 hour"

_STATE_SCHEMA = "start_ms long, last_ms long, n_events long"
_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def sessionize_stream(events: DataFrame, timeout: str = "processing") -> DataFrame:
    """Streaming sessionization: one state row per user, sessions emitted
    as they update (closed=True when finalized by gap/timeout).

    ``timeout="processing"`` (production default) evicts idle users via
    ProcessingTimeTimeout — required on an unbounded stream, but it makes
    an ``availableNow`` drain spin "cleaning up state" batches until the
    30-minute timer fires. ``timeout="none"`` disables eviction so a
    finite drain terminates after the data batches — the mode the
    driver/oracle harness uses (state boundedness doesn't matter for a
    finite replay).

    The state function is a self-contained closure so cloudpickle ships
    it by value (executor workers lack the engine package on sys.path)."""
    gap_ms = SESSION_GAP_MS
    use_timeout = timeout == "processing"

    def update_sessions(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        (user_id,) = key
        rows = []
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            rows.append((user_id, start_ms, last_ms, n, True))
            state.remove()
        else:
            ts_ms = []
            for pdf in pdfs:
                ts_ms.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
            ts_ms.sort()
            if state.exists:
                start_ms, last_ms, n = state.get
            else:
                start_ms, last_ms, n = ts_ms[0], ts_ms[0] - 1, 0
            for t in ts_ms:
                if t - last_ms > gap_ms and n > 0:
                    rows.append((user_id, start_ms, last_ms, n, True))
                    start_ms, n = t, 0
                last_ms = t
                n += 1
            state.update((start_ms, last_ms, n))
            if use_timeout:
                state.setTimeoutDuration(gap_ms)
            rows.append((user_id, start_ms, last_ms, n, False))
        yield _pd.DataFrame(
            rows, columns=["user_id", "start_ms", "end_ms", "n_events", "closed"]
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_sessions,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
