"""Structured Streaming event-time windows, and the one availableNow
drain every streaming query runs through.

The reference has no streaming at all (SURVEY.md §2.3) — this is the
driver-mandated extension surface. Batch twins of these aggregations
live in relational/queries.py (events_hourly), so correctness is
checked by equivalence: run the stream with ``availableNow`` over the
same parquet and compare to the batch plan (tests/test_streaming.py).

Every query reads its input through ``events`` (the only
``readStream``) and finishes through ``run_drain`` (the only trigger
and ``awaitTermination``); ``drain`` is ``run_drain`` into a memory
table.

Scale notes: watermark bounds state; tumbling windows shuffle once on
(window, key); at 100 TB the state store should be RocksDB
(`spark.sql.streaming.stateStore.providerClass`) and the source a real
log (Kafka), not parquet — the plan shape is identical.
"""

from __future__ import annotations

import itertools
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

from map_reduce_lite_spark.relational.queries import SESSION_GAP_MS

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
# late-data horizon of the window, join, dedup and TWS operators
WATERMARK = "2 hours"
# state partitions of one drain (see run_drain)
STATE_PARTITIONS = 8
# longest any drain may run before its partial result is refused
DRAIN_TIMEOUT_S = 180
_DRAIN_IDS = itertools.count(1)


def events(spark: SparkSession, sf_dir: str, max_files: int | None = None) -> DataFrame:
    """The staged events (``_stage_events``) as a stream — the stand-in
    for a Kafka/log source. ``max_files`` splits the drain into
    micro-batches of that many files; unset, the drain is one batch,
    which the single-batch builders' emission depends on."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.parquet(_stage_events(spark, sf_dir))


def hourly_counts_stream(stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window with late-data watermark."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_stream(stream: DataFrame) -> DataFrame:
    """Sliding window (1 hour, sliding every 15 min) mean value per type."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("value")).alias(
                "avg_value"
            ),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "avg_value")
    )


def drain(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a stream through ``run_drain`` into a fresh in-memory table
    and return that table (complete mode suits the windowed
    aggregates)."""
    spark = df.sparkSession
    name = f"mrl_drain_{next(_DRAIN_IDS)}"
    run_drain(spark, df.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return spark.table(name)


def run_drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Run ``writer`` as one availableNow drain.

    Raises TimeoutError if the drain does not finish inside
    ``DRAIN_TIMEOUT_S`` — returning the partial sink would silently
    compare a truncated result against the oracle.

    Checkpoint checksums off: Spark 4's ChecksumCheckpointFileManager
    creates a dedicated thread pool PER state-store provider (one
    provider per state partition — 200 in a vanilla session), so a
    single multi-operator drain peaks at THOUSANDS of live
    `ChecksumCheckpoint` threads (measured 2675 in one in-flight drain)
    before any cleanup can run, exhausting kernel thread/map budgets
    for the whole process tree. The checksums detect long-lived
    checkpoint corruption — worthless for the throwaway temp-dir
    checkpoints of an availableNow drain, so they stay off for the
    session. A production always-on stream with a durable checkpoint
    should leave them enabled and size `spark.sql.shuffle.partitions`
    to the real cluster instead.

    State partitions bounded to ``STATE_PARTITIONS``: a stateful
    streaming operator instantiates one state-store provider per
    shuffle partition, and for a throwaway drain the per-provider
    checkpoint-file round-trips (delta file create/commit/maintenance
    per partition per micro-batch) dominate wall time, not the data:
    measured on the stream-stream left join at sf0.1, 32 partitions ≈
    5–8 s vs 8 partitions ≈ 2.4 s, identical results. The conf is read
    by the micro-batch thread when it plans the first batch (start() is
    async), so the restore happens only after the drain finishes. A
    production always-on stream sizes state partitions to the CLUSTER
    (long-lived state, partition count bounds parallelism — the
    opposite trade); this bound is strictly the drain path.
    SINGLE-THREADED ASSUMPTION: the conf rewrite is session-global, so
    any batch query planned CONCURRENTLY in the same session during a
    drain would silently plan with the bound. The harness runs queries
    sequentially; if concurrency is ever added, switch to a per-query
    option (df.repartition / writeStream option) instead of the session
    conf.

    State stores unloaded afterwards: each stateful drain leaves its
    HDFSBackedStateStoreProviders loaded in the executor JVM — ~4
    maintenance/commit threads per state partition, which at the
    vanilla 200 shuffle partitions is ~850 threads PER QUERY. A session
    that drains the whole streaming family accumulates thousands of
    threads and exhausts kernel/cgroup resources: measured in-session
    as DuckDB `bad_alloc` on KB-sized blocks and Python `can't start
    new thread` with >100 GB free RAM (~7000 JVM threads).
    `StateStore.stop()` unloads providers and stops their threads
    (measured 2611 -> 205); the registry re-creates everything lazily on
    the next stateful query, so this is safe between sequential drains —
    the availableNow checkpoint semantics are unaffected (state is
    re-read from the checkpoint, not from the unloaded cache).
    Local-JVM only: on a real cluster each executor bounds its own
    providers (partitions spread across the fleet) and long-RUNNING
    queries must NOT unload — this belongs strictly after a finished
    availableNow drain."""
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(prev), STATE_PARTITIONS)))
    try:
        query = writer.trigger(availableNow=True).start()
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        try:
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:
            pass  # cleanup must never fail the query result
    if not finished:
        raise TimeoutError(
            f"stream drain {query.name or query.id} did not finish within "
            f"{DRAIN_TIMEOUT_S}s; partial results discarded"
        )


def _closed_world_cutoff(frame: DataFrame, horizon: timedelta) -> datetime:
    """Latest ``ts`` of a static frame minus ``horizon``: the closed-world
    bound that keeps a static-input drain to rows whose window provably
    closes. One tiny batch agg — a harness bound for the static-input
    comparison; a production stream has no end and needs no cutoff. On
    an empty frame there is no row for the cutoff to filter, so any
    constant keeps the plan shape identical — epoch, for a well-typed
    literal."""
    maxts = frame.agg(F.max("ts")).collect()[0][0]
    return datetime(1970, 1, 1) if maxts is None else maxts - horizon


# --------------------------------------------------------------------------
# Driver-gate entry: the streaming hourly rollup, oracle-checked
# --------------------------------------------------------------------------

def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup computed BY THE STREAMING ENGINE (readStream →
    watermark → tumbling window → availableNow drain into a memory sink),
    returned as the drained batch result.

    Shares an oracle with the batch twin (events_hourly): Spark
    guarantees availableNow over a static source produces exactly the
    batch aggregation, so the same DuckDB SQL checks the streaming path.
    The window start equals date_trunc('hour', ts) for 1-hour tumbling.

    The nanos-timestamp source is re-encoded once per sf_dir to µs
    parquet (readStream's schema path can't apply the nanos legacy conf);
    at scale the source is a log (Kafka) and this step disappears.
    """
    return drain(hourly_counts_stream(events(spark, sf_dir, max_files=4)))


TRENDING_K = 3


def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: the streamed hourly rollup ranked per hour at
    the SERVING layer — top TRENDING_K event types per hour by count
    (ties → type ASC).

    Rank is deliberately OUTSIDE the stream: Structured Streaming
    cannot run a rank window mid-stream (non-time-based window over an
    aggregated stream is unsupported), so production ranks in the
    serving read / foreachBatch over the continuously-maintained
    state — exactly what this does over the drained aggregate. Scale:
    the streaming side is the same single stateful hourly aggregation;
    the rank runs on #hours × #types rows, partitioned by hour —
    millions of tiny partitions, no skew, no global sort."""
    from pyspark.sql import Window

    hourly = streaming_events_hourly(spark, sf_dir)
    w = Window.partitionBy("hour_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TRENDING_K)
        .select(
            "hour_start",
            "event_type",
            "n_events",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _trending_sql() -> str:
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
)
SELECT hour_start, event_type, n_events,
       CAST(row_number() OVER (PARTITION BY hour_start
                               ORDER BY n_events DESC, event_type ASC)
            AS INT) AS rnk
FROM hourly
QUALIFY rnk <= {TRENDING_K}
"""


def multires_rollup_stream(stream: DataFrame) -> DataFrame:
    """Explode each event into its hour/day/month (resolution, bucket)
    memberships, then ONE stateful aggregation maintains all three
    resolutions. Shared by the complete-mode oracle drain
    (streaming_rollup_multires) and the update-mode foreachBatch upsert
    serving pattern (tests/test_streaming.py)."""
    membership = F.explode(
        F.array(
            F.struct(
                F.lit("hour").alias("resolution"),
                F.date_trunc("hour", "ts").alias("bucket_start"),
            ),
            F.struct(
                F.lit("day").alias("resolution"),
                F.date_trunc("day", "ts").alias("bucket_start"),
            ),
            F.struct(
                F.lit("month").alias("resolution"),
                F.date_trunc("month", "ts").alias("bucket_start"),
            ),
        )
    )
    return (
        stream.select(membership.alias("m"), "event_type", "value")
        .select("m.resolution", "m.bucket_start", "event_type", "value")
        .groupBy("resolution", "bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


def streaming_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hour/day/month rollup maintained BY THE STREAMING
    ENGINE — the continuous-aggregate form of events_rollup_multires.

    Streaming aggregation can't use GROUPING SETS, so each event is
    exploded into its 3 (resolution, bucket_start) memberships BEFORE a
    single groupBy — the same Expand-then-aggregate physical shape the
    batch GROUPING SETS plan produces, and the same trick the sliding
    oracle uses. One stateful aggregation maintains all three
    resolutions; complete-mode drain for the deterministic oracle
    replay. Production shape: per-resolution append-mode queries (or
    foreachBatch upserts into the serving table) so watermarks can
    evict closed buckets; state here is O(distinct buckets × types),
    which for hour-grain on years of data is what the coarser grains
    amortize.

    Oracle: shares EVENTS_MULTIRES_SQL with the batch twin —
    availableNow over a static source equals the batch aggregation."""
    return drain(multires_rollup_stream(events(spark, sf_dir, max_files=4)))


def streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h window / 15 min slide) mean value per type,
    computed by the streaming engine and drained with availableNow.

    Oracle: each event belongs to exactly 4 sliding windows — the ones
    starting at floor_15m(ts) - k·15 min for k = 0..3 — so the SQL twin
    explodes each row into its 4 windows and aggregates; this is also
    exactly how Spark's physical plan expands sliding windows (Expand →
    one shuffle), so plan shape and oracle agree."""
    return drain(sliding_value_stream(events(spark, sf_dir, max_files=4)))


EVENTS_SLIDING_SQL = """
WITH exploded AS (
  -- make_timestamp(µs) is timezone-free; to_timestamp would round-trip
  -- through TIMESTAMPTZ and silently depend on the host session TimeZone
  SELECT make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900)
                        * 1000000) AS win_start,
         event_type, value
  FROM events, LATERAL unnest(generate_series(0, 3)) AS k(k)
)
SELECT win_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value
FROM exploded
GROUP BY 1, 2
"""


def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the nanos-timestamp events as µs parquet, once per source
    CONTENT: the cache key includes a fingerprint of the source file
    sizes+mtimes, so regenerated data under the same path re-stages, and
    the write goes to a unique temp dir atomically renamed into place so
    concurrent runs can't interleave partial output."""
    import os
    import re
    import shutil
    import uuid

    from map_reduce_lite_spark.relational.tables import load_table

    src = os.path.join(sf_dir, "events.parquet")
    stats = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            stats += [os.stat(os.path.join(root, f)) for f in sorted(files)]
    else:
        stats = [os.stat(src)]
    fp = f"{sum(s.st_size for s in stats)}_{max(s.st_mtime_ns for s in stats)}"
    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")
    staged = f"/tmp/mrl_stream_events_{tag}_{fp}"
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        # Sweep tmp dirs leaked by crashed prior runs. Age-gated so a
        # LIVE concurrent writer's tmp dir is never pulled out from
        # under it mid-write.
        import glob
        import time

        for stale in glob.glob(f"{staged}.tmp.*"):
            try:
                if time.time() - os.path.getmtime(stale) > 3600:
                    shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass
        tmp = f"{staged}.tmp.{uuid.uuid4().hex[:8]}"
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, staged)
        except OSError:
            # Two distinct causes land here: a concurrent run won the
            # rename race (fine — use theirs), or the rename itself
            # failed (EXDEV, permissions, ...). Only discard our fresh
            # data once the winner is PROVEN complete; otherwise
            # swallowing the error would return a nonexistent path.
            if os.path.exists(os.path.join(staged, "_SUCCESS")):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
    return staged


def streaming_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded stream-STREAM join run by the streaming engine
    (watermarked both sides, append-mode availableNow drain); the oracle
    is the identical time-range join in plain SQL."""
    from map_reduce_lite_spark.streaming.joins import purchase_view_join

    p = events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    v = events(spark, sf_dir).filter(F.col("event_type") == "view")
    return drain(purchase_view_join(p, v), output_mode="append")


PURCHASE_VIEW_JOIN_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
       v.event_id AS view_id, v.ts AS v_ts
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def streaming_purchase_view_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the watermark-driven semantics
    an inner join can't show: a purchase with NO view in the preceding
    hour emits a null-padded row only once the watermark proves no
    matching view can still arrive (state eviction), in a no-data
    micro-batch after the last file.

    Closed-world bound: outer rows whose join window is still open at
    end-of-stream are (correctly) withheld by the engine, so to compare
    against a batch oracle the purchase side is restricted to rows whose
    window provably closes: p_ts <= max(ts) - (watermark + lag + 1s)
    (``_closed_world_cutoff``). Watermarks are applied BEFORE the type
    filter so both sides' watermarks track the full event stream and
    advance identically."""
    cutoff = _closed_world_cutoff(
        spark.read.parquet(_stage_events(spark, sf_dir)),
        timedelta(hours=3, seconds=1),  # watermark 2h + lag 1h + 1s
    )
    p = (
        events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .filter((F.col("event_type") == "purchase") & (F.col("ts") <= F.lit(cutoff)))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    joined = p.join(v, cond, "leftOuter").select(
        F.col("p_user").alias("user_id"), "purchase_id", "p_ts", "view_id", "v_ts"
    )
    return drain(joined, output_mode="append")


PURCHASE_VIEW_LEFT_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
       v.event_id AS view_id, v.ts AS v_ts
FROM (SELECT * FROM events
      WHERE event_type = 'purchase'
        AND ts <= (SELECT max(ts) FROM events)
                  - INTERVAL 3 HOUR - INTERVAL 1 SECOND) p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator under the value oracle:
    ``applyInPandasWithState`` sessionization (streaming/sessions.py)
    drained with availableNow in a single batch.

    Single-batch draining makes the emission deterministic: every
    finished session per user is emitted closed=TRUE and the still-open
    trailing session closed=FALSE, which is exactly the batch
    gaps-and-islands sessionization (relational SESSIONIZE_SQL) plus a
    "was it the last session" flag — so even this non-SQL operator gets
    a full DuckDB hash oracle. Tie order within a timestamp doesn't
    affect session membership (ties have gap 0), so the ms-granularity
    result is engine-order independent."""
    from map_reduce_lite_spark.streaming.sessions import sessionize_stream

    sessions = sessionize_stream(events(spark, sf_dir), timeout="none")
    return drain(sessions, output_mode="append").select(
        "user_id", "start_ms", "end_ms", "n_events", "closed"
    )


STREAMING_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id,
         MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
         COUNT(*) AS n_events
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, start_ms, end_ms, n_events,
       session_id <> MAX(session_id) OVER (PARTITION BY user_id) AS closed
FROM sess
"""


def streaming_serving_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION serving shape for the continuous aggregate, end to
    end: update-mode multi-resolution rollup → foreachBatch appends
    version-stamped rows to a parquet serving table → latest-version
    view. The append + latest-version-wins read is the plain-parquet
    stand-in for a Delta/Iceberg MERGE target.

    Update mode emits each key's CUMULATIVE state whenever a batch
    touches it, so after an availableNow drain the highest-version row
    per key is that key's final aggregate — which is why the batch
    GROUPING SETS rollup (EVENTS_MULTIRES_SQL) is an exact oracle for
    the served view. Scale: the stream side is the same single stateful
    aggregation as streaming_rollup_multires; the serving read prunes
    to one row per key with a window rank, which a real lakehouse table
    replaces with MERGE (no read-side rank at all)."""
    import tempfile

    from pyspark.sql import Window

    serving_dir = tempfile.mkdtemp(prefix="mrl_serving_upsert_")

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        bdf.withColumn("_v", F.lit(batch_id)).write.mode("append").parquet(serving_dir)

    rollup = multires_rollup_stream(events(spark, sf_dir, max_files=4))
    run_drain(spark, rollup.writeStream.outputMode("update").foreachBatch(upsert))
    w = Window.partitionBy("resolution", "bucket_start", "event_type").orderBy(
        F.desc("_v")
    )
    return (
        spark.read.parquet(serving_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("resolution", "bucket_start", "event_type", "n_events", "sum_value")
    )


def streaming_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window — the JVM-tier
    sibling of the applyInPandasWithState operator (streaming_sessionize).

    When the per-session logic is a plain aggregate, the built-in
    session window keeps the whole operator inside the streaming
    engine's state store and codegen — no Python workers, no Arrow
    transfer — which is the first-choice form at 100 TB; the Pandas
    stateful op remains for logic a built-in can't express. Spark's
    session end is last_event + gap, so end_ms subtracts the gap back
    to the last-event timestamp, making the output exactly the batch
    gaps-and-islands session set (same oracle family as the custom op,
    minus its open/closed flag — complete-mode drain finalizes all)."""
    sessions = (
        events(spark, sf_dir, max_files=4)
        .withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MS} milliseconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("start_ms"),
            (F.unix_millis(F.col("w.end")) - F.lit(SESSION_GAP_MS)).alias(
                "end_ms"
            ),
            "n_events",
        )
    )
    return drain(sessions)


SESSIONIZE_NATIVE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) on
    (user_id, event_type): first arrival per key wins, later duplicates
    within the watermark horizon are dropped, old key state is evicted —
    the bounded-state form every ingest stream needs (plain
    dropDuplicates grows state forever).

    Only the KEY columns are returned: which physical row wins a
    within-batch race is not deterministic, but the surviving key set
    is — and it is exactly SELECT DISTINCT, giving the stateful operator
    a hash oracle."""
    from map_reduce_lite_spark.streaming.dedup import dedup_stream

    keys = ["user_id", "event_type"]
    kept = dedup_stream(events(spark, sf_dir), keys).select(*keys)
    return drain(kept, output_mode="append")


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_enrich_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream left-joined per
    micro-batch against the (broadcast) customer dimension — zero
    stream-side state; events.user_id ⊆ customer.c_custkey in the test
    data so the oracle is a plain join."""
    from map_reduce_lite_spark.relational.tables import load_table
    from map_reduce_lite_spark.streaming.dedup import enrich_stream

    stream = events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    enriched = enrich_stream(stream, dim, ["user_id"]).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    return drain(enriched, output_mode="append")


STREAMING_ENRICH_SQL = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
"""


HLL_RSD = 0.05
HLL_TOL = 3 * HLL_RSD
# HLL register quantization makes the error ±O(1) ABSOLUTE at tiny
# cardinalities (measured: 5→4, 17→14 per-hour users at sf0.01), where
# any relative bound is vacuous — the standard acceptance is
# max(relative, small absolute slack)
HLL_ABS_TOL = 4


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user cardinality maintained by the STREAMING
    engine via HyperLogLog++ state (approx_count_distinct).

    Exact COUNT(DISTINCT) is not executable as streaming state — the
    state would be the full per-window key set — which is precisely why
    the mergeable-KB HLL sketch is THE streaming cardinality operator.
    The drained estimates are then audited against the exact per-window
    counts from a batch pass over the same staged source, and the
    output carries the exactly-replayable columns (exact_users,
    n_events) plus within_tolerance — the oracle asserts TRUE, so a
    sketch regression past max(3·rsd relative, ±HLL_ABS_TOL absolute —
    register quantization dominates tiny windows) hash-fails the
    driver compare (same contract as sketch_distinct_tokens)."""
    streamed = drain(
        events(spark, sf_dir, max_files=4)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("approx_users"))
        .select(F.col("win.start").alias("hour_start"), "approx_users")
    )
    exact = (
        spark.read.parquet(_stage_events(spark, sf_dir))
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    within = (err / F.col("exact_users") <= F.lit(HLL_TOL)) | (
        err <= F.lit(HLL_ABS_TOL)
    )
    return streamed.join(exact, "hour_start").select(
        "hour_start", "exact_users", "n_events", within.alias("within_tolerance")
    )


STREAMING_DISTINCT_USERS_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
         AS hour_start,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS within_tolerance
FROM events
GROUP BY 1
"""


def _multires_oracle() -> str:
    from map_reduce_lite_spark.relational.queries3 import EVENTS_MULTIRES_SQL

    return EVENTS_MULTIRES_SQL


def _streaming_queries():
    from map_reduce_lite_spark.registry import Query
    from map_reduce_lite_spark.relational.queries import EVENTS_HOURLY_SQL
    queries = {}
    # transformWithStateInPandas (Spark 4 arbitrary-stateful API) needs
    # google.protobuf for its state-server protocol; this sandbox ships
    # no protobuf and has no pip/network. The operator is implemented
    # and registered whenever the dependency exists; tests/test_tws.py
    # pins the exact blocker otherwise (same posture as S3A in
    # tests/test_s3a.py).
    try:
        import google.protobuf  # noqa: F401

        from map_reduce_lite_spark.streaming.tws import (
            RUNNING_TOTAL_SQL,
            streaming_running_total,
        )

        queries["streaming_running_total_tws"] = Query(
            "streaming_running_total_tws",
            streaming_running_total,
            RUNNING_TOTAL_SQL,
            "transformWithStateInPandas: ListState + event-time timers == window cumsum oracle",
        )
    except ImportError:
        pass

    return {
        **queries,
        "streaming_events_hourly": Query(
            "streaming_events_hourly",
            streaming_events_hourly,
            EVENTS_HOURLY_SQL,
            "Structured Streaming tumbling window == batch oracle",
        ),
        "streaming_events_sliding": Query(
            "streaming_events_sliding",
            streaming_events_sliding,
            EVENTS_SLIDING_SQL,
            "Structured Streaming sliding window == exploded-window oracle",
        ),
        "streaming_rollup_multires": Query(
            "streaming_rollup_multires",
            streaming_rollup_multires,
            _multires_oracle(),
            "streaming hour/day/month continuous aggregate == batch GROUPING SETS oracle",
        ),
        "streaming_serving_upsert": Query(
            "streaming_serving_upsert",
            streaming_serving_upsert,
            _multires_oracle(),
            "foreachBatch upsert serving table == batch GROUPING SETS oracle",
        ),
        "streaming_purchase_view_join": Query(
            "streaming_purchase_view_join",
            streaming_purchase_view_join,
            PURCHASE_VIEW_JOIN_SQL,
            "stream-stream time-range join == batch SQL oracle",
        ),
        "streaming_purchase_view_left": Query(
            "streaming_purchase_view_left",
            streaming_purchase_view_left,
            PURCHASE_VIEW_LEFT_SQL,
            "LEFT OUTER stream-stream join: watermark-evicted null emission == batch oracle",
        ),
        "streaming_sessionize": Query(
            "streaming_sessionize",
            streaming_sessionize,
            STREAMING_SESSIONIZE_SQL,
            "applyInPandasWithState sessions == gaps-and-islands oracle",
        ),
        "streaming_sessionize_native": Query(
            "streaming_sessionize_native",
            streaming_sessionize_native,
            SESSIONIZE_NATIVE_SQL,
            "native JVM session_window == gaps-and-islands oracle",
        ),
        "streaming_dedup_events": Query(
            "streaming_dedup_events",
            streaming_dedup_events,
            STREAMING_DEDUP_SQL,
            "dropDuplicatesWithinWatermark key set == DISTINCT oracle",
        ),
        "streaming_enrich_purchases": Query(
            "streaming_enrich_purchases",
            streaming_enrich_purchases,
            STREAMING_ENRICH_SQL,
            "stream-static broadcast enrichment == batch join oracle",
        ),
        "streaming_distinct_users": Query(
            "streaming_distinct_users",
            streaming_distinct_users,
            STREAMING_DISTINCT_USERS_SQL,
            "streaming HLL++ cardinality state, exact-audited (tolerance-flagged)",
        ),
        "streaming_topk_trending": Query(
            "streaming_topk_trending",
            streaming_topk_trending,
            _trending_sql(),
            "streamed hourly rollup ranked top-k per hour at the serving layer",
        ),
    }


STREAMING_QUERIES = _streaming_queries()
