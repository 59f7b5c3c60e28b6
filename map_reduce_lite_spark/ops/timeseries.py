"""Time-series operators: gap-filled continuous aggregates and
statistical anomaly flagging over the events table.

These are the hypertable-style operations (TimescaleDB's
``time_bucket_gapfill`` + ``locf``, and streaming-monitoring z-score
alerts) that a metrics/observability workload layers on top of the
tumbling-window aggregates in ``relational/queries.py`` /
``streaming/windows.py``.

Scale notes (100 TB):
- ``events_gapfill_hourly``: the only pass over raw events is ONE
  map-side-combined aggregation to (event_type, hour) — everything
  after (span computation, calendar generation via ``sequence``,
  the fill join, the LOCF window) runs on the *bucketed* table, whose
  size is #types x #hours, independent of raw event volume. The
  calendar explode is per-type (a handful of rows exploding to the
  hour count), never a driver-side loop.
- ``events_anomaly_zscore``: two passes over events — the moments
  aggregation (n, sum, sum-of-squares per type; tiny result,
  broadcast back) and the flagging scan. The 3-sigma test is done in
  EXACT integer arithmetic (see below), so the result is
  bit-reproducible across engines, partitionings, and retries —
  no float threshold knife-edges.

Exact z-score test: with m = value scaled to an integer (1e4), per-type
S = sum(m), S2 = sum(m^2), n = count:
    |m - S/n| > 3 * sqrt((S2/n) - (S/n)^2)
 <=>  n*(n*m - S)^2 > 9 * n * (n*S2 - S^2) / n    (multiply by n^3)
 <=>  (n*m - S)^2 > 9 * (n*S2 - S^2)              (divide by n, n > 0)
Both sides are products of exact integers — DECIMAL(38,0) keeps them
exact far past 100 TB row counts (|value| <= ~1e6 -> m <= 1e10;
n <= 1e12 rows/type -> terms <= ~1e38 only at absurd joint extremes;
at any realistic scale the 38-digit headroom holds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import Query, dsum, sql_dsum
from map_reduce_lite_spark.relational.queries import SESSION_GAP_MS
from map_reduce_lite_spark.relational.tables import load_table


def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup per event_type: every hour in the
    type's [min, max] span gets a row; empty hours carry n_events = 0,
    a filled flag, and the last-observation-carried-forward sum
    (TimescaleDB ``time_bucket_gapfill`` + ``locf`` semantics).

    Plan: one agg over raw events -> per-type span agg -> ``sequence``
    calendar explode -> left join -> LOCF window. All post-agg stages
    are on the bucket table (types x hours), not raw events.
    """
    e = load_table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 4).alias("sum_value"),
        )
    )
    # Per-type calendar: explode one row per hour in the observed span.
    calendar = (
        agg.groupBy("event_type")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    filled = calendar.join(agg, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("filled"),
        F.last("sum_value", ignorenulls=True).over(w).alias("locf_sum_value"),
    )


GAPFILL_SQL = f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         COUNT(*) AS n_events,
         {sql_dsum('value', 4)} AS sum_value
  FROM events
  GROUP BY 1, 2
),
span AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
  FROM agg GROUP BY event_type
),
calendar AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM span
),
filled AS (
  SELECT c.event_type, c.bucket, a.n_events, a.sum_value
  FROM calendar c
  LEFT JOIN agg a ON a.event_type = c.event_type AND a.bucket = c.bucket
)
SELECT event_type, bucket,
       COALESCE(n_events, 0) AS n_events,
       (n_events IS NULL) AS filled,
       last_value(sum_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_sum_value
FROM filled
"""


# value -> exact integer at 4 decimal places; see module doc for why the
# whole 3-sigma test then stays in integer arithmetic.
_M_SCALE = 4


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates from their type's mean by more than
    3 standard deviations — the monitoring/alerting primitive. The test
    runs in exact integer arithmetic (module doc), so the flag set is
    deterministic across engines and partitionings.

    Plan: moments agg per type (tiny -> broadcast join back), then one
    flagging scan. Two passes over events, no sort, no window.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value").cast(f"decimal(18,{_M_SCALE})") * (10 ** _M_SCALE))
        .cast("decimal(38,0)")
        .alias("m"),
    )
    moments = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("m").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("decimal(38,0)").alias("s2"),
    )
    j = e.join(F.broadcast(moments), "event_type")
    dev = F.col("n") * F.col("m") - F.col("s")
    lhs = (dev * dev).cast("decimal(38,0)")
    rhs = (F.lit(9).cast("decimal(38,0)") * (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))).cast(
        "decimal(38,0)"
    )
    return (
        j.filter(lhs > rhs)
        .select("event_id", "event_type", "value")
    )


ANOMALY_SQL = f"""
WITH scaled AS (
  SELECT event_id, event_type, value,
         CAST(round(CAST(value AS DECIMAL(18,{_M_SCALE})) * {10 ** _M_SCALE}) AS DECIMAL(38,0)) AS m
  FROM events
),
moments AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(m) AS DECIMAL(38,0)) AS s,
         CAST(SUM(m * m) AS DECIMAL(38,0)) AS s2
  FROM scaled GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM scaled e JOIN moments mo ON e.event_type = mo.event_type
WHERE (mo.n * e.m - mo.s) * (mo.n * e.m - mo.s) > 9 * (mo.n * mo.s2 - mo.s * mo.s)
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the product-analytics staple:
    users are cohorted by the ISO week of their FIRST event, and each
    (cohort_week, age_weeks) cell counts how many are still active
    that many weeks later, with retention as exact basis points of the
    cohort's size.

    Scale shape: ONE corpus shuffle. The raw stream goes straight into
    a user-keyed ``collect_set(week)`` — map-side partial aggregation
    dedups (user, week) pairs before the exchange, and the per-user
    set is bounded by CALENDAR WEEKS (a 10-year stream is ≤522
    elements), so the agg buffer can't blow up. Cohort week is
    ``array_min`` of that set — no second scan, no distinct+groupBy+
    rejoin chain (the earlier 3-shuffle formulation). The exploded
    (cohort, age) agg has #weeks² distinct keys — tiny. The final
    matrix is #weeks × #weeks rows. retention_bps = floor(10000·n/n0)
    is exact integer arithmetic — no float ratios."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
        .select(
            F.array_min("weeks").alias("cohort_week"),
            F.explode("weeks").alias("week"),
        )
    )
    cells = per_user.groupBy(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("age_weeks"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    size = cells.filter(F.col("age_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return cells.join(size, "cohort_week").select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "age_weeks",
        "n_active",
        "cohort_size",
        F.floor(F.lit(10000) * F.col("n_active") / F.col("cohort_size"))
        .cast("long")
        .alias("retention_bps"),
    )


RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY user_id
), cells AS (
  SELECT c.cohort_week,
         CAST((CAST(a.week AS DATE) - CAST(c.cohort_week AS DATE)) // 7
              AS BIGINT) AS age_weeks,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM active a JOIN cohort c ON a.user_id = c.user_id
  GROUP BY 1, 2
), size_ AS (
  SELECT cohort_week, n_active AS cohort_size FROM cells WHERE age_weeks = 0
)
SELECT CAST(ce.cohort_week AS DATE) AS cohort_week, ce.age_weeks, ce.n_active,
       s.cohort_size,
       CAST(floor(10000.0 * ce.n_active / s.cohort_size) AS BIGINT)
         AS retention_bps
FROM cells ce JOIN size_ s ON s.cohort_week = ce.cohort_week
"""


def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (the first-order Markov
    matrix behind user-journey analysis): each user's events ordered
    by (ts, event_id), consecutive pairs counted globally, with the
    per-from-state transition probability in exact basis points.

    Scale shape: ONE shuffle partitions by user (window lead over
    (ts, event_id) within the partition — the sessionize_events
    pattern), then the transition agg has ≤ |types|² distinct keys so
    map-side combine collapses it to a tiny table. No self-join of
    the stream (a ts-ordered self-join would shuffle the corpus
    twice and explode on ties)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type", 1).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        F.floor(F.lit(10000) * F.col("n_trans") / F.col("n_from"))
        .cast("long")
        .alias("prob_bps"),
    )


USER_PATHS_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS to_type
  FROM events
), trans AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
), totals AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans,
       CAST(floor(10000.0 * t.n_trans / tot.n_from) AS BIGINT) AS prob_bps
FROM trans t JOIN totals tot ON tot.from_type = t.from_type
"""


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build from an event stream
    (the warehouse pattern behind dimension-table history: Kimball
    SCD2 out of CDC): each user's event_type is treated as their
    current state; consecutive runs collapse to one versioned row
    with [effective_from, effective_to) validity and an is_current
    flag on the open row.

    Scale shape: ONE shuffle on user_id serves everything — the
    change-detection lag, the run-numbering running sum, the run
    aggregation, and the effective_to lead are all partitioned by
    user_id (Catalyst reuses the exchange; the extra passes are
    per-partition sorts). No self-join of the stream, no global
    window. Run numbering is a per-user running sum of change flags
    over the unique (ts, event_id) order — deterministic and
    identical across engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.when(
                F.lag("event_type").over(w) == F.col("event_type"), F.lit(0)
            )
            .otherwise(F.lit(1))
            .alias("chg"),
        )
        .withColumn("version", F.sum("chg").over(w))
        .groupBy("user_id", "version", "state")
        .agg(
            F.min("ts").alias("effective_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        "version",
        "state",
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
        "n_events",
        F.lead("effective_from").over(w2).isNull().alias("is_current"),
    )


SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type AS state, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) = event_type
              THEN 0 ELSE 1 END AS chg
  FROM events
), numbered AS (
  SELECT user_id, state, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM marked
), runs AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, state,
         MIN(ts) AS effective_from, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY 1, 2, 3
)
SELECT user_id, version, state, effective_from,
       lead(effective_from) OVER (PARTITION BY user_id ORDER BY version)
         AS effective_to,
       n_events,
       lead(effective_from) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL AS is_current
FROM runs
"""


ATTRIBUTION_WINDOW_DAYS = 7


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view within a 7-day lookback, else
    'direct'. Per channel: purchases, exact revenue cents, and total
    touch-to-purchase lag in whole seconds.

    Scale shape: the as-of lookup is NOT a range join (which would
    shuffle the stream twice and explode on busy users) — it is one
    window pass partitioned by user_id carrying the last non-null
    touch forward (``last(..., ignorenulls)`` over the unique
    (ts, event_id) order), then a tiny ≤|types|+1-key aggregation
    with map-side combine. Revenue is floored to integer cents and
    lag to integer seconds via identical IEEE/integer expressions in
    both engines, so sums are bit-exact. At extreme scale the BIGINT
    lag sum holds to ~2^63 purchase-seconds per channel; revenue
    cents likewise."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_touch = F.col("event_type").isin("click", "view")
    stream = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("lt_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase")
    in_window = F.col("lt_ts").isNotNull() & (
        F.col("ts")
        <= F.col("lt_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS")
    )
    return (
        purchases.select(
            F.when(in_window, F.col("lt_type"))
            .otherwise(F.lit("direct"))
            .alias("channel"),
            F.floor(F.lit(100.0) * F.col("value")).cast("long").alias("cents"),
            F.when(
                in_window,
                F.expr("(unix_micros(ts) - unix_micros(lt_ts)) div 1000000"),
            ).alias("lag_s"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
            F.sum("lag_s").alias("total_lag_s"),
        )
    )


ATTRIBUTION_SQL = f"""
WITH stream AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lt_ts,
         last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type
                    END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lt_type
  FROM events
), purchases AS (
  SELECT CASE WHEN lt_ts IS NOT NULL
                   AND ts <= lt_ts + INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAY
              THEN lt_type ELSE 'direct' END AS channel,
         CAST(floor(100.0 * value) AS BIGINT) AS cents,
         CASE WHEN lt_ts IS NOT NULL
                   AND ts <= lt_ts + INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAY
              THEN (epoch_us(ts) - epoch_us(lt_ts)) // 1000000 END AS lag_s
  FROM stream WHERE event_type = 'purchase'
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(lag_s) AS BIGINT) AS total_lag_s
FROM purchases GROUP BY channel
"""


def sessionize_events_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (user_id, day) sessionization — the hot-key-bounded
    variant of ``sessionize_events`` (relational/queries.py:572), same
    answers by construction and proven by sharing its oracle SQL.

    Why it exists: the plain form is one Window.partitionBy(user_id),
    which AQE cannot split — a pathological key (a bot / sentinel user
    holding 10% of a 10^12-event stream) serializes its whole history
    into ONE task's sort (SCALE.md r7 measured the +8-10% cost at 10%
    skew and designed this mitigation; r8 implements it opt-in). Here
    the corpus-wide pass partitions by (user_id, day) — bounded by any
    key's busiest DAY — and only a per-(user, day) SUMMARY table
    (365× smaller per user-year: first/last event ms + local session
    count) flows through the per-user window that stitches midnight
    boundaries.

    Stitch arithmetic: a session spans a day boundary iff the gap
    between the previous day-chunk's last event and this chunk's first
    event is <= the inactivity gap (any skipped calendar day implies a
    gap > 30 min, so lag over PRESENT days suffices). The plain form's
    session_id is "number of session starts up to this event", so the
    stitched id is cum_prev + local_sess − merge_day, where cum_prev is
    the running sum of (n_local − merge) over earlier days: subtracting
    merge from every local id is exact because only the day's FIRST
    local session can merge, shifting all later ids down by one. The
    result is independent of where midnight falls, so the session-tz
    pin only affects partition shaping, never values.

    Cost trade (measured, SCALE.md r8): one extra shuffle (the
    summary-table window + the join back) on every workload, in
    exchange for per-task work bounded by (hot key × day) instead of
    (hot key × history). Opt-in, exactly as r7 argued: healthy
    workloads keep the plain form."""
    return sessionize_stitched(load_table(spark, sf_dir, "events"))


def sessionize_stitched(
    e: DataFrame, gap_ms: int = SESSION_GAP_MS
) -> DataFrame:
    """Core of ``sessionize_events_stitched`` over any (user_id, ts,
    event_id) DataFrame — answer-identical to ``sessionize`` (equality
    property-tested on midnight-chain corpora in tests/test_timeseries)."""
    wd = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    loc = e.select(
        "user_id", "ts", "event_id", F.to_date("ts").alias("day"),
        F.unix_millis("ts").alias("ms"),
    )
    prev_ms = F.lag("ms").over(wd)
    new_local = F.when(
        prev_ms.isNull() | (F.col("ms") - prev_ms > gap_ms), 1
    ).otherwise(0)
    loc = loc.withColumn("local_sess", F.sum(new_local).over(wd))
    days = loc.groupBy("user_id", "day").agg(
        F.min("ms").alias("first_ms"),
        F.max("ms").alias("last_ms"),
        F.max("local_sess").alias("n_local"),
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    merge = F.when(
        F.lag("last_ms").over(wu).isNotNull()
        & (F.col("first_ms") - F.lag("last_ms").over(wu) <= gap_ms),
        1,
    ).otherwise(0)
    days = days.withColumn("merge", merge).withColumn(
        "cum_prev",
        F.coalesce(
            F.sum(F.col("n_local") - F.col("merge")).over(
                wu.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    glob = loc.join(
        days.select("user_id", "day", "cum_prev", "merge"), ["user_id", "day"]
    )
    return (
        glob.select(
            "user_id",
            "ms",
            (F.col("cum_prev") + F.col("local_sess") - F.col("merge"))
            .cast("long")
            .alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ms").alias("start_ms"),
            F.max("ms").alias("end_ms"),
        )
    )


def _stitched_sessionize_sql() -> str:
    # Same oracle as the plain form — the whole point: the hierarchical
    # plan must be answer-identical to the single-window formulation.
    from map_reduce_lite_spark.relational.queries import SESSIONIZE_SQL

    return SESSIONIZE_SQL


WAU_WINDOW_DAYS = 7


def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per observed day — the growth metric
    every analytics stack reports, and a shape Spark windows handle
    badly if written naively (RANGE-frame COUNT(DISTINCT) is not
    supported; a per-day self-join over the stream shuffles the corpus
    ×7). Instead: dedup to (day, user) pairs FIRST (map-side combine —
    the only corpus-width pass), then each activity day contributes to
    the 7 trailing windows it belongs to via a 7-element date explode
    of the already-tiny pair table, semi-joined back to observed days,
    and one exact COUNT(DISTINCT) per day. State is bounded by
    users × days, never by raw event volume."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    ex = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), WAU_WINDOW_DAYS - 1))
        ).alias("day"),
        "user_id",
    )
    obs = du.select("day").distinct()
    return (
        ex.join(obs, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


ROLLING_WAU_SQL = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), ex AS (
  SELECT du.day + CAST(o.o AS INT) AS day, du.user_id
  FROM du, LATERAL unnest(generate_series(0, {WAU_WINDOW_DAYS - 1})) AS o(o)
)
SELECT e.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
FROM ex e
WHERE e.day IN (SELECT day FROM du)
GROUP BY e.day
"""


TIMESERIES_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "events_rolling_wau",
            events_rolling_wau,
            ROLLING_WAU_SQL,
            "exact rolling 7-day active users per observed day (dedup-first, bounded state)",
        ),
        Query(
            "sessionize_events_stitched",
            sessionize_events_stitched,
            _stitched_sessionize_sql(),
            "hierarchical (user, day) sessionization with midnight stitching — "
            "hot-key-bounded variant, answer-identical to sessionize_events",
        ),
        Query(
            "events_gapfill_hourly",
            events_gapfill_hourly,
            GAPFILL_SQL,
            "gap-filled hourly rollup with LOCF (time_bucket_gapfill analog)",
        ),
        Query(
            "events_anomaly_zscore",
            events_anomaly_zscore,
            ANOMALY_SQL,
            "exact-arithmetic 3-sigma anomaly flagging per event type",
        ),
        Query(
            "events_retention_cohorts",
            events_retention_cohorts,
            RETENTION_SQL,
            "weekly cohort retention matrix with exact-bps retention",
        ),
        Query(
            "events_user_paths",
            events_user_paths,
            USER_PATHS_SQL,
            "event-type transition (Markov) matrix with exact-bps probabilities",
        ),
        Query(
            "scd2_user_state",
            scd2_user_state,
            SCD2_SQL,
            "SCD Type-2 dimension history from the event stream (versioned validity ranges)",
        ),
        Query(
            "attribution_last_touch",
            attribution_last_touch,
            ATTRIBUTION_SQL,
            "last-touch attribution: purchases credited to the last click/view in a 7-day window",
        ),
    ]
}
