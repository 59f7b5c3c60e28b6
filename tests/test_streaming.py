"""Structured Streaming correctness by batch equivalence.

The stream (availableNow over the same parquet) must produce exactly the
batch plan's result — Spark guarantees this for windowed aggregations;
the test pins our window/watermark configuration to the batch twin in
relational/queries.py.
"""

from __future__ import annotations

import ast
from collections import Counter

import pytest
from pyspark.sql import functions as F

from map_reduce_lite_spark.streaming.sessions import sessionize_stream
from map_reduce_lite_spark.streaming.windows import (
    EVENTS_SCHEMA,
    _stage_events,
    drain,
    events,
    hourly_counts_stream,
    run_drain,
)
from tests.conftest import SF_SMALL
from tests.test_pairs import PKG, _top_level_def


@pytest.fixture(scope="module")
def events_parquet(spark):
    """The µs-timestamp parquet that ``events`` streams (the nanos
    original needs the legacy conf that readStream's schema path
    doesn't apply), for the batch side of each comparison."""
    return _stage_events(spark, SF_SMALL)


def test_hourly_stream_equals_batch(spark, events_parquet):
    drained = drain(hourly_counts_stream(events(spark, SF_SMALL)))
    got = Counter(
        (r["hour_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in drained.collect()
    )

    batch = (
        spark.read.parquet(events_parquet)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )
    want = Counter(
        (r["hour_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in batch.collect()
    )
    assert got == want


def test_sessionize_stream_runs(spark, events_parquet):
    """Stateful sessionization: drains, emits per-user sessions, event
    totals reconcile with the input. The drain runs without eviction:
    under ProcessingTimeTimeout an availableNow drain spins until the
    30-minute timer fires (test_sessionize_stream_timeout_mode pins that
    mode's plan)."""
    sessions = sessionize_stream(events(spark, SF_SMALL), timeout="none")
    out = drain(sessions, output_mode="append").collect()
    assert out
    n_input = spark.read.parquet(events_parquet).count()
    # open (non-closed) sessions carry the residual counts; totals of the
    # latest state per user must cover all events
    per_user_latest = {}
    for r in out:
        per_user_latest.setdefault(r["user_id"], []).append(r)
    total = 0
    for rows in per_user_latest.values():
        closed = [r for r in rows if r["closed"]]
        open_ = [r for r in rows if not r["closed"]]
        total += sum(r["n_events"] for r in closed)
        if open_:
            total += max(r["n_events"] for r in open_)
    assert total == n_input, (total, n_input)


@pytest.mark.parametrize(
    "timeout,conf,other",
    [("processing", "ProcessingTimeTimeout", "NoTimeout"),
     ("none", "NoTimeout", "ProcessingTimeTimeout")],
)
def test_sessionize_stream_timeout_mode(spark, timeout, conf, other):
    """``timeout="processing"`` is the eviction an unbounded stream needs;
    ``"none"`` is the finite drain's. Each names its GroupStateTimeout in
    the logical plan."""
    stream = sessionize_stream(events(spark, SF_SMALL), timeout=timeout)
    plan = stream._jdf.queryExecution().logical().toString()
    assert conf in plan and other not in plan, plan[:2000]


def test_dedup_stream_equals_batch(spark, events_parquet, tmp_path):
    """Streaming dedup must keep exactly one row per key (batch twin:
    dropDuplicates), with duplicate input synthesized by a double read."""
    from map_reduce_lite_spark.streaming.dedup import dedup_stream

    base = spark.read.parquet(events_parquet).limit(200)
    doubled = base.unionByName(base)
    dup_dir = str(tmp_path / "doubled")
    doubled.write.mode("overwrite").parquet(dup_dir)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(dup_dir)
    deduped = dedup_stream(stream, ["event_id"])
    got = drain(deduped, output_mode="append").select("event_id").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == base.count()


def test_stream_stream_join_equals_batch(spark, events_parquet):
    """Time-bounded stream-stream join drains to exactly the batch join."""
    from map_reduce_lite_spark.streaming.joins import purchase_view_join

    p_stream = events(spark, SF_SMALL).filter(F.col("event_type") == "purchase")
    v_stream = events(spark, SF_SMALL).filter(F.col("event_type") == "view")
    joined = purchase_view_join(p_stream, v_stream)
    got = Counter(tuple(r) for r in drain(joined, output_mode="append").collect())

    batch = spark.read.parquet(events_parquet)
    want = Counter(
        tuple(r)
        for r in purchase_view_join(
            batch.filter(F.col("event_type") == "purchase"),
            batch.filter(F.col("event_type") == "view"),
        ).collect()
    )
    assert got == want
    assert sum(want.values()) > 0  # non-vacuous


def test_enrich_stream_static_join(spark, events_parquet):
    from map_reduce_lite_spark.streaming.dedup import enrich_stream

    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["view", "click", "purchase", "signup", "error"])],
        "event_type string, type_code int",
    )
    enriched = enrich_stream(events(spark, SF_SMALL), dim, on=["event_type"])
    out = drain(enriched, output_mode="append").collect()
    assert len(out) == spark.read.parquet(events_parquet).count()
    assert all(r["type_code"] is not None for r in out)


def test_multires_foreachbatch_upsert_serving(spark, tmp_path):
    """The production serving shape for the continuous aggregate:
    update-mode stream -> foreachBatch appends versioned rows ->
    latest-version view == the batch GROUPING SETS rollup. (The
    append+latest-view pattern is the Delta/Iceberg MERGE stand-in on
    plain parquet.)"""
    from pyspark.sql import Window

    from map_reduce_lite_spark.relational.queries3 import events_rollup_multires
    from map_reduce_lite_spark.streaming.windows import multires_rollup_stream

    stream = events(spark, SF_SMALL, max_files=2)
    serving_dir = str(tmp_path / "serving")

    def upsert(bdf, batch_id):
        bdf.withColumn("_v", F.lit(batch_id)).write.mode("append").parquet(serving_dir)

    # raises TimeoutError unless the upsert drain finishes
    run_drain(
        spark, multires_rollup_stream(stream).writeStream.outputMode("update").foreachBatch(upsert)
    )

    w = Window.partitionBy("resolution", "bucket_start", "event_type").orderBy(
        F.desc("_v")
    )
    serving = (
        spark.read.parquet(serving_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("resolution", "bucket_start", "event_type", "n_events", "sum_value")
    )
    got = Counter(tuple(map(str, r)) for r in serving.collect())
    want = Counter(
        tuple(map(str, r)) for r in events_rollup_multires(spark, SF_SMALL).collect()
    )
    assert sum(want.values()) > 0
    assert got == want


def test_stage_events_rename_failure_raises_not_data_loss(spark, monkeypatch):
    """A rename that fails WITHOUT a concurrent winner must raise — the
    old swallow-all fallback silently returned a nonexistent path and
    deleted the freshly written data (VERDICT r3 'What's wrong' #6)."""
    import os
    import shutil

    from map_reduce_lite_spark.streaming import windows as W

    staged_expected = W._stage_events(spark, SF_SMALL)  # warm: real staging works
    assert os.path.exists(os.path.join(staged_expected, "_SUCCESS"))

    # wipe the staged dir so _stage_events must re-write, then make the
    # rename fail as if crossing a filesystem boundary (EXDEV)
    shutil.rmtree(staged_expected)

    def failing_rename(src, dst):
        raise OSError(18, "Invalid cross-device link", src)

    monkeypatch.setattr(os, "rename", failing_rename)
    try:
        import pytest as _pytest

        with _pytest.raises(OSError):
            W._stage_events(spark, SF_SMALL)
    finally:
        monkeypatch.undo()

    # no half-staged dir may be left claiming success
    assert not os.path.exists(os.path.join(staged_expected, "_SUCCESS"))
    # re-staging after the failure works and yields complete output again
    staged = W._stage_events(spark, SF_SMALL)
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))


def test_stage_events_lost_race_uses_winner(spark, monkeypatch):
    """A rename that fails because a CONCURRENT run already renamed its
    complete output into place must return the winner's path and clean
    up our tmp dir."""
    import glob
    import os
    import shutil

    from map_reduce_lite_spark.streaming import windows as W

    staged_expected = W._stage_events(spark, SF_SMALL)
    shutil.rmtree(staged_expected)
    real_rename = os.rename

    def racing_rename(src, dst):
        # simulate the concurrent winner completing first
        real_rename(src, dst)
        raise OSError(39, "Directory not empty", dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    try:
        staged = W._stage_events(spark, SF_SMALL)
    finally:
        monkeypatch.undo()
    assert staged == staged_expected
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    assert not glob.glob(f"{staged}.tmp.*"), "tmp dirs must be cleaned up"


def test_left_outer_stream_join_emits_null_rows(spark):
    """The LEFT OUTER stream-stream join must emit BOTH matched pairs and
    watermark-evicted null-padded rows (the semantics the inner join
    can't show), and agree with the closed-world batch left join."""
    from map_reduce_lite_spark.streaming.windows import (
        streaming_purchase_view_left,
    )

    out = streaming_purchase_view_left(spark, SF_SMALL).collect()
    nulls = [r for r in out if r.view_id is None]
    matched = [r for r in out if r.view_id is not None]
    assert nulls, "no null-padded rows: outer emission never happened"
    assert matched, "no matched rows: join condition vacuous"
    for r in matched:  # time bound respected
        assert r.p_ts - r.v_ts <= __import__("datetime").timedelta(hours=1)
        assert r.v_ts <= r.p_ts
    # every retained purchase appears exactly once per match (>=1 row)
    from collections import Counter

    per_purchase = Counter(r.purchase_id for r in out)
    null_purchases = {r.purchase_id for r in nulls}
    for pid in null_purchases:  # null row only when NO match exists
        assert per_purchase[pid] == 1


def test_drain_unloads_state_store_threads(spark):
    """Every availableNow drain must unload its state-store providers:
    in a vanilla 200-partition session each stateful drain otherwise
    leaks ~850 maintenance/commit threads, and a full streaming sweep
    exhausts kernel thread/map limits (observed as DuckDB bad_alloc +
    'can't start new thread' with >100 GB free). Pin: JVM thread count
    after a stateful drain stays near its pre-drain level."""
    from map_reduce_lite_spark.streaming.windows import (
        streaming_sessionize_native,
    )

    jvm_threads = spark._jvm.java.lang.Thread.activeCount
    before = jvm_threads()
    streaming_sessionize_native(spark, SF_SMALL).count()
    import time

    time.sleep(2)  # let stopped threads die
    after = jvm_threads()
    # without the unload this is ~+850 even at 8 shuffle partitions it
    # is ~+40; with it, a small constant residue (pool bookkeeping)
    assert after - before < 30, (before, after)


def test_rocksdb_state_store_provider_equivalence(spark):
    """Pin the 100 TB state-store claim (streaming/windows.py module
    doc): the same drain under RocksDBStateStoreProvider produces the
    identical result as the default HDFS-backed provider. RocksDB is
    what a production deployment runs — state spills to native disk
    instead of growing the executor heap — so the claim must be
    executable, not aspirational."""
    from map_reduce_lite_spark.streaming.windows import streaming_events_hourly

    key = "spark.sql.streaming.stateStore.providerClass"
    default = Counter(map(tuple, streaming_events_hourly(spark, SF_SMALL).collect()))
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = Counter(map(tuple, streaming_events_hourly(spark, SF_SMALL).collect()))
    finally:
        spark.conf.set(key, prev)
    assert rocks == default


def test_availablenow_checkpoint_no_reprocess(spark, events_parquet, tmp_path):
    """Exactly-once restart semantics: a second availableNow run over
    the SAME durable checkpoint must process nothing (no new input
    files) and append zero new rows to the sink. This is the property
    a production ingestion job restarts on — the ephemeral drains
    elsewhere use temp checkpoints by design, so pin it explicitly."""
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():  # raises TimeoutError unless the drain finishes
        run_drain(
            spark,
            hourly_counts_stream(events(spark, SF_SMALL))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    run_once()
    first = spark.read.parquet(sink).count()
    assert first > 0, "watermark never closed any window"
    run_once()
    second = spark.read.parquet(sink).count()
    assert second == first, (first, second)


def test_one_source_one_drain():
    """Only ``run_drain`` sets a trigger or awaits a query, and only
    ``events`` opens a ``readStream``, anywhere in the package."""
    owners = {"trigger": "run_drain", "awaitTermination": "run_drain", "readStream": "events"}
    owned, offenders = set(), []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in owners:
                owner = _top_level_def(tree, node.lineno)
                if p == PKG / "streaming" / "windows.py" and owner == owners[node.attr]:
                    owned.add(node.attr)
                else:
                    offenders.append(f"{p.relative_to(PKG.parent)}:{node.lineno} {node.attr}")
    assert offenders == []
    assert owned == set(owners)
