from __future__ import annotations

import os
import sys
import uuid
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from map_reduce_lite_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="mrl_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def count_jobs(spark, run):
    """(result of ``run()``, number of Spark jobs it ran), counted by a
    job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted by a test")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _unset_ckdir(sc) -> None:
    # SparkContext has no public unset; assign None to the Scala var
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture
def reliable_checkpoint(spark, tmp_path):
    """Context-manager factory: inside ``with reliable_checkpoint() as
    ckdir:`` the session has a checkpoint dir, so every lineage
    truncation is a reliable ``checkpoint()`` under ``ckdir``; outside
    it, the default local path. The dir is unset again on exit and at
    teardown, so no later test runs in reliable mode by accident."""
    import contextlib

    sc = spark.sparkContext
    ckdir = tmp_path / "ck"

    @contextlib.contextmanager
    def reliable():
        ckdir.mkdir(exist_ok=True)
        sc.setCheckpointDir(str(ckdir))
        try:
            yield ckdir
        finally:
            _unset_ckdir(sc)

    yield reliable
    _unset_ckdir(sc)
    assert sc.getCheckpointDir() is None


def assert_reliable_written(ckdir) -> None:
    """Spark writes reliable checkpoints as ``<dir>/<uuid>/rdd-<id>``;
    a silent fallback to local storage leaves only the empty uuid dir."""
    assert any(ckdir.rglob("rdd-*")), "reliable checkpoint dir must be written"


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the test tables registered as views, the way
    the correctness driver does."""
    import duckdb

    con = duckdb.connect()
    # Oracles must be timezone-free (Spark session is pinned to UTC);
    # pin DuckDB too so a non-UTC host can't skew any TIMESTAMPTZ detour.
    con.execute("SET TimeZone='UTC'")
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_SMALL}/{name}.parquet')"
        )
    return con
