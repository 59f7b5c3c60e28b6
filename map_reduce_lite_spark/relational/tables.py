"""Parquet table loading for the TPC-H-ish synthetic schema.

At 100 TB these reads are the dominant cost. Every batch parquet read
in the engine goes through ``read_parquet`` here, which declares the
schema it read from the parquet footer on the driver
(``spark.read.schema(s).parquet``). Spark's own inference would run a
Spark job per read just to open that footer; the reference's workers
read their input with no such pre-pass either. Catalyst's column
pruning and predicate pushdown still reach the scan (check
``.explain``: ReadSchema / PushedFilters). Never cache or materialize
here — operators decide what to persist.
"""

from __future__ import annotations

import json
from urllib.parse import urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# the footer key under which Spark writes a file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _schema(path: str) -> StructType:
    """The schema Spark infers for the parquet file or directory at
    ``path``, read from its footer on the driver instead of by a job."""
    # imported here: the import takes ~0.3 s, which every process that
    # imports the engine would pay otherwise
    import pyarrow.dataset as ds

    arrow = ds.dataset(path, format="parquet").schema
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        # A Spark-written footer carries its Spark schema, and inference
        # takes it as is. Arrow would read its INT96 timestamps as ns.
        return StructType.fromJson(json.loads(spark_json))
    # TIMESTAMP(NANOS) reads as bigint under nanosAsLong (see load_table)
    arrow = pa.schema(
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in arrow
    )
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The parquet file or directory at ``path``, read under its footer
    schema. Spark makes every declared column nullable, as inference
    does, so the frame's schema is the inferred one."""
    if urlparse(path).scheme not in ("", "file"):
        # pyarrow has no s3a:// filesystem, and a store's credentials
        # live in the Hadoop conf: Spark's inference is the one read
        # that works there.
        return spark.read.parquet(path)
    return spark.read.schema(_schema(path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata parquet table.

    SIDE EFFECT: pins ``spark.sql.session.timeZone`` to UTC on the
    given session (every call) — the engine's output contract is UTC
    regardless of host, and this is the one choke point every query
    passes through. A foreign session that deliberately set another
    zone will be overridden; set the zone AFTER load_table if you
    really need non-UTC rendering."""
    # The engine's output contract is UTC regardless of host: hourly
    # bucketing, date_trunc, and window() follow
    # spark.sql.session.timeZone, and an externally built driver
    # session inherits the HOST zone — where DST genuinely changes
    # results (observed: the hourly rollup emits 3550 rows under
    # America/New_York vs 3540 under UTC, same data). session.py pins
    # UTC for in-repo sessions; this covers foreign sessions too.
    # (unconditional set: conf.get validates its *default* argument, so
    # probing an unset conf with a sentinel throws INVALID_CONF_VALUE)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet uses TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read nanos as long and convert with exact
        # integer division (float division is lossy at int64 magnitudes).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if dict(df.dtypes).get("ts") == "timestamp_ntz":
            # Plain timestamp[us] parquet reads as TIMESTAMP_NTZ in Spark 4.x,
            # which unix_millis() and friends reject. Session TZ is pinned to
            # UTC, so the cast is value-preserving and epoch_ms oracles match.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]
