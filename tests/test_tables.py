"""Footer schemas (``relational/tables.py``): every batch parquet read
declares the schema read from the parquet footer on the driver, which
must be the schema Spark's inference would give, and reading a table
then runs no Spark job at all."""

from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from map_reduce_lite_spark.relational.tables import (
    TABLE_NAMES,
    _schema,
    load_table,
    read_parquet,
)
from tests.conftest import SF_SMALL, count_jobs

PKG = Path(__file__).resolve().parent.parent / "map_reduce_lite_spark"


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_footer_schema_is_the_inferred_one(spark, name):
    path = f"{SF_SMALL}/{name}.parquet"
    # inference is the reference here, so the test calls it directly
    assert _schema(path) == spark.read.parquet(path).schema
    _, jobs = count_jobs(spark, lambda: load_table(spark, SF_SMALL, name))
    assert jobs == 0


def test_directory_tables_read_like_inference(spark, tmp_path):
    """A table written as a directory of part files, by pyarrow (the
    benchmark's inputs) and by Spark (the staged artifacts, whose
    footers carry the Spark schema and INT96 timestamps)."""
    arrow_dir = tmp_path / "arrow.parquet"
    arrow_dir.mkdir()
    table = pa.table(
        {
            "k": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1700000000000000, None], pa.timestamp("us")),
            "v": pa.array([[1.5], None], pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, arrow_dir / "part-0.parquet")
    spark_dir = str(tmp_path / "spark.parquet")
    spark.sql(
        "SELECT id, timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts, "
        "timestamp_ntz'2020-01-01 00:00:00' AS tn, array(CAST(id AS float)) AS arr, "
        "CAST(id AS decimal(18, 4)) AS d, named_struct('a', id) AS st FROM range(5)"
    ).write.parquet(spark_dir)
    for path in (str(arrow_dir), spark_dir):
        inferred = spark.read.parquet(path)
        declared = read_parquet(spark, path)
        assert declared.schema == inferred.schema
        assert sorted(declared.collect()) == sorted(inferred.collect())


def test_s3a_tables_keep_inference_and_reach_the_connector(spark):
    """pyarrow cannot open ``s3a://``, so the read is Spark's own and
    fails only where ``tests/test_s3a.py`` pins ``read_source`` failing:
    at the missing S3A connector jar."""
    with pytest.raises(Exception) as exc_info:
        load_table(spark, "s3a://mrl-nonexistent/prefix", "lineitem")
    msg = str(exc_info.value)
    assert (
        "org.apache.hadoop.fs.s3a.S3AFileSystem" in msg
        or "ClassNotFoundException" in msg
        or "UnsupportedFileSystemException" in msg
    ), f"unexpected s3a failure mode:\n{msg[:2000]}"


def _batch_parquet_reads(tree: ast.Module) -> list[int]:
    """Lines of every ``<x>.read[.<option calls>].parquet(...)`` call."""
    lines = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "parquet":
            recv = n.func.value
            while isinstance(recv, ast.Call) and isinstance(recv.func, ast.Attribute):
                recv = recv.func.value
            if isinstance(recv, ast.Attribute) and recv.attr == "read":
                lines.append(n.lineno)
    return lines


def test_batch_parquet_reads_only_in_tables_module():
    """Every batch parquet read goes through ``read_parquet``: a direct
    ``spark.read.parquet`` anywhere else in the package or its tools
    would run a schema-inference job per call."""
    sources = sorted(PKG.rglob("*.py")) + sorted((PKG.parent / "tools").glob("*.py"))
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line}"
        for p in sources
        if p != PKG / "relational" / "tables.py"
        for line in _batch_parquet_reads(ast.parse(p.read_text()))
    ]
    assert offenders == []
    assert _batch_parquet_reads(ast.parse((PKG / "relational" / "tables.py").read_text()))
