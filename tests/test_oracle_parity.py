"""Spark vs DuckDB oracle parity — a local replica of the driver's
correctness gate: row count, column names, and an order-insensitive
multiset compare of values for every oracle-backed query.

Values are compared EXACTLY (string forms of every cell) because the
engine's determinism contract (registry.py module doc) is that doubles
leaving a query are bit-identical across both engines. If one of these
tests fails on a float column, fix the query's determinism, don't relax
the test.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime

import pytest

from tests.conftest import SF_SMALL


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision — bit-identity is the contract
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    try:  # Decimal → normalized string
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except ImportError:
        pass
    return str(v)


def _multiset(rows, col_order):
    return Counter(
        tuple(_norm_cell(row[i]) for i in col_order) for row in rows
    )


# Queries whose DuckDB oracle alone runs ~40-60 s at sf0.001 (recursive
# power-iteration / refine-chain / Lloyd-unroll CTEs dominate; the Spark
# side is seconds). Deselected from the default gate (pytest.ini) so a
# full run fits the driver's verification budget; they stay fronted in
# the queries() rotation tier, so the external correctness driver
# oracle-checks them at sf0.01 every round, and `-m slow` runs them here.
_SLOW_ORACLES = {
    "embedding_top_pc",
    "curation_leakage_safe_split",
    "pipeline_semdedup_prune",
}


def _query_names():
    import __spark_entry__ as e

    return [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLES else n
        for n in sorted(e.oracle_sql().keys())
    ]


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_SMALL)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_ms = _multiset(spark_rows, s_order)
    d_ms = _multiset(duck_rows, d_order)
    if s_ms != d_ms:
        only_s = list((s_ms - d_ms).items())[:5]
        only_d = list((d_ms - s_ms).items())[:5]
        raise AssertionError(
            f"{name}: value multisets differ.\n  spark-only: {only_s}\n  duck-only: {only_d}"
        )


# Every oracled query that folds vectors in Python: through
# ``similarity.fold_kernel`` in a scalar Arrow UDF, or in the
# ``ivf_scores`` mapInArrow pass. Their rows must not depend on where
# Arrow cuts the batches.
_KERNEL_QUERIES = [
    "cluster_embeddings_kmeans",
    "curation_leakage_safe_split",
    "dedup_cluster_sizes",
    "dedup_components",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "dedup_survivors_docs",
    "embedding_label_drift",
    "embedding_ood_score",
    "embedding_prefix_recall",
    "embedding_random_projection",
    "embedding_top_pc",
    "pipeline_semdedup_prune",
    "semdedup_embeddings",
    "similarity_ann_ivf",
    "similarity_ann_ivf_scaled",
    "similarity_ann_lsh",
    "similarity_ann_pq",
    "similarity_ann_rerank",
    "similarity_bruteforce",
    "similarity_filtered_topk",
    "similarity_graph_hubness",
    "similarity_hard_negatives",
    "similarity_knn_graph",
    "similarity_nn_descent",
]


def _digest(rows, cols) -> str:
    """sha256 of a row multiset, columns taken in name order."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return hashlib.sha256(repr(sorted(_multiset(rows, order).items())).encode()).hexdigest()


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLES else n for n in _KERNEL_QUERIES],
)
def test_kernel_query_arrow_batch_size_independent(spark, duck, name):
    """Arrow batches of 3 rows give the same row multiset as the default
    batches and as the DuckDB oracle: a kernel batch must not see, or
    leak state into, its neighbours."""
    import __spark_entry__ as e

    def run():
        df = e.queries()[name](spark, SF_SMALL)
        return _digest(df.collect(), [c.lower() for c in df.columns])

    default = run()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        small = run()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    res = duck.execute(e.oracle_sql()[name])
    oracle = _digest(res.fetchall(), [d[0].lower() for d in res.description])
    assert default == small == oracle


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return a stable schema."""
    import __spark_entry__ as e

    oracled = set(e.oracle_sql())
    for name, fn in e.queries().items():
        if name in oracled:
            continue
        df = fn(spark, SF_SMALL)
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0


@pytest.mark.parametrize("name", _query_names())
def test_query_non_vacuous(spark, name):
    """Every oracled query must survive rows at the test scale factor —
    a 0=0 oracle match proves nothing about the value path (the q22
    anti join was silently vacuous until its date predicate was added)."""
    import __spark_entry__ as e

    assert e.queries()[name](spark, SF_SMALL).count() > 0, f"{name}: vacuous at {SF_SMALL}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
