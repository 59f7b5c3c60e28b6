"""The candidate-pair blocking kernel (map_reduce_lite_spark/ops/pairs.py):
one co-occurrence join (``cooccur`` and its SQL twin ``sql_cooccur``)
behind every pair generator, one sizing probe and one salted hot-bucket
split (Spark and SQL) — and the one exact-cosine scoring path
(map_reduce_lite_spark/ops/similarity.py) the vector families verify
through."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parent.parent / "map_reduce_lite_spark"


def _written_outside_pairs(pattern: str) -> list[str]:
    """Package lines outside ops/pairs.py that match ``pattern``."""
    regex = re.compile(pattern)
    return [
        f"{p.relative_to(PKG.parent)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p != PKG / "ops" / "pairs.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if regex.search(line)
    ]


def test_salted_split_only_in_pairs_module():
    """The Spark-side salted split (its ``n_sub`` column) is written once;
    the SQL twins build ``n_sub`` inside oracle strings, not ``.alias(``."""
    assert _written_outside_pairs(r'\.alias\("n_sub"\)') == []


def test_refine_policy_only_in_pairs_module():
    """Adaptive re-banding is written once too: its sub-bucket sizing
    (a count named ``m``) and its star representative (``rep``) appear
    only in ops/pairs.py; the SQL twins spell them inside oracle
    strings."""
    assert _written_outside_pairs(r'count\(.*\)\.alias\("m"\)') == []
    assert _written_outside_pairs(r'\.alias\("rep"\)') == []
    source = (PKG / "ops" / "pairs.py").read_text()
    assert 'count(F.lit(1)).alias("m")' in source and '.alias("rep")' in source


# each Spark-side scoring fragment → the similarity.py functions allowed
# to write it out; the SQL twins spell these names inside oracle strings,
# never as these calls. The last entry is the running accumulation of a
# vector fold (and any numpy dot product, which BLAS would not keep
# bit-identical): only ``fold_kernel`` folds vectors.
_SCORING_OWNERS = [
    (r"_norm\(F\.col\(", {"_vectors", "cosine"}),
    (r"F\.sqrt\(_dot\(", {"_norm"}),
    (r'\.alias\("sim_e9"\)', {"sim_e9"}),
    (r"posexplode\(lsh_band_hashes\(", {"lsh_band_rows"}),
    (r"list_dot_product\(", {"_sql_dot"}),
    (
        r"\bacc \+=|\bnp\.(dot|einsum|inner|matmul|tensordot|vdot)\(",
        {"fold_kernel"},
    ),
]


def _top_level_def(tree: ast.Module, line: int) -> str | None:
    """The module-level function whose body holds ``line`` (nested
    helpers belong to the function that defines them)."""
    return next(
        (
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.lineno <= line <= n.end_lineno
        ),
        None,
    )


@pytest.mark.parametrize(
    "pattern,owners", _SCORING_OWNERS, ids=[min(o) for _, o in _SCORING_OWNERS]
)
def test_exact_cosine_scoring_only_in_its_helper(pattern, owners):
    """One vector side, one norm, one ``sim_e9`` formatter, one band-row
    projection, one numpy fold kernel: each fragment appears only inside
    its function."""
    owned, offenders = [], []
    for p in sorted(PKG.rglob("*.py")):
        text = p.read_text()
        hits = [
            i for i, line in enumerate(text.splitlines(), 1) if re.search(pattern, line)
        ]
        tree = ast.parse(text) if hits else None
        for i in hits:
            where = f"{p.relative_to(PKG.parent)}:{i}"
            in_owner = p == PKG / "ops" / "similarity.py" and (
                _top_level_def(tree, i) in owners
            )
            (owned if in_owner else offenders).append(where)
    assert offenders == []
    assert owned, f"{sorted(owners)} no longer write {pattern}"


def _f_call(node, name: str) -> bool:
    """``node`` is a call of ``F.<name>``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def test_no_interpreted_vector_fold():
    """The vector families fold vectors through ``fold_kernel`` only: no
    ``F.aggregate(F.zip_with(...))``, the interpreted per-element fold."""
    offenders = [
        f"ops/{mod}.py:{node.lineno}"
        for mod in ("clustering", "projection", "similarity", "dedup")
        for node in ast.walk(ast.parse((PKG / "ops" / f"{mod}.py").read_text()))
        if _f_call(node, "aggregate") and node.args and _f_call(node.args[0], "zip_with")
    ]
    assert offenders == []


def test_fold_kernel_worker_imports_no_engine_module(spark):
    """The kernel pickles by value: the Python worker that runs it has no
    ``map_reduce_lite_spark`` module in ``sys.modules`` (importing the
    package costs a worker 0.77 s)."""
    import pyarrow as pa

    from map_reduce_lite_spark.ops.similarity import fold_kernel

    _, _, pairwise = fold_kernel()

    def probe(a):
        import sys

        pairwise(a, a)
        loaded = sorted(m for m in sys.modules if m.split(".")[0] == "map_reduce_lite_spark")
        return pa.array([",".join(loaded)] * len(a))

    df = spark.createDataFrame([([1.0, 2.0],)], "a array<double>")
    assert df.select(F.arrow_udf(probe, "string")("a")).first()[0] == ""


def test_fold_runs_once_per_row(spark):
    """A filter on a fold's result, and the isnotnull filters inferred
    from a join on it, read the projected value: the plan evaluates each
    fold once, never the same fold twice (three folds, three
    ArrowEvalPython nodes)."""
    from map_reduce_lite_spark.ops.similarity import _dot, _norm

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [-1.0, 0.5])], "id long, v array<float>"
    )
    side = df.select("id", "v", _norm(F.col("v")).alias("n"))
    a, b = side.alias("a"), df.alias("b").select(
        F.col("id").alias("bid"), F.col("v").alias("bv"), _norm(F.col("v")).alias("bn")
    )
    cos = _dot(F.col("a.v"), F.col("bv")) / (F.col("a.n") * F.col("bn"))
    scored = a.join(b, F.col("a.id") < F.col("bid")).select(cos.alias("sim"))
    out = scored.filter(F.col("sim") > 0.5).select(F.floor(F.col("sim") * 1e9))
    assert out.count() == 1
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 3, plan


def _buckets(spark):
    # bucket 0 holds 5 ids, bucket 1 holds 2
    rows = [(i, 0) for i in range(5)] + [(10, 1), (11, 1)]
    return spark.createDataFrame(rows, "vec_id long, b long")


def test_probe_and_split_sizes(spark):
    from map_reduce_lite_spark.ops.pairs import (
        bucket_over_cap,
        salted_split,
        split_hot_buckets,
    )

    rows = _buckets(spark)
    salt = F.col("vec_id").cast("string")
    assert bucket_over_cap(rows, ["b"], 4)
    assert not bucket_over_cap(rows, ["b"], 5)
    assert not bucket_over_cap(rows.limit(0), ["b"], 0)

    # cap 2: bucket 0 → ceil(5/2) = 3 sub-buckets, bucket 1 → 1
    split = {
        r.vec_id: (r.n_sub, r.sub)
        for r in salted_split(rows, ["b"], 2, salt).collect()
    }
    assert {v: n for v, (n, _) in split.items()} == {
        **{i: 3 for i in range(5)}, 10: 1, 11: 1
    }
    assert all(0 <= s < n for n, s in split.values())
    assert split[10][1] == split[11][1] == 0

    same, hot = split_hot_buckets(rows, ["b"], 5, salt)
    assert not hot
    assert {r.sub for r in same.collect()} == {0}
    salted, hot = split_hot_buckets(rows, ["b"], 2, salt)
    assert hot
    assert sorted(tuple(r) for r in salted.select("vec_id", "sub").collect()) == sorted(
        (v, s) for v, (_, s) in split.items()
    )


# (g, k, m, p): key k (g is a constant second key column), member m,
# payload p = 10·m. Key 1 holds 4 rows with member 2 twice, key 2 holds
# 2 rows, key 3 holds 3 rows.
_COOCCUR_ROWS = [
    (0, 1, 1, 10), (0, 1, 2, 20), (0, 1, 2, 20), (0, 1, 3, 30),
    (0, 2, 1, 10), (0, 2, 2, 20),
    (0, 3, 4, 40), (0, 3, 5, 50), (0, 3, 6, 60),
]
_COOCCUR_SCHEMA = "g long, k long, m long, p long"
# (m1, m2) -> n_shared: member 2's two rows in key 1 each pair with 1 and 3
_COOCCUR_ALL = {(1, 2): 3, (1, 3): 1, (2, 3): 2, (4, 5): 1, (4, 6): 1, (5, 6): 1}

# (kwargs, expected (m1, m2, n_shared) rows)
_COOCCUR_CASES = {
    "plain": ({}, _COOCCUR_ALL),
    "min_count_2": ({"min_count": 2}, {(1, 2): 3, (2, 3): 2}),
    "min_count_3": ({"min_count": 3}, {(1, 2): 3}),
    # key 3 holds exactly 3 rows and stays; key 1 holds 4 and goes
    "key_cap_3": ({"key_cap": 3}, {(1, 2): 1, (4, 5): 1, (4, 6): 1, (5, 6): 1}),
    "key_cap_2": ({"key_cap": 2}, {(1, 2): 1}),
}


def _cooccur_rows(spark):
    return spark.createDataFrame(_COOCCUR_ROWS, _COOCCUR_SCHEMA)


@pytest.mark.parametrize("case", sorted(_COOCCUR_CASES))
def test_cooccur_counts_ordered_distinct_pairs(spark, case):
    """Distinct id-ordered pairs, each counted with multiplicity; the
    count and key-size bounds are inclusive; a composite key gives the
    same pairs when its extra column is constant."""
    from map_reduce_lite_spark.ops.pairs import cooccur

    kwargs, expected = _COOCCUR_CASES[case]
    rows = _cooccur_rows(spark)
    for key in ("k", ["g", "k"]):
        out = cooccur(rows, key, "m", **kwargs)
        assert out.columns == ["m1", "m2", "n_shared"]
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len({(m1, m2) for m1, m2, _ in got})
        assert all(m1 < m2 for m1, m2, _ in got)
        assert {(m1, m2): n for m1, m2, n in got} == expected


def test_cooccur_payload_and_empty_frame(spark):
    """Each payload column rides along from both sides; an empty frame
    gives no pairs, with the same columns."""
    from map_reduce_lite_spark.ops.pairs import cooccur

    rows = _cooccur_rows(spark)
    out = cooccur(rows, "k", "m", payload=("p",))
    assert out.columns == ["m1", "m2", "n_shared", "p_1", "p_2"]
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        (m1, m2, n, 10 * m1, 10 * m2) for (m1, m2), n in _COOCCUR_ALL.items()
    )
    empty = cooccur(rows.limit(0), "k", "m", payload=("p",), min_count=2, key_cap=3)
    assert empty.columns == out.columns
    assert empty.collect() == []


@pytest.mark.parametrize("case", sorted(_COOCCUR_CASES))
def test_cooccur_sql_twin_parity(spark, case):
    """``sql_cooccur`` gives ``cooccur``'s rows, payload included."""
    import duckdb
    import pandas as pd

    from map_reduce_lite_spark.ops.pairs import cooccur, sql_cooccur

    kwargs, _ = _COOCCUR_CASES[case]
    kwargs = {**kwargs, "payload": ("p",)}
    rows = _cooccur_rows(spark)
    spark_rows = sorted(tuple(r) for r in cooccur(rows, ["g", "k"], "m", **kwargs).collect())
    con = duckdb.connect()
    con.register("t", pd.DataFrame(_COOCCUR_ROWS, columns=["g", "k", "m", "p"]))
    res = con.execute(sql_cooccur("t", ["g", "k"], "m", **kwargs))
    assert [d[0] for d in res.description] == ["m1", "m2", "n_shared", "p_1", "p_2"]
    assert sorted(res.fetchall()) == spark_rows


def test_salted_split_sql_twin_parity(spark):
    """``sql_salted_split`` gives ``salted_split``'s ``n_sub`` and ``sub``
    for every row, under the band salt of both engines."""
    import duckdb
    import pandas as pd

    from map_reduce_lite_spark.ops.pairs import band_salt, salted_split, sql_band_salt, sql_salted_split

    rows = _buckets(spark)
    spark_rows = sorted(
        tuple(r)
        for r in salted_split(rows, ["b"], 2, band_salt("t", "b", "vec_id"))
        .select("vec_id", "b", "n_sub", "sub")
        .collect()
    )
    con = duckdb.connect()
    con.register("r", rows.toPandas())
    sql = sql_salted_split("r", ["b"], 2, sql_band_salt("t", "b", "vec_id"))
    assert sorted(con.execute(f"SELECT vec_id, b, n_sub, sub FROM ({sql})").fetchall()) == spark_rows
    assert {n for _, _, n, _ in spark_rows} == {1, 3}
