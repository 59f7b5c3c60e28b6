"""r13 optimization-round internals: the connected-components
convergence certificate (count + two xxhash64 xors) replaced the exact
symdiff confirm — pin that it tells sets apart. Non-convergence raising
is pinned in tests/test_r12_ops.py."""

from __future__ import annotations

from map_reduce_lite_spark.ops.graph import _cc_fingerprint


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_dual_fingerprint_distinguishes_sets(spark):
    """The convergence certificate (count + two independently-seeded
    xxhash64 xors) replaced the exact symdiff confirm; it must (a)
    agree on equal sets and (b) differ on sets the loop must tell
    apart — including SAME-COUNT sets, where only the hash components
    discriminate."""
    a = _edges_df(spark, [(1, 2), (3, 4)]).toDF("a", "b")
    a2 = _edges_df(spark, [(3, 4), (1, 2)]).toDF("a", "b")  # same set
    b = _edges_df(spark, [(1, 2), (3, 5)]).toDF("a", "b")   # same count
    fa, fa2, fb = _cc_fingerprint(a), _cc_fingerprint(a2), _cc_fingerprint(b)
    assert fa == fa2
    assert fa != fb
    assert fa[0] == fb[0]  # counts equal: the hashes did the work
    # the two hash digests are genuinely different functions
    assert fa[1] != fa[2]
