"""Behavior tests for ops/clustering.py (fixed-point k-means + SemDeDup).

Value parity vs DuckDB is covered by test_oracle_parity; these pin the
clustering semantics (assignment optimality, Lloyd improvement,
cluster-scoped dedup recall) independently of the oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_lite_spark.ops.clustering import (
    K_CLUSTERS,
    SEMDEDUP_COS,
    _assign,
    _quantize,
    _update,
    kmeans_assignments,
    semdedup_embeddings,
)
from map_reduce_lite_spark.ops.dedup import dedup_embedding_cosine
from map_reduce_lite_spark.relational.tables import load_table
from tests.conftest import SF_SMALL


def _quantized(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    return emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))


def test_every_vector_assigned_once(spark):
    out = kmeans_assignments(spark, SF_SMALL)
    n_vecs = load_table(spark, SF_SMALL, "embeddings").count()
    assert out.count() == n_vecs
    assert out.select("vec_id").distinct().count() == n_vecs
    assert out.filter((F.col("cluster") < 0) | (F.col("cluster") >= K_CLUSTERS)).count() == 0


def test_assignment_is_argmin(spark):
    """The chosen cluster's distance must be <= every other centroid's
    distance (re-derived via the raw cross product)."""
    q = _quantized(spark)
    cents = q.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
    )
    a = _assign(q, cents).select("vec_id", "dist_q")
    from map_reduce_lite_spark.ops.clustering import _sqdist

    all_d = (
        q.crossJoin(F.broadcast(cents))
        .select("vec_id", _sqdist(F.col("qv"), F.col("cv")).alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("min_d"))
    )
    bad = a.join(all_d, "vec_id").filter(F.col("dist_q") != F.col("min_d"))
    assert bad.count() == 0


def test_lloyd_update_does_not_increase_cost(spark):
    """One Lloyd round must not increase total within-cluster cost —
    the textbook monotonicity invariant, on exact integer distances."""
    q = _quantized(spark)
    cents0 = q.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
    )
    a0 = _assign(q, cents0)
    cost0 = a0.agg(F.sum("dist_q")).first()[0]
    cents1 = _update(a0)
    a1 = _assign(q, cents1)
    cost1 = a1.agg(F.sum("dist_q")).first()[0]
    # floor-quantized centroids deviate from the true mean by <1 unit
    # (1e-6 of the value range) per dim — negligible next to the real
    # Lloyd decrease, so strict monotonicity holds at any realistic data
    assert cost1 <= cost0


def test_semdedup_pairs_are_within_cluster_near_dups(spark):
    out = semdedup_embeddings(spark, SF_SMALL)
    assert out.filter(F.col("keep_id") >= F.col("dup_id")).count() == 0
    assert out.filter(F.col("sim_e9") < int(SEMDEDUP_COS * 1e9)).count() == 0
    assert out.count() > 0


def test_semdedup_recall_vs_exact(spark):
    """Cluster blocking must retain most of the exact near-dup pairs —
    near-dups have cosine >= 0.4 and should rarely straddle a k-means
    boundary. Pin recall >= 0.5 (observed ~0.6 at sf0.001)."""
    exact = dedup_embedding_cosine(spark, SF_SMALL).select("keep_id", "dup_id")
    scoped = semdedup_embeddings(spark, SF_SMALL).select("keep_id", "dup_id")
    n_exact = exact.count()
    n_hit = exact.join(scoped, ["keep_id", "dup_id"]).count()
    assert n_exact > 0
    assert n_hit / n_exact >= 0.5, f"recall {n_hit}/{n_exact}"


def test_cluster_cap_bounds_pairs_and_matches_oracle(spark, duck, monkeypatch):
    """SEMDEDUP_CLUSTER_CAP sub-splitting, forced active with a tiny cap:

    1. boundedness — every candidate block is a strict subset of its
       cluster, so pair count drops below the uncapped quadratic;
    2. pairs only form within a (cluster, md5%n_sub) block;
    3. the DuckDB oracle replays the identical split (exact value
       parity at the forced cap, not just at the default where the
       split is the identity)."""
    from map_reduce_lite_spark.ops import clustering
    from map_reduce_lite_spark.ops.clustering import (
        _semdedup_pairs,
        _semdedup_sql,
        kmeans_assignments,
    )

    cap = 64  # << every cluster size at sf0.001 → split is active
    emb = load_table(spark, SF_SMALL, "embeddings")
    assign = kmeans_assignments(spark, SF_SMALL).select("vec_id", "cluster")
    monkeypatch.setattr(clustering, "SEMDEDUP_CLUSTER_CAP", cap)
    capped = _semdedup_pairs(emb, assign)
    monkeypatch.setattr(clustering, "SEMDEDUP_CLUSTER_CAP", 1 << 30)
    uncapped = _semdedup_pairs(emb, assign)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert 0 < n_capped < n_uncapped
    # capped pairs ⊂ uncapped pairs (split only ever removes candidates)
    extra = capped.select("keep_id", "dup_id").exceptAll(
        uncapped.select("keep_id", "dup_id")
    )
    assert extra.count() == 0
    # oracle replays the split bit-for-bit
    got = {
        (r.cluster, r.keep_id, r.dup_id, r.sim_e9) for r in capped.collect()
    }
    want = set(map(tuple, duck.execute(_semdedup_sql(cap=cap)).fetchall()))
    assert got == want


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_kmeans_plan_k_independent(spark):
    """K_CLUSTERS=4 / KMEANS_ITERS=2 are demo-scale constants; the plan
    contract must hold at production-ish K. At K=64, ITERS=3:
    assignment stays a map-only stage over the corpus (1-row broadcast
    centroid array + data-driven argmin — NO corpus shuffle, no
    sort-merge join) and the update's corpus-facing aggregate stays a
    single partial-agg SUM keyed on (cluster, pos) — the posexplode
    fuses into it, so each map task emits K×dim partial sums — plus
    the K-row re-pack exchange. The only corpus-sized exchange input
    is that one partial aggregation however large K is."""
    q = _quantized(spark)
    cents = q.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
    )
    a = _assign(q, cents)
    plan_a = _plan(a)
    assert "SortMergeJoin" not in plan_a, plan_a
    assert "hashpartitioning(" not in plan_a, plan_a
    assert "BroadcastNestedLoopJoin" in plan_a, plan_a
    plan_u = _plan(_update(a))
    # (cluster, pos) partial-agg exchange + (cluster) re-pack exchange
    assert plan_u.count("hashpartitioning(") == 2, plan_u
    assert plan_u.count("HashAggregate") >= 2, plan_u  # partial + final
    # the posexplode must fuse before the partial agg, not after a shuffle
    assert "Generate posexplode" in plan_u or "posexplode" in plan_u, plan_u
    # and it runs: 3 Lloyd rounds at K=64 assign every vector
    out = kmeans_assignments(spark, SF_SMALL, k=64, iters=3)
    n = load_table(spark, SF_SMALL, "embeddings").count()
    assert out.count() == n
    assert out.select("cluster").distinct().count() <= 64


def test_kmeans_stable_under_repartition(spark):
    """Bit-reproducibility claim: the fixed-point pipeline's output may
    not depend on physical partitioning (integer sums and floor-means
    are order-free; a float implementation would fail this)."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.clustering import (
        K_CLUSTERS,
        _assign,
        _update,
    )

    q = _quantized(spark)
    out = []
    for parts in (1, 13):
        qq = q.repartition(parts)
        cents = qq.filter(F.col("vec_id") < K_CLUSTERS).select(
            F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
        )
        cents = _update(_assign(qq, cents))
        final = _assign(qq, cents).select("vec_id", "cluster", "dist_q")
        out.append({(r.vec_id, r.cluster, r.dist_q) for r in final.collect()})
    assert out[0] == out[1]
