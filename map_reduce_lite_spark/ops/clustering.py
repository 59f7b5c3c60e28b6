"""Embedding clustering (k-means) and cluster-scoped semantic dedup.

Corpus organization at 100 TB runs on clustering: partition the
embedding space, then do expensive pairwise work only WITHIN clusters
(SemDeDup — Abbas et al. 2023: k-means the embeddings, near-dedup
inside each cluster). The reference has no clustering operator; this
module is part of the training-data-pipeline extension surface, same
contract as ops/dedup.py / ops/similarity.py.

Determinism: Lloyd's algorithm over doubles is not value-portable
(centroid means are order-dependent float sums), so the operator runs
on fixed-point embeddings — each coordinate is quantized ONCE to
floor(x * 1e6) (the double multiply and floor are bit-identical in
both engines), after which every distance is an EXACT int64 and every
centroid mean is floor(int_sum / count) — one double division of
exact integers, identical everywhere. Quantization error (1e-6 per
coordinate) is orders of magnitude below the inter-point distances
here; production could run float k-means, at the price of making
results cluster-topology-reproducible rather than bit-reproducible.
Initial centroids are the first K vectors by vec_id — deterministic
and oracle-replayable (k-means++ would need a seeded RNG contract).

Scale notes:
- Assignment: the K centroids are first collapsed to ONE row holding an
  array of (cluster, centroid) structs, broadcast; one
  ``similarity.fold_kernel`` Arrow UDF call scores a vector against all
  K, and the argmin is ``array_min`` over the scores — a pure map stage
  over the corpus. The corpus is NEVER shuffled during
  assignment (the earlier crossJoin-fanout + window-argmin shape
  re-shuffled the K×-fanned corpus every Lloyd iteration — at 100 TB
  that is the whole job's cost; the map form eliminates it, same FLOPs
  O(n·K·dim), and stays fully declarative — no driver-side centroid
  collection). Tie-break: struct ordering on (dist, cluster) is
  lexicographic, i.e. ties go to the lowest cluster id, matching the
  oracle's ``ORDER BY dist_q, cluster``.
- Update: posexplode to (cluster, pos, v) feeding ONE integer SUM
  with map-side partial aggregation, then a K-row re-pack to arrays.
  The dim× row expansion fuses into the partial hash-agg inside the
  same whole-stage-codegen pipeline (never materialized, never
  shuffled: each map task still emits exactly K×dim partial sums,
  identical shuffle bytes to the unrolled 64-SUM form), and the
  Catalyst tree is CONSTANT-SIZE — the earlier 64-SUM + 64-floor
  unrolled aggregate cost ~1.4 s of driver-side analysis + codegen
  per Lloyd iteration (measured at sf0.1: 1.3-2.0 s/iteration →
  0.6-0.7 s with this form, bit-identical centroids). int64 sums are
  exact up to ~9e12 rows per cluster at this quantization (|q| <=
  1e6 needs sum < 2^63); the floor-mean's double conversion is exact
  while cluster sums stay under 2^53 — beyond that, swap the cast
  for a DECIMAL(38,0) sum, same plan shape.
- Iterations are unrolled (KMEANS_ITERS is a compile-time constant);
  each round's K-row centroid table is localCheckpoint'd so lineage
  stays flat (the ops/graph.py lesson).
- SemDeDup: the pair join keys on (cluster) — quadratic only within a
  cluster, the entire point of clustering-scoped dedup. The cosine
  verify reuses the exact fold from ops/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.pairs import salted_split, sql_salted_split
from map_reduce_lite_spark.ops.similarity import (
    EMB_DIM,
    _fold,
    _sql_cos,
    cosine_verify,
    sim_e9,
)
from map_reduce_lite_spark.registry import Query
from map_reduce_lite_spark.relational.tables import load_table

QUANT = 1_000_000.0  # fixed-point scale: q = floor(x * 1e6)
K_CLUSTERS = 4
KMEANS_ITERS = 2     # unrolled Lloyd rounds (assign → update, twice) + final assign
SEMDEDUP_COS = 0.40  # same threshold as the whole-corpus near-dup family

# Hard bound on the quadratic blowup of the within-cluster pair join:
# a cluster larger than this is deterministically sub-split into
# ceil(size / cap) hash blocks (portable md5 of vec_id), and pairs are
# generated only within a (cluster, block). Same contract as
# SHINGLE_DF_CAP for posting lists and the triangle support gate: an
# explicit recall-for-boundedness trade at the tail — pairs straddling
# two blocks of an oversized cluster are skipped (expected recall
# 1/n_sub inside that cluster only). Production alternative is to
# recurse k-means into the mega-cluster; the hash split is the
# oracle-replayable form. 4096 > any cluster at the test scale
# factors, so results are unchanged there; the property test forces a
# tiny cap to prove boundedness and oracle agreement under splitting.
SEMDEDUP_CLUSTER_CAP = 4096


def _quantize(vec):
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("long")
    )


def _sqdist(a, b):
    """Exact integer squared L2 distance between quantized vectors
    (``similarity.fold_kernel``); under ANSI mode a long overflow raises
    ARITHMETIC_OVERFLOW from the action where Spark's own arithmetic
    would, with Spark's message but as a ``PythonException`` wrapping a
    Python ``ArithmeticError``, not a ``SparkArithmeticException``: the
    error class is not set."""
    return _fold("sqdist", a, b)


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector (ties → lowest cluster id).

    Map-only over the corpus: centroids collapse to a 1-row
    (cluster, cv) struct array, broadcast, ``fold_kernel`` scores each
    vector against all of them in one Arrow UDF call, and the argmin is
    ``array_min`` over per-centroid (dist_q, cluster) structs —
    lexicographic struct comparison gives dist-then-lowest-cluster,
    so no window, no shuffle, no row fanout."""
    carr = cents.agg(F.collect_list(F.struct("cluster", "cv")).alias("carr"))
    dists = _fold("sqdists", F.col("qv"), F.transform("carr", lambda c: c["cv"]))
    best = F.array_min(
        F.transform(
            dists,
            lambda d, i: F.struct(
                d.alias("dist_q"), F.col("carr")[i]["cluster"].alias("cluster")
            ),
        )
    )
    return (
        q.crossJoin(F.broadcast(carr))
        .select("vec_id", "qv", best.alias("_best"))
        .select(
            "vec_id",
            "qv",
            F.col("_best.cluster").alias("cluster"),
            F.col("_best.dist_q").alias("dist_q"),
        )
    )


def _update(assign: DataFrame) -> DataFrame:
    """Per-cluster floor-mean centroid (see module docstring: posexplode
    → one partial-agg SUM over (cluster, pos), then a K-row array
    re-pack — constant-size Catalyst tree, same shuffle bytes)."""
    ex = assign.select("cluster", F.posexplode("qv").alias("pos", "v"))
    s = ex.groupBy("cluster", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        s.groupBy("cluster")
        .agg(F.max("n").alias("n"), F.collect_list(F.struct("pos", "s")).alias("ps"))
        .select(
            "cluster",
            F.transform(
                F.array_sort("ps"),
                lambda st: F.floor(st["s"].cast("double") / F.col("n")).cast("long"),
            ).alias("cv"),
        )
    )


def kmeans_assignments(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CLUSTERS,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Final (vec_id, cluster, dist_q) after ``iters`` Lloyd rounds.

    The plan shape is K-INDEPENDENT (pinned by
    tests/test_clustering.py::test_kmeans_plan_k_independent at K=64):
    assignment stays one broadcast of a single row carrying the
    K×(dim longs) centroid array — the kernel UDF and the argmin
    iterate that array as DATA, so the plan does not grow with K — and
    the update stays one partial-agg SUM over
    (cluster, pos) plus a K-row re-pack however large K is. The
    1-row broadcast carries K·dim·8 bytes ≈ K·0.5 KB
    at dim 64: K=64 → 33 KB, K=4096 → 2 MB; the posexplode form only
    becomes necessary when that single row approaches the broadcast /
    row-size comfort zone (~tens of MB, K ≈ 10⁵ at this dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r13: materialize the quantized corpus ONCE. Every Lloyd round's
    # eager centroid job and the final assignment each re-ran the
    # parquet scan + 64-element quantize transform (iters+1 corpus
    # scans); one eager localCheckpoint serves them all from the block
    # manager. Eager, not lazy: round 1's centroid seed (the vec_id<k
    # filter feeding the broadcast carr) and its main stage would both
    # materialize a lazy mark concurrently. Measured (interleaved A/B
    # at sf0.1, semdedup_embeddings end-to-end): 7.7/3.4/3.4 s →
    # 3.1/3.1/2.3 s with this + the eager assign ckpt, identical pair
    # sets. The ckpt is the staged quantized-embedding artifact a
    # production pipeline persists anyway.
    q = materialize(
        emb.select("vec_id", _quantize(F.col("embedding")).alias("qv")), eager=True
    )
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
    )
    for _ in range(iters):
        # K tiny rows — checkpoint keeps each round's plan flat
        cents = materialize(_update(_assign(q, cents)), eager=True)
    return _assign(q, cents).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "dist_q"
    )


def cluster_embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_assignments(spark, sf_dir)


# Oracle CTEs are COLUMN-wise (q1..q64 plain BIGINT columns), never
# BIGINT-list values: the earlier list form (`qv[i]` indexed 256x per
# cross-join row, repeated per Lloyd iteration) churned DuckDB 1.0's
# allocator into tens of thousands of glibc memory mappings and tripped
# vm.max_map_count mid-sweep (see ops/similarity.py::_sql_dot for the
# matching fix on the cosine side). Same math, same exact integers —
# just flat columns.


def _qcols(prefix: str) -> list[str]:
    return [f"{prefix}{i}" for i in range(1, EMB_DIM + 1)]


def _sql_sqdist(a: str, b: str) -> str:
    # generated 64-term integer sum — exact, order-free
    terms = [
        f"({a}.q{i} - {b}.c{i}) * ({a}.q{i} - {b}.c{i})"
        for i in range(1, EMB_DIM + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_assign(src_q: str, src_c: str, out_qv: bool) -> str:
    outer = ", " + ", ".join(_qcols("q")) if out_qv else ""
    inner = ", " + ", ".join(f"q.{c}" for c in _qcols("q")) if out_qv else ""
    return f"""(
  SELECT vec_id, cluster, dist_q{outer} FROM (
    SELECT q.vec_id, c.cluster,
           {_sql_sqdist('q', 'c')} AS dist_q,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_sqdist('q', 'c')} ASC, c.cluster ASC) AS rn{inner}
    FROM {src_q} q CROSS JOIN {src_c} c
  ) WHERE rn = 1
)"""


def _sql_update(src_a: str) -> str:
    means = ", ".join(
        f"CAST(floor(CAST(SUM(q{i}) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c{i}"
        for i in range(1, EMB_DIM + 1)
    )
    return f"""(
  SELECT cluster, {means} FROM {src_a} GROUP BY cluster
)"""


def _kmeans_ctes() -> str:
    """Shared CTE chain: q, c0, a0, c1, a1, c2 (… per KMEANS_ITERS)."""
    quant_cols = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {QUANT}) AS BIGINT) AS q{i}"
        for i in range(1, EMB_DIM + 1)
    )
    c0_cols = ", ".join(f"q{i} AS c{i}" for i in range(1, EMB_DIM + 1))
    parts = [
        f"q AS (SELECT vec_id, {quant_cols} FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cluster, {c0_cols} FROM q WHERE vec_id < {K_CLUSTERS})",
    ]
    for t in range(KMEANS_ITERS):
        parts.append(f"a{t} AS {_sql_assign('q', f'c{t}', out_qv=True)}")
        parts.append(f"c{t + 1} AS {_sql_update(f'a{t}')}")
    return "WITH " + ",\n".join(parts)


def _kmeans_sql() -> str:
    return (
        _kmeans_ctes()
        + f""",
final AS {_sql_assign('q', f'c{KMEANS_ITERS}', out_qv=False)}
SELECT vec_id, CAST(cluster AS INT) AS cluster, dist_q FROM final
"""
    )


KMEANS_SQL = _kmeans_sql()


def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cosine near-dup pairs WITHIN k-means clusters.

    The pair join is keyed on the cluster id, so candidate generation
    is O(Σ cluster_size²) instead of O(n²) — clustering is the
    blocking structure, exactly like LSH bands are for
    dedup_embedding_lsh, but driven by the learned partition of the
    space rather than random hyperplanes.

    The assignment table is localCheckpoint'd because the pair stage
    self-joins it (via ``side``) — each join side is planned
    independently (no ReusedExchange), so without the checkpoint the
    whole Lloyd iteration chain executes TWICE (measured ~7.8s → ~4.4s
    at sf0.1). The checkpoint is 12 bytes/vector — negligible at any
    scale next to re-running k-means."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = materialize(
        kmeans_assignments(spark, sf_dir)
        .select("vec_id", "cluster"),
        # eager (r13, measured): the pair stage consumes assign three
        # ways (both id-only join sides + the broadcast(sizes) of the
        # salted split); materializing the 12-byte/vector table up front
        # beat the lazy mark on every interleaved A/B rep at sf0.1
        # (see kmeans_assignments). Construction-time cost is one Lloyd
        # run — paid once per build, memoized by the plan-test cache.
        eager=True,
    )
    return _semdedup_pairs(emb, assign)


def _semdedup_pairs(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """Within-cluster near-dup pairs, scored at full parallelism.

    Two-step shape (the dedup_embedding_lsh lesson, which here also
    fixes a parallelism cliff): candidate pairs are generated ID-ONLY
    on the cluster key — that join has only K distinct keys, so its
    tasks can't spread wider than K, and if the vectors rode along,
    the cosine filter would be pushed INTO the join condition and the
    whole FLOP-dense scoring would run on K tasks (observed: a 4-task
    SortMergeJoin doing every dot product). With 8-byte id rows the
    K-key join is I/O-trivial; the pairs then go through
    similarity.cosine_verify, which repartitions them to full width
    and attaches vectors+norms via vec_id equi-joins (AQE broadcasts
    the vector side when it fits, shuffle-hash otherwise), so the
    per-pair cosine runs map-side on every core. Shuffle volume:
    pairs × 24 bytes + corpus vectors once — instead of two vectors
    riding every candidate pair through the K-key exchange.

    Clusters are always sub-split (pairs.salted_split with the plain
    vec_id as salt, no probe): ``n_sub = ceil(size / cap)`` with cap
    SEMDEDUP_CLUSTER_CAP read at call time, and
    ``sub = md5_60bit(vec_id) % n_sub`` — both bit-identical in
    DuckDB, so the oracle replays the split; n_sub == 1 for every
    cluster under the cap. The candidate stage is then
    O(Σ min(size, cap)·size) instead of O(Σ size²) — one mega-cluster
    can no longer go quadratic in the corpus."""
    sp = salted_split(
        assign, ["cluster"], SEMDEDUP_CLUSTER_CAP, F.col("vec_id").cast("string")
    )
    a = sp.select(F.col("vec_id").alias("keep_id"), "cluster", "sub")
    b = sp.select(F.col("vec_id").alias("dup_id"), "cluster", "sub")
    cand = (
        a.join(b, ["cluster", "sub"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .drop("sub")
    )
    return (
        cosine_verify(cand, emb, "keep_id", "dup_id")
        .filter(F.col("sim") >= F.lit(SEMDEDUP_COS))
        .select("cluster", "keep_id", "dup_id", sim_e9())
    )


def _sql_subsplit(cap: int) -> str:
    """The CTE ``subbed``, replaying _semdedup_pairs' salted split."""
    salt = "CAST(vec_id AS VARCHAR)"
    return f"subbed AS ({sql_salted_split('final', ['cluster'], cap, salt)}\n)"


def _semdedup_sql(cap: int = SEMDEDUP_CLUSTER_CAP) -> str:
    return (
        _kmeans_ctes()
        + f""",
final AS {_sql_assign('q', f'c{KMEANS_ITERS}', out_qv=False)},
{_sql_subsplit(cap)},
scored AS (
  SELECT fa.cluster, fa.vec_id AS keep_id, fb.vec_id AS dup_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM subbed fa
  JOIN subbed fb ON fa.cluster = fb.cluster AND fa.sub = fb.sub
                AND fa.vec_id < fb.vec_id
  JOIN embeddings ea ON ea.vec_id = fa.vec_id
  JOIN embeddings eb ON eb.vec_id = fb.vec_id
)
SELECT CAST(cluster AS INT) AS cluster, keep_id, dup_id,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM scored WHERE sim >= {SEMDEDUP_COS}
"""
    )


SEMDEDUP_SQL = _semdedup_sql()


def pipeline_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic-dedup funnel: k-means → within-cluster
    near-dup pairs → keep-first prune (a vector is DROPPED if it
    appears as the higher-id member of any near-dup pair — the
    deterministic greedy SemDeDup policy) → per-cluster survival
    report.

    The assignment table feeds BOTH the pair stage and the survival
    report, so it is localCheckpoint'd and the Lloyd iterations run
    once (the leakage_safe_split lesson); the prune itself is an
    id-only distinct + flag join (8-byte keys), and the report is one
    small groupBy — nothing new shuffles at corpus width."""
    assign = materialize(
        kmeans_assignments(spark, sf_dir)
        .select("vec_id", "cluster"),
        # eager (r13, measured — see semdedup_embeddings): three-way
        # consumption (pair-stage join sides + broadcast(sizes)), and
        # the eager pair ckpt below forces the Lloyd run at
        # construction anyway, so eagerness here adds no new
        # construction cost for this query.
        eager=True,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # The pair stage (within-cluster self-join + full-width cosine) is
    # consumed twice — the dropped-id set and the per-cluster pair
    # counts — and each consumer re-executed it (measured 4.6-5.0 s
    # warm / 23-30 s cold at sf0.1 vs 3.6-4.1 / 6-7.5 with the
    # barrier). Eager checkpoint: the near-dup pair list is the
    # staged build-once artifact of this pipeline, it is pair-bounded
    # (≤ cap² per cluster block), and eagerness serializes the
    # materialization so the two downstream broadcast consumers can't
    # race an uncommitted lazy checkpoint into double computation.
    pairs = materialize(_semdedup_pairs(emb, assign), eager=True)
    dropped = pairs.select(F.col("dup_id").alias("vec_id")).distinct()
    flagged = assign.join(
        dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left"
    )
    per_cluster_pairs = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )
    return (
        flagged.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_dropped"), 1).otherwise(0)).alias("n_dropped"),
        )
        .join(per_cluster_pairs, "cluster", "left")
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_vectors",
            F.coalesce(F.col("n_dup_pairs"), F.lit(0)).alias("n_dup_pairs"),
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        )
    )


def _semdedup_prune_sql(cap: int = SEMDEDUP_CLUSTER_CAP) -> str:
    return (
        _kmeans_ctes()
        + f""",
final AS {_sql_assign('q', f'c{KMEANS_ITERS}', out_qv=False)},
{_sql_subsplit(cap)},
scored AS (
  SELECT fa.cluster, fa.vec_id AS keep_id, fb.vec_id AS dup_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM subbed fa
  JOIN subbed fb ON fa.cluster = fb.cluster AND fa.sub = fb.sub
                AND fa.vec_id < fb.vec_id
  JOIN embeddings ea ON ea.vec_id = fa.vec_id
  JOIN embeddings eb ON eb.vec_id = fb.vec_id
), dup_pairs AS (
  SELECT cluster, keep_id, dup_id FROM scored WHERE sim >= {SEMDEDUP_COS}
), dropped AS (
  SELECT DISTINCT dup_id AS vec_id FROM dup_pairs
), per_cluster AS (
  SELECT f.cluster,
         COUNT(*) AS n_vectors,
         COUNT(d.vec_id) AS n_dropped
  FROM final f LEFT JOIN dropped d ON d.vec_id = f.vec_id
  GROUP BY f.cluster
), pair_counts AS (
  SELECT cluster, COUNT(*) AS n_dup_pairs FROM dup_pairs GROUP BY cluster
)
SELECT CAST(p.cluster AS INT) AS cluster, p.n_vectors,
       COALESCE(pc.n_dup_pairs, 0) AS n_dup_pairs,
       p.n_dropped, p.n_vectors - p.n_dropped AS n_kept
FROM per_cluster p LEFT JOIN pair_counts pc ON pc.cluster = p.cluster
"""
    )


SEMDEDUP_PRUNE_SQL = _semdedup_prune_sql()


CLUSTERING_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "cluster_embeddings_kmeans",
            cluster_embeddings_kmeans,
            KMEANS_SQL,
            "fixed-point k-means over embeddings (unrolled Lloyd rounds)",
        ),
        Query(
            "semdedup_embeddings",
            semdedup_embeddings,
            SEMDEDUP_SQL,
            "SemDeDup: cosine near-dup pairs within k-means clusters",
        ),
        Query(
            "pipeline_semdedup_prune",
            pipeline_semdedup_prune,
            SEMDEDUP_PRUNE_SQL,
            "semantic-dedup funnel: cluster → near-dup → keep-first prune survival",
        ),
    ]
}
