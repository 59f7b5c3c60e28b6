"""Embedding compression: random projection, int8 quantization, and the
coarse-then-rerank ANN funnel they enable.

At 100 TB the embedding table dominates ANN cost twice — shuffle bytes
and FLOPs. The two standard compressions, both here as deterministic,
fully value-oracled operators:

- **Random projection** (Johnson–Lindenstrauss): a fixed ±1 Rademacher
  matrix maps 64-dim → RP_DIM-dim. Sign matrix is a driver-side seeded
  constant shipped with the ``fold_kernel`` UDF (same pattern as the LSH
  hyperplanes in ops/similarity.py) — no RNG in the plan, so the
  projection is reproducible across engines and the DuckDB twin replays
  it term by term. The JL scaling constant 1/sqrt(k) is omitted: it is
  a global monotone factor that cannot change any neighbor ordering.
- **Int8 quantization**: per-vector max-abs scaling to [-127, 127]
  codes + a stored scale. 4 bytes/dim → 1 byte/dim of shuffle and
  cache. floor() (not round()) keeps both engines' codes identical —
  round() ties break differently across engines, floor never does.
- **Rerank funnel** (`similarity_ann_rerank`): score ALL candidates
  cheaply in the RP_DIM-dim projected space, keep RERANK_FACTOR × k
  per query, then re-score ONLY those in the full space. The expensive
  exact pass runs on a candidate set whose size is independent of the
  corpus. Composes with IVF/LSH blocking (ops/similarity.py) — at
  scale the coarse stage runs per-bucket; here it is corpus-wide so
  the oracle can replay every candidate deterministically.

Float determinism: all dot products fold left-to-right in both engines
(registry/similarity convention); ranking keys are the bit-identical
doubles with vec_id tiebreaks; every emitted score is floor-scaled to
int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.registry import Query
from map_reduce_lite_spark.relational.tables import load_table
from map_reduce_lite_spark.ops.similarity import (
    EMB_DIM,
    N_QUERY_VECS,
    TOP_K,
    _dot,
    _fold,
    _sql_cos,
    _sql_dot,
    cosine,
    top_k_by_sim,
)

RP_DIM = 32
RP_SEED = 7
RERANK_FACTOR = 16  # coarse candidates kept per final result slot
# Measured at sf0.001 vs similarity_bruteforce (recall@5, pinned in
# tests/test_similarity.py): factor 10 -> 0.75, 16 -> 0.85, 24 -> 0.925.
# The demo corpus (500 tightly-clustered vectors) is the HARD case for
# JL on fine-grained top-k; at scale the candidate count stays
# RERANK_FACTOR*k per query regardless of corpus size — that
# corpus-independence is the point of the funnel.


def _signs() -> list[list[float]]:
    """Deterministic RP_DIM x EMB_DIM Rademacher (+1/-1) sign matrix."""
    import numpy as np

    rng = np.random.default_rng(RP_SEED)
    return rng.choice([-1.0, 1.0], size=(RP_DIM, EMB_DIM)).tolist()


def _project(vec: Column) -> Column:
    """All RP_DIM projected coordinates of ``vec`` in one Arrow UDF call
    (``similarity.fold_kernel``): each coordinate is the left-to-right
    double fold of ``vec`` against one row of the sign matrix, the exact
    order the SQL twin replays. The matrix travels with the function,
    not as a plan literal (a 2,048-value ``F.lit`` cost 0.86-0.95 s of
    driver time per build) and not with each row."""
    import numpy as np

    return _fold("project", vec, const=np.array(_signs()))


def _sql_proj_dim(vec_expr: str, signs_row: list[float]) -> str:
    terms = " + ".join(
        f"CAST({vec_expr}[{j + 1}] AS DOUBLE) * {float(s)!r}"
        for j, s in enumerate(signs_row)
    )
    return f"(0.0 + {terms})"


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim -> RP_DIM-dim signed projection; coordinates emitted as
    floor(x * 1e6) int64. Zero-shuffle per-row expressions."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = _project(F.col("embedding"))
    cols = [
        F.floor(F.element_at(p, i + 1) * 1e6).cast("long").alias(f"p{i}_e6")
        for i in range(RP_DIM)
    ]
    return emb.select("vec_id", "label", *cols)


def _random_projection_sql() -> str:
    signs = _signs()
    cols = ",\n       ".join(
        f"CAST(floor({_sql_proj_dim('embedding', signs[i])} * 1e6) AS BIGINT) AS p{i}_e6"
        for i in range(RP_DIM)
    )
    return f"SELECT vec_id, label,\n       {cols}\nFROM embeddings"


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max-abs int8 codes + scale. floor() quantization for
    cross-engine determinism; zero-vector guarded to all-zero codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    code = lambda x: F.when(maxabs == 0.0, F.lit(0)).otherwise(  # noqa: E731
        F.floor(x.cast("double") / maxabs * 127.0).cast("long")
    )
    codes = F.concat_ws(
        ",", F.transform(vec, lambda x: code(x).cast("string"))
    )
    return emb.select(
        "vec_id",
        F.floor(maxabs * 1e9).cast("long").alias("scale_e9"),
        codes.alias("codes"),
    )


QUANTIZE_SQL = """
SELECT vec_id,
       CAST(floor(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) * 1e9) AS BIGINT) AS scale_e9,
       array_to_string(
         list_transform(embedding, x ->
           CAST(CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) = 0.0
                     THEN 0
                     ELSE CAST(floor(CAST(x AS DOUBLE)
                               / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
                               * 127.0) AS BIGINT)
                END AS VARCHAR)),
         ',') AS codes
FROM embeddings
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus moments over the embedding column — the
    statistics a feature-normalization / whitening step consumes
    (per-dim mean, spread, extrema before z-scaling or PCA).

    Plan: posexplode is a per-row JVM Generate (dim·n rows but zero
    Python and zero pre-shuffle state), then ONE map-side-combined
    groupBy on the 64 dim keys — each task emits 64 partial rows
    however large the corpus is, so the shuffle is O(tasks·dim).

    Exactness: values quantize to integers BEFORE any aggregation —
    q6 = floor(1e6·x) feeds sum/min/max (|sum| ≤ n·1e6: int64 holds to
    ~9e12 vectors), q3 = floor(1e3·x) feeds the sum of squares
    (q3² ≤ 1e6: int64 holds to ~9e12 vectors) — so every output is an
    order-independent integer, bit-identical across engines, retries
    and partitionings. Mean in q6 units derives from one IEEE double
    divide + floor written identically in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "val"))
    q6 = F.floor(F.lit(1e6) * F.col("val").cast("double")).cast("long")
    q3 = F.floor(F.lit(1e3) * F.col("val").cast("double")).cast("long")
    agg = (
        ex.select((F.col("pos") + 1).cast("long").alias("dim"), q6.alias("q6"), (q3 * q3).alias("q3sq"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("q6").alias("sum_q6"),
            F.min("q6").alias("min_q6"),
            F.max("q6").alias("max_q6"),
            F.sum("q3sq").alias("sumsq_q3"),
        )
    )
    return agg.select(
        "dim",
        "n_vecs",
        "sum_q6",
        F.floor(F.col("sum_q6").cast("double") / F.col("n_vecs").cast("double"))
        .cast("long")
        .alias("mean_q6"),
        "min_q6",
        "max_q6",
        "sumsq_q3",
    )


DIM_STATS_SQL = """
WITH ex AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(floor(1e6 * CAST(embedding[i] AS DOUBLE)) AS BIGINT) AS q6,
         CAST(floor(1e3 * CAST(embedding[i] AS DOUBLE)) AS BIGINT) AS q3
  FROM embeddings, LATERAL (
    SELECT unnest(range(1, len(embedding) + 1)) AS i
  ) s
)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(q6) AS BIGINT) AS sum_q6,
       CAST(floor(CAST(SUM(q6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
         AS BIGINT) AS mean_q6,
       CAST(MIN(q6) AS BIGINT) AS min_q6,
       CAST(MAX(q6) AS BIGINT) AS max_q6,
       CAST(SUM(q3 * q3) AS BIGINT) AS sumsq_q3
FROM ex GROUP BY dim
"""


def similarity_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-score in projected space, exact-rerank the survivors.

    Stage 1 scores every (query, corpus) pair on RP_DIM dims (4x fewer
    FLOPs/bytes than full) and keeps RERANK_FACTOR*TOP_K per query;
    stage 2 joins ONLY those back to full vectors for exact cosine.
    Broadcast query side both stages; candidate set size is
    k-proportional, corpus-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select("vec_id", _project(F.col("embedding")).alias("p"))
    q = proj.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("qp")
    )
    c = proj.select(F.col("vec_id").alias("neighbor_id"), F.col("p").alias("cp"))
    approx = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qp"), F.col("cp")).alias("asim"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("asim"), F.asc("neighbor_id")
    )
    cand = approx.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= RERANK_FACTOR * TOP_K
    )
    qfull = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cfull = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    exact = (
        cand.select("query_id", "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .join(cfull, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return top_k_by_sim(exact, "query_id", "neighbor_id", TOP_K)


def _ann_rerank_sql() -> str:
    signs = _signs()
    proj_cols = ",\n         ".join(
        f"{_sql_proj_dim('embedding', signs[i])} AS p{i}" for i in range(RP_DIM)
    )
    plist = "[" + ", ".join(f"p{i}" for i in range(RP_DIM)) + "]"
    return f"""
WITH proj AS (
  SELECT vec_id,
         {proj_cols}
  FROM embeddings
),
parr AS (
  SELECT vec_id, {plist}::DOUBLE[] AS p FROM proj
),
approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_cos('q.p', 'c.p')} AS asim
  FROM parr q JOIN parr c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
),
cand AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY asim DESC, neighbor_id ASC) AS arank
  FROM approx
),
exact AS (
  SELECT k.query_id, k.neighbor_id,
         {_sql_cos('q.embedding', 'c.embedding')} AS sim
  FROM cand k
  JOIN embeddings q ON q.vec_id = k.query_id
  JOIN embeddings c ON c.vec_id = k.neighbor_id
  WHERE k.arank <= {RERANK_FACTOR * TOP_K}
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM exact
QUALIFY rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance search
# --------------------------------------------------------------------------

# The third compression tier: the 64-dim vector becomes M_SUB one-byte
# codes (here 8 codes over 16-codeword books = 8 bytes/vector, a 32×
# cut vs float32). Search is ADC (asymmetric distance computation):
# the QUERY stays full-precision, each corpus vector is approximated
# by its per-subspace codewords, and d²(q,x) ≈ Σ_m d²(q_m, c_m[code_m]).
#
# Deterministic, oracle-replayable codebook: the K_CODES seed vectors
# (vec_id < 16) sliced per subspace — sampled-point codebooks, the
# k-means-free PQ variant (production would Lloyd-refine each book
# with ops/clustering.py's fixed-point machinery; encode/ADC plumbing
# is identical). All arithmetic runs on the 1e6 fixed-point integers
# from ops/clustering.py, so every distance is an exact int64 and the
# ranking is bit-portable.
M_SUB = 8    # subspaces
D_SUB = 8    # dims per subspace (M_SUB * D_SUB == EMB_DIM)
K_CODES = 16  # codewords per subspace


def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-style PQ search funnel: encode the corpus to M_SUB codes
    (map-only, broadcast codebook — the corpus is NEVER shuffled),
    ADC-score queries against the 9-int code rows to keep
    RERANK_FACTOR×k candidates, then re-score ONLY those with exact
    full-dimension distances. Raw 8-byte ADC alone reads ~0.25
    recall@5 on this deliberately hard corpus (500 tightly-clustered
    vectors — neighbor gaps below the 32×-compression resolution, and
    Lloyd-refining the books does not move it: measured 0.25 at 0
    iters, 0.225 at 2); the funnel's candidate recall at factor 16 is
    0.925, which the exact rerank converts into the final answer —
    the reason production PQ (FAISS IVFADC) always reranks.

    Scale shape: encoding is a pure projection (per vector: M_SUB
    argmins over K_CODES sub-distances); the ADC stage scans vec_id +
    codes — at 100 TB that is the difference between moving the
    embedding matrix and moving 1/32 of it; the exact stage touches
    RERANK_FACTOR×k full vectors per query, independent of corpus
    size. Here ADC folds the query against each vector's codeword
    reconstruction, one ``fold_kernel`` call per pair that DuckDB replays
    per subspace; production precomputes the per-query M_SUB×K_CODES
    lookup table (1024 ints, broadcast) and scoring is M_SUB adds per
    pair. Every distance is an exact int64 —
    no floats anywhere in this operator."""
    from map_reduce_lite_spark.ops.clustering import _quantize, _sqdist

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))

    def _sub(vec, m):
        return F.slice(vec, m * D_SUB + 1, D_SUB)

    # 1-row broadcast codebook, one column per subspace: cb{m} is the
    # m-th slice of the 16 seed vectors ordered by vec_id, cut once
    # here rather than per corpus row
    seeds = F.sort_array(F.collect_list(F.struct("vec_id", "qv")))
    cb = qv.filter(F.col("vec_id") < K_CODES).agg(
        *[
            F.transform(seeds, lambda s: _sub(s["qv"], m)).alias(f"cb{m}")
            for m in range(M_SUB)
        ]
    )

    # per subspace, the codeword slice j nearest the vector's slice (ties
    # → the smaller j) among the size(cb) codes present: a corpus smaller
    # than K_CODES trains a short codebook, and DuckDB's argmin is bounded
    # by the seed rows present too. On a full corpus size(cb) == K_CODES.
    def _code(m):
        d = _fold("sqdists", _sub(F.col("qv"), m), F.col(f"cb{m}"))
        return F.array_min(
            F.transform(d, lambda x, j: F.struct(x.alias("d"), j.alias("j")))
        )["j"]

    # ADC: the query against the corpus vector's PQ reconstruction (its
    # M_SUB codeword slices end to end). Integer addition is exact and
    # every term is non-negative, so one fold over the reconstruction
    # equals the sum of the per-subspace folds and overflows when it does.
    recon = F.flatten(F.array(*[F.col(f"cb{m}")[_code(m)] for m in range(M_SUB)]))
    codes = qv.crossJoin(F.broadcast(cb)).select("vec_id", recon.alias("recon"))
    queries = qv.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    pairs = (
        codes.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sqdist(F.slice("qq", 1, M_SUB * D_SUB), F.col("recon")).alias("approx_d2"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    cand = pairs.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= RERANK_FACTOR * TOP_K
    )
    nfull = qv.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("nv"))
    exact = (
        cand.select("query_id", "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .join(nfull, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _sqdist(F.col("qq"), F.col("nv")).alias("d2"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            "d2",
        )
    )


def _ann_pq_sql() -> str:
    from map_reduce_lite_spark.ops.clustering import QUANT

    quant_cols = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {QUANT}) AS BIGINT) AS q{i}"
        for i in range(1, M_SUB * D_SUB + 1)
    )
    # unpivot vectors and seeds into (id, m, v1..v8) sub-vector rows
    vsub_selects = "\n  UNION ALL\n".join(
        "  SELECT vec_id, {m} AS m, {cols} FROM q".format(
            m=m,
            cols=", ".join(
                f"q{m * D_SUB + i} AS v{i}" for i in range(1, D_SUB + 1)
            ),
        )
        for m in range(M_SUB)
    )
    ssub_selects = "\n  UNION ALL\n".join(
        "  SELECT vec_id AS code, {m} AS m, {cols} FROM q WHERE vec_id < {k}".format(
            m=m,
            cols=", ".join(
                f"q{m * D_SUB + i} AS c{i}" for i in range(1, D_SUB + 1)
            ),
            k=K_CODES,
        )
        for m in range(M_SUB)
    )
    dist_vc = " + ".join(
        f"(v.v{i} - s.c{i}) * (v.v{i} - s.c{i})" for i in range(1, D_SUB + 1)
    )
    dist_qc = " + ".join(
        f"(qs.v{i} - sb.c{i}) * (qs.v{i} - sb.c{i})" for i in range(1, D_SUB + 1)
    )
    return f"""
WITH q AS (
  SELECT vec_id, {quant_cols} FROM embeddings
), vsub AS (
{vsub_selects}
), ssub AS (
{ssub_selects}
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT v.vec_id, v.m, s.code,
           row_number() OVER (PARTITION BY v.vec_id, v.m
                              ORDER BY {dist_vc} ASC, s.code ASC) AS rn
    FROM vsub v JOIN ssub s ON s.m = v.m
  ) WHERE rn = 1
), adc AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM({dist_qc}) AS BIGINT) AS approx_d2
  FROM codes c
  JOIN ssub sb ON sb.m = c.m AND sb.code = c.code
  JOIN vsub qs ON qs.m = c.m AND qs.vec_id < {N_QUERY_VECS}
  WHERE c.vec_id <> qs.vec_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_d2 ASC, neighbor_id ASC) AS arank
  FROM adc
), exact AS (
  SELECT k.query_id, k.neighbor_id,
         CAST(SUM((qs.v1 - vs.v1) * (qs.v1 - vs.v1) + (qs.v2 - vs.v2) * (qs.v2 - vs.v2)
            + (qs.v3 - vs.v3) * (qs.v3 - vs.v3) + (qs.v4 - vs.v4) * (qs.v4 - vs.v4)
            + (qs.v5 - vs.v5) * (qs.v5 - vs.v5) + (qs.v6 - vs.v6) * (qs.v6 - vs.v6)
            + (qs.v7 - vs.v7) * (qs.v7 - vs.v7) + (qs.v8 - vs.v8) * (qs.v8 - vs.v8))
          AS BIGINT) AS d2
  FROM cand k
  JOIN vsub qs ON qs.vec_id = k.query_id
  JOIN vsub vs ON vs.vec_id = k.neighbor_id AND vs.m = qs.m
  WHERE k.arank <= {RERANK_FACTOR * TOP_K}
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY d2 ASC, neighbor_id ASC)
            AS INT) AS rank,
       d2
FROM exact
QUALIFY rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# Matryoshka-style prefix-dimension retrieval evaluation
# --------------------------------------------------------------------------

# Nested prefix widths evaluated against the full dimension. Matryoshka
# Representation Learning (Kusupati et al., NeurIPS 2022) trains
# embeddings whose PREFIXES are usable at lower cost; before switching
# a 100 TB retrieval pipeline to a truncated width, you measure exactly
# this: top-k agreement of prefix-dim inner-product ranking vs the
# full-dim ranking, per query. (On generic non-MRL embeddings the
# recall curve is the honest baseline the MRL paper improves on.)
PREFIX_DIMS = (8, 16, 32, EMB_DIM)


def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of prefix-dim MIPS vs full-dim MIPS, per query vector.

    One corpus scan (query side broadcast, the brute_force_topk scale
    shape): each (query, corpus) pair computes the 4 prefix inner
    products as 4 independent left-to-right folds over ``slice`` — no
    incremental reuse, deliberately: d16 = d8 + tail would change the
    double accumulation order vs the oracle's clean per-slice fold.
    Ranking is (dot DESC, neighbor_id ASC) — a total order — and
    recall_bps = (10000·|overlap|) div k is exact integer math, so the
    output is bit-portable without any float ever being emitted. The
    m = EMB_DIM row is the self-reference anchor (always 10000)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    dots = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            *[
                _dot(F.slice("q_vec", 1, m), F.slice("c_vec", 1, m)).alias(f"d{m}")
                for m in PREFIX_DIMS
            ],
        )
    )
    long = dots.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("int").alias("m"),
                        F.col(f"d{m}").alias("dot"),
                    )
                    for m in PREFIX_DIMS
                ]
            )
        ).alias("md"),
    ).select("query_id", "neighbor_id", F.col("md.m").alias("m"), F.col("md.dot").alias("dot"))
    w = Window.partitionBy("query_id", "m").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    topk = materialize(
        long.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "m", "neighbor_id"),
        # consumed twice (as the per-m candidate sets and as the m=full
        # reference); 32·k tiny rows
        eager=False,
    )
    ref = topk.filter(F.col("m") == EMB_DIM).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        topk.join(ref, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id", "m")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
        .select(
            "query_id",
            F.col("m").alias("prefix_dim"),
            F.expr(f"(10000 * n_hit) div {TOP_K}").alias("recall_bps"),
        )
    )


def _prefix_recall_sql() -> str:
    dcols = ",\n         ".join(
        f"{_sql_dot(f'q.qv[1:{m}]', f'c.cv[1:{m}]')} AS d{m}" for m in PREFIX_DIMS
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT query_id, neighbor_id, {m} AS m, d{m} AS dot FROM dots"
        for m in PREFIX_DIMS
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERY_VECS}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), dots AS (
  SELECT query_id, neighbor_id,
         {dcols}
  FROM q JOIN c ON c.neighbor_id <> q.query_id
), long AS (
{unions}
), ranked AS (
  SELECT query_id, neighbor_id, m,
         row_number() OVER (PARTITION BY query_id, m
                            ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM long
), topk AS (
  SELECT query_id, m, neighbor_id FROM ranked WHERE rank <= {TOP_K}
), ref AS (
  SELECT query_id, neighbor_id, 1 AS hit FROM topk WHERE m = {EMB_DIM}
)
SELECT t.query_id, CAST(t.m AS INT) AS prefix_dim,
       CAST((10000 * CAST(SUM(COALESCE(r.hit, 0)) AS BIGINT)) // {TOP_K}
            AS BIGINT) AS recall_bps
FROM topk t
LEFT JOIN ref r ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
GROUP BY t.query_id, t.m
"""


PC_ITERS = 3     # fixed power-iteration rounds (oracle-unrollable)
PC_V0 = 0.125    # 1/sqrt(64): exact in binary -> identical start vector


def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via PC_ITERS
    rounds of power iteration on the (uncentered) Gram matrix — the
    dimensionality-reduction / drift-monitoring primitive (a corpus
    whose top PC flips is a corpus whose dominant semantic axis moved).

    Each round is v ← normalize(Σ_i x_i·(x_i·v)) computed WITHOUT ever
    materializing the d×d matrix: one corpus pass scores s_i = x_i·v
    (the engine's standard left-to-right double fold, bit-matched by
    DuckDB's list_dot_product), then the update vector accumulates
    per-dimension as Σ_i CAST(x_id·s_i AS DECIMAL(27,12)) — a
    posexplode + ONE partial-agg SUM keyed on (pos) (the k-means
    centroid-update shape: constant-size Catalyst tree, map-side
    combine, 64-row result), repacked to a 1-row array whose norm is a
    decimal-exact HOF fold. The 1-row v broadcasts into the next round
    (no driver round-trip, lineage checkpointed per round). Overflow
    guard: s is divided by n (the exact row count, a 1-row broadcast)
    BEFORE the decimal quantization, so the per-dimension sum is
    bounded by max_row|x·s| at ANY corpus size — DECIMAL(27,12)'s 15
    integer digits can never be exceeded by row count alone (without
    the division, Σ terms pass 10^15 around 10⁹ rows × |x·s|~10⁶).
    Normalization rescales v, so the 1/n factor changes neither the
    direction nor the fixpoint, and relative precision is unchanged
    (per-term quantization error and sum magnitude both scale by n).
    Determinism: every double product and the decimal sums are written
    in identical operand order in both engines, so three unrolled CTE
    rounds replay the loadings bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = materialize(emb.select("embedding"), eager=False)
    nq = materialize(
        q.agg(F.count(F.lit(1)).cast("double").alias("nd")), eager=True
    )
    norm_expr = (
        "transform(warr, w -> w / sqrt(cast(aggregate(warr, "
        "cast(0 as decimal(27,12)), (acc, x) -> cast(acc + "
        "cast(x * x as decimal(27,12)) as decimal(27,12))) as double)))"
    )
    vdf = None
    for _ in range(PC_ITERS):
        if vdf is None:
            qq = q.select(
                "embedding", F.array(*[F.lit(PC_V0)] * EMB_DIM).alias("v")
            )
        else:
            qq = q.crossJoin(F.broadcast(vdf))
        ex = qq.crossJoin(F.broadcast(nq)).select(
            (_dot(F.col("embedding"), F.col("v")) / F.col("nd")).alias("s"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        w = (
            ex.select(
                "pos",
                F.expr("cast(cast(x as double) * s as decimal(27,12))").alias("t"),
            )
            .groupBy("pos")
            .agg(F.sum("t").alias("wd"))
            .select("pos", F.col("wd").cast("double").alias("wd"))
        )
        packed = (
            w.groupBy()
            .agg(F.collect_list(F.struct("pos", "wd")).alias("ps"))
            .select(
                F.transform(F.array_sort("ps"), lambda st: st["wd"]).alias("warr")
            )
        )
        # eager=False (r13, the graph-family job fold): PC_ITERS is a
        # constant and the query has ONE terminal action, so lazy marks
        # keep lineage truncated while folding the 3 per-round
        # materialization jobs into the terminal action (each round's
        # 1-row v materializes inside the next round's broadcast
        # future, serially — rounds depend on each other, no
        # concurrent-consumer race). Interleaved A/B at sf0.1 (4 reps):
        # eager 8.2/5.5/3.4/3.9 s vs lazy 4.6/4.4/4.3/3.3 s, identical
        # loadings on every rep.
        vdf = materialize(packed.select(F.expr(norm_expr).alias("v")), eager=False)
    return vdf.select(F.posexplode("v").alias("pos", "loading")).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("loading") * 1e9).cast("long").alias("loading_e9"),
    )


def _top_pc_sql() -> str:
    """Three unrolled power-iteration rounds, column-wise (x1..x64 /
    w1..w64 flat columns — the k-means oracle's allocator lesson), with
    the same fold orders: s is a left-associated 64-term double chain
    (== ``_dot``'s fold from acc 0.0) divided by the exact row count
    (the overflow guard — the per-dim decimal sums stay bounded by one
    row's magnitude), the per-dim sums and the norm accumulate through
    DECIMAL(27,12) (exact, order-free)."""
    d = EMB_DIM
    xcols = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(1, d + 1)
    )
    parts = [
        f"q AS (SELECT {xcols} FROM embeddings)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM embeddings)",
    ]
    prev = None
    for t in range(PC_ITERS):
        if prev is None:
            s_terms = " + ".join(f"x{i} * {PC_V0!r}" for i in range(1, d + 1))
            src = "q CROSS JOIN nn"
        else:
            s_terms = " + ".join(f"x{i} * {prev}.v{i}" for i in range(1, d + 1))
            src = f"q CROSS JOIN {prev} CROSS JOIN nn"
        parts.append(f"s{t} AS (SELECT (({s_terms}) / nd) AS s, * FROM {src})")
        wsums = ", ".join(
            f"CAST(SUM(CAST(x{i} * s AS DECIMAL(27,12))) AS DOUBLE) AS u{i}"
            for i in range(1, d + 1)
        )
        parts.append(f"w{t} AS (SELECT {wsums} FROM s{t})")
        nrm = " + ".join(
            f"CAST(u{i} * u{i} AS DECIMAL(27,12))" for i in range(1, d + 1)
        )
        vcols = ", ".join(
            f"u{i} / sqrt(CAST(({nrm}) AS DOUBLE)) AS v{i}"
            for i in range(1, d + 1)
        )
        parts.append(f"v{t} AS (SELECT {vcols} FROM w{t})")
        prev = f"v{t}"
    rows = " UNION ALL ".join(
        f"SELECT {i} AS dim, CAST(floor(v{i} * 1e9) AS BIGINT) AS loading_e9 "
        f"FROM {prev}"
        for i in range(1, d + 1)
    )
    # EXISTS guard: v2 is a 1-row global-agg CTE, so the 64-way unpivot
    # would emit 64 NULL rows on an EMPTY corpus while the Spark side's
    # collect_list packs an empty array and explodes to zero rows —
    # agree on zero rows (no corpus, no principal component)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(dim AS INT) AS dim, loading_e9 FROM ({rows})"
        + "\nWHERE EXISTS (SELECT 1 FROM embeddings)"
    )


def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine against the corpus centroid — the
    embedding-space drift monitor (the vector-side twin of
    ``text_js_divergence``: a label/source whose centroid swings away
    from the corpus mean is a stratum whose semantics moved, the signal
    a mixture-curation pipeline alarms on).

    Plan: ONE posexplode pass over the corpus → a (label, pos)-keyed
    DECIMAL(27,12) partial-agg SUM (map-side combine; state =
    labels × 64, never corpus-sized) → the corpus centroid is the
    column-wise sum of the per-label sums (decimal addition is exact,
    so regrouping is value-free) packed into a 1-row broadcast array →
    one cosine per label. No per-row joins, no quadratic stage; at
    100 TB the only corpus-sized work is the explode feeding the
    partial agg. Determinism: per-dim sums are exact decimals, each
    mean is ONE double division (identical operand order in both
    engines), and the cosine folds left-to-right via the engine's
    ``_dot`` == DuckDB ``list_dot_product`` (verified order-identical);
    output floor-scaled to e9."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x")).select(
        "label",
        "pos",
        F.expr("cast(cast(x as double) as decimal(27,12))").alias("t"),
    )
    per = materialize(
        ex.groupBy("label", "pos")
        .agg(F.sum("t").alias("s"), F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    corp_mean = (
        per.groupBy("pos")
        .agg(F.sum("s").alias("cs"), F.sum("n").alias("cn"))
        .select(
            "pos",
            (F.col("cs").cast("double") / F.col("cn").cast("double")).alias("m"),
        )
        .groupBy()
        .agg(F.collect_list(F.struct("pos", "m")).alias("ps"))
        .select(F.transform(F.array_sort("ps"), lambda st: st["m"]).alias("mc"))
    )
    lab_mean = (
        per.select(
            "label",
            "pos",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
            "n",
        )
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("ml"),
        )
    )
    return lab_mean.crossJoin(F.broadcast(corp_mean)).select(
        F.col("label").cast("int").alias("label"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.floor(cosine(F.col("ml"), F.col("mc")) * 1e9)
        .cast("long")
        .alias("cos_to_corpus_e9"),
    )


def _label_drift_sql() -> str:
    """Column-wise unrolled twin (the kmeans/top_pc allocator lesson):
    per-label decimal sums, corpus sums as sums-of-sums (exact), means
    as single double divisions in the same operand order, cosine via
    ``_sql_cos`` over the mean lists (== the Spark fold)."""
    d = EMB_DIM
    ssums = ", ".join(
        f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(27,12))) AS s{i}"
        for i in range(1, d + 1)
    )
    csums = ", ".join(f"SUM(s{i}) AS c{i}" for i in range(1, d + 1))
    ml = ", ".join(
        f"CAST(s{i} AS DOUBLE) / CAST(n AS DOUBLE)" for i in range(1, d + 1)
    )
    mc = ", ".join(f"CAST(c{i} AS DOUBLE) / cn" for i in range(1, d + 1))
    return f"""
WITH lab AS (
  SELECT label, COUNT(*) AS n, {ssums}
  FROM embeddings GROUP BY label
), corp AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS cn, {csums} FROM lab
), labm AS (
  SELECT label, n, [{ml}] AS ml FROM lab
), corpm AS (
  SELECT [{mc}] AS mc FROM corp
)
SELECT CAST(label AS INT) AS label, CAST(n AS BIGINT) AS n_vecs,
       CAST(floor(({_sql_cos('ml', 'mc')}) * 1e9) AS BIGINT) AS cos_to_corpus_e9
FROM labm CROSS JOIN corpm
"""


PROJECTION_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "embedding_top_pc",
            embedding_top_pc,
            _top_pc_sql(),
            "top principal component by matrix-free power iteration (decimal-exact twin)",
        ),
        Query(
            "embedding_prefix_recall",
            embedding_prefix_recall,
            _prefix_recall_sql(),
            "Matryoshka prefix-dim top-k recall vs full-dim MIPS",
        ),
        Query(
            "embedding_label_drift",
            embedding_label_drift,
            _label_drift_sql(),
            "per-label centroid cosine vs corpus centroid (embedding drift monitor)",
        ),
        Query(
            "embedding_random_projection",
            embedding_random_projection,
            _random_projection_sql(),
            "Rademacher JL projection 64d -> 16d, literal sign matrix",
        ),
        Query(
            "similarity_ann_pq",
            similarity_ann_pq,
            _ann_pq_sql(),
            "product-quantization codes + asymmetric-distance top-k",
        ),
        Query(
            "embedding_dim_stats",
            embedding_dim_stats,
            DIM_STATS_SQL,
            "per-dimension integer-exact moments for feature normalization",
        ),
        Query(
            "embedding_quantize_int8",
            embedding_quantize_int8,
            QUANTIZE_SQL,
            "per-vector max-abs int8 quantization",
        ),
        Query(
            "similarity_ann_rerank",
            similarity_ann_rerank,
            _ann_rerank_sql(),
            "projected-coarse -> exact-rerank ANN funnel",
        ),
    ]
}
