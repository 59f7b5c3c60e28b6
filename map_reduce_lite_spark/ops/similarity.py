"""Similarity search over embedding columns (array<float>).

Three paths, mirroring how a 100 TB vector corpus is actually served:

- **brute-force top-k** (the exactness baseline): broadcast the query
  set, one narrow pass over the corpus computing cosine, per-query top-k
  via window rank. Cost is O(|corpus| × |queries|) FLOPs but only ONE
  scan and ONE small shuffle (corpus × n_queries rows, pruned to top-k
  by partial TakeOrdered semantics). The pair math is ``_dot``, one
  numpy fold per Arrow batch (``fold_kernel``, see there).
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  bucket the corpus once (write-time at scale); queries probe only their
  bucket. Hyperplanes are seeded and passed as literals, so the operator
  is deterministic; recall vs brute force is property-tested
  (tests/test_similarity.py), and the driver gets a rows-only check —
  banding hash order isn't portable SQL.
- **IVF ANN** (the coarse-quantizer path): centroids and the query set
  are pulled to the driver, which ranks each query's probes; one
  Arrow-batched pass over the corpus assigns, probes and reranks, so
  the only shuffle carries (query, neighbor, sim) candidates, never
  corpus vectors (``ivf_scores``).

Cosine determinism vs the DuckDB oracle: both sides cast each float
element to double, multiply pairwise, and fold left-to-right
(``fold_kernel``'s numpy loop; DuckDB native ``list_dot_product`` on
DOUBLE[] — a sequential loop, verified bit-identical to the explicit
zip fold and chosen over it because the zip form's per-row struct
allocations fragment the process into vm.max_map_count mappings on wide
pair joins, see ``_sql_dot``), giving bit-identical doubles; the
division stays a Spark expression. Results are floor-scaled to 9
decimals after ranking on the raw cosine with a vec_id tiebreak.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.pairs import (
    BAND_KEYS,
    band_salt,
    cooccur,
    split_hot_buckets,
    sql_band_salt,
    sql_cooccur,
    sql_salted_split,
)
from map_reduce_lite_spark.registry import Query, md5_60bit, sql_md5_60bit, sql_ws_count, ws_count
from map_reduce_lite_spark.relational.tables import load_table, read_parquet

N_QUERY_VECS = 8  # vec_id < 8 form the query set in the oracle-checked demo
TOP_K = 5

LSH_PLANES = 16  # random-hyperplane bits for the ANN path
LSH_N_BANDS = 4
EMB_BUCKET_CAP = 512  # max members per LSH band bucket before a hot-bucket split
EMB_DIM = 64  # test-table embedding dimension (pins the oracle's planes)


def fold_kernel():
    """``(by_length, fold, pairwise)``: the engine's one vector fold, in
    numpy over Arrow list arrays (``_fold``'s UDFs and ``ivf_scores``).

    ``fold(a, b, sq)`` reduces the first axis of element-major arrays
    (``a[j]`` is element j of every vector; the other axes broadcast):
    double products added left to right from 0.0, one rounded multiply
    and add per element in separate ufunc calls (no fused multiply-add,
    no reassociation) — the IEEE sequence of ``_sql_dot``; with ``sq``,
    the wrapping int64 sum of squared differences (``_sql_sqdist``).
    ``by_length(vecs, dtype)`` is ``{length: (rows, length × rows
    array)}`` of the valid rows: non-null lists with no null element.
    ``pairwise(a, b, sq, ansi)`` folds two list arrays row by row into
    ``(values, valid)``; a length mismatch is invalid, two empty lists
    fold to zero. With ``sq`` and ``ansi`` it raises ARITHMETIC_OVERFLOW
    where Spark's exact long arithmetic would (``overflows``).
    All of it is local to this function, so it pickles by value: a
    Python worker runs it without importing this package (0.77 s)."""
    import numpy as np

    def fold(a, b, sq=False):
        acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]), a.dtype)
        # one pass per element, over element j of every vector
        for j in range(len(a)):
            if sq:
                d = a[j] - b[j]
                acc += d * d
            else:
                acc += a[j] * b[j]
        return acc

    def gather(x, off, r, n, dtype):
        # rows r, each of length n, element-major (n × len(r)) in dtype:
        # gathered, widened and transposed in one copy (a narrower
        # subset of the rows is widened after its gather)
        if len(r) == len(off) - 1:
            return np.array(x[off[0] : off[-1]].reshape(len(r), n).T, dtype, order="C")
        return x[off[r] + np.arange(n)[:, None]].astype(dtype, copy=False)

    def rows(vecs):
        # (lengths, valid, offsets, values as stored): valid rows are
        # non-null lists with no null element
        off = vecs.offsets.to_numpy()
        ok = ~vecs.is_null().to_numpy(zero_copy_only=False)
        vals = vecs.values
        if vals.null_count:
            seen = np.concatenate(
                ([0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False)))
            )
            ok &= seen[off[1:]] == seen[off[:-1]]
            vals = vals.fill_null(0)
        return np.diff(off), ok, off, vals.to_numpy(zero_copy_only=False)

    def by_length(vecs, dtype=np.float64):
        lens, ok, off, x = rows(vecs)
        groups = {}
        for n in np.unique(lens[ok]):
            r = np.flatnonzero(ok & (lens == n))
            groups[int(n)] = (r, gather(x, off, r, n, dtype))
        return groups

    def overflows(a, b):
        # Spark's exact long arithmetic on one row pair (Python lists):
        # zip_with pads with nulls, every non-null square is checked (a
        # difference that overflows squares past 2^63 too), and the sum
        # runs up to the first null term
        n = max(len(a), len(b))
        t = [
            None if x is None or y is None else (x - y) ** 2
            for x, y in zip(a + [None] * (n - len(a)), b + [None] * (n - len(b)))
        ]
        head = t[: t.index(None)] if None in t else t
        return max([v for v in t if v is not None] + [sum(head)]) >= 2**63

    def pairwise(a, b, sq=False, ansi=False):
        dtype = np.int64 if sq else np.float64
        la, oka, offa, xa = rows(a)
        lb, okb, offb, xb = rows(b)
        if sq and ansi and len(a):
            # below this bound no overflow can occur; above it, replay each
            # row's exact arithmetic
            top = max(np.abs(x.astype(np.float64)).max(initial=0.0) for x in (xa, xb))
            if (2 * top) ** 2 * max(la.max(), lb.max(), 1) >= 2.0**62 and any(
                x is not None and y is not None and overflows(x, y)
                for x, y in zip(a.to_pylist(), b.to_pylist())
            ):
                raise ArithmeticError(
                    "[ARITHMETIC_OVERFLOW] long overflow. If necessary set "
                    '"spark.sql.ansi.enabled" to "false" to bypass this error. '
                    "SQLSTATE: 22003"
                )
        ok = oka & okb & (la == lb)
        out = np.zeros(len(a), dtype)
        for n in np.unique(la[ok]):
            r = np.flatnonzero(ok & (la == n))
            out[r] = fold(gather(xa, offa, r, n, dtype), gather(xb, offb, r, n, dtype), sq)
        return out, ok

    return by_length, fold, pairwise


_FOLDS: dict = {}


def _fold(kind: str, *cols: Column, const=None) -> Column:
    """``fold_kernel`` as a scalar Arrow UDF over ``cols``:

    - ``dot(a, b)``: the double dot product of two vectors;
    - ``sqdist(a, b)``: the long squared L2 distance of two vectors;
    - ``sqdists(a, m)``: ``sqdist`` of ``a`` and each vector of the
      array ``m``, as an array (null where ``m`` is null);
    - ``project(a)``: ``dot`` of ``a`` and each row of the constant
      matrix ``const``, shipped with the function rather than with each
      row, as an array (null where ``a`` has no fold of that width).

    A fold without a value is null (see ``fold_kernel``). ``F.arrow_udf``
    needs an active session, so the UDF is built on first use and kept
    per application, ANSI mode and constant: building one pickles the
    kernel (~35 ms of driver time). ANSI mode is read when the plan is
    built, as Spark binds its own arithmetic then."""
    spark = SparkSession.active()
    ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    matrix = None if const is None else (const.shape, const.tobytes())
    key = (spark.sparkContext.applicationId, kind, ansi, matrix)
    if key not in _FOLDS:
        _FOLDS[key] = _fold_udf(kind, ansi, const)
    return _FOLDS[key](*cols)


def _fold_udf(kind: str, ansi: bool, const):
    import numpy as np

    by_length, fold, pairwise = fold_kernel()
    # the constant matrix element-major, as ``fold`` takes it
    ct = None if const is None else np.ascontiguousarray(const.T)

    def vector_fold(a, b=None):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        if kind == "project":
            n, k = ct.shape
            vals, ok = np.zeros((len(a), k)), np.zeros(len(a), bool)
            if n in (groups := by_length(a)):
                r, x = groups[n]
                vals[r], ok[r] = fold(x[:, :, None], ct[:, None, :]), True
            off = np.arange(len(a) + 1, dtype=np.int32) * k
            return pa.ListArray.from_arrays(off, vals.ravel(), mask=pa.array(~ok))
        if kind == "sqdists":
            per = pc.list_value_length(b).fill_null(0).to_numpy()
            v, ok = pairwise(
                a.take(pc.list_parent_indices(b)), pc.list_flatten(b), True, ansi
            )
            off = np.concatenate(([0], np.cumsum(per))).astype(np.int32)
            return pa.ListArray.from_arrays(off, pa.array(v, mask=~ok), mask=b.is_null())
        v, ok = pairwise(a, b, kind == "sqdist", ansi)
        return pa.array(v, mask=~ok)

    rtype = {
        "dot": "double",
        "sqdist": "bigint",
        "sqdists": "array<bigint>",
        "project": "array<double>",
    }
    # nondeterministic only to the optimizer: it then neither pushes a
    # filter on the fold's result below the projection that computes it
    # nor copies the fold into an inferred isnotnull filter, either of
    # which runs the kernel twice per row (two stacked ArrowEvalPython)
    return F.arrow_udf(vector_fold, rtype[kind]).asNondeterministic()


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product (order matches the SQL oracle),
    one ``fold_kernel`` numpy fold per Arrow batch. Cosines divide in
    Spark, so a zero norm raises DIVIDE_BY_ZERO under ANSI mode."""
    return _fold("dot", a, b)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition before a pair-scoring stage whose pair count is not
    bounded by the query set (``cosine_verify``, the exact self-join).

    Candidate-pair rows are tiny (two longs), so AQE coalesces the
    post-join stream to ~1 partition by byte-size, and the kernel stage
    would run on one core: 2M exact pairs at sf0.1 took 8.5-10 s wall
    that way against 4.0-4.6 s spread, at equal CPU. The stages scoring
    a corpus against the small query set do without it, as each Python
    task has a fixed cost: spreading all eight of them (brute force,
    filtered top-k, hard negatives, OOD, rerank, PQ, prefix recall, LSH
    ANN) raised process CPU in 32 of 32 interleaved sf0.1 pairs on 4
    vCPUs (PQ 3.6 → 7.3 s median) and wall time in 31. For the same
    reason the width is the core count, with no floor: the old floor of
    8 partitions cost more process CPU than 4 on a 4-vCPU host in 28 of
    33 interleaved pairs over the 11 queries that spread (nn_descent
    14.2 → 10.9 s median). At 100 TB the same holds: size the scoring
    stage's partition count to the cluster, never to the candidate
    table's serialized bytes."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *[F.col(c) for c in cols])


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine of two vector columns, norms computed in place — for
    operands that are not ``_vectors`` sides with norms (projected
    vectors, mean vectors, the query-set stages); the same expression
    tree as ``_pair_cos``."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sql_dot(a: str, b: str) -> str:
    """DuckDB dot product, bit-identical to ``fold_kernel``'s
    left-to-right fold (``_dot``).

    Uses native ``list_dot_product`` (a sequential C loop — verified
    element-order-identical to the ``list_sum . list_transform .
    list_zip`` fold across every consecutive pair at sf0.1) rather than
    the zip/transform construction: the zip form materializes a struct
    list PER ROW, and on a 32-thread DuckDB the per-thread allocator
    churn from the pair-join cosine oracles fragments glibc into tens
    of thousands of memory mappings — measured 65k maps ( ==
    vm.max_map_count) during pipeline_semdedup_prune's oracle, after
    which EVERY allocation in the process fails ("Failed to allocate
    block of 16384 bytes" with >100 GB free). The native function does
    zero intermediate allocation. Inputs are cast to DOUBLE[] so the
    accumulation is double-precision even for FLOAT[] embeddings."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine matching ``cosine()`` bit-for-bit (same fold order)."""
    return f"{_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"


def _vectors(
    emb: DataFrame, id_name: str, tag: str, *keep: Column, norm: bool = True
) -> DataFrame:
    """(``id_name``, ``*keep``, ``{tag}_vec``, ``{tag}_norm``): one side of
    an exact-cosine pair, with the norm computed once per vector, not
    once per pair: folding both norms in the pair stage instead made the
    k-NN family 20-40% dearer in process CPU at sf0.1. ``keep`` carries
    other columns of ``emb`` along (a label, a hash to order by).

    With ``norm=False`` there is no norm column, for the stages scoring
    a corpus against the small query set, whose pairs take ``cosine``
    of the two ``{tag}_vec`` columns: a stage of its own per norm costs
    more than the norm folds (brute force 1.9 → 1.5 s process CPU at
    sf0.1, 3 of 3 interleaved pairs)."""
    return emb.select(
        F.col("vec_id").alias(id_name),
        *keep,
        F.col("embedding").alias(f"{tag}_vec"),
        *([_norm(F.col("embedding")).alias(f"{tag}_norm")] if norm else []),
    )


def _pair_cos(a: str, b: str) -> Column:
    """Cosine of the ``a`` and ``b`` ``_vectors`` sides:
    dot/(a_norm*b_norm) matches the oracle's sqrt(a·a)*sqrt(b·b) operand
    order → bit-identical."""
    return _dot(F.col(f"{a}_vec"), F.col(f"{b}_vec")) / (
        F.col(f"{a}_norm") * F.col(f"{b}_norm")
    )


def sim_e9() -> Column:
    """``sim`` floor-scaled to an integer — round() can differ by 1 ulp
    between engines, floor cannot."""
    return F.floor(F.col("sim") * 1e9).cast("long").alias("sim_e9")


def top_k_by_sim(scored: DataFrame, by: str, tie: str, k: int) -> DataFrame:
    """Per-``by`` top-``k`` of ``scored`` by descending ``sim``, ties to
    the smaller ``tie``: ``scored``'s other columns, then ``rank`` (int)
    and ``sim_e9``. Ranking runs on the raw (bit-identical) cosine; the
    row_number filter plans as a WindowGroupLimit, so each partition
    keeps only k rows per key before the window."""
    w = Window.partitionBy(by).orderBy(F.desc("sim"), F.asc(tie))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            *[c for c in scored.columns if c != "sim"],
            F.col("rank").cast("int").alias("rank"),
            sim_e9(),
        )
    )


def cosine_verify(cand: DataFrame, emb: DataFrame, left: str, right: str) -> DataFrame:
    """The verify stage of every bucketed pair generator: ``cand``'s
    columns plus the exact cosine ``sim`` of its (``left``, ``right``)
    id pair. Candidates are id-only rows, so they are spread to full
    width first (see ``_spread``), then each side's vector and norm
    attach by an id equi-join and the cosine runs map-side."""
    return (
        _spread(cand, left)
        .join(_vectors(emb, left, "a"), left)
        .join(_vectors(emb, right, "b"), right)
        .select(*cand.columns, _pair_cos("a", "b").alias("sim"))
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-TOP_K of each query against the corpus.

    ``queries`` is expected to be small — it is broadcast, making the
    scan embarrassingly parallel with no corpus shuffle."""
    q = _vectors(queries, "query_id", "q", norm=False)
    sim = cosine(F.col("q_vec"), F.col("c_vec")).alias("sim")
    scored = (
        _vectors(corpus, "neighbor_id", "c", norm=False)
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim)
    )
    return top_k_by_sim(scored, "query_id", "neighbor_id", TOP_K)


def similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(emb, queries)


def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the negatives that actually move a contrastive loss
    (Robinson et al. 2021), versus random negatives that are trivially
    far. Same scale shape as brute_force_topk (broadcast query side,
    one corpus scan, per-query top-k window on a corpus×n_queries
    intermediate); the label inequality is one extra predicate in the
    scan stage, evaluated before any FLOPs. Production mines from an
    ANN candidate pool (similarity_ann_ivf shape) instead of the full
    corpus; the exact pass is the recall oracle for that funnel."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _vectors(
        emb.filter(F.col("vec_id") < N_QUERY_VECS),
        "query_id",
        "q",
        F.col("label").alias("q_label"),
        norm=False,
    )
    c = _vectors(emb, "neg_id", "c", F.col("label").alias("neg_label"), norm=False)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            "neg_id",
            "neg_label",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    return top_k_by_sim(scored, "query_id", "neg_id", TOP_K)


def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (hybrid retrieval): top-k cosine
    neighbors among only the documents passing a quality predicate —
    the filter every production RAG/retrieval stack applies WITH the
    vector search, not after it.

    Shape: the predicate runs on the documents scan (pushdown-eligible),
    the surviving ids equi-join the embedding corpus BEFORE any FLOPs,
    and the scan-scored remainder is the brute-force pass. Post-filtering
    top-k instead (rank first, filter after) both wastes FLOPs and
    under-fills k when neighbors get filtered out — the classic hybrid-
    search mistake this operator's shape avoids. At 100 TB the same
    predicate composes with IVF: filter inside the probed buckets."""
    from map_reduce_lite_spark.ops.pipeline import MIN_TOKENS

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = ws_count("text")
    quality_ids = docs.select(
        F.col("doc_id").alias("vec_id"), n_tokens.alias("n_tokens")
    ).filter(F.col("n_tokens") >= MIN_TOKENS)
    corpus = emb.join(quality_ids, "vec_id")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(corpus, queries)


def _filtered_topk_sql() -> str:
    from map_reduce_lite_spark.ops.pipeline import MIN_TOKENS

    return rf"""
WITH quality AS (
  SELECT doc_id AS vec_id
  FROM documents
  WHERE {sql_ws_count('text')} >= {MIN_TOKENS}
), corpus AS (
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN quality USING (vec_id)
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_cos('q.embedding', 'c.embedding')} AS sim
  FROM embeddings q JOIN corpus c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM ranked WHERE rank <= {TOP_K}
"""


SIMILARITY_HARD_NEG_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neg_id, c.label AS neg_label,
         {_sql_cos('q.embedding', 'c.embedding')} AS sim
  FROM embeddings q JOIN embeddings c ON c.label <> q.label
  WHERE q.vec_id < {N_QUERY_VECS}
), ranked AS (
  SELECT query_id, q_label, neg_id, neg_label, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neg_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, q_label, neg_id, neg_label, rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM ranked WHERE rank <= {TOP_K}
"""


SIMILARITY_BRUTE_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_cos('q.embedding', 'c.embedding')} AS sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM ranked WHERE rank <= {TOP_K}
"""


def _hyperplanes(dim: int, n_planes: int = LSH_PLANES, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constants, broadcast
    as literals — no RNG inside the plan)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_band_hashes(vec: str, planes: list[list[float]], n_bands: int) -> Column:
    """Array of ``n_bands`` band hashes of the vector column ``vec``:
    planes are split contiguously into bands; each band's sign bits
    (1 where the vector's dot with the plane is > 0) pack into one int.
    Two vectors are candidates iff ANY band hash matches
    (OR-amplification) — the classic banding construction
    (Leskovec/Rajaraman/Ullman, MMDS ch.3). The dots are one
    ``_project``-style ``fold_kernel`` call against the plane matrix, so
    a vector without a fold gets 0 bits, as the SQL twin's CASE does."""
    import numpy as np

    dots = _fold("project", F.col(vec), const=np.array(planes, dtype=np.float64))
    bits = [F.when(dots[i] > 0.0, 1).otherwise(0) for i in range(len(planes))]
    return F.array(*_pack_bands(bits, n_bands, lambda h, bit: h * 2 + bit))


def _pack_bands(bits: list, n_bands: int, pack) -> list:
    """The bits split contiguously into (at most) ``n_bands`` bands, each
    folded to one hash with ``pack(h, bit)`` (h = h*2 + bit)."""
    per = max(1, len(bits) // n_bands)
    return [
        functools.reduce(pack, bits[s : s + per])
        for s in range(0, min(n_bands * per, len(bits)), per)
    ]


def lsh_band_rows(
    emb: DataFrame, planes: list[list[float]], hash_name: str = "band_hash"
) -> DataFrame:
    """(vec_id, band_id, ``hash_name``): one row per vector per band —
    ``emb``'s embeddings hashed against ``planes`` in LSH_N_BANDS
    contiguous bands. The Spark side of every band table: the banding
    planes key the candidate joins, the refinement planes
    (``hash_name="rh"``) split oversized buckets."""
    return emb.select(
        "vec_id",
        F.posexplode(lsh_band_hashes("embedding", planes, LSH_N_BANDS)).alias(
            "band_id", hash_name
        ),
    )


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-TOP_K via banded random-hyperplane LSH over
    EMB_DIM-wide embeddings (TOP_K, EMB_DIM and LSH_PLANES are read at
    call time).

    LSH_PLANES sign bits split into LSH_N_BANDS tables of r =
    LSH_PLANES/LSH_N_BANDS bits; a corpus vector is a candidate for a
    query iff they collide in ANY band — recall 1-(1-p^r)^L for per-bit
    agreement p = 1 - θ/π. Wider bands (larger r) cut false positives;
    more bands (larger L) raise recall.

    At 100 TB: band hashes are computed once at ingest and the corpus is
    written as L bucket tables (or one table partitioned by
    (band_id, band_hash)), so a query probes L buckets' files via
    partition pruning instead of scanning the corpus. Here the explode ×L
    is inline; the per-pair dedup is a shuffle on (query_id, neighbor_id)
    bounded by candidate count, not corpus size. Recall is
    property-tested vs brute force (tests/test_similarity.py)."""
    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    # band join + candidate dedup on IDS ONLY; vectors join back after —
    # the ×LSH_N_BANDS explode and the pair-dedup shuffle then move 8-byte
    # keys instead of 64-float arrays
    c_bands = lsh_band_rows(corpus, planes).withColumnRenamed("vec_id", "neighbor_id")
    q_bands = lsh_band_rows(queries, planes).withColumnRenamed("vec_id", "query_id")
    cand = (
        c_bands.join(F.broadcast(q_bands), ["band_id", "band_hash"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair colliding in multiple bands appears once per collision;
        # dedup before scoring so cosine runs once per candidate pair
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(_vectors(corpus, "neighbor_id", "c"), "neighbor_id")
        .join(F.broadcast(_vectors(queries, "query_id", "q")), "query_id")
        .select("query_id", "neighbor_id", _pair_cos("q", "c").alias("sim"))
    )
    return top_k_by_sim(scored, "query_id", "neighbor_id", TOP_K)


# Adaptive re-banding (r11): hyperplanes used to REFINE an oversized
# band bucket, chunked per band (REFINE_PLANES / LSH_N_BANDS each) so a
# pair split by one band's refinement keeps its independent chance in
# every other band (the OR-amplification the original banding relies
# on). A distinct seed keeps them independent of the banding planes.
REFINE_PLANES = 64
REFINE_SEED = 137


def refine_hyperplanes(dim: int) -> list[list[float]]:
    """The refinement plane set — shared by the Spark path and every SQL
    twin so refined sub-bucket membership is bit-identical."""
    return _hyperplanes(dim, REFINE_PLANES, seed=REFINE_SEED)


KNN_GRAPH_K = 5  # neighbors kept per node in the corpus k-NN graph


def knn_topk_edges(emb: DataFrame) -> DataFrame:
    """The corpus k-NN edge list (src_id, dst_id, rank, sim_e9): every
    vector's top-KNN_GRAPH_K cosine neighbors among its LSH band collisions —
    the ONE artifact the whole k-NN graph family is built from.

    Reuses the certified ``dedup_embedding_lsh`` blocking (banded
    random-hyperplane signatures, pairs generated ONLY inside buckets —
    never all-pairs): the band table self-joins on (band_id, band_hash)
    with id-only rows, pairs dedup on 8-byte keys before any vector is
    attached, the exact cosine runs once per candidate, and the
    per-node top-K is a rank window over candidate-bounded input. At
    100 TB the band table is written bucket-partitioned at ingest and
    the self-join becomes bucket-local (no corpus shuffle); hot buckets
    are bounded by EMB_BUCKET_CAP with the salted split of ops/pairs.py
    (tests/test_capcorpus.py). Each colliding pair is scored
    once id-ordered and emitted in both directions (r12), so every
    node gets its own neighbor list (unlike the dedup pair set, which
    keeps only the id-ordered rows)."""
    return top_k_by_sim(_knn_scored_edges(emb), "src_id", "dst_id", KNN_GRAPH_K)


def build_knn_edges(emb: DataFrame, path: str) -> DataFrame:
    """STAGE the k-NN edge list once as a parquet artifact and return
    its scan — the production shape for the k-NN family (r10): the
    capped band join + cosine scoring is by far the family's dominant
    cost, and `similarity_knn_graph` / `similarity_nn_descent` /
    `similarity_graph_hubness` previously each rebuilt it from scratch
    (hubness's measured 1.16 scaling exponent WAS the rebuild — its own
    tail is two cheap aggregations). At 100 TB the edge list is built
    once per corpus snapshot, written to shared storage, and every
    consumer reads the scan — also the resilience story: a parquet
    artifact survives executor loss, unlike in-memory state.

    The registered single-query forms stay self-contained (they build
    the edge list inline — required by the driver contract's
    independent (spark, sf_dir) calls); parity between the staged and
    inline forms is pinned by test_knn_staged_edges_parity."""
    knn_topk_edges(emb).write.mode("overwrite").parquet(path)
    return read_parquet(emb.sparkSession, path)


def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN graph — see ``knn_topk_edges`` (the
    registered form builds the edge list inline; ``build_knn_edges``
    is the staged-artifact production path)."""
    return knn_topk_edges(load_table(spark, sf_dir, "embeddings"))


def _knn_scored_edges(emb: DataFrame) -> DataFrame:
    """(src_id, dst_id, sim) for every directed LSH band collision —
    the shared candidate-scoring stage of the k-NN graph family.

    The band table (dedup.lsh_band_table) is materialized once and
    reused by the sizing probe and both self-join sides. Buckets over
    EMB_BUCKET_CAP (read at call time) are salted-split
    (pairs.split_hot_buckets), bounding the self-join's per-bucket work
    at cap² however adversarial the corpus's collision density
    (random/unclustered vectors collide at a constant fraction of n²
    per band; real corpora cluster, but the bound must not depend on
    that). Each node still sees ~cap co-bucketed candidates per band —
    far more than the K=5 it keeps. The SQL oracle replays sizes+salt
    unconditionally (n_sub=1 → sub=0 is an identity), so the
    probe-skipped plain join hash-matches it too."""
    from map_reduce_lite_spark.ops.dedup import lsh_band_table

    sp, _ = split_hot_buckets(
        lsh_band_table(emb),
        BAND_KEYS,
        EMB_BUCKET_CAP,
        band_salt("knb", "band_id", "vec_id"),
    )
    # r12 (guide §2.3): generate ID-ORDERED pairs (vec_id <), score each
    # undirected pair ONCE, then emit both directions by exploding a
    # 2-struct array — half the rows through the dedup shuffle and half
    # the 64-dim cosines of the old directed (!=) form. cos(a,b) is
    # bit-identical under operand swap (elementwise IEEE multiply is
    # commutative, the fold order over i is unchanged, and so is
    # a_norm·b_norm), so every directed row carries exactly the value
    # the old plan computed for it.
    cand = cooccur(sp, [*BAND_KEYS, "sub"], "vec_id").select(
        F.col("m1").alias("keep_id"), F.col("m2").alias("dup_id")
    )
    half = cosine_verify(cand, emb, "keep_id", "dup_id")
    return half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("keep_id").alias("src_id"),
                    F.col("dup_id").alias("dst_id"),
                    F.col("sim").alias("sim"),
                ),
                F.struct(
                    F.col("dup_id").alias("src_id"),
                    F.col("keep_id").alias("dst_id"),
                    F.col("sim").alias("sim"),
                ),
            )
        ).alias("ed")
    ).select("ed.src_id", "ed.dst_id", "ed.sim")


def similarity_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent refinement round over the approximate k-NN graph:
    candidates = each node's current neighbors ∪ its
    neighbors-of-neighbors, rescored exactly, keeping the new top-K.
    This is the step that lifts LSH-blocked graph recall toward exact —
    two vectors missed by every band still meet through a shared
    neighbor (Dong et al., WWW'11). Because the candidate set is a
    superset of the current edges, every node's rank-r similarity is
    monotonically ≥ the input graph's (property-pinned in
    tests/test_similarity.py).

    Scale shape: the input graph is id-only rows with out-degree ≤ K,
    so the neighbor-of-neighbor self-join fans out ≤ K² per node —
    BOUNDED BY THE CONSTANT K, independent of corpus size or bucket
    skew (unlike the band join it refines, which needs hot-bucket
    caps). Join key is the 8-byte node id; vectors attach once per
    distinct surviving candidate; the per-node top-K is the same
    WindowGroupLimit-bounded rank window as the base graph."""
    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent_from_edges(emb, knn_topk_edges(emb))


def nn_descent_from_edges(emb: DataFrame, edges: DataFrame) -> DataFrame:
    """NN-descent consumer over a PRE-BUILT k-NN edge list (the staged
    ``build_knn_edges`` artifact in production — its cost is then just
    this function's own tail: one K²-bounded self-join + rescore)."""
    base = materialize(
        edges.select("src_id", "dst_id"), eager=False
    )  # reused by both sides of the NoN join
    non = (
        base.alias("e1")
        .join(base.alias("e2"), F.col("e1.dst_id") == F.col("e2.src_id"))
        .select(
            F.col("e1.src_id").alias("src_id"), F.col("e2.dst_id").alias("dst_id")
        )
        .filter(F.col("src_id") != F.col("dst_id"))
    )
    cand = base.union(non).dropDuplicates(["src_id", "dst_id"])
    scored = cosine_verify(cand, emb, "src_id", "dst_id")
    return top_k_by_sim(scored, "src_id", "dst_id", KNN_GRAPH_K)


def _knn_edges_cte(cap: int = EMB_BUCKET_CAP) -> str:
    """Shared WITH chain ending in ``ranked`` — the exact-cosine-scored,
    per-src ranked LSH band-collision edge list (SQL twin of
    ``_knn_scored_edges`` + the rank window). The hot-bucket salted
    split comes from ``sql_capped_bands_chain`` — the SAME generator
    the dedup-family oracles use (one cap implementation, zero drift
    if the mechanism changes again); its terminal ``bands`` CTE
    replays the split UNCONDITIONALLY: when no bucket exceeds ``cap``,
    n_sub = 1 and sub ≡ 0, an identity matching Spark's probe-skipped
    plain branch bit-for-bit."""
    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    return f"""
WITH {sql_capped_bands_chain(planes, LSH_N_BANDS, cap, "knb")}, half AS (
  {sql_cooccur("bands", [*BAND_KEYS, "sub"], "vec_id")}
), cand AS (
  SELECT m1 AS src_id, m2 AS dst_id FROM half
  UNION ALL
  SELECT m2, m1 FROM half
), scored AS (
  SELECT cand.src_id, cand.dst_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.src_id
  JOIN embeddings eb ON eb.vec_id = cand.dst_id
), ranked AS (
  SELECT src_id, dst_id, sim,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY sim DESC, dst_id ASC) AS rank
  FROM scored
)"""


def _knn_graph_sql() -> str:
    return (
        _knn_edges_cte()
        + f"""
SELECT src_id, dst_id, CAST(rank AS INT) AS rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM ranked WHERE rank <= {KNN_GRAPH_K}
"""
    )


def _nn_descent_sql() -> str:
    return (
        _knn_edges_cte()
        + f""", knn AS (
  SELECT src_id, dst_id FROM ranked WHERE rank <= {KNN_GRAPH_K}
), cand2 AS (
  SELECT src_id, dst_id FROM knn
  UNION
  SELECT e1.src_id, e2.dst_id
  FROM knn e1 JOIN knn e2 ON e1.dst_id = e2.src_id
  WHERE e1.src_id <> e2.dst_id
), scored2 AS (
  SELECT c.src_id, c.dst_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM cand2 c
  JOIN embeddings ea ON ea.vec_id = c.src_id
  JOIN embeddings eb ON eb.vec_id = c.dst_id
), ranked2 AS (
  SELECT src_id, dst_id, sim,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY sim DESC, dst_id ASC) AS rank
  FROM scored2
)
SELECT src_id, dst_id, CAST(rank AS INT) AS rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM ranked2 WHERE rank <= {KNN_GRAPH_K}
"""
    )


def similarity_graph_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the approximate k-NN graph: for each
    in-degree d, how many vectors are the chosen neighbor of exactly d
    others — including d=0. High-dimensional spaces concentrate
    neighbor lists onto HUB vectors while ANTI-HUBS (in-degree 0)
    vanish from every list (Radovanović et al., JMLR'10); a fat hub
    tail means graph-based dedup/retrieval over-weights a few vectors
    and the d=0 mass is unreachable by graph traversal — the QA
    histogram to check before trusting NN-descent or graph-ANN serving.

    Scale shape: consumes the capped k-NN edge list (out-degree ≤ K by
    construction, hot buckets salt-split), aggregates the 8-byte dst
    ids (map-side combined, state ≤ corpus), one id-only left join to
    restore zero-in-degree vectors, and a ≤(max-degree+1)-row final
    histogram. Integers end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hubness_from_edges(emb, knn_topk_edges(emb))


def hubness_from_edges(emb: DataFrame, edges: DataFrame) -> DataFrame:
    """In-degree histogram consumer over a PRE-BUILT k-NN edge list
    (staged-artifact production path; the registered query's measured
    1.16 scaling exponent was the inline edge-list rebuild — this
    function's own tail is two cheap aggregations + one id-only join)."""
    indeg = (
        edges.select("dst_id")
        .groupBy("dst_id")
        .agg(F.count(F.lit(1)).alias("in_degree"))
    )
    per_node = (
        emb.select("vec_id")
        .join(indeg, emb.vec_id == indeg.dst_id, "left")
        .select(F.coalesce(F.col("in_degree"), F.lit(0)).alias("in_degree"))
    )
    return per_node.groupBy("in_degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def _graph_hubness_sql() -> str:
    return (
        _knn_edges_cte()
        + f""", knn AS (
  SELECT dst_id FROM ranked WHERE rank <= {KNN_GRAPH_K}
), indeg AS (
  SELECT dst_id, COUNT(*) AS in_degree FROM knn GROUP BY dst_id
), per_node AS (
  SELECT COALESCE(i.in_degree, 0) AS in_degree
  FROM embeddings e LEFT JOIN indeg i ON i.dst_id = e.vec_id
)
SELECT in_degree, COUNT(*) AS n_nodes
FROM per_node GROUP BY in_degree
"""
    )


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    # 16 planes / 4 bands of 4 bits: ~0.23 false-positive candidate rate
    # for orthogonal pairs, high recall for cosine ≥ 0.3 neighbors
    return ann_lsh_topk(emb, queries)


def sql_capped_bands_chain(
    planes: list[list[float]], n_bands: int, cap: int, salt_prefix: str
) -> str:
    """CTE chain (to place right after WITH) ending in ``bands`` with
    columns (vec_id, band_id, band_hash, n_sub, sub) — the
    hot-bucket-capped band table (``pairs.sql_salted_split``). The
    salted split is replayed UNCONDITIONALLY: when no
    bucket exceeds ``cap``, n_sub = 1 and sub ≡ 0, an identity matching
    the Spark side's probe-skipped plain branch bit-for-bit. Consumers
    must add ``sub`` to their co-occurrence key."""
    salt = sql_band_salt(salt_prefix, "band_id", "vec_id")
    return f"""rawbands AS (
{sql_bands_cte(planes, n_bands)}
), bands AS ({sql_salted_split("rawbands", BAND_KEYS, cap, salt)}
)"""


def sql_refined_cands_chain(
    planes: list[list[float]], rplanes: list[list[float]], n_bands: int, cap: int
) -> str:
    """CTE chain (to place right after WITH) ending in ``cands`` with
    columns (keep_id, dup_id) — the ADAPTIVE-RE-BANDING candidate set,
    the SQL twin of ``pairs.refined_pairs`` (``rb`` ⋈ ``subsizes`` is
    ``pairs.refine_sizes``); the four branches are described once in
    the ops/pairs.py docstring. Replayed UNCONDITIONALLY: when no
    bucket exceeds ``cap`` branches 2-4 are empty and branch 1 is the
    plain band all-pairs, the identity matching Spark's probe-skipped
    branch.
    """
    rh_exprs = sql_band_hashes("embedding", rplanes, n_bands)
    refh = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band_id, {h} AS rh FROM embeddings"
        for b, h in enumerate(rh_exprs)
    )
    return f"""rawbands AS (
{sql_bands_cte(planes, n_bands)}
), bsizes AS (
  SELECT band_id, band_hash, COUNT(*) AS n
  FROM rawbands GROUP BY 1, 2
), refh AS (
{refh}
), rb AS (
  SELECT b.vec_id, b.band_id, b.band_hash, s.n, r.rh
  FROM rawbands b
  JOIN bsizes s ON s.band_id = b.band_id AND s.band_hash = b.band_hash
  JOIN refh r ON r.vec_id = b.vec_id AND r.band_id = b.band_id
), subsizes AS (
  SELECT band_id, band_hash, rh, COUNT(*) AS m
  FROM rb WHERE n > {cap} GROUP BY 1, 2, 3
), small AS (
  SELECT * FROM rb WHERE n <= {cap}
), fine AS (
  SELECT rb.* FROM rb JOIN subsizes s USING (band_id, band_hash, rh)
  WHERE s.m <= {cap}
), cands AS (
  SELECT m1 AS keep_id, m2 AS dup_id FROM ({sql_cooccur("small", BAND_KEYS, "vec_id")})
  UNION
  SELECT m1, m2 FROM ({sql_cooccur("fine", [*BAND_KEYS, "rh"], "vec_id")})
  UNION
  SELECT r.rep AS keep_id, m.vec_id AS dup_id
  FROM rb m
  JOIN (SELECT band_id, band_hash, rh, MIN(vec_id) AS rep
        FROM rb WHERE n > {cap} GROUP BY 1, 2, 3) r
    ON r.band_id = m.band_id AND r.band_hash = m.band_hash
   AND r.rh = m.rh
  JOIN subsizes s ON s.band_id = m.band_id AND s.band_hash = m.band_hash
                 AND s.rh = m.rh
  WHERE m.n > {cap} AND s.m > {cap} AND m.vec_id <> r.rep
  UNION
  SELECT a.rep AS keep_id, m.vec_id AS dup_id
  FROM rb m
  JOIN (SELECT band_id, band_hash, MIN(vec_id) AS rep
        FROM rb WHERE n > {cap} GROUP BY 1, 2) a
    ON a.band_id = m.band_id AND a.band_hash = m.band_hash
  WHERE m.n > {cap} AND m.vec_id <> a.rep
)"""


def sql_refine_coverage_cte(cap: int) -> str:
    """CTE pair ``coverage`` / ``approx_only`` — the SQL twin of
    ``pairs.star_only_ids`` (via ``dedup.refine_star_only_ids``). MUST be appended after
    ``sql_refined_cands_chain`` in the same WITH clause: it reads that
    chain's ``rb`` (vec_id, band_id, band_hash, n, rh) and ``subsizes``
    CTEs. A vec has EXACT coverage in a band iff its bucket fit under
    ``cap`` or its refine sub-bucket did; ``approx_only`` is the vecs
    with exact coverage in NO band — reachable in the candidate graph
    only via the star/anchor branches. Empty whenever no bucket is
    oversized (the Spark side's probe-skipped case)."""
    return f"""coverage AS (
  SELECT r.vec_id,
         MAX(CASE WHEN r.n <= {cap} THEN 1
                  WHEN s.m IS NOT NULL AND s.m <= {cap} THEN 1
                  ELSE 0 END) AS exact_cov
  FROM rb r
  LEFT JOIN subsizes s ON s.band_id = r.band_id AND s.band_hash = r.band_hash
                      AND s.rh = r.rh
  GROUP BY r.vec_id
), approx_only AS (
  SELECT vec_id FROM coverage WHERE exact_cov = 0
)"""


def sql_bands_cte(planes: list[list[float]], n_bands: int) -> str:
    """UNION-ALL body producing (vec_id, band_id, band_hash) — the SQL
    twin of ``lsh_band_rows``. Plane literals round-trip through repr so
    every sign bit is bit-identical to the Spark plan."""
    hashes = sql_band_hashes("embedding", planes, n_bands)
    return "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band_id, {h} AS band_hash FROM embeddings"
        for b, h in enumerate(hashes)
    )


def _similarity_lsh_sql() -> str:
    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    return f"""
WITH bands AS (
{sql_bands_cte(planes, LSH_N_BANDS)}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bands q JOIN bands c
    ON q.band_id = c.band_id AND q.band_hash = c.band_hash
  WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_sql_cos('eq.embedding', 'ec.embedding')} AS sim
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------

CENTROID_STRIDE = 32  # every stride-th corpus vector is a coarse centroid
N_PROBE = 4  # centroid lists each query probes


def _sql_array_lit(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


def _sql_plane_bit(vec_expr: str, plane: list[float]) -> str:
    """SQL twin of one ``lsh_band_hashes`` sign bit: the same plane
    doubles (repr round-trips them exactly), the same fold order →
    identical sign bit."""
    return f"(CASE WHEN {_sql_dot(vec_expr, _sql_array_lit(plane))} > 0 THEN 1 ELSE 0 END)"


def sql_band_hashes(vec_expr: str, planes: list[list[float]], n_bands: int) -> list[str]:
    """SQL twin of ``lsh_band_hashes``: one expression per band, bit-packed
    with the same h = h*2 + bit arithmetic."""
    bits = [_sql_plane_bit(vec_expr, p) for p in planes]
    return _pack_bands(bits, n_bands, lambda h, bit: f"({h} * 2 + {bit})")


_CENT_BLOCK = 128  # centroids scored per step: temporaries stay batch rows × 128 doubles


def ivf_scores(corpus: DataFrame, cent: DataFrame, queries: DataFrame) -> DataFrame:
    """(``query_id``, ``neighbor_id``, ``cid``, ``sim``): the IVF candidate
    pairs with their exact cosine. ``corpus``, ``cent`` and ``queries``
    are embedding rows (``vec_id``, ``embedding``); a centroid's ``cid``
    is its ``vec_id``, the table's key.

    Every corpus row is assigned its nearest centroid (``cid``), every
    query probes its ``N_PROBE`` nearest centroids, and a row pairs with
    each query that probes its centroid, ``sim`` being
    ``_pair_cos("q", "c")`` of the pair. Pairs of a row with itself
    (``neighbor_id == query_id``) or with a null id are dropped; no rows
    when ``cent`` is empty.

    "Nearest" ranks ``_pair_cos`` in Spark's window order ``csim DESC,
    cid ASC`` (for one centroid, the ``max_by(cid, struct(csim, -cid))``
    argmax): NaN above every number, null below, the smaller ``cid`` on
    ties (±0.0 tie). The cosine's edges are ``_pair_cos``'s: a null
    vector, a null element or a length mismatch gives a null cosine
    (``fold_kernel``); a zero divisor raises DIVIDE_BY_ZERO from the
    action under ANSI mode and gives null otherwise.

    Scale shape: the centroid table and the query set are pulled to the
    driver in one job, so the query set must fit in driver memory. The
    probes are ranked there and shipped with the task. The corpus
    streams through one ``mapInArrow`` pass, with no shuffle: each Arrow
    batch is assigned against ``_CENT_BLOCK`` centroids at a time with
    ``fold_kernel``'s fold, the one ``_dot`` runs, so the
    per-batch memory stays bounded as C = √n grows, then scored against
    exactly the queries that probe its rows' centroids. Only those
    candidates leave the pass. The kernel runs on the corpus scan's own
    partitions: an 8-way ``_spread`` in front of the assignment made the
    2,000-vector perfbench pass slower in 4 of 4 A/B pairs (median
    warm-pass CPU 4.88 s vs 3.25 s on 4 vCPUs). The batch function and
    the kernel are self-contained (no references to this module), so
    they pickle by value for executors without the engine on their
    path."""
    import numpy as np

    ansi = corpus.sparkSession.conf.get("spark.sql.ansi.enabled").lower() == "true"
    block, n_probe = _CENT_BLOCK, N_PROBE
    div0 = (
        "[DIVIDE_BY_ZERO] Division by zero: a zero-norm vector in the IVF "
        'cosine. Set "spark.sql.ansi.enabled" to "false" to get a NULL '
        "cosine instead. SQLSTATE: 22012"
    )

    by_length, fold, _ = fold_kernel()

    def normed(vecs):
        # ({length: (row indices, length × rows doubles, norms)},
        # (length, position in its group) per row; -1 for rows without a
        # cosine) of a list array
        groups, where = {}, np.full((2, len(vecs)), -1)
        for n, (rows, xs) in by_length(vecs).items():
            groups[n] = (rows, xs, np.sqrt(fold(xs, xs)))
            where[0, rows], where[1, rows] = n, np.arange(len(rows))
        return groups, where

    def divide(dot, div):
        # _pair_cos's division and its validity: a zero divisor is
        # DIVIDE_BY_ZERO under ANSI mode and a null otherwise
        zero = div == 0
        if ansi and zero.any():
            raise ArithmeticError(div0)
        with np.errstate(divide="ignore", invalid="ignore"):
            return dot / div, ~zero

    cols = ["vec_id", "embedding"]
    tab = (
        cent.select(F.lit(True).alias("is_cent"), *cols)
        .unionByName(queries.select(F.lit(False).alias("is_cent"), *cols))
        .toArrow()
    )
    is_cent = tab.column("is_cent").to_numpy(zero_copy_only=False)
    ctab = tab.filter(is_cent)
    ctab = ctab.take(np.argsort(ctab.column("vec_id").to_numpy(), kind="stable"))
    cids = ctab.column("vec_id").to_numpy()
    cgroups, _ = normed(ctab.column("embedding").combine_chunks())
    qtab = tab.filter(~is_cent)
    qids = qtab.column("vec_id").combine_chunks()
    qgroups, qwhere = normed(qtab.column("embedding").combine_chunks())

    def ranked(x, xn, group, n):
        # each row's n nearest centroid indices (index order is cid order):
        # NaN (tier 2) above numbers (tier 1) by value, then the smaller
        # index; null cosines (tier 0) tie, so they fill the slots left
        # with the smallest indices not ranked yet
        crows, c, cn = group
        k, nx = min(n, len(cids)), x.shape[1]
        tier = np.full((nx, k), -1)
        val = np.zeros((nx, k))
        idx = np.zeros((nx, k), np.int64)

        def keep(t, v, i):
            o = np.lexsort((i, -v, -t), axis=-1)[:, :k]
            return [np.take_along_axis(a, o, axis=-1) for a in (t, v, i)]

        for s in range(0, len(crows), block):
            q, ok = divide(
                fold(x[:, :, None], c[:, None, s : s + block]),
                xn[:, None] * cn[None, s : s + block],
            )
            t = np.where(ok, np.where(np.isnan(q), 2, 1), -1)
            tier, val, idx = keep(
                np.hstack([tier, t]),
                np.hstack([val, np.where(t == 1, q, 0.0)]),
                np.hstack([idx, np.broadcast_to(crows[s : s + block], t.shape)]),
            )
        m = min(2 * k, len(cids))
        fill = np.broadcast_to(np.arange(m), (nx, m))
        done = np.where(tier >= 0, idx, -1)
        taken = (fill[:, :, None] == done[:, None, :]).any(axis=2)
        return keep(
            np.hstack([tier, np.where(taken, -1, 0)]),
            np.hstack([val, np.zeros(fill.shape)]),
            np.hstack([idx, fill]),
        )[2]

    # probed[centroid index, query index]; a query whose cosines are all
    # null probes the smallest cids. A zero divisor under ANSI mode is
    # raised by the action, like the corpus side's, not by this builder.
    probed = np.zeros((len(cids), len(qids)), bool)
    probed[:n_probe] = True
    try:
        for n, (rows, x, xn) in qgroups.items():
            if n in cgroups:
                probed[:, rows] = False
                probed[ranked(x, xn, cgroups[n], n_probe), rows[:, None]] = True
    except ArithmeticError:
        probed = None

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        if probed is None:
            raise ArithmeticError(div0)
        if not probed.size:
            return
        for batch in batches:
            groups, where = normed(batch.column("embedding"))
            best = np.zeros(batch.num_rows, np.int64)
            for n, (rows, x, xn) in groups.items():
                if n in cgroups:
                    best[rows] = ranked(x, xn, cgroups[n], 1)[:, 0]
            r, qi = np.nonzero(probed[best])
            sim, ok = np.zeros(len(r)), np.zeros(len(r), bool)
            for n, (rows, x, xn) in groups.items():
                if n in qgroups:
                    _, qx, qn = qgroups[n]
                    p = np.flatnonzero((where[0, r] == n) & (qwhere[0, qi] == n))
                    a, b = where[1, r[p]], qwhere[1, qi[p]]
                    sim[p], ok[p] = divide(fold(qx[:, b], x[:, a]), qn[b] * xn[a])
            out = pa.RecordBatch.from_arrays(
                [
                    qids.take(qi),
                    batch.column("vec_id").take(r),
                    pa.array(cids[best[r]]),
                    pa.array(sim, mask=~ok),
                ],
                names=["query_id", "neighbor_id", "cid", "sim"],
            )
            yield out.filter(pc.not_equal(out.column(0), out.column(1)))

    return corpus.select("vec_id", "embedding").mapInArrow(
        score, "query_id long, neighbor_id long, cid long, sim double"
    )


def ann_ivf_topk(
    corpus: DataFrame, queries: DataFrame, stride: int = CENTROID_STRIDE
) -> DataFrame:
    """Approximate top-TOP_K via an IVF (inverted-file) coarse quantizer.

    Every ``stride``-th corpus vector serves as a centroid (a
    deterministic stand-in for offline k-means — the operator's plan is
    identical whatever trained the centroid set). Each corpus vector is
    assigned to its nearest centroid; a query probes only its N_PROBE
    nearest centroids' lists, so the exact rerank touches ~N_PROBE/C of
    the corpus instead of all of it.

    Scale shape (100 TB): the centroids and the query set are tiny →
    pulled to the driver once, where the probes are ranked; assignment,
    probe and exact rerank are ONE narrow Arrow-batched pass over the
    corpus (``ivf_scores``: no corpus shuffle, no ×C row blowup, the
    cosines as numpy folds rather than interpreted per-pair JVM
    lambdas). The only shuffle is the top-k window's, and it carries the
    (query, neighbor, sim) candidates, ~n·Q·N_PROBE/C rows of three
    numbers, not the corpus vectors. At ingest the corpus is written
    partitioned by cid, so probing is partition pruning, not a scan.

    ``stride`` MUST scale with the corpus: with a fixed stride the
    centroid count C = n/stride grows linearly and the assignment pass
    costs n·C = n²/stride — the r6 scale-stress measured exponent 1.49
    (superlinear) at the demo default. The standard IVF sizing is
    C ≈ sqrt(n), i.e. ``stride ≈ sqrt(n)``, which balances assignment
    (n·C) against probe width (n·N_PROBE/C) and restores sub-linear
    measured scaling (SCALE.md r6: 8× faster at 60k vectors, exponent
    0.40). The module default stays the oracle-pinned demo constant;
    callers at scale pass ``stride=int(sqrt(n))``."""
    cent = corpus.filter((F.col("vec_id") % stride) == 0)
    scored = ivf_scores(corpus, cent, queries).drop("cid")
    return top_k_by_sim(scored, "query_id", "neighbor_id", TOP_K)


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_ivf_topk(emb, queries)


def similarity_ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the PRODUCTION sizing rule executed, not just
    documented: stride = floor(sqrt(n)) so the centroid count C ≈ √n —
    assignment (n·C) balances probe width (n·N_PROBE/C) and measured
    scaling stays sub-linear (SCALE.md r6: exponent 0.40 vs 1.49 at
    the fixed demo stride). The corpus count is one scalar job
    (floor(sqrt(n)) is bit-identical in DuckDB, so the oracle replays
    the sizing from its own COUNT(*))."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    stride = int(math.floor(math.sqrt(emb.count())))
    return ann_ivf_topk(emb, queries, stride=stride)


def _ivf_sql(stride_expr: str = str(CENTROID_STRIDE)) -> str:
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec
  FROM embeddings WHERE vec_id % ({stride_expr}) = 0
), assign_scored AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, c.cid,
         {_sql_cos('e.embedding', 'c.cent_vec')} AS csim
  FROM embeddings e CROSS JOIN cent c
), assign AS (
  SELECT neighbor_id, c_vec, cid FROM (
    SELECT neighbor_id, c_vec, cid,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY csim DESC, cid ASC) AS rn
    FROM assign_scored) WHERE rn = 1
), probe_scored AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
         {_sql_cos('q.embedding', 'c.cent_vec')} AS csim
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < {N_QUERY_VECS}
), probes AS (
  SELECT query_id, q_vec, cid FROM (
    SELECT query_id, q_vec, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY csim DESC, cid ASC) AS rn
    FROM probe_scored) WHERE rn <= {N_PROBE}
), scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_sql_cos('p.q_vec', 'a.c_vec')} AS sim
  FROM assign a JOIN probes p USING (cid)
  WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


SIMILARITY_IVF_SQL = _ivf_sql()
SIMILARITY_IVF_SCALED_SQL = _ivf_sql(
    "SELECT CAST(floor(sqrt(COUNT(*))) AS BIGINT) FROM embeddings"
)


SIMILARITY_LSH_SQL = _similarity_lsh_sql()


OOD_CODEBOOK_K = 32  # fixed-size random codebook — constant at any corpus size


def embedding_ood_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector out-of-distribution score: max cosine against a fixed
    32-vector random codebook (the K corpus vectors with the smallest
    salted portable hash). A vector far from EVERY codebook direction
    is an outlier candidate — the cheap first-pass OOD/garbage filter a
    curation pipeline runs before expensive per-cluster analysis
    (low maxsim → manual-review queue or drop).

    Scale shape: the codebook is K=OOD_CODEBOOK_K rows BY CONSTRUCTION
    — a TakeOrdered over the salted hash, constant size at any corpus
    scale (unlike stride-based centroids, which grow with n) — so the
    broadcast is genuinely bounded and the scoring pass is one
    embarrassingly-parallel corpus scan (N×K FLOPs, no shuffle except
    the K-row broadcast). Deterministic: hash-selected codebook, exact
    per-row max over K doubles (no accumulation-order hazard), argmax
    tie → smallest centroid id, score exposed floor-scaled to e9."""
    emb = load_table(spark, sf_dir, "embeddings")
    h = md5_60bit(F.concat(F.lit("oodcb:"), F.col("vec_id").cast("string")))
    cb = (
        _vectors(emb, "cent_id", "c", h.alias("h"), norm=False)
        .orderBy("h", "cent_id")
        .limit(OOD_CODEBOOK_K)
        .drop("h")
    )
    sim = cosine(F.col("e_vec"), F.col("c_vec")).alias("sim")
    scored = (
        _vectors(emb, "vec_id", "e", norm=False)
        .crossJoin(F.broadcast(cb))
        .filter(F.col("vec_id") != F.col("cent_id"))
        .select("vec_id", "cent_id", sim)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("cent_id").alias("best_centroid"),
            F.floor(F.col("sim") * 1e9).cast("long").alias("maxsim_e9"),
        )
    )


def _ood_score_sql() -> str:
    salted = sql_md5_60bit("'oodcb:' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH cb AS (
  SELECT vec_id AS cent_id, embedding AS c_vec
  FROM embeddings
  ORDER BY {salted}, vec_id
  LIMIT {OOD_CODEBOOK_K}
), scored AS (
  SELECT e.vec_id, cb.cent_id,
         {_sql_cos('e.embedding', 'cb.c_vec')} AS sim
  FROM embeddings e CROSS JOIN cb
  WHERE e.vec_id <> cb.cent_id
), best AS (
  SELECT vec_id, cent_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id ASC) AS rk
  FROM scored
)
SELECT vec_id, cent_id AS best_centroid,
       CAST(floor(sim * 1e9) AS BIGINT) AS maxsim_e9
FROM best WHERE rk = 1
"""


SIMILARITY_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "similarity_bruteforce",
            similarity_bruteforce,
            SIMILARITY_BRUTE_SQL,
            "exact cosine top-k (baseline)",
        ),
        # LSH banding IS portable SQL here: the oracle embeds the same
        # hyperplane literals and bit-packing arithmetic (sql_bands_cte),
        # so even the approximate path is value-checked; recall vs brute
        # force is additionally property-tested in pytest.
        Query(
            "similarity_ann_lsh",
            similarity_ann_lsh,
            SIMILARITY_LSH_SQL,
            "LSH-bucketed ANN top-k",
        ),
        Query(
            "similarity_knn_graph",
            similarity_knn_graph,
            _knn_graph_sql(),
            "corpus-wide approximate k-NN graph over LSH band collisions",
        ),
        Query(
            "similarity_graph_hubness",
            similarity_graph_hubness,
            _graph_hubness_sql(),
            "in-degree histogram (hub/anti-hub audit) of the k-NN graph",
        ),
        Query(
            "similarity_nn_descent",
            similarity_nn_descent,
            _nn_descent_sql(),
            "one NN-descent round: neighbor-of-neighbor expansion of the k-NN graph",
        ),
        Query(
            "embedding_ood_score",
            embedding_ood_score,
            _ood_score_sql(),
            "max-cosine OOD score against a fixed 32-vector random codebook",
        ),
        Query(
            "similarity_ann_ivf",
            similarity_ann_ivf,
            SIMILARITY_IVF_SQL,
            "IVF coarse-quantized ANN top-k",
        ),
        Query(
            "similarity_ann_ivf_scaled",
            similarity_ann_ivf_scaled,
            SIMILARITY_IVF_SCALED_SQL,
            "IVF with production sizing: stride = floor(sqrt(n)) so C ≈ √n",
        ),
        Query(
            "similarity_hard_negatives",
            similarity_hard_negatives,
            SIMILARITY_HARD_NEG_SQL,
            "hard-negative mining: top-k nearest vectors with a different label",
        ),
        Query(
            "similarity_filtered_topk",
            similarity_filtered_topk,
            _filtered_topk_sql(),
            "metadata-filtered vector search: quality predicate before the FLOPs",
        ),
    ]
}
