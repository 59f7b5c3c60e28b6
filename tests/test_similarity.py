"""Property tests for similarity search: ANN recall vs brute force, and
cosine correctness against numpy."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Window, functions as F

from map_reduce_lite_spark.ops.similarity import (
    TOP_K,
    ann_lsh_topk,
    brute_force_topk,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").cache()


def test_bruteforce_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = emb.filter(F.col("vec_id") < 3)
    got = brute_force_topk(emb, queries).collect()

    for qid in range(3):
        q = vecs[qid]
        sims = {}
        for cid, v in vecs.items():
            if cid == qid:
                continue
            sims[cid] = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        expect = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got_q = sorted(
            [(r["neighbor_id"], r["rank"], r["sim_e9"]) for r in got if r["query_id"] == qid],
            key=lambda t: t[1],
        )
        assert [t[0] for t in got_q] == [e[0] for e in expect]
        for (nid, rank, sim_e9), (enid, esim) in zip(got_q, expect):
            assert abs(sim_e9 / 1e9 - esim) < 1e-6


def test_ann_lsh_recall(spark, emb, monkeypatch):
    """LSH-bucket ANN: recall@5 vs brute force for dense buckets.

    With 8 hyperplanes on 500 random-ish vectors recall is limited by
    bucket occupancy — assert a sane floor and that every reported
    neighbor shares the query's bucket semantics (subset of brute-force
    candidates by construction of cosine)."""
    from map_reduce_lite_spark.ops import similarity

    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries).collect()
    monkeypatch.setattr(similarity, "LSH_PLANES", 8)
    approx = ann_lsh_topk(emb, queries).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
            hit += 1
    assert total > 0
    # same-bucket vectors are cosine-similar by construction; demand a
    # non-degenerate overlap with the exact top-k
    assert hit / total >= 0.2, (hit, total)


def test_ann_lsh_more_planes_fewer_candidates(spark, emb, monkeypatch):
    """Finer buckets → strictly fewer candidates. ``k`` is the corpus
    size, so the top-k cap never binds and each count is the query's
    whole candidate set (with a small k both counts saturate at
    k × n_queries and ``n_planes`` could be ignored unnoticed)."""
    from map_reduce_lite_spark.ops import similarity

    queries = emb.filter(F.col("vec_id") < 10)
    monkeypatch.setattr(similarity, "TOP_K", emb.count())
    monkeypatch.setattr(similarity, "LSH_PLANES", 4)
    few = ann_lsh_topk(emb, queries).count()
    monkeypatch.setattr(similarity, "LSH_PLANES", 12)
    many = ann_lsh_topk(emb, queries).count()
    assert many < few


def test_ann_ivf_recall(spark, emb):
    """IVF probes only n_probe centroid lists; recall@5 vs brute force
    should still be substantial on the clustered test corpus."""
    from map_reduce_lite_spark.ops.similarity import ann_ivf_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries).collect()
    approx = ann_ivf_topk(emb, queries).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        1 for r in approx if r["neighbor_id"] in exact_sets.get(r["query_id"], set())
    )
    n_exact = sum(len(s) for s in exact_sets.values())
    assert n_exact > 0
    assert hits / n_exact >= 0.3, (hits, n_exact)


def test_ann_ivf_every_query_answered(spark, emb):
    from map_reduce_lite_spark.ops.similarity import ann_ivf_topk

    queries = emb.filter(F.col("vec_id") < 8)
    got = ann_ivf_topk(emb, queries).collect()
    per_query = {}
    for r in got:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_query) == set(range(8))
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def _jvm_assign(corpus, cent):
    """The JVM assignment expression the kernel replaced: every
    (vector, centroid) ``_pair_cos``, then the argmax over (csim, -cid)."""
    from map_reduce_lite_spark.ops.similarity import _pair_cos, _vectors

    return (
        _vectors(corpus, "neighbor_id", "c")
        .crossJoin(F.broadcast(_vectors(cent, "cid", "cent")))
        .select("neighbor_id", "cid", _pair_cos("c", "cent").alias("csim"))
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))
            ).alias("cid")
        )
    )


def _jvm_ivf(corpus, cent, queries):
    """The JVM IVF plan the kernel replaced: the JVM assignment, the
    query × centroid probe window, the broadcast probe join and the
    ``_pair_cos`` rerank, as (query_id, neighbor_id, cid, sim)."""
    from map_reduce_lite_spark.ops.similarity import N_PROBE, _pair_cos, _vectors

    assign = _jvm_assign(corpus, cent).join(
        _vectors(corpus, "neighbor_id", "c"), "neighbor_id"
    )
    probes = (
        _vectors(queries, "query_id", "q")
        .crossJoin(F.broadcast(_vectors(cent, "cid", "cent")))
        .select(
            "query_id", "q_vec", "q_norm", "cid", _pair_cos("q", "cent").alias("csim")
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        probes.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "q_vec", "q_norm", "cid")
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cid", _pair_cos("q", "c").alias("sim"))
    )


def _rows(df):
    """(query_id, neighbor_id, cid, sim) rows in key order, as one repr:
    equal strings mean equal ids and bit-identical sims (NaN and null
    included)."""
    return repr(sorted((tuple(r) for r in df.collect()), key=lambda t: t[:2]))


def _assign_case(name):
    """(corpus rows, centroid rows) of (id, vector) for one parity case."""
    rng = np.random.default_rng(sum(map(ord, name)))
    dim = 16

    def vec():
        return rng.standard_normal(dim).astype(np.float32).tolist()

    corpus = [(i, vec()) for i in range(300)]
    cent = [(1000 + 7 * j, vec()) for j in range(20)]
    if name == "duplicate_centroids":
        # exact ties: three vectors, each the centroid of three cids
        cent = [(1000 + j, cent[j % 3][1]) for j in range(9)]
        corpus += [(500 + j, v) for j, (_, v) in enumerate(cent)]
    elif name == "identical_corpus":
        corpus = [(i, corpus[0][1]) for i in range(100)]
        cent = corpus[::10]
    elif name == "nan_element":
        corpus[3][1][5] = float("nan")
        cent[4][1][2] = float("nan")
    elif name == "null_embedding":
        corpus[3] = (3, None)
        cent[4] = (cent[4][0], None)
    elif name == "null_element":
        corpus[3][1][5] = None
        cent[4][1][2] = None
    elif name == "ragged_length":
        corpus[3] = (3, corpus[3][1][:-1])
        corpus[4] = (4, corpus[4][1] + [1.0])
        cent[4] = (cent[4][0], cent[4][1] + [0.5])
        corpus.append((900, []))
    elif name == "single_centroid":
        cent = cent[:1]
    elif name == "zero_norm":
        corpus[3] = (3, [0.0] * dim)
    return corpus, cent


def _query_rows(name, corpus, cent):
    """The query set of one case: corpus members (so self-pairs must
    drop), a centroid's own vector and fresh vectors, with one query-side
    edge on top for the ``*_query`` cases."""
    rng = np.random.default_rng(7)
    dim = len(next(v for _, v in corpus if v))
    rows = [(i, v) for i, v in corpus[:6]] + [(5000, cent[0][1])] + [
        (5001 + j, rng.standard_normal(dim).astype(np.float32).tolist())
        for j in range(4)
    ]
    fresh = rows[-1][1]
    if name == "null_query":
        rows[-1] = (rows[-1][0], None)
    elif name == "nan_query":
        fresh[3] = float("nan")
    elif name == "null_element_query":
        fresh[3] = None
    elif name == "ragged_query":
        rows[-1] = (rows[-1][0], fresh[:-1])
        rows[-2] = (rows[-2][0], rows[-2][1] + [2.0])
    elif name == "zero_norm_query":
        rows[-1] = (rows[-1][0], [0.0] * dim)
    elif name == "no_queries":
        rows = []
    return rows


_SCHEMA = "vec_id long, embedding array<float>"


def _ivf_frames(spark, case, query_case=None):
    """(corpus, centroid, query) frames of one parity case."""
    rows, cent_rows = _assign_case(case)
    queries = _query_rows(query_case or case, rows, cent_rows)
    return [spark.createDataFrame(r, _SCHEMA) for r in (rows, cent_rows, queries)]


_CASES = [
    "random",
    "duplicate_centroids",
    "identical_corpus",
    "nan_element",
    "null_embedding",
    "null_element",
    "ragged_length",
    "single_centroid",
]


@pytest.mark.parametrize("name", _CASES)
@pytest.mark.parametrize("block", [None, 3])
def test_nearest_centroid_matches_jvm_argmax(spark, monkeypatch, name, block):
    """The fused IVF kernel assigns every vector to the same centroid as
    the JVM expression it replaced, edges included. With ``N_PROBE`` at
    the centroid count every query probes every list, so each vector
    shows up with its ``cid``. ``block`` 3 splits the centroids into many
    blocks, so the running argmax merges ties and NaNs across blocks
    too."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.similarity import ivf_scores

    if block:
        monkeypatch.setattr(similarity, "_CENT_BLOCK", block)
    corpus, cent, _ = _ivf_frames(spark, name)
    monkeypatch.setattr(similarity, "N_PROBE", cent.count())
    queries = spark.createDataFrame([(-1, None)], _SCHEMA)

    want = sorted(tuple(r) for r in _jvm_assign(corpus, cent).collect())
    got = ivf_scores(corpus, cent, queries).collect()
    assert sorted((r["neighbor_id"], r["cid"]) for r in got) == want


@pytest.mark.parametrize("name", _CASES)
@pytest.mark.parametrize("block", [None, 3])
def test_ivf_scores_match_jvm_plan(spark, monkeypatch, name, block):
    """Assignment, probe and rerank together: the kernel emits the same
    (query_id, neighbor_id, cid) rows as the JVM plan it replaced, with
    bit-identical ``sim`` (nulls and NaNs included), and no self-pair."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.similarity import ivf_scores

    if block:
        monkeypatch.setattr(similarity, "_CENT_BLOCK", block)
    corpus, cent, queries = _ivf_frames(spark, name)
    got = ivf_scores(corpus, cent, queries)
    assert _rows(got) == _rows(_jvm_ivf(corpus, cent, queries))
    assert not any(r["query_id"] == r["neighbor_id"] for r in got.collect())


@pytest.mark.parametrize(
    "query_case",
    ["null_query", "nan_query", "null_element_query", "ragged_query", "no_queries"],
)
@pytest.mark.parametrize("block", [None, 3])
def test_ivf_scores_query_edges(spark, monkeypatch, query_case, block):
    """Query-side edges rank and score as the JVM window and
    ``_pair_cos`` do: a null, NaN, null-element or ragged query probes
    by the same order (NaN first, null last, smaller cid on ties) and
    gets the same null or NaN sims; no queries, no rows."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.similarity import ivf_scores

    if block:
        monkeypatch.setattr(similarity, "_CENT_BLOCK", block)
    corpus, cent, queries = _ivf_frames(spark, "random", query_case)
    got = ivf_scores(corpus, cent, queries)
    assert _rows(got) == _rows(_jvm_ivf(corpus, cent, queries))
    if query_case == "no_queries":
        assert got.count() == 0


def _check_zero_norm_division(spark, corpus, cent, queries):
    """DIVIDE_BY_ZERO from the action under ANSI mode, for the JVM plan
    and the kernel alike; the JVM plan's rows with ANSI off. Returns the
    JVM assignment with ANSI off."""
    from pyspark.errors import PySparkException

    from map_reduce_lite_spark.ops.similarity import ivf_scores

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    for build in (_jvm_ivf, ivf_scores):
        df = build(corpus, cent, queries)
        with pytest.raises(PySparkException, match="DIVIDE_BY_ZERO"):
            df.collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = _rows(_jvm_ivf(corpus, cent, queries))
        got = _rows(ivf_scores(corpus, cent, queries))
        assign = dict(_jvm_assign(corpus, cent).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    assert got == want
    return assign


def test_nearest_centroid_zero_norm_division(spark):
    """A zero-norm corpus vector makes the assignment and rerank cosines
    divide by zero: DIVIDE_BY_ZERO under ANSI mode, as the JVM
    expressions raise; a null cosine (so the smallest cid) with ANSI
    off."""
    corpus, cent, queries = _ivf_frames(spark, "zero_norm")
    assign = _check_zero_norm_division(spark, corpus, cent, queries)
    assert assign[3] == min(r["vec_id"] for r in cent.collect())


def test_ivf_zero_norm_query_division(spark):
    """A zero-norm query divides by zero in the probe ranking, which runs
    on the driver: the error still surfaces from the action, as the JVM
    probe window raised it; with ANSI off the query probes the smallest
    cids and scores null."""
    corpus, cent, queries = _ivf_frames(spark, "random", "zero_norm_query")
    _check_zero_norm_division(spark, corpus, cent, queries)


def test_nearest_centroid_empty_sides(spark):
    """No centroids, no vectors or no queries: no rows, as the joins
    gave."""
    from map_reduce_lite_spark.ops.similarity import ivf_scores

    corpus, cent, queries = _ivf_frames(spark, "random")
    assert ivf_scores(corpus, cent.limit(0), queries).count() == 0
    assert ivf_scores(corpus.limit(0), cent, queries).count() == 0
    assert ivf_scores(corpus, cent, queries.limit(0)).count() == 0


def test_rerank_funnel_recall_and_exactness(spark):
    """The projected-coarse -> exact-rerank funnel: recall@5 vs the
    exact baseline >= 0.8 at the pinned (RP_DIM=32, factor=16) config,
    and every emitted sim is the EXACT full-space cosine (the rerank
    stage must not leak approximate scores)."""
    from tests.conftest import SF_SMALL
    from map_reduce_lite_spark.ops.projection import similarity_ann_rerank
    from map_reduce_lite_spark.ops.similarity import similarity_bruteforce

    rr = similarity_ann_rerank(spark, SF_SMALL).collect()
    bf = similarity_bruteforce(spark, SF_SMALL).collect()
    rr_set = {(r.query_id, r.neighbor_id) for r in rr}
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    assert len(rr_set & bf_set) / len(bf_set) >= 0.8
    # where funnel and baseline agree on a neighbor, the exact score
    # must be identical (floor-scaled int comparison)
    bf_sim = {(r.query_id, r.neighbor_id): r.sim_e9 for r in bf}
    for r in rr:
        key = (r.query_id, r.neighbor_id)
        if key in bf_sim:
            assert r.sim_e9 == bf_sim[key], key


def test_projection_plan_compact_codegen(spark):
    """The sign matrix must not enter the plan at all: it ships with the
    ``fold_kernel`` UDF (a 2,048-value array literal cost ~0.9 s of
    driver time per build, and term-by-term literals blew codegen's
    64 KB limit). The plan is one scan, one Arrow UDF evaluation of all
    RP_DIM coordinates, and the projection over it."""
    from tests.conftest import SF_SMALL
    from map_reduce_lite_spark.ops.projection import (
        embedding_random_projection,
    )

    df = embedding_random_projection(spark, SF_SMALL)
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]  # formatted mode: tree, then node details
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("ArrowEvalPython") == 1, tree
    assert "vector_fold" in plan and "array(" not in plan, plan


def test_pq_funnel_recall_vs_exact_l2(spark):
    """PQ-ADC coarse -> exact-rerank funnel: final top-5 vs the exact
    integer-L2 baseline must reach recall >= 0.8 at the pinned
    (M=8, D=8, K=16, factor=16) config (measured candidate recall
    0.925; raw ADC alone is ~0.25 on this deliberately hard corpus —
    the rerank stage IS the operator's accuracy). Emitted d2 must be
    the exact full-space integer distance."""
    from pyspark.sql import Window, functions as F

    from tests.conftest import SF_SMALL
    from map_reduce_lite_spark.ops.clustering import _quantize, _sqdist
    from map_reduce_lite_spark.ops.projection import (
        N_QUERY_VECS,
        TOP_K,
        similarity_ann_pq,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    pq = similarity_ann_pq(spark, SF_SMALL).collect()
    emb = load_table(spark, SF_SMALL, "embeddings")
    qv = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    q = qv.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    pairs = qv.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sqdist(F.col("qq"), F.col("qv")).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    exact = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .collect()
    )
    es = {(r.query_id, r.neighbor_id) for r in exact}
    ps = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(es & ps) / len(es) >= 0.8, len(es & ps) / len(es)
    ed = {(r.query_id, r.neighbor_id): r.d2 for r in exact}
    for r in pq:
        key = (r.query_id, r.neighbor_id)
        if key in ed:
            assert r.d2 == ed[key], key


def test_dim_stats_invariants(spark):
    """embedding_dim_stats: one row per dimension, every dimension sees
    the whole corpus, min <= mean <= max, and the q3 sum of squares is
    consistent with the q6 extrema (|q3|^2 <= ceil(|q6|/1e3)^2 * n)."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.projection import embedding_dim_stats
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL

    out = embedding_dim_stats(spark, SF_SMALL).cache()
    n_vecs = load_table(spark, SF_SMALL, "embeddings").count()
    dim = load_table(spark, SF_SMALL, "embeddings").select(
        F.size("embedding").alias("d")
    ).first()["d"]
    assert out.count() == dim
    assert out.filter(F.col("n_vecs") != n_vecs).count() == 0
    bad = out.filter(
        (F.col("min_q6") > F.col("mean_q6")) | (F.col("mean_q6") > F.col("max_q6"))
    )
    assert bad.count() == 0
    # sumsq bound: each |q3| <= max(|min_q6|, |max_q6|)/1e3 + 1
    cap = (
        F.greatest(F.abs("min_q6"), F.abs("max_q6")) / 1000 + 1
    )
    assert out.filter(F.col("sumsq_q3") > cap * cap * F.col("n_vecs")).count() == 0


def test_top_pc_recovers_planted_dominant_axis(spark, tmp_path):
    """Power iteration on a corpus with a planted dominant axis must
    return (up to sign) that axis: vectors are ±[1..3]·e7 plus small
    off-axis jitter, so the Gram matrix's top eigenvector is ~e7. Also
    pins the output contract: 64 unit-norm loadings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_lite_spark.ops.projection import EMB_DIM, embedding_top_pc

    vecs, ids = [], []
    for i in range(300):
        v = [0.0] * EMB_DIM
        v[6] = (1.0 + (i % 5)) * (1.0 if i % 2 == 0 else -1.0)  # dominant dim 7
        v[(i * 11) % EMB_DIM] += 0.05 + 0.01 * (i % 3)          # jitter
        ids.append(i)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    rows = {r.dim: r.loading_e9 for r in embedding_top_pc(spark, str(tmp_path)).collect()}
    assert len(rows) == EMB_DIM
    assert abs(rows[7]) >= 0.95e9, rows[7]
    norm2 = sum((v / 1e9) ** 2 for v in rows.values())
    assert 0.99 <= norm2 <= 1.01
    assert all(abs(v) < 0.2e9 for d, v in rows.items() if d != 7)


def test_top_pc_divide_by_n_direction_invariant(spark):
    """The divide-s-by-n overflow guard must not move the direction:
    normalization cancels any per-round scalar on the update vector, so
    the guarded form and the unguarded (pre-r9) form agree on every
    loading to fp-rounding granularity. Re-derives the unguarded form
    inline and compares at the e9 quantization on the sf0.001 fixture."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.projection import (
        EMB_DIM,
        PC_ITERS,
        PC_V0,
        _dot,
        embedding_top_pc,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    sf = "/root/testdata/sf0.001"
    q = load_table(spark, sf, "embeddings").select("embedding").localCheckpoint(
        eager=False
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
        ex = qq.select(
            _dot(F.col("embedding"), F.col("v")).alias("s"),
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
        vdf = packed.select(F.expr(norm_expr).alias("v")).localCheckpoint(
            eager=True
        )
    unguarded = {
        r.dim: r.loading_e9
        for r in vdf.select(F.posexplode("v").alias("pos", "loading"))
        .select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.floor(F.col("loading") * 1e9).cast("long").alias("loading_e9"),
        )
        .collect()
    }
    guarded = {r.dim: r.loading_e9 for r in embedding_top_pc(spark, sf).collect()}
    assert set(guarded) == set(unguarded)
    # same direction (no global sign flip) and every loading within
    # fp-rounding of the unguarded value at the 1e-9 quantization
    diffs = {d: abs(guarded[d] - unguarded[d]) for d in guarded}
    assert max(diffs.values()) <= 2, sorted(
        diffs.items(), key=lambda kv: -kv[1]
    )[:5]


# --------------------------------------------------------------------------
# fold_kernel: edge-case parity with the DuckDB folds and Spark's own
# per-element arithmetic
# --------------------------------------------------------------------------

_INF, _NAN = float("inf"), float("nan")
# (a, b) float-vector pairs; each row's fold runs in the kernel, in the
# JVM zip_with/aggregate expression the kernel replaced, and in DuckDB
_DOT_CASES = {
    "plain": ([1.5, -2.25, 3.0], [0.5, 4.0, -1.0]),
    "null_vector": (None, [1.0, 2.0]),
    "null_element": ([1.0, None], [1.0, 2.0]),
    "length_mismatch": ([1.0, 2.0], [1.0, 2.0, 3.0]),
    "empty": ([], []),
    "zero_vector": ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
    "nan": ([_NAN, 1.0], [1.0, 2.0]),
    "inf": ([_INF, 1.0], [1.0, 2.0]),
    "inf_minus_inf": ([_INF, -_INF], [1.0, 1.0]),
    "signed_zero": ([-0.0, 0.0], [1.0, -1.0]),
    "negative_zero_sum": ([-0.0], [1.0]),
    "subnormal": ([1e-40, 1.4e-45, 3.0], [1e-3, 2.0, 1e-39]),
    "random": tuple(
        np.random.default_rng(5).standard_normal((2, 64)).astype(np.float32).tolist()
    ),
}


def _jvm_fold(a, b, sq=False):
    """The interpreted fold the kernel replaced, kept here as its
    reference: one lambda call per element, zip_with padding the shorter
    side with nulls."""
    if sq:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _duck_value(sql, table):
    """DuckDB's answer for one single-row table, or the error's class."""
    import duckdb

    con = duckdb.connect()
    con.register("t", table)
    try:
        (v,) = con.execute(f"SELECT {sql} FROM t").fetchone()
        return repr(v)
    except duckdb.Error as e:
        return type(e).__name__
    finally:
        con.close()


@pytest.mark.parametrize("case", sorted(_DOT_CASES))
def test_fold_kernel_dot_matches_oracles(spark, case):
    """``_dot`` and ``cosine`` (ANSI off) through the kernel are
    bit-identical to the JVM fold they replaced on every edge, and to
    DuckDB's ``_sql_dot`` / ``_sql_cos`` wherever DuckDB answers: it
    raises on a null element and on a length mismatch, where Spark's
    fold (and so the kernel) gives null."""
    import pyarrow as pa

    from map_reduce_lite_spark.ops.similarity import _dot, _sql_cos, _sql_dot, cosine

    a, b = _DOT_CASES[case]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    got = df.select(
        _dot(F.col("a"), F.col("b")).alias("dot"),
        _jvm_fold(F.col("a"), F.col("b")).alias("ref"),
    ).first()
    assert repr(got["dot"]) == repr(got["ref"])
    table = pa.table(
        {"a": pa.array([a], pa.list_(pa.float32())), "b": pa.array([b], pa.list_(pa.float32()))}
    )
    duck_dot = _duck_value(_sql_dot("a", "b"), table)
    if case in ("null_element", "length_mismatch"):
        assert duck_dot == "InvalidInputException" and got["dot"] is None
    else:
        assert duck_dot == repr(got["dot"])

    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        cos = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
        ref = df.select(
            (
                _jvm_fold(F.col("a"), F.col("b"))
                / (
                    F.sqrt(_jvm_fold(F.col("a"), F.col("a")))
                    * F.sqrt(_jvm_fold(F.col("b"), F.col("b")))
                )
            ).alias("c")
        ).first()["c"]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    assert repr(cos) == repr(ref)
    if case not in ("null_element", "length_mismatch"):
        assert _duck_value(_sql_cos("a", "b"), table) == repr(cos)


def test_fold_kernel_zero_norm_cosine_raises_under_ansi(spark):
    """The cosine's division stays in Spark: a zero vector raises
    DIVIDE_BY_ZERO from the action under ANSI mode (null with ANSI off,
    as DuckDB gives: see the ``zero_vector`` case above)."""
    from pyspark.errors import PySparkException

    from map_reduce_lite_spark.ops.similarity import cosine

    a, b = _DOT_CASES["zero_vector"]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    with pytest.raises(PySparkException, match="DIVIDE_BY_ZERO"):
        df.select(cosine(F.col("a"), F.col("b"))).collect()


_BIG = 3037000499  # floor(sqrt(2^63 - 1)): the largest square a long holds
# (a, b) long-vector pairs of EMB_DIM elements (the width the oracle's
# column-wise _sql_sqdist spells out); None marks a null element
_SQ_CASES = {
    "plain": ([3, -7, 1_000_000], [-2, 5, -999_999]),
    "null_vector": None,
    "null_element": ([None, 4], [1, 2]),
    "largest_square": ([_BIG], [0]),
    "square_overflows": ([_BIG + 1], [0]),
    "difference_overflows": ([2**63 - 1], [-1]),
    "sum_at_the_edge": ([_BIG, 76_130], [0, 0]),
    "sum_overflows": ([_BIG, _BIG], [0, 0]),
    "null_then_square_overflows": ([None, _BIG + 1], [0, 0]),
    "null_then_sum_would_overflow": ([None, _BIG, _BIG], [0, 0, 0]),
}
_OVERFLOWS = {
    "square_overflows",
    "difference_overflows",
    "sum_overflows",
    "null_then_square_overflows",
}


def _sq_rows(case):
    from map_reduce_lite_spark.ops.similarity import EMB_DIM

    pair = _SQ_CASES[case]
    if pair is None:
        return None, [0] * EMB_DIM
    return tuple(v + [0] * (EMB_DIM - len(v)) for v in pair)


@pytest.mark.parametrize("case", sorted(_SQ_CASES))
def test_fold_kernel_sqdist_matches_oracles(spark, case):
    """k-means' ``_sqdist`` through the kernel against the JVM long fold
    it replaced and DuckDB's ``_sql_sqdist``: equal values, and under
    ANSI mode ARITHMETIC_OVERFLOW exactly where Spark's per-element
    arithmetic overflows (DuckDB raises there too). A null element stops
    the running sum, so a sum past it cannot overflow; a square can.
    With ANSI off, the kernel wraps as the JVM fold does."""
    import pyarrow as pa
    from pyspark.errors import PySparkException

    from map_reduce_lite_spark.ops.clustering import _sql_sqdist, _sqdist
    from map_reduce_lite_spark.ops.similarity import EMB_DIM

    a, b = _sq_rows(case)
    df = spark.createDataFrame([(a, b)], "a array<long>, b array<long>")
    cols = {f"q{i + 1}": pa.array([None if a is None else a[i]], pa.int64()) for i in range(EMB_DIM)}
    cols.update({f"c{i + 1}": pa.array([b[i]], pa.int64()) for i in range(EMB_DIM)})
    duck = _duck_value(_sql_sqdist("t", "t"), pa.table(cols))
    kernel = df.select(_sqdist(F.col("a"), F.col("b")))
    jvm = df.select(_jvm_fold(F.col("a"), F.col("b"), sq=True))
    if case in _OVERFLOWS:
        for side in (kernel, jvm):
            with pytest.raises(PySparkException, match="ARITHMETIC_OVERFLOW"):
                side.collect()
        assert duck == "OutOfRangeException"
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            kernel = df.select(_sqdist(F.col("a"), F.col("b")))
            jvm = df.select(_jvm_fold(F.col("a"), F.col("b"), sq=True))
            assert kernel.first()[0] == jvm.first()[0]
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "true")
    else:
        assert repr(kernel.first()[0]) == repr(jvm.first()[0]) == duck


def test_fold_kernel_sqdist_length_mismatch_is_null(spark):
    """A length mismatch is a null distance, as zip_with's null padding
    made it (DuckDB's column-wise twin has no ragged form)."""
    from map_reduce_lite_spark.ops.clustering import _sqdist

    df = spark.createDataFrame([([1, 2], [1, 2, 3]), ([], [])], "a array<long>, b array<long>")
    got = df.select(_sqdist(F.col("a"), F.col("b")), _jvm_fold(F.col("a"), F.col("b"), sq=True))
    assert [tuple(r) for r in got.collect()] == [(None, None), (0, 0)]
