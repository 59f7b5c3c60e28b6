"""DEFAULT-cap engagement, cross-engine: corpora sized so the scale caps
actually fire at their production values inside the REGISTERED queries,
with the registered DuckDB oracles replaying the capped semantics.

The forced-cap tests (test_dedup.py, test_clustering.py) prove the
split/drop machinery agrees with the oracle at tiny caps; the Zipf
stress runs engage the real caps but measure time only. These tests
close the remaining evidence gap: a green VALUE sweep in the regime
where SHINGLE_DF_CAP / SIMHASH_BUCKET_CAP / SEMDEDUP_CLUSTER_CAP are
live at their defaults. (POSTINGS_CAP=8 already engages on every
fixture sweep — the 31-word vocabulary gives every token df >> 8.)

Each test also proves ENGAGEMENT, not just parity: an uncapped run of
the same operator on the same corpus produces a different result, so a
regression that silently disabled the cap would fail here even though
the fixture-scale sweeps (where the caps are the identity) stay green.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_lite_spark.ops.clustering import SEMDEDUP_CLUSTER_CAP
from map_reduce_lite_spark.ops.dedup import SHINGLE_DF_CAP, SIMHASH_BUCKET_CAP
from tests.test_oracle_parity import _multiset


def _write_documents(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["cap"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(path / "documents.parquet"))


def _duck_for(path, tables=("documents",)):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')"
        )
    return con


def _run_registered(spark, sf_dir, name):
    import __spark_entry__ as e

    return e.queries()[name](spark, str(sf_dir)), e.oracle_sql()[name]


# --------------------------------------------------------------------------
# SHINGLE_DF_CAP — stop-shingle corpus, full multiset parity
# --------------------------------------------------------------------------

# 13-token boilerplate slab -> 11 interior 3-shingles, each carried by
# all 62 slab docs (df 62 > SHINGLE_DF_CAP 50).
_BOILER = " ".join(f"b{j}" for j in range(13))


@pytest.fixture(scope="module")
def dfcap_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dfcap")
    rows = []
    # 60 unrelated docs all carrying the boilerplate slab
    for i in range(60):
        body = " ".join(f"u{i}w{j}" for j in range(12))
        rows.append((i, f"{_BOILER} {body}"))
    # the threshold-straddling pair: 13 boiler tokens + a 2-token tail
    # each -> 13 shingles/doc, 11 shared (the boiler interior). Uncapped
    # jaccard = 11 / (13 + 13 - 11) = 0.733 >= 0.5 -> pair EMITTED;
    # with the boiler shingles df-capped away, n_inter = 0 -> no row.
    rows.append((200, f"{_BOILER} ta1 ta2"))
    rows.append((201, f"{_BOILER} tb1 tb2"))
    # the genuine near-dup pair on RARE shingles (cap must not touch it):
    # 30 shared rare tokens -> jaccard 28/31 without the tail diff
    shared = " ".join(f"rare{j}" for j in range(30))
    rows.append((100, f"{shared}"))
    rows.append((101, f"{shared} tail"))
    _write_documents(d, rows)
    return d


def test_shingle_df_cap_engaged_value_parity(spark, dfcap_dir):
    sdf, oracle = _run_registered(spark, dfcap_dir, "dedup_ngram_jaccard")
    duck = _duck_for(dfcap_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    got = _multiset(spark_rows, [0, 1, 2])
    want = _multiset(duck.execute(oracle).fetchall(), [0, 1, 2])
    assert got == want
    pairs = {(r[0], r[1]) for r in spark_rows}
    # the rare-shingle near-dup survives; the boiler-only pair is capped out
    assert (100, 101) in pairs
    assert (200, 201) not in pairs
    # no pair among the 60 boilerplate docs
    assert all(d1 >= 100 for d1, _ in pairs), pairs


def test_shingle_df_cap_engagement_is_semantic(spark, dfcap_dir, monkeypatch):
    """The same corpus WITHOUT the cap emits the boiler pair — proof the
    capped sweep above exercised a live cap, not an identity."""
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import ngram_jaccard_pairs

    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 10**9)
    docs = spark.read.parquet(f"{dfcap_dir}/documents.parquet")
    uncapped = {(r.doc1, r.doc2) for r in ngram_jaccard_pairs(docs).collect()}
    assert (200, 201) in uncapped
    assert (100, 101) in uncapped


# --------------------------------------------------------------------------
# SIMHASH_BUCKET_CAP — one 4,100-doc fingerprint bucket, digest parity
# --------------------------------------------------------------------------

_SIMHASH_N = SIMHASH_BUCKET_CAP + 4  # 4,100 docs -> n_sub = 2 in every band


@pytest.fixture(scope="module")
def simcap_dir(tmp_path_factory):
    # Every doc carries the SAME 10-token distinct set (rotated order),
    # so all fingerprints are identical: each of the 4 bands has ONE
    # bucket of 4,100 docs > the 4,096 default cap. Every emitted pair
    # has hamming 0; a pair is DROPPED only when the band-salted
    # sub-split separates it in all 4 bands (prob (1/2)^4 per pair,
    # deterministic md5 arithmetic both engines replay).
    d = tmp_path_factory.mktemp("simcap")
    vocab = [f"capw{j}" for j in range(10)]
    rows = []
    for i in range(_SIMHASH_N):
        rot = vocab[i % 10 :] + vocab[: i % 10]
        rows.append((i, " ".join(rot)))
    _write_documents(d, rows)
    return d


def test_simhash_default_cap_engaged_digest_parity(spark, simcap_dir):
    """~7.9M output rows — compared via exact aggregate digests (count
    and keyed sums computed inside each engine) rather than a collected
    multiset. The digest is over every output row, so any divergence in
    which pairs the band-salted split keeps shows up in the sums."""
    sdf, oracle = _run_registered(spark, simcap_dir, "dedup_simhash")
    duck = _duck_for(simcap_dir)
    key = F.col("doc1") * 8191 + F.col("doc2")
    srow = sdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(key).alias("skey"),
        F.sum("hamming").alias("sham"),
    ).first()
    drow = duck.execute(
        f"SELECT CAST(COUNT(*) AS BIGINT), "
        f"CAST(SUM(doc1 * 8191 + doc2) AS BIGINT), "
        f"CAST(SUM(hamming) AS BIGINT) FROM ({oracle})"
    ).fetchone()
    assert (srow["n"], srow["skey"], srow["sham"]) == tuple(drow)
    # engagement: the split dropped pairs — fewer than all C(n, 2)
    all_pairs = _SIMHASH_N * (_SIMHASH_N - 1) // 2
    assert 0 < srow["n"] < all_pairs


def test_simhash_default_cap_engagement_is_semantic(spark, simcap_dir, monkeypatch):
    """Bucket probe + uncapped comparison: the hot bucket exceeds the
    default cap, and disabling the cap returns the full quadratic pair
    set — so the digest test above ran with the split live."""
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{simcap_dir}/documents.parquet")
    n_fps = simhash_fingerprints(docs).select("simhash").distinct().count()
    assert n_fps == 1  # one fingerprint -> one bucket per band, size 4,100
    monkeypatch.setattr(dedup, "SIMHASH_BUCKET_CAP", 1 << 30)
    uncapped = simhash_pairs(docs).count()
    assert uncapped == _SIMHASH_N * (_SIMHASH_N - 1) // 2


# --------------------------------------------------------------------------
# SEMDEDUP_CLUSTER_CAP — one 4,100-vector k-means cluster, multiset parity
# --------------------------------------------------------------------------

_EMB_DIM = 64
_BLOB_N = SEMDEDUP_CLUSTER_CAP + 4  # 4,100 vectors in one cluster


@pytest.fixture(scope="module")
def semcap_dir(tmp_path_factory):
    # Seeds are vec_id < 4 (K_CLUSTERS). vec_ids 0-2 are far decoys at
    # 100*e1 / 100*e2 / 100*e3 — each captures only itself. vec_ids
    # 3..4102 are the blob: +/- one-hot directions over axes 4..63
    # (120 directions, ~34 vectors each) with small magnitude jitter,
    # all within distance ~2 of the blob seed while the decoys sit at
    # distance ~100 — so every Lloyd round keeps the whole blob in
    # cluster 3 (4,100 > the 4,096 default cap -> n_sub = 2). Same-
    # direction pairs have cosine 1.0 (emitted); cross-direction pairs
    # have cosine 0 or -1 (filtered) — output stays a collectable
    # ~35k rows instead of the 4.2M candidate pairs both engines score.
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("semcap")
    vecs, ids = [], []
    for j in range(3):
        v = [0.0] * _EMB_DIM
        v[j] = 100.0
        ids.append(j)
        vecs.append(v)
    for i in range(_BLOB_N):
        axis = 4 + (i % 60)
        sign = 1.0 if (i // 60) % 2 == 0 else -1.0
        mag = 1.0 + 0.001 * (i % 7)
        v = [0.0] * _EMB_DIM
        v[axis] = sign * mag
        ids.append(3 + i)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return d


@pytest.mark.slow
def test_semdedup_default_cap_engaged_value_parity(spark, semcap_dir):
    sdf, oracle = _run_registered(spark, semcap_dir, "semdedup_embeddings")
    duck = _duck_for(semcap_dir, tables=("embeddings",))
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_rows = duck.execute(oracle).fetchall()
    assert len(spark_rows) == len(duck_rows)
    assert _multiset(spark_rows, [0, 1, 2, 3]) == _multiset(
        duck_rows, [0, 1, 2, 3]
    )
    assert len(spark_rows) > 0


def test_semdedup_default_cap_engagement_is_semantic(spark, semcap_dir, monkeypatch):
    """The mega-cluster exceeds the default cap, and the uncapped pair
    set is strictly larger — the parity sweep above ran with the hash
    sub-split live."""
    from map_reduce_lite_spark.ops import clustering
    from map_reduce_lite_spark.ops.clustering import (
        _semdedup_pairs,
        kmeans_assignments,
    )

    assign = (
        kmeans_assignments(spark, str(semcap_dir))
        .select("vec_id", "cluster")
        .localCheckpoint(eager=False)
    )
    sizes = {
        r.cluster: r.n
        for r in assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(sizes.values()) == _BLOB_N > SEMDEDUP_CLUSTER_CAP
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(semcap_dir), "embeddings")
    capped = _semdedup_pairs(emb, assign).count()
    monkeypatch.setattr(clustering, "SEMDEDUP_CLUSTER_CAP", 1 << 30)
    uncapped = _semdedup_pairs(emb, assign).count()
    assert 0 < capped < uncapped


# --------------------------------------------------------------------------
# EMB_BUCKET_CAP (k-NN graph) — one 520-vector band bucket, full multiset parity
# --------------------------------------------------------------------------

_KNN_N = 520  # > EMB_BUCKET_CAP 512 -> n_sub = 2 in every band


@pytest.fixture(scope="module")
def knncap_dir(tmp_path_factory):
    # All vectors share a dominant +10·e0 component with deterministic
    # sub-unit jitter on one other axis each — every hyperplane
    # projection's sign is decided by the e0 term, so all 520 vectors
    # land in ONE (band_id, band_hash) bucket per band (4 buckets of
    # 520 > the 512 default cap -> salted split live). Pairwise cosines
    # stay ~1 but distinct (different jitter axes/magnitudes), so the
    # top-K rank order is decided by real arithmetic in both engines.
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("knncap")
    vecs = []
    for i in range(_KNN_N):
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        v[1 + (i % 60)] = 0.001 * (1 + i % 7)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(_KNN_N), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * _KNN_N, pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return d


def test_knn_default_cap_engaged_value_parity(spark, knncap_dir):
    """The registered k-NN graph query (and its NN-descent consumer) on
    a corpus whose band buckets exceed the default cap: the salted
    sub-split is live in BOTH engines and the full output multisets
    still match."""
    for name in ("similarity_knn_graph", "similarity_nn_descent"):
        sdf, oracle = _run_registered(spark, knncap_dir, name)
        duck = _duck_for(knncap_dir, tables=("embeddings",))
        spark_rows = [tuple(r) for r in sdf.collect()]
        duck_rows = duck.execute(oracle).fetchall()
        assert len(spark_rows) == len(duck_rows) > 0, name
        assert _multiset(spark_rows, [0, 1, 2, 3]) == _multiset(
            duck_rows, [0, 1, 2, 3]
        ), name


def test_knn_default_cap_engagement_is_semantic(spark, knncap_dir, monkeypatch):
    """Every band bucket holds all 520 vectors (> the 512 default), and
    the uncapped candidate set is strictly larger than the capped one —
    the parity sweep above ran with the split live."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        _knn_scored_edges,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(knncap_dir), "embeddings")
    capped = _knn_scored_edges(emb).count()
    monkeypatch.setattr(similarity, "EMB_BUCKET_CAP", 1 << 30)
    uncapped = _knn_scored_edges(emb).count()
    assert _KNN_N > EMB_BUCKET_CAP
    assert uncapped == _KNN_N * (_KNN_N - 1)  # one bucket per band, all collide
    assert 0 < capped < uncapped


def test_embedding_band_default_cap_engaged_value_parity(spark, knncap_dir):
    """The embedding-LSH pair family on the 520-vector single-bucket
    corpus: the salted sub-split is live in both engines for the pair
    query AND its components/histogram consumers, and the full output
    multisets still match."""
    duck = _duck_for(knncap_dir, tables=("embeddings",))
    for name, ncols in (
        ("dedup_embedding_lsh", 3),
        ("dedup_cluster_sizes", 3),
    ):
        sdf, oracle = _run_registered(spark, knncap_dir, name)
        spark_rows = [tuple(r) for r in sdf.collect()]
        duck_rows = duck.execute(oracle).fetchall()
        assert len(spark_rows) == len(duck_rows) > 0, name
        cols = list(range(ncols))
        assert _multiset(spark_rows, cols) == _multiset(duck_rows, cols), name


def test_embedding_band_default_cap_engagement_is_semantic(
    spark, knncap_dir, monkeypatch
):
    """All 520 vectors share every band bucket (> the 512 default), and
    the uncapped pair set is strictly larger — the parity above ran
    with the split live."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.ops.similarity import EMB_BUCKET_CAP
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(knncap_dir), "embeddings")
    capped = embedding_near_dup_pairs(emb, method="lsh").count()
    monkeypatch.setattr(similarity, "EMB_BUCKET_CAP", 1 << 30)
    uncapped = embedding_near_dup_pairs(emb, method="lsh").count()
    assert _KNN_N > EMB_BUCKET_CAP
    # every pair clears the cosine threshold here (all vectors ~parallel)
    assert uncapped == _KNN_N * (_KNN_N - 1) // 2
    assert 0 < capped < uncapped


def _component_partition(pairs_df):
    """Frozenset-of-frozensets component partition of a pair DataFrame —
    the equivalence structure the split router consumes."""
    from map_reduce_lite_spark.ops.graph import connected_components

    comp = connected_components(
        pairs_df.select("keep_id", "dup_id"), src="keep_id", dst="dup_id"
    )
    groups = {}
    for r in comp.collect():
        groups.setdefault(r.component, set()).add(r.node)
    return frozenset(frozenset(g) for g in groups.values())


@pytest.mark.slow
def test_leakage_split_adaptive_rebanding_on_hot_bucket(spark, knncap_dir, monkeypatch):
    """r11: leakage_safe_split's pair stage uses ADAPTIVE RE-BANDING —
    on the 520-vector single-bucket corpus (where the SALTED cap
    provably drops pairs, see the engagement test above) the refined
    path bounds candidate count yet keeps the verified graph's
    component structure identical to the uncapped form, so the whole
    corpus still routes as ONE cluster with zero crossings; the
    registered oracle agrees on the exact values."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(knncap_dir), "embeddings")
    # leakage_safe_split's pair stage: lsh_refine at the default cap
    refined = embedding_near_dup_pairs(emb, method="lsh_refine")
    n_refined = refined.count()
    # engaged AND bounded: fewer candidates than the uncapped clique...
    assert 0 < n_refined < _KNN_N * (_KNN_N - 1) // 2
    # ...with the same component structure (routing-level zero loss)
    with monkeypatch.context() as m:
        m.setattr(similarity, "EMB_BUCKET_CAP", 1 << 62)
        uncapped = embedding_near_dup_pairs(emb, method="lsh")
    assert _component_partition(refined) == _component_partition(uncapped)

    sdf, oracle = _run_registered(spark, knncap_dir, "curation_leakage_safe_split")
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck = _duck_for(knncap_dir, tables=("embeddings",))
    duck_rows = duck.execute(oracle).fetchall()
    assert _multiset(spark_rows, [0, 1, 2, 3, 4]) == _multiset(
        duck_rows, [0, 1, 2, 3, 4]
    )
    # one component -> one split holds all 520 vectors, zero crossings
    assert sum(r[1] for r in spark_rows) == _KNN_N
    assert max(r[1] for r in spark_rows) == _KNN_N
    assert all(r[3] == 0 for r in spark_rows)


# --------------------------------------------------------------------------
# Adaptive re-banding — near-constant MEGA-BUCKET corpora (r11)
# --------------------------------------------------------------------------

_MEGA_N = 600  # one near-constant bucket > EMB_BUCKET_CAP in every band


@pytest.fixture(scope="module")
def megabucket_dir(tmp_path_factory):
    """The adversarial mass-duplication shape: 300 EXACT-duplicate
    embeddings plus 300 with 1e-6 single-axis jitter — every vector
    shares every band bucket AND every refinement hash (no hyperplane
    can separate a near-constant core), so the refined path's STAR
    branch is the only thing standing between this corpus and
    size² = 179,700 candidate pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("megabucket")
    vecs = []
    for i in range(_MEGA_N):
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        if i >= _MEGA_N // 2:
            v[1 + (i % 60)] = 1e-6 * (1 + i % 7)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(_MEGA_N), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * _MEGA_N, pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return d


@pytest.mark.slow
def test_leakage_split_megabucket_bounded_and_zero_dropped(
    spark, megabucket_dir, monkeypatch
):
    """The r10 verdict's scale-killer: a near-constant mega-bucket.
    Adaptive re-banding must (a) bound the candidate count — linear
    star, not size² — and (b) drop ZERO detections at the routing
    level: every pair the uncapped form detects is intra-component
    (hence intra-split) under the adaptive form. The registered query
    value-matches its oracle with the star branch live."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(megabucket_dir), "embeddings")
    refined = embedding_near_dup_pairs(emb, method="lsh_refine")
    n_refined = refined.count()
    # (a) bounded: the star emits size-1 pairs, not size²
    assert n_refined == _MEGA_N - 1
    with monkeypatch.context() as m:
        m.setattr(similarity, "EMB_BUCKET_CAP", 1 << 62)
        uncapped = embedding_near_dup_pairs(emb, method="lsh")
    assert uncapped.count() == _MEGA_N * (_MEGA_N - 1) // 2
    # (b) zero dropped detections: identical component structure
    assert _component_partition(refined) == _component_partition(uncapped)
    assert _component_partition(refined) == frozenset({frozenset(range(_MEGA_N))})

    sdf, oracle = _run_registered(
        spark, megabucket_dir, "curation_leakage_safe_split"
    )
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck = _duck_for(megabucket_dir, tables=("embeddings",))
    duck_rows = duck.execute(oracle).fetchall()
    assert _multiset(spark_rows, [0, 1, 2, 3, 4]) == _multiset(
        duck_rows, [0, 1, 2, 3, 4]
    )
    # one cluster, one split, zero crossings
    assert len(spark_rows) == 1
    assert spark_rows[0][1] == _MEGA_N and spark_rows[0][2] == 1
    assert spark_rows[0][3] == 0
    # r12 visibility metric: EVERY member of the near-constant bucket is
    # covered only via star/anchor edges (bucket AND refine sub-bucket
    # oversized in all bands) — the approximate regime is now a number
    # in the output, not a docstring caveat
    assert spark_rows[0][4] == _MEGA_N


@pytest.fixture(scope="module")
def megamix_dir(tmp_path_factory):
    """Mega-bucket PLUS satellites — engages all three refined branches
    at once: a 520-vector near-constant core (star branch), three
    3-vector spread clusters that each share exactly one band bucket
    with the core but carry a different refinement hash there
    (sub-bucket all-pairs branch), and the same clusters' own small
    buckets in the other bands (plain small-bucket branch). Spread
    magnitude 23 puts cos(core, satellite) = 0.3997 just BELOW the
    0.40 threshold, so the ground-truth detections are exactly the
    core clique plus the three intra-cluster cliques. Geometry
    verified against the actual seeded plane constants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("megamix")
    vecs = []
    for i in range(520):
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        v[1 + (i % 60)] = 1e-6 * (1 + i % 7)
        vecs.append(v)
    for axis, mag in ((2, 23.0), (3, 23.0), (4, -23.0)):
        for j in range(3):
            v = [0.0] * _EMB_DIM
            v[0] = 10.0
            v[axis] = mag + (0.001 * j if mag > 0 else -0.001 * j)
            vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return d


@pytest.mark.slow
def test_leakage_split_megamix_all_branches_zero_dropped(
    spark, megamix_dir, monkeypatch
):
    """All three adaptive branches live in one corpus: the component
    partition still equals BOTH the uncapped-LSH form's and the exact
    quadratic ground truth's, and the registered query value-matches
    its oracle with every detected cluster routed whole."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    n = 529
    emb = load_table(spark, str(megamix_dir), "embeddings")
    refined = embedding_near_dup_pairs(emb, method="lsh_refine")
    n_refined = refined.count()
    # star(519) + three intra-cluster cliques(3 each) = 528, far below
    # the uncapped 134,949 — bounded with the satellites still detected
    assert n_refined == 519 + 9
    want = frozenset(
        {
            frozenset(range(520)),
            frozenset({520, 521, 522}),
            frozenset({523, 524, 525}),
            frozenset({526, 527, 528}),
        }
    )
    assert _component_partition(refined) == want
    with monkeypatch.context() as m:
        m.setattr(similarity, "EMB_BUCKET_CAP", 1 << 62)
        uncapped = embedding_near_dup_pairs(emb, method="lsh")
    assert _component_partition(uncapped) == want
    exact = embedding_near_dup_pairs(emb, method="exact")
    assert _component_partition(exact) == want

    sdf, oracle = _run_registered(spark, megamix_dir, "curation_leakage_safe_split")
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck = _duck_for(megamix_dir, tables=("embeddings",))
    duck_rows = duck.execute(oracle).fetchall()
    assert _multiset(spark_rows, [0, 1, 2, 3, 4]) == _multiset(
        duck_rows, [0, 1, 2, 3, 4]
    )
    assert sum(r[1] for r in spark_rows) == n
    assert all(r[3] == 0 for r in spark_rows)
    # only the 520-member near-constant core is star-approximated; the
    # nine clustered satellites got exhaustive sub-bucket coverage
    assert sum(r[4] for r in spark_rows) == 520


def test_refine_matches_sql_twin_row_for_row(spark, megamix_dir, monkeypatch):
    """Adaptive re-banding, Spark against its DuckDB twin, row for row:
    the candidate set equals ``cands`` of ``sql_refined_cands_chain``
    and the star-only ids equal ``approx_only`` of
    ``sql_refine_coverage_cte``, at the same cap. Two cases: the
    sf0.001 fixture at a forced cap of 8, and the megamix corpus at the
    default cap. Between them every one of the four branches emits
    pairs (counted from the SQL side's bucket sizes: a small bucket
    with two members, a small refine sub-bucket with two, an oversized
    sub-bucket, an oversized bucket)."""
    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import (
        _refine_sizes,
        lsh_band_table,
        refine_star_only_ids,
    )
    from map_reduce_lite_spark.ops.pairs import refined_pairs
    from map_reduce_lite_spark.ops.similarity import (
        EMB_DIM,
        LSH_N_BANDS,
        LSH_PLANES,
        _hyperplanes,
        refine_hyperplanes,
        sql_refine_coverage_cte,
        sql_refined_cands_chain,
    )
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL

    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    rplanes = refine_hyperplanes(EMB_DIM)
    branches = [0, 0, 0, 0]
    for sf_dir, cap in ((SF_SMALL, 8), (str(megamix_dir), similarity.EMB_BUCKET_CAP)):
        monkeypatch.setattr(similarity, "EMB_BUCKET_CAP", cap)
        emb = load_table(spark, sf_dir, "embeddings")
        bands = lsh_band_table(emb)
        cands = {
            tuple(r) for r in refined_pairs(_refine_sizes(emb, bands, cap), cap).collect()
        }
        star_only = {r.vec_id for r in refine_star_only_ids(emb, bands).collect()}

        chain = sql_refined_cands_chain(planes, rplanes, LSH_N_BANDS, cap)
        duck = _duck_for(sf_dir, tables=("embeddings",))
        duck_cands = duck.execute(
            f"WITH {chain} SELECT keep_id, dup_id FROM cands"
        ).fetchall()
        duck_star_only = duck.execute(
            f"WITH {chain}, {sql_refine_coverage_cte(cap)} SELECT vec_id FROM approx_only"
        ).fetchall()
        counts = duck.execute(
            f"""WITH {chain} SELECT
              (SELECT count(*) FROM bsizes WHERE n BETWEEN 2 AND {cap}),
              (SELECT count(*) FROM subsizes WHERE m BETWEEN 2 AND {cap}),
              (SELECT count(*) FROM subsizes WHERE m > {cap}),
              (SELECT count(*) FROM bsizes WHERE n > {cap})"""
        ).fetchone()

        assert len(duck_cands) == len(set(duck_cands))
        assert cands == set(duck_cands), sf_dir
        assert star_only == {r[0] for r in duck_star_only}, sf_dir
        branches = [b + c for b, c in zip(branches, counts)]
    assert all(branches), branches


def _deep_cone_vectors(n, seed=3, cos_max=0.38):
    """Vectors sharing ALL 16 band-plane signs with the near-constant
    core (→ inside its mega-bucket in every band) yet with
    cos(core) < cos_max < the 0.40 threshold — the pair shape whose
    ONLY detection path is the oversized bucket itself. Found by seeded
    ray search inside the core's sign cone (cones are unbounded, so
    far-from-core members always exist)."""
    import numpy as np

    from map_reduce_lite_spark.ops.similarity import EMB_DIM, _hyperplanes

    P = np.array(_hyperplanes(EMB_DIM, 16))
    core = np.zeros(EMB_DIM)
    core[0] = 10.0
    core_signs = P @ core > 0
    rng = np.random.default_rng(seed)
    out = []
    while len(out) < n:
        r = rng.standard_normal(EMB_DIM)
        for b in np.linspace(1.0, 40.0, 40):
            cand = core + b * r
            if not ((P @ cand > 0) == core_signs).all():
                break
            if cand @ core / (np.linalg.norm(cand) * 10.0) < cos_max:
                out.append(cand)
                break
    return out


@pytest.fixture(scope="module")
def deepcone_dir(tmp_path_factory):
    """5200-member near-constant core (salt n_sub ≈ 11 per band) + 15
    planted 'deep-cone' pairs: each pair is a cone vector and its
    scaled twin (cos = 1, identical hashes everywhere), below threshold
    vs the core — detectable ONLY by pairing inside the mega-bucket."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("deepcone")
    vecs = []
    for i in range(5200):
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        if i % 2:
            v[1 + (i % 60)] = 1e-6 * (1 + i % 7)
        vecs.append(v)
    for v in _deep_cone_vectors(15):
        vecs.append([float(x) for x in v])
        vecs.append([float(x) * 1.000001 for x in v])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return d


@pytest.mark.slow
def test_refined_keeps_deep_cone_pairs_salting_loses(spark, deepcone_dir):
    """THE quantified safety argument for adaptive re-banding (r11,
    measured): a pair whose only collision is inside a mega-bucket is
    kept by refinement DETERMINISTICALLY (the pair shares a refine
    sub-bucket distinct from the core's) but survives salting only if
    the salt happens to co-bucket it in some band — measured 4/15 at
    n_sub ≈ 11 (the 1−(1−1/n_sub)^4 prediction ≈ 31%). For the
    leakage-safe split, every salt-lost pair here would be silent
    cross-split leakage; the refined path loses none. Both counts are
    deterministic (seeded geometry, md5 salt)."""
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    planted = [(5200 + 2 * k, 5201 + 2 * k) for k in range(15)]
    emb = load_table(spark, str(deepcone_dir), "embeddings")
    refined = {
        (r[0], r[1])
        for r in embedding_near_dup_pairs(emb, method="lsh_refine").collect()
    }
    assert all(p in refined for p in planted), "refined must keep every pair"
    salted = {
        (r[0], r[1])
        for r in embedding_near_dup_pairs(emb, method="lsh").collect()
    }
    n_salted = sum(1 for p in planted if p in salted)
    # deterministic under the md5 salt; strictly fewer than refined —
    # the throughput/recall trade the safety operator must not make
    assert n_salted < 15, "salting unexpectedly kept every deep-cone pair"


@pytest.mark.slow
def test_anchor_star_catches_boundary_satellite(spark, tmp_path_factory):
    """Branch 4's reason to exist (r11, found by measurement): a
    satellite ABOVE the cosine threshold vs a mega-bucket's dominant
    direction (cos ≈ 0.48) whose refine hash differs from the core's in
    every band was detected in ZERO refined pairs pre-fix (exact oracle:
    600) — branches 2-3 exile it to singleton sub-buckets. The
    bucket-wide anchor star must connect it to the core component."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.ops.similarity import (
        EMB_DIM,
        _hyperplanes,
        refine_hyperplanes,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    P = np.array(_hyperplanes(EMB_DIM, 16))
    R = np.array(refine_hyperplanes(EMB_DIM))
    core = np.zeros(EMB_DIM)
    core[0] = 10.0
    core_signs = P @ core > 0

    def rh(v):
        bits = (R @ v > 0).astype(int)
        return tuple(
            int("".join(map(str, bits[b * 16 : (b + 1) * 16])), 2)
            for b in range(4)
        )

    core_rh = rh(core)
    rng = np.random.default_rng(5)
    sat = None
    while sat is None:  # seeded search, deterministic
        r = rng.standard_normal(EMB_DIM)
        for b in np.linspace(1.0, 40.0, 80):
            cand = core + b * r
            if not ((P @ cand > 0) == core_signs).all():
                break
            c = cand @ core / (np.linalg.norm(cand) * 10)
            if 0.42 <= c <= 0.55:
                if all(x != y for x, y in zip(rh(cand), core_rh)):
                    sat = cand
                break
    vecs = []
    for i in range(600):
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        if i % 2:
            v[1 + (i % 60)] = 1e-6 * (1 + i % 7)
        vecs.append(v)
    vecs.append([float(x) for x in sat])
    d = tmp_path_factory.mktemp("anchorsat")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(601), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * 601, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    emb = load_table(spark, str(d), "embeddings")
    refined = {
        (r[0], r[1])
        for r in embedding_near_dup_pairs(emb, method="lsh_refine").collect()
    }
    # the anchor pair (bucket rep 0, satellite 600) verifies and is kept
    assert (0, 600) in refined
    # ...and the registered safety operator routes the satellite WITH
    # the core: one cluster of 601, zero crossings, oracle parity
    sdf, oracle = _run_registered(spark, d, "curation_leakage_safe_split")
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck = _duck_for(d, tables=("embeddings",))
    duck_rows = duck.execute(oracle).fetchall()
    assert _multiset(spark_rows, [0, 1, 2, 3, 4]) == _multiset(
        duck_rows, [0, 1, 2, 3, 4]
    )
    assert max(r[1] for r in spark_rows) == 601
    assert all(r[3] == 0 for r in spark_rows)
    # the 600-member core is star-approximated; the deep-cone satellite
    # landed in a singleton refine sub-bucket (exact coverage)
    assert sum(r[4] for r in spark_rows) == 600
