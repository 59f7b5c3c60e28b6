"""Duplicate-heavy adversarial corpus, cross-engine (r11): the dedup
family's worst input — MASS DUPLICATION — swept end-to-end.

The four r10 degenerate corpora hunted nulls, ties, and Unicode; none
stressed what a boilerplate-heavy crawl actually delivers: hundreds of
exact-identical documents, a near-constant embedding block bigger than
every LSH bucket cap, and one source that is almost entirely
duplicates. This corpus engages, at their PRODUCTION values and inside
the REGISTERED queries:

- EMB_BUCKET_CAP (600-member near-constant core > 512
  in every band → salted split live in the throughput dedup/knn
  families);
- the r11 adaptive re-banding in curation_leakage_safe_split (same
  core → star branch live);
- SHINGLE_DF_CAP (every boilerplate shingle's df ≈ 350 >> 50);
- exact/minhash/simhash dedup over 350-copy groups.

The full 178-query registry was driver-simmed over this corpus during
r11 (RESULT 178 match, 0 mismatch, 0 rows-only, 0 err — zero fixes
needed; the r9-r11 cap machinery held first-pass). These tests pin the
most-exposed per-family subset so the evidence re-runs in CI instead of
living in a round log.
"""

from __future__ import annotations

import pytest

from tests.test_oracle_parity import _multiset

_EMB_DIM = 64
_CORE_N = 600  # near-constant embedding block, > the 512 bucket caps
_DUP_QUERIES = [
    "dedup_exact",                 # 350-copy + 50-copy hash groups
    "dedup_ngram_jaccard",         # boilerplate shingles, df-cap live
    "dedup_minhash_lsh",           # signature collisions en masse
    "dedup_simhash",               # identical fingerprints en masse
    "dedup_embedding_lsh",         # salted cap live at 512
    "dedup_components",            # clusters over the capped pair graph
    "dedup_cluster_sizes",         # histogram of one huge cluster
    "dedup_survivors_docs",        # keep-list under mass pruning
    "dedup_rate_by_source",        # crawlA is ~78% duplicate
    # adaptive re-banding star branch live — slow: the recursive
    # refine-chain DuckDB oracle dominates (~1 min); the star branch
    # stays value-covered by test_leakage_split_routes_core_whole and
    # the default-gate oracle_parity sweep at sf0.001
    pytest.param("curation_leakage_safe_split", marks=pytest.mark.slow),
    "similarity_knn_graph",        # knn cap live, rank ties broken
    "similarity_nn_descent",       # descent over the capped edge list
    "text_shingle_novelty",        # novelty ≈ 0 on the slab docs
    "multimodal_phash_dedup",      # 350-copy payload groups
]


@pytest.fixture(scope="module")
def dup_dir(tmp_path_factory):
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMALL

    d = tmp_path_factory.mktemp("dupcorpus")
    for f in os.listdir(SF_SMALL):
        if f.endswith(".parquet") and f not in (
            "documents.parquet",
            "embeddings.parquet",
        ):
            shutil.copy(os.path.join(SF_SMALL, f), str(d / f))

    boiler1 = " ".join(f"boiler{j} common{j % 7}" for j in range(20))
    boiler2 = " ".join(f"footer{j} legal{j % 5}" for j in range(15))
    rows = []
    for i in range(200):  # exact duplicates of slab 1
        rows.append((i, boiler1, "en", "crawlA"))
    for i in range(200, 350):  # near-identical: slab 1 + one unique token
        rows.append((i, f"{boiler1} uniq{i}", "en", "crawlA"))
    for i in range(350, 400):  # exact duplicates of slab 2
        rows.append((i, boiler2, "de", "crawlB"))
    rng = np.random.default_rng(7)
    for i in range(400, 450):  # distinct clean docs
        toks = [f"w{rng.integers(0, 500)}" for _ in range(30)]
        rows.append((i, " ".join(toks), "en", "clean"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )

    vecs, labels = [], []
    for i in range(350):  # exact-identical embedding block
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        vecs.append(v)
        labels.append(0)
    for i in range(350, _CORE_N):  # near-identical jitter
        v = [0.0] * _EMB_DIM
        v[0] = 10.0
        v[1 + (i % 60)] = 1e-6 * (1 + i % 7)
        vecs.append(v)
        labels.append(0)
    for i in range(_CORE_N, _CORE_N + 100):  # spread normals
        vecs.append(rng.standard_normal(_EMB_DIM).astype(float).tolist())
        labels.append(int(i % 4))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return d


@pytest.fixture(scope="module")
def dup_duck(dup_dir):
    import os

    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(dup_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{dup_dir}/{f}')"
            )
    return con


def test_caps_are_engaged_not_identities(spark, dup_dir, monkeypatch):
    """Proof the sweep below exercises LIVE caps: the near-constant core
    exceeds every band bucket cap, the salted dedup path drops pairs vs
    uncapped (its documented contract), and the boilerplate shingles
    exceed the df cap."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops import similarity
    from map_reduce_lite_spark.ops.dedup import (
        SHINGLE_DF_CAP,
        embedding_near_dup_pairs,
        shingles,
    )
    from map_reduce_lite_spark.ops.similarity import EMB_BUCKET_CAP
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, str(dup_dir), "embeddings")
    capped = embedding_near_dup_pairs(emb, method="lsh").count()
    monkeypatch.setattr(similarity, "EMB_BUCKET_CAP", 1 << 62)
    uncapped = embedding_near_dup_pairs(emb, method="lsh").count()
    assert _CORE_N > EMB_BUCKET_CAP
    assert uncapped >= _CORE_N * (_CORE_N - 1) // 2  # the core clique alone
    assert 0 < capped < uncapped  # salted split live, pairs dropped

    docs = load_table(spark, str(dup_dir), "documents")
    max_df = (
        shingles(docs)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    assert max_df > SHINGLE_DF_CAP


def test_leakage_split_routes_core_whole(spark, dup_dir):
    """The adaptive-rebanded safety operator on the mass-duplication
    corpus: the whole near-constant core must land in ONE split (star
    connectivity) with zero audited crossings."""
    import __spark_entry__ as e

    rows = [
        tuple(r)
        for r in e.queries()["curation_leakage_safe_split"](
            spark, str(dup_dir)
        ).collect()
    ]
    assert max(r[1] for r in rows) >= _CORE_N  # core routed together
    assert all(r[3] == 0 for r in rows)  # zero cross-split pairs


@pytest.mark.parametrize("name", _DUP_QUERIES)
def test_dup_corpus_matches_oracle(spark, dup_duck, dup_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, str(dup_dir))
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = dup_duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name
