"""Property tests for the near-duplicate detectors.

MinHash-LSH and SimHash are probabilistic — the driver only rows-checks
them where no SQL oracle exists, so these tests pin the semantics:
candidate recall against brute-force similarity on synthetic corpora
with planted near-duplicates.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from map_reduce_lite_spark.ops.dedup import (
    JACCARD_THRESHOLD,
    dedup_minhash_lsh,
    minhash_signatures,
    shingles,
)
from tests.conftest import SF_SMALL

VOCAB = [f"w{i}" for i in range(200)]


def _make_corpus(spark, n_docs=60, seed=7):
    """Random docs + planted near-duplicate pairs (high overlap)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        rows.append((i, " ".join(rng.choice(VOCAB) for _ in range(60))))
    # plant 10 near-dups: copy with small perturbation
    planted = []
    for j in range(10):
        src_id = j
        dup_id = n_docs + j
        words = rows[src_id][1].split()
        k = rng.randrange(len(words) - 1)
        words[k] = rng.choice(VOCAB)
        rows.append((dup_id, " ".join(words)))
        planted.append((src_id, dup_id))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, planted


def _brute_force_pairs(spark, docs, threshold):
    """Exact jaccard on word 3-shingles for every pair (small corpora)."""
    sh = shingles(docs)
    sets = {
        r["doc"]: set(r["shingle_set"])
        for r in sh.groupBy("doc").agg(F.collect_set("shingle").alias("shingle_set")).collect()
    }
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
    return out


def test_minhash_lsh_recall(spark, monkeypatch, tmp_path):
    docs, planted = _make_corpus(spark)
    truth = _brute_force_pairs(spark, docs, JACCARD_THRESHOLD)
    assert len(truth) >= 10  # planted dups are above threshold

    # run the LSH operator directly on the synthetic docs
    sigs = minhash_signatures(shingles(docs))
    import map_reduce_lite_spark.ops.dedup as dd

    monkeypatch.setattr(dd, "load_table", lambda _spark, _dir, _name: docs)
    cands = {
        (r["doc1"], r["doc2"]) for r in dedup_minhash_lsh(spark, "unused").collect()
    }
    recall = len(cands & truth) / len(truth)
    # 8 bands x 4 rows: P(candidate | s>=0.5) >= 1-(1-0.5^4)^8 ≈ 0.40, and
    # planted dups have s≈0.9 → P ≈ 1-(1-0.9^4)^8 ≈ 0.9998
    assert recall >= 0.8, (recall, len(truth), len(cands))


def test_minhash_lsh_production_recall(spark):
    """The PRODUCTION parameterization (16 bands × 8 rows, k=128) must
    reach recall ≥ 0.9 on pairs with true Jaccard ≥ 0.8 — the contract
    the demo (oracle-pinned 8×4) config explicitly does not make.
    Planted near-dups here sit at J ≈ 0.9, where 1-(1-0.9^8)^16 ≈ 0.9999
    per pair; the 0.9 assertion leaves margin for hash-family variance."""
    from map_reduce_lite_spark.ops.dedup import (
        PROD_MINHASH_BANDS,
        PROD_MINHASH_ROWS,
        minhash_lsh_pairs,
    )

    docs, planted = _make_corpus(spark)
    truth = _brute_force_pairs(spark, docs, 0.8)
    assert len(truth) >= 8, truth  # planted dups sit above J=0.8
    cands = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(
            docs, bands=PROD_MINHASH_BANDS, rows=PROD_MINHASH_ROWS
        ).collect()
    }
    recall = len(cands & truth) / len(truth)
    assert recall >= 0.9, (recall, sorted(truth - cands))


def test_minhash_signature_similarity_estimate(spark):
    """Matching minhash fraction ≈ jaccard for a known pair."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(100))),
            (2, " ".join(f"w{i}" for i in range(20, 100))),  # high overlap
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc"]: [r[f"m{i}"] for i in range(32)] for r in
            minhash_signatures(shingles(docs)).collect()}
    match_frac = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 32
    # true shingle jaccard: doc1 has 98 shingles (w0..w97 starts), doc2 has 78;
    # shared = shingles starting at w20..w97 = 78 → j = 78/98 ≈ 0.796
    assert 0.5 <= match_frac <= 1.0


def test_exact_dedup_counts(spark):
    from map_reduce_lite_spark.ops.dedup import dedup_exact
    import map_reduce_lite_spark.ops.dedup as dd

    df = dedup_exact(spark, SF_SMALL)
    total = df.agg(F.sum("n_docs")).collect()[0][0]
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert total == n_docs  # every doc lands in exactly one group


def test_simhash_hamming_symmetry(spark):
    from map_reduce_lite_spark.ops.dedup import dedup_simhash

    out = dedup_simhash(spark, SF_SMALL).collect()
    for r in out:
        assert r["doc1"] < r["doc2"]
        assert 0 <= r["hamming"] <= 3


def test_simhash_bucket_cap_bounds_and_matches_oracle(spark, duck, monkeypatch):
    """SIMHASH_BUCKET_CAP sub-splitting, forced active with a tiny cap:

    1. boundedness — every candidate block is a strict subset of its
       (band, chunk) bucket, so pair count drops below the uncapped run
       (the fixture corpus has hot buckets: its low-entropy vocabulary
       collapses many docs onto shared fingerprint chunks);
    2. capped pairs ⊂ uncapped pairs (the split only removes
       candidates, never invents them);
    3. the DuckDB oracle replays the band-salted split bit-for-bit at
       the forced cap — not just at the default where it is the
       identity.
    """
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import _simhash_sql, simhash_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    cap = 8  # far below the fixture's hottest bucket → split is active
    monkeypatch.setattr(dedup, "SIMHASH_BUCKET_CAP", cap)
    capped = simhash_pairs(docs)
    monkeypatch.setattr(dedup, "SIMHASH_BUCKET_CAP", 1 << 30)
    uncapped = simhash_pairs(docs)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert 0 < n_capped < n_uncapped
    extra = capped.select("doc1", "doc2").exceptAll(uncapped.select("doc1", "doc2"))
    assert extra.count() == 0
    got = {(r.doc1, r.doc2, r.hamming) for r in capped.collect()}
    want = set(map(tuple, duck.execute(_simhash_sql(cap=cap)).fetchall()))
    assert got == want


def test_simhash_default_cap_does_not_perturb_testdata(spark, monkeypatch):
    """Every fixture bucket is far below SIMHASH_BUCKET_CAP, so the
    default capped result equals the uncapped one — the cap only
    engages on pathological bucket skew."""
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    capped = {(r.doc1, r.doc2) for r in simhash_pairs(docs).collect()}
    monkeypatch.setattr(dedup, "SIMHASH_BUCKET_CAP", 1 << 30)
    uncapped = {(r.doc1, r.doc2) for r in simhash_pairs(docs).collect()}
    assert capped == uncapped


def test_ngram_df_cap_bounds_stop_shingle_blowup(spark, monkeypatch):
    """A stop-shingle shared by every document must NOT produce the
    |postings|² candidate explosion: with the DF cap active, documents
    whose only overlap is the ubiquitous boilerplate yield no pairs,
    while genuine near-dups (sharing many RARE shingles) still match."""
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import ngram_jaccard_pairs

    stop = "terms of service apply"  # 4 tokens → 2 shared 3-shingles
    rows = []
    # 40 unrelated docs that all carry the boilerplate prefix
    for i in range(40):
        body = " ".join(f"u{i}w{j}" for j in range(12))
        rows.append((i, f"{stop} {body}"))
    # one planted near-dup pair sharing a long rare body
    shared = " ".join(f"rare{j}" for j in range(30))
    rows.append((100, f"{stop} {shared}"))
    rows.append((101, f"{stop} {shared} tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 5)
    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.3)
    capped = ngram_jaccard_pairs(docs)
    got = {(r["doc1"], r["doc2"]) for r in capped.collect()}
    assert (100, 101) in got, got  # rare-shingle near-dup survives
    # no pair among the 40 boilerplate-only docs (40*39/2 = 780 would
    # appear in the uncapped candidate set)
    assert all(d1 >= 100 for d1, _ in got), got


def test_ngram_df_cap_default_does_not_perturb_testdata(spark, duck, monkeypatch):
    """At the test SF max shingle DF is 9 < SHINGLE_DF_CAP, so capped
    results equal uncapped — pinning that the cap only removes
    pathological postings, not legitimate matches."""
    from map_reduce_lite_spark.ops import dedup
    from map_reduce_lite_spark.ops.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    capped = {(r["doc1"], r["doc2"]) for r in ngram_jaccard_pairs(docs).collect()}
    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 10**9)
    uncapped = {
        (r["doc1"], r["doc2"]) for r in ngram_jaccard_pairs(docs).collect()
    }
    assert capped == uncapped


def test_embedding_near_dup_exact_vs_lsh_recall(spark):
    """LSH-blocked near-dup must recover most of the exact pairs and
    never report a pair the exact method rejects (it exact-verifies)."""
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from tests.conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r["keep_id"], r["dup_id"]): r["sim_e9"]
        for r in embedding_near_dup_pairs(emb, method="exact").collect()
    }
    lsh = {
        (r["keep_id"], r["dup_id"]): r["sim_e9"]
        for r in embedding_near_dup_pairs(emb, method="lsh").collect()
    }
    assert exact, "exact near-dup set must be non-empty on test corpus"
    assert set(lsh) <= set(exact)  # no false positives after verify
    assert len(lsh) / len(exact) >= 0.5, (len(lsh), len(exact))
    for k in lsh:
        assert lsh[k] == exact[k]


def test_pipeline_curation_every_stage_active(spark):
    """The 3-stage curation funnel must actually filter at EVERY stage
    on the test corpus — a stage that passes everything through is
    silently vacuous (the oracle would still match)."""
    from map_reduce_lite_spark.ops.pipeline import pretrain_curation

    rows = pretrain_curation(spark, SF_SMALL).collect()
    tot = {
        c: sum(r[c] for r in rows)
        for c in ["n_total", "n_quality", "n_lang", "n_kept", "kept_tokens"]
    }
    assert tot["n_total"] > tot["n_quality"] > tot["n_lang"] > tot["n_kept"] > 0, tot
    assert tot["kept_tokens"] > 0


def test_containment_dominates_jaccard(spark):
    """For every surviving directed pair, containment >= the pair's
    Jaccard (the denominator |A| <= |A∪B|), and exact duplicates reach
    containment 1.0 in both directions."""
    from map_reduce_lite_spark.ops.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )
    from tests.conftest import SF_SMALL

    cont = dedup_containment(spark, SF_SMALL)
    rows = cont.collect()
    assert rows, "no containment pairs at test scale"
    cmap = {(r.contained_doc, r.container_doc): r.containment for r in rows}
    jac = dedup_ngram_jaccard(spark, SF_SMALL).collect()
    # jaccard >= 0.8 forces both containment directions >= 0.8 into the output
    for r in jac:
        if r.jaccard >= 0.8:
            assert cmap[(r.doc1, r.doc2)] >= r.jaccard
            assert cmap[(r.doc2, r.doc1)] >= r.jaccard
    # at least one direction-asymmetric pair should exist only one way
    one_way = [k for k in cmap if (k[1], k[0]) not in cmap]
    assert isinstance(one_way, list)  # asymmetry allowed, not required


def test_lpa_communities_partition_the_graph(spark):
    """LPA output must partition the node set: community sizes sum to
    the number of distinct nodes in the supported edge list, and each
    community's min_part belongs to it (label <= min member is not
    required after propagation, but the partition property is)."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.graph import (
        TRIANGLE_MIN_SUPPORT,
        label_propagation_parts,
    )
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL

    out = label_propagation_parts(spark, SF_SMALL).collect()
    assert out
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    n_nodes = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= TRIANGLE_MIN_SUPPORT)
        .select(F.explode(F.array("u", "v")).alias("n"))
        .distinct()
        .count()
    )
    assert sum(r.n_members for r in out) == n_nodes
    assert len({r.community for r in out}) == len(out)
