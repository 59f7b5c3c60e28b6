"""Round-10 regressions: the graph loops' lineage cuts write no files,
pagerank lineage bounding, and ANSI-mode div-by-zero guards on
degenerate corpora.

The barrier-leak shape (r10 ADVICE): connected_components mkdtemp'd a
directory on EVERY call and never deleted its parquet barrier files,
accumulating across the 176-query bench and any long-lived driver.
The parquet barrier is gone: ``lineage.materialize`` is the only cut
in the graph loops, so a long connected_components run touches no
temp directory and writes no parquet, locally or in reliable mode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_reliable_written


def _engine_dirs(root) -> list:
    """Engine-owned ``mrl_*`` directories anywhere under ``root`` (in
    reliable mode Spark's own checkpoints sit inside its per-context
    ``<dir>/<uuid>`` subdir)."""
    return sorted(root.rglob("mrl_*"))


# --------------------------------------------------------------------------
# connected_components lineage cuts
# --------------------------------------------------------------------------


def test_cc_no_tempdir_when_barrier_unfired(spark, reliable_checkpoint, monkeypatch):
    """connected_components must not touch the filesystem beyond Spark's
    own checkpoints (the pre-r10 code mkdtemp'd per call, and later
    code wrote a parquet barrier every 8 rounds): not on a small graph,
    and not on an id-shuffled 3000-path that runs more than 8 rounds,
    locally or under a reliable checkpoint dir."""
    import random
    import tempfile

    from pyspark.sql import DataFrameWriter

    from map_reduce_lite_spark.ops import graph

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    calls = []
    real = tempfile.mkdtemp

    def counting(*a, **k):
        calls.append(k.get("prefix") or (a[0] if a else None))
        return real(*a, **k)

    writes = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *a, **k):
        writes.append(path)
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(tempfile, "mkdtemp", counting)
    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    out = {r["node"]: r["component"] for r in graph.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert calls == [], "connected_components must not create temp dirs"

    depth = 3000
    ids = list(range(depth + 1))
    random.Random(7).shuffle(ids)
    path = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(depth)], "src long, dst long"
    )

    def components_of_path():
        rows = graph.connected_components(path).collect()
        assert len(rows) == depth + 1
        assert {r.component for r in rows} == {0}
        assert graph.connected_components.last_rounds > 8

    components_of_path()
    assert calls == [] and writes == []
    with reliable_checkpoint() as ckdir:
        components_of_path()
        assert _engine_dirs(ckdir) == []
        assert_reliable_written(ckdir)
    assert calls == [] and writes == []


def test_cc_reliable_mode_chain(spark, reliable_checkpoint, monkeypatch):
    """A 40-chain in reliable mode: the per-round cuts are reliable
    checkpoints and the result reads back correctly from them."""
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    with reliable_checkpoint() as ckdir:
        out = connected_components(edges)
        rows = {r["node"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(n + 1)}
    assert_reliable_written(ckdir)


# --------------------------------------------------------------------------
# pagerank lineage bounding
# --------------------------------------------------------------------------


def _numpy_pagerank(edges: list[tuple[int, int]], iterations: int) -> dict[int, float]:
    """Driver-side replay of the exact formulation (dangling nodes keep
    base rank; DECIMAL mass sum replayed in float — exact on this tiny
    graph's dyadic-ish values is NOT assumed, so comparisons use a
    tolerance)."""
    nodes = sorted({x for e in edges for x in e})
    out: dict[int, list[int]] = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    pr = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        mass = {n: 0.0 for n in nodes}
        for s, ds in out.items():
            for d in ds:
                mass[d] += pr[s] / len(ds)
        pr = {n: 0.15 + 0.85 * mass[n] for n in nodes}
    return pr


def test_pagerank_deep_iterations_bounded(spark, reliable_checkpoint, monkeypatch):
    """iterations=12 with PR_CHECKPOINT_EVERY=4, in reliable mode:
    values match the driver-side replay, reliable cuts were written
    and no engine-owned directory is left behind."""
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import pagerank

    monkeypatch.setattr(graph, "PR_CHECKPOINT_EVERY", 4)
    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    with reliable_checkpoint() as ckdir:
        got = {r["node"]: r["pr"] for r in pagerank(edges, iterations=12).collect()}
    want = _numpy_pagerank(raw, 12)
    assert got.keys() == want.keys()
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9), n
    assert _engine_dirs(ckdir) == []
    assert_reliable_written(ckdir)


def test_pagerank_iter3_unchanged_by_truncation(spark, monkeypatch):
    """The registered query's semantics are invariant to the new
    truncation points (checkpoints round-trip doubles exactly): iterations=3 with and without per-round ckpt agree
    bit-for-bit."""
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import pagerank

    raw = [(1, 2), (2, 3), (3, 1), (4, 2)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    monkeypatch.setattr(graph, "PR_CHECKPOINT_EVERY", 10**9)
    plain = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    monkeypatch.setattr(graph, "PR_CHECKPOINT_EVERY", 1)
    bounded = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    assert plain == bounded  # exact float equality, deliberately


# --------------------------------------------------------------------------
# ANSI div-by-zero guards (degenerate corpora)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tokenless_dir(tmp_path_factory):
    """A corpus made ONLY of empty / whitespace-only documents: every
    doc lands in the 'und' stratum with bpe_toks = 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("tokenless")
    docs = [(1, "", "bulk"), (2, "   ", "bulk"), (3, "\t\n", "bulk")]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array([r[2] for r in docs], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_fertility_tokenless_stratum_null_both_engines(spark, tokenless_dir):
    """ADVICE r10: SUM(bpe_toks)=0 for the whitespace-only 'und' stratum
    — ANSI Spark threw DIVIDE_BY_ZERO while DuckDB's // returned NULL.
    Both engines must now agree on NULL."""
    import duckdb

    import __spark_entry__ as e

    sdf = e.queries()["text_fertility_by_lang"](spark, tokenless_dir)
    srows = sdf.collect()  # must not raise
    assert len(srows) == 1 and srows[0]["pred_lang"] == "und"
    assert srows[0]["chars_per_bpe_bps"] is None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tokenless_dir}/documents.parquet')"
    )
    drows = con.execute(e.oracle_sql()["text_fertility_by_lang"]).fetchall()
    dcols = [c[0] for c in con.execute(
        e.oracle_sql()["text_fertility_by_lang"]
    ).description]
    d = dict(zip(dcols, drows[0]))
    s = srows[0].asDict()
    assert {k: d[k] for k in s} == s


# --------------------------------------------------------------------------
# staged k-NN edge list (build once, consume many)
# --------------------------------------------------------------------------


def test_knn_staged_edges_parity(spark, tmp_path):
    """build_knn_edges → consumers must equal the inline registered
    forms, full multiset, for all three family members."""
    from map_reduce_lite_spark.ops.similarity import (
        build_knn_edges,
        hubness_from_edges,
        knn_topk_edges,
        nn_descent_from_edges,
    )
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    staged = build_knn_edges(emb, str(tmp_path / "knn_edges"))

    def ms(df):
        from collections import Counter

        return Counter(tuple(r) for r in df.collect())

    assert ms(staged) == ms(knn_topk_edges(emb))
    assert ms(nn_descent_from_edges(emb, staged)) == ms(
        nn_descent_from_edges(emb, knn_topk_edges(emb))
    )
    assert ms(hubness_from_edges(emb, staged)) == ms(
        hubness_from_edges(emb, knn_topk_edges(emb))
    )


def test_knn_edges_reliable_checkpoint(spark, reliable_checkpoint):
    """A session checkpoint dir switches the band-table truncation to
    reliable checkpoint() (survives executor loss) — mirrors
    test_connected_components_reliable_checkpoint."""
    from map_reduce_lite_spark.ops.similarity import knn_topk_edges
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL, assert_reliable_written

    emb = load_table(spark, SF_SMALL, "embeddings")
    plain = {tuple(r) for r in knn_topk_edges(emb).collect()}
    with reliable_checkpoint() as ckdir:
        ck = {tuple(r) for r in knn_topk_edges(emb).collect()}
    assert plain == ck
    assert_reliable_written(ckdir)


# --------------------------------------------------------------------------
# real PPM (P6) decoder
# --------------------------------------------------------------------------


def _decode_payloads(spark, payloads: list[bytes | None]):
    from map_reduce_lite_spark.ops.multimodal import decode_ppm

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    return {r["media_id"]: r.asDict() for r in decode_ppm(media).collect()}


def test_ppm_decoder_spec_corners(spark):
    """Header comments, multi-whitespace, 16-bit maxval (big-endian),
    and the exactly-one-whitespace-before-raster rule — the parser is a
    real netpbm P6 parser, not a fixed-offset slice."""
    import numpy as np

    # 2x1 8-bit image, comments + odd whitespace inside the header
    px8 = bytes([10, 20, 30, 40, 50, 60])
    good8 = b"P6 # a comment\n  2\t# another\n 1 \t\n255\n" + px8
    # 1x1 16-bit image (maxval 65535): samples are big-endian u16
    px16 = np.array([256, 512, 1024], dtype=">u2").tobytes()
    good16 = b"P6\n1 1\n65535\n" + px16
    out = _decode_payloads(spark, [good8, good16])
    assert out[0]["ok"] and (out[0]["width"], out[0]["height"]) == (2, 1)
    assert out[0]["n_px"] == 6
    assert out[0]["mean_pixel_e6"] == int((sum(px8) / 6) * 1e6)
    assert out[1]["ok"] and out[1]["maxval"] == 65535
    assert out[1]["mean_pixel_e6"] == int(((256 + 512 + 1024) / 3) * 1e6)


def test_ppm_decoder_flags_malformed_never_raises(spark):
    """bad magic / truncated header / short raster / zero dims /
    maxval out of range / NULL payload — all ok=false with NULL
    metrics, no exceptions (one corrupt image must not kill a 100 TB
    decode stage)."""
    cases = [
        b"P5\n1 1\n255\n" + bytes(3),        # wrong magic (P5 is not P6)
        b"P6",                                # truncated at magic
        b"P6\n2 2\n255\n" + bytes(5),         # raster short (needs 12)
        b"P6\n0 1\n255\n",                    # zero width
        b"P6\n1 1\n0\n" + bytes(3),           # maxval 0
        b"P6\n1 1\n70000\n" + bytes(6),       # maxval >= 65536
        None,                                  # NULL payload
        b"P6\n1 1\n255" + bytes(4),           # no whitespace after maxval
    ]
    out = _decode_payloads(spark, cases)
    for i in range(len(cases)):
        assert out[i]["ok"] is False, i
        assert out[i]["width"] is None and out[i]["mean_pixel_e6"] is None, i


def test_ppm_roundtrip_matches_synthesis_rule(spark):
    """synthesize → decode must reproduce the closed-form dims/mean the
    oracle computes (the actual driver-gate contract, pinned here at
    unit scale with explicit expected values)."""
    from map_reduce_lite_spark.ops.multimodal import (
        decode_ppm,
        synthesize_ppm_media,
    )

    docs = spark.createDataFrame([(7,), (50,)], "doc_id long")
    out = {
        r["media_id"]: r.asDict()
        for r in decode_ppm(synthesize_ppm_media(docs)).collect()
    }
    # doc 7: w = 4 + 7%13 = 11, h = 3 + 7%7 = 3, n = 99 samples
    n = 11 * 3 * 3
    s = sum((7 * 31 + i * 7) % 256 for i in range(n))
    assert out[7]["ok"] and (out[7]["width"], out[7]["height"]) == (11, 3)
    assert out[7]["mean_pixel_e6"] == int((s / n) * 1e6)
    # doc 50: corrupted by the every-50th rule
    assert out[50]["ok"] is False and out[50]["width"] is None


def test_embedding_pairs_reliable_checkpoint(spark, reliable_checkpoint):
    """embedding_near_dup_pairs' band table honors the session
    checkpoint dir, same contract as knn_topk_edges."""
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL, assert_reliable_written

    emb = load_table(spark, SF_SMALL, "embeddings")

    def pairs():
        return {
            tuple(r)
            for r in embedding_near_dup_pairs(emb, method="lsh")
            .select("keep_id", "dup_id")
            .collect()
        }

    plain = pairs()
    with reliable_checkpoint() as ckdir:
        ck = pairs()
    assert plain == ck
    assert_reliable_written(ckdir)


def test_near_dup_pairs_staged_parity(spark, tmp_path):
    """build_near_dup_pairs -> components/survivors consumers must equal
    the inline forms, full multiset (the components-family staged
    artifact, mirroring the k-NN one)."""
    from collections import Counter

    from map_reduce_lite_spark.ops.dedup import (
        build_near_dup_pairs,
        embedding_near_dup_pairs,
    )
    from map_reduce_lite_spark.ops.graph import connected_components, dedup_survivors
    from map_reduce_lite_spark.relational.tables import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    staged = build_near_dup_pairs(emb, str(tmp_path / "pairs"))
    inline = embedding_near_dup_pairs(emb, method="lsh")

    def ms(df):
        return Counter(tuple(r) for r in df.collect())

    assert ms(staged) == ms(inline)
    assert ms(
        connected_components(staged, src="keep_id", dst="dup_id")
    ) == ms(connected_components(inline, src="keep_id", dst="dup_id"))
    ids = emb.select("vec_id")
    assert ms(dedup_survivors(staged, ids, "vec_id")) == ms(
        dedup_survivors(inline, ids, "vec_id")
    )


@pytest.fixture(scope="module")
def empty_docs_dir(tmp_path_factory):
    """A documents table with ZERO rows — the new-crawl-slice edge."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("emptycorpus")
    tbl = pa.table(
        {
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_vocab_coverage_empty_corpus_zero_rows_both_engines(
    spark, empty_docs_dir
):
    """On an empty corpus Spark's groupless aggregates emit an all-NULL
    row that fanned out into K NULL rows while DuckDB emitted zero —
    found r10, both engines must now agree on ZERO rows (an empty
    vocabulary has no coverage curve)."""
    import duckdb

    import __spark_entry__ as e

    assert e.queries()["text_vocab_coverage"](spark, empty_docs_dir).count() == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{empty_docs_dir}/documents.parquet')"
    )
    assert con.execute(e.oracle_sql()["text_vocab_coverage"]).fetchall() == []
    # fertility on the same empty corpus: zero strata in both engines
    assert e.queries()["text_fertility_by_lang"](spark, empty_docs_dir).count() == 0
    assert con.execute(e.oracle_sql()["text_fertility_by_lang"]).fetchall() == []
