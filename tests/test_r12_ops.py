"""r12 additions: the REAL perceptual hash (multimodal_ppm_phash —
decode → canonical 8×8 NN resample → average-hash → group), plus the
corpus-snapshot builder facade (build_snapshot) unifying the three
staged build-once artifacts.

The phash tests pin the property the query exists for: value-identical
scenes ENCODED DIFFERENTLY (four resolutions per scene) collide on the
64-bit fingerprint, malformed payloads are flagged rows (never
exceptions), and the bit packing matches an independent by-hand replay
of the strict-mean threshold."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _p6(w: int, h: int, px: np.ndarray) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def _media_df(spark, rows):
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _scene_payload(grp: int, s: int, grid: int = 8) -> bytes:
    """Replica of synthesize_ppm_variants' encoding rule for one member."""
    w, h = grid * (s + 1), grid * (s + 2)
    ys = (np.arange(h) * grid) // h
    xs = (np.arange(w) * grid) // w
    j = ys[:, None] * grid + xs[None, :]
    px = (grp * 31 + j[:, :, None] * 7 + np.arange(3)[None, None, :] * 11) % 256
    return _p6(w, h, px)


def test_ppm_phash_reencodings_collide(spark):
    """Four encodings of one scene at four resolutions → ONE hash
    group; a different scene does not join it."""
    from map_reduce_lite_spark.ops.multimodal import phash_ppm

    rows = [(s, _scene_payload(7, s)) for s in range(4)]
    rows += [(10 + s, _scene_payload(8, s)) for s in range(4)]
    out = phash_ppm(_media_df(spark, rows)).collect()
    assert all(r.ok for r in out)
    hashes = {(r.phash_hi, r.phash_lo) for r in out if r.media_id < 4}
    other = {(r.phash_hi, r.phash_lo) for r in out if r.media_id >= 10}
    assert len(hashes) == 1, "re-encodings of one scene must collide"
    assert len(other) == 1
    assert hashes != other, "distinct scenes must not share this hash"


def test_ppm_phash_matches_by_hand_bit_packing(spark):
    """Independent replay: decode the raster in the test, NN-resample
    to 8×8, strict-mean threshold, little-endian pack — must equal the
    engine's two halves bit for bit."""
    from map_reduce_lite_spark.ops.multimodal import phash_ppm

    rng = np.random.RandomState(42)
    w, h = 21, 13  # NOT multiples of 8: exercises the general NN map
    px = rng.randint(0, 256, size=(h, w, 3))
    [row] = phash_ppm(_media_df(spark, [(1, _p6(w, h, px))])).collect()
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    lumas = px[ys][:, xs].sum(axis=2).ravel().astype(np.int64)
    bits = (lumas * 64) > lumas.sum()
    lo = int((bits[:32] << np.arange(32)).sum())
    hi = int((bits[32:] << np.arange(32)).sum())
    assert row.ok and (row.phash_hi, row.phash_lo) == (hi, lo)


def test_ppm_phash_malformed_flagged_not_thrown(spark):
    """Truncated magic, short raster, NULL payload, and a tiny
    (sub-grid, canonicalized by index repetition) image all produce
    rows — malformed ones flagged with NULL halves."""
    from map_reduce_lite_spark.ops.multimodal import phash_ppm

    tiny = _p6(2, 2, np.arange(12).reshape(2, 2, 3))
    rows = [
        (1, b"P6"),
        (2, _p6(4, 4, np.zeros((4, 4, 3)))[:-5]),
        (3, None),
        (4, tiny),
    ]
    out = {r.media_id: r for r in phash_ppm(_media_df(spark, rows)).collect()}
    assert len(out) == 4
    assert not out[1].ok and out[1].phash_hi is None
    assert not out[2].ok
    assert not out[3].ok
    assert out[4].ok and out[4].phash_hi is not None


def test_ppm_phash_16bit_raster(spark):
    """maxval > 255 → big-endian u16 samples, same hash pipeline."""
    from map_reduce_lite_spark.ops.multimodal import phash_ppm

    w = h = 8
    vals = (np.arange(w * h * 3, dtype=np.int64) * 257) % 65536
    payload = b"P6\n8 8\n65535\n" + vals.astype(">u2").tobytes()
    [row] = phash_ppm(_media_df(spark, [(1, payload)])).collect()
    lumas = vals.reshape(h, w, 3).sum(axis=2).ravel()
    bits = (lumas * 64) > lumas.sum()
    lo = int((bits[:32] << np.arange(32)).sum())
    hi = int((bits[32:] << np.arange(32)).sum())
    assert row.ok and (row.phash_hi, row.phash_lo) == (hi, lo)


def test_ppm_phash_registered_query_groups_and_flags(spark):
    """The registered query over the real corpus: every non-corrupt
    scene-group collides into one row (n_copies ≥ members), corrupt
    payloads surface as flagged singletons with NULL halves."""
    import __spark_entry__ as e
    from map_reduce_lite_spark.ops.multimodal import PPM_CORRUPT_EVERY

    rows = e.queries()["multimodal_ppm_phash"](spark, SF_SMALL).collect()
    flagged = [r for r in rows if r.phash_hi is None]
    grouped = [r for r in rows if r.phash_hi is not None]
    assert flagged and all(r.n_copies == 1 for r in flagged)
    assert all(r.keep_media_id % PPM_CORRUPT_EVERY == 0 for r in flagged)
    assert any(r.n_copies >= 2 for r in grouped), "planted dups must group"


# --------------------------------------------------------------------------
# r12: star-only coverage metric (the ADVICE visibility fix)
# --------------------------------------------------------------------------


def test_refine_star_only_probe_clean_is_empty(spark):
    """Driver-fixture regime: no bucket oversized → the sizing probe
    short-circuits to an empty frame (metric provably zero)."""
    from map_reduce_lite_spark.ops.dedup import lsh_band_table, refine_star_only_ids
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    assert refine_star_only_ids(emb, lsh_band_table(emb)).count() == 0


# --------------------------------------------------------------------------
# r12: adversarial graph-topology campaign (the r11 verdict's ask #3)
# --------------------------------------------------------------------------
#
# The refined embedding path got a 25× adversarial corpus in r11; the
# graph family had sf-slice exponents (SCALE.md r8) but no planted
# worst-case topologies. These tests pin the STRUCTURAL properties that
# make each operator survive 100 TB skew, on graphs built to break the
# naive form: a hub star (degree skew → wedge explosion without the
# orientation), a path of depth ≫ round count (diameter → iteration
# explosion without pointer jumping), and clique/giant shapes for the
# fixed-round peel and propagation operators. tools/scale_stress.py
# --topology measures the same shapes at scale; SCALE.md §r12 records
# the numbers.


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_triangle_hub_orientation_bounds_wedge_fanout(spark):
    """Planted hub co-purchased with everything: degree orientation
    must point every hub edge INTO the hub, so the hub's forward
    degree — its wedge fanout in the e1.dst = e2.src join — is 0,
    where the naive u < v orientation would give it ~n (n² wedges).
    Triangle counts stay exact: each chain edge among the first 60
    satellites closes one triangle through the hub."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.graph import orient_edges

    n = 2000
    hub = 0
    pairs = [(hub, s) for s in range(1, n + 1)]
    pairs += [(s, s + 1) for s in range(1, 60)]  # 59 chain edges
    oriented = orient_edges(_edges_df(spark, pairs))
    fanout = {
        r.src: r.n
        for r in oriented.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert hub not in fanout, "hub must have forward-degree 0"
    assert max(fanout.values()) <= 3  # satellites: ≤ 2 chain + 1 hub edge


def test_triangle_hub_counts_exact_under_orientation(spark):
    """Same planted-hub graph through the full triangle operator: the
    hub participates in every hub–i–(i+1) triangle, each chain-interior
    satellite in two, chain-end satellites in one."""
    from map_reduce_lite_spark.ops.graph import triangle_parts

    n = 500
    pairs = [(0, s) for s in range(1, n + 1)]
    pairs += [(s, s + 1) for s in range(1, 60)]
    rows = triangle_parts(
        spark, sf_dir="", edges=_edges_df(spark, pairs)
    ).collect()
    got = {r.part: r.n_triangles for r in rows}
    assert got[0] == 59  # the hub is in every triangle
    # top-k output: hub first, then the interior chain satellites (2)
    assert rows[0].part == 0
    assert all(got[s] == 2 for s in list(got) if 2 <= s <= 10)


def test_components_long_path_converges_logarithmically(spark, monkeypatch):
    """Path of depth 3000 ≫ any reasonable round budget: pointer
    jumping must reach the single component in ~log2(diameter) rounds,
    NOT diameter rounds (plain min-propagation would need 3000)."""
    import math

    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    depth = 3000
    pairs = [(i, i + 1) for i in range(depth)]
    comp = connected_components(_edges_df(spark, pairs), src="u", dst="v")
    rows = comp.collect()
    assert {r.component for r in rows} == {0}
    assert len(rows) == depth + 1
    # log2(3001) ≈ 11.6; pointer jumping needs about that, never 3000.
    # Generous headroom (+4) so a convergence-detection round or an
    # off-by-one never flakes the pin; the property under test is
    # LOG-vs-LINEAR, not an exact constant.
    assert connected_components.last_rounds <= math.log2(depth) + 4


def test_kcore_path_fully_peels_and_clique_survives(spark):
    """A path has max degree 2 < KCORE_K=3 → fixed-round peeling must
    empty it (the long-tail shape that breaks a 'one pass is enough'
    shortcut: peeling a path END removes one node per pass, but the
    FIRST pass already drops every node here since no node has degree
    ≥ 3). A K5 clique glued to the path survives with within-core
    degree 4, including the glue node."""
    from itertools import combinations

    from map_reduce_lite_spark.ops.graph import kcore_parts

    path = [(i, i + 1) for i in range(100, 160)]
    clique = list(combinations(range(5), 2))
    glue = [(4, 100)]  # clique node 4 touches the path
    rows = kcore_parts(
        spark, sf_dir="", edges=_edges_df(spark, path + clique + glue)
    ).collect()
    got = {r.part: r.kcore_degree for r in rows}
    assert got == {i: 4 for i in range(5)}, got


def test_lpa_disjoint_cliques_converge_to_min_labels(spark):
    """Two disjoint cliques: label propagation must converge each to
    its min-id label within the fixed rounds (a one-round fixpoint —
    every member sees the min label tie-broken smallest), giving two
    communities with exact member counts."""
    from itertools import combinations

    from map_reduce_lite_spark.ops.graph import label_propagation_parts

    a = list(combinations(range(0, 6), 2))
    b = list(combinations(range(100, 104), 2))
    rows = label_propagation_parts(
        spark, sf_dir="", edges=_edges_df(spark, a + b)
    ).collect()
    got = {r.community: (r.n_members, r.min_part) for r in rows}
    assert got == {0: (6, 0), 100: (4, 100)}, got


# --------------------------------------------------------------------------
# r12: corpus-snapshot builder facade (the r11 verdict's ask #5)
# --------------------------------------------------------------------------


def test_build_snapshot_manifest_and_consumer_parity(spark, tmp_path):
    """One build_snapshot call stages all three artifacts + manifest;
    every consumer family resolved THROUGH the manifest matches its
    inline registered form. (Per-builder staged parity is pinned in
    test_r10_ops/test_r11_ops; this test pins the facade: paths,
    manifest resolution, and the safety posture of the shared pair
    artifact.)"""
    from collections import Counter

    import __spark_entry__ as e
    from map_reduce_lite_spark.corpus_snapshot import (
        build_snapshot,
        read_artifact,
    )
    from map_reduce_lite_spark.ops.graph import (
        kcore_parts,
        label_propagation_parts,
        triangle_parts,
    )
    from map_reduce_lite_spark.ops.similarity import (
        hubness_from_edges,
        nn_descent_from_edges,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    snap = str(tmp_path / "snap")
    manifest = build_snapshot(spark, SF_SMALL, snap)
    assert set(manifest["artifacts"]) == {
        "knn_edges",
        "near_dup_pairs",
        "copurchase_edges",
    }
    # the shared pair artifact must carry the SAFETY posture, and the
    # manifest must say so (a split-routing consumer checks this field)
    assert manifest["artifacts"]["near_dup_pairs"]["params"]["method"] == "lsh_refine"
    assert all(a["rows"] > 0 for a in manifest["artifacts"].values())

    emb = load_table(spark, SF_SMALL, "embeddings")
    qs = e.queries()

    knn = read_artifact(spark, snap, "knn_edges")
    assert Counter(
        tuple(r) for r in nn_descent_from_edges(emb, knn).collect()
    ) == Counter(tuple(r) for r in qs["similarity_nn_descent"](spark, SF_SMALL).collect())
    assert Counter(
        tuple(r) for r in hubness_from_edges(emb, knn).collect()
    ) == Counter(
        tuple(r) for r in qs["similarity_graph_hubness"](spark, SF_SMALL).collect()
    )

    cop = read_artifact(spark, snap, "copurchase_edges")
    for name, fn in (
        ("graph_triangle_parts", triangle_parts),
        ("graph_label_propagation", label_propagation_parts),
        ("graph_kcore_parts", kcore_parts),
    ):
        assert Counter(
            tuple(r) for r in fn(spark, SF_SMALL, edges=cop).collect()
        ) == Counter(tuple(r) for r in qs[name](spark, SF_SMALL).collect()), name

    pairs = read_artifact(spark, snap, "near_dup_pairs")
    assert pairs.count() == manifest["artifacts"]["near_dup_pairs"]["rows"]
    # driver-fixture regime: no oversized bucket, so the refined pair
    # set equals the registered lsh query's multiset exactly
    assert Counter(tuple(r) for r in pairs.collect()) == Counter(
        tuple(r) for r in qs["dedup_embedding_lsh"](spark, SF_SMALL).collect()
    )


def test_read_artifact_unknown_name_lists_available(spark, tmp_path):
    from map_reduce_lite_spark.corpus_snapshot import (
        build_snapshot,
        read_artifact,
    )
    import pytest

    snap = str(tmp_path / "snap")
    build_snapshot(spark, SF_SMALL, snap)
    with pytest.raises(KeyError, match="copurchase_edges"):
        read_artifact(spark, snap, "nope")


def test_components_shuffled_id_path_still_logarithmic(spark, monkeypatch):
    """THE r12 falsifier: ids random relative to topology. The old
    pointer-jumping loop needed 474-903 rounds on shuffled 3000-paths
    (O(diameter): regional-min nodes hold self-pointers, so the jump
    never shortcuts past them) and max_iter=25 silently returned
    un-converged components. The alternating-star rewrite must
    converge logarithmically REGARDLESS of id placement and produce
    the exact component."""
    import math
    import random

    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    depth = 3000
    ids = list(range(depth + 1))
    random.Random(7).shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(depth)]
    rows = connected_components(_edges_df(spark, pairs), src="u", dst="v").collect()
    assert len(rows) == depth + 1
    assert {r.component for r in rows} == {0}
    assert connected_components.last_rounds <= math.log2(depth) + 6


def test_components_nonconvergence_raises_not_partial(spark, monkeypatch):
    """max_iter too small must RAISE, never return partial (wrong)
    labels — the silent-cliff fix."""
    import pytest

    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    pairs = [(i, i + 1) for i in range(200)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _edges_df(spark, pairs), src="u", dst="v", max_iter=2
        ).collect()
