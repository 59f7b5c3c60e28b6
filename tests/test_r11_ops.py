"""r11 additions: reliable-checkpoint coverage for every remaining
SF-proportional materialization (the test_knn_edges_reliable_checkpoint
pattern, one per family), and adaptive re-banding unit coverage beyond
the mega-bucket corpora in test_capcorpus.py.

Each checkpoint test proves the SAME VALUES come back with a session
checkpoint dir set (reliable checkpoint(), survives executor loss on a
real cluster) as with the default executor-local localCheckpoint, and
that the directory was actually written — a silent fallback to local
storage would pass the value check but fail the rdd-* check."""

from __future__ import annotations

from tests.conftest import SF_SMALL, assert_reliable_written


def _assert_reliable(reliable_checkpoint, build):
    """``build()`` returns the same rows in reliable mode as on the
    default local path, and the checkpoint dir was written."""
    plain = {tuple(r) for r in build().collect()}
    with reliable_checkpoint() as ckdir:
        ck = {tuple(r) for r in build().collect()}
    assert plain == ck
    assert_reliable_written(ckdir)


def test_minhash_pairs_reliable_checkpoint(spark, reliable_checkpoint):
    from map_reduce_lite_spark.ops.dedup import minhash_lsh_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    _assert_reliable(reliable_checkpoint, lambda: minhash_lsh_pairs(docs))


def test_simhash_pairs_reliable_checkpoint(spark, reliable_checkpoint):
    from map_reduce_lite_spark.ops.dedup import simhash_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    _assert_reliable(reliable_checkpoint, lambda: simhash_pairs(docs))


def test_leakage_split_reliable_checkpoint(spark, reliable_checkpoint):
    from map_reduce_lite_spark.ops.curation import leakage_safe_split

    _assert_reliable(
        reliable_checkpoint, lambda: leakage_safe_split(spark, SF_SMALL)
    )


def test_triangles_reliable_checkpoint(spark, reliable_checkpoint):
    from map_reduce_lite_spark.ops.graph import triangle_parts

    _assert_reliable(reliable_checkpoint, lambda: triangle_parts(spark, SF_SMALL))


def test_label_propagation_reliable_checkpoint(spark, reliable_checkpoint, monkeypatch):
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import label_propagation_parts

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    _assert_reliable(
        reliable_checkpoint, lambda: label_propagation_parts(spark, SF_SMALL)
    )


def test_kcore_reliable_checkpoint(spark, reliable_checkpoint):
    from map_reduce_lite_spark.ops.graph import kcore_parts

    _assert_reliable(reliable_checkpoint, lambda: kcore_parts(spark, SF_SMALL))


def test_lsh_refine_matches_lsh_when_dormant(spark):
    """When no band bucket exceeds the cap (the driver fixtures), the
    three lsh variants are the identical plain band join — the refined
    method must be value-identical to method="lsh"."""
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    lsh = {tuple(r) for r in embedding_near_dup_pairs(emb, method="lsh").collect()}
    refined = {
        tuple(r)
        for r in embedding_near_dup_pairs(emb, method="lsh_refine").collect()
    }
    assert lsh == refined and len(lsh) > 0


# --------------------------------------------------------------------------
# REAL P6 resize kernel (r11)
# --------------------------------------------------------------------------


def _resize_payloads(spark, payloads, max_side=8):
    from map_reduce_lite_spark.ops.multimodal import resize_ppm

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    return {
        r["media_id"]: r.asDict()
        for r in resize_ppm(media, max_side=max_side).collect()
    }


def test_ppm_resize_nearest_neighbor_exact(spark):
    """A 4x2 raster downsampled to max side 2 → 2x1 output sampling
    source pixels (0,0) and (0,2) by the floor-NN map — checked against
    hand-computed integer sums, including the never-upscale branch."""
    import numpy as np

    w, h = 4, 2
    px = np.arange(w * h * 3, dtype=np.uint8)  # values 0..23
    buf = b"P6\n4 2\n255\n" + px.tobytes()
    out = _resize_payloads(spark, [buf], max_side=2)[0]
    # ow = (4*2)//4 = 2, oh = max(1,(2*2)//4) = 1
    assert out["ok"] and (out["out_w"], out["out_h"]) == (2, 1)
    # y=0 -> sy=(0*2)//1=0; x=0 -> sx=0, x=1 -> sx=(1*4)//2=2
    want = sum(int(px[(0 * w + sx) * 3 + c]) for sx in (0, 2) for c in range(3))
    assert out["n_px"] == 6 and out["sum_px"] == want
    # small image: no upscale, dims pass through
    out2 = _resize_payloads(spark, [buf], max_side=64)[0]
    assert (out2["out_w"], out2["out_h"]) == (4, 2)
    assert out2["sum_px"] == int(px.sum())


def test_ppm_resize_spec_corners_and_16bit(spark):
    """Header comments/whitespace and big-endian 16-bit samples resize
    through the same parser as the decoder."""
    import numpy as np

    px8 = bytes([10, 20, 30, 40, 50, 60])
    good8 = b"P6 # a comment\n  2\t# another\n 1 \t\n255\n" + px8
    px16 = np.array([256, 512, 1024], dtype=">u2").tobytes()
    good16 = b"P6\n1 1\n65535\n" + px16
    out = _resize_payloads(spark, [good8, good16])
    assert out[0]["ok"] and (out[0]["out_w"], out[0]["out_h"]) == (2, 1)
    assert out[0]["sum_px"] == sum(px8)
    assert out[1]["ok"] and out[1]["sum_px"] == 256 + 512 + 1024


def test_ppm_resize_flags_malformed_never_raises(spark):
    cases = [
        b"P5\n1 1\n255\n" + bytes(3),
        b"P6",
        b"P6\n2 2\n255\n" + bytes(5),
        b"P6\n0 1\n255\n",
        b"P6\n1 1\n70000\n" + bytes(6),
        None,
    ]
    out = _resize_payloads(spark, cases)
    for i in range(len(cases)):
        assert out[i]["ok"] is False, i
        assert out[i]["out_w"] is None and out[i]["sum_px"] is None, i


def test_ppm_resize_roundtrip_matches_synthesis_rule(spark):
    """synthesize → resize must reproduce the closed-form NN sum the
    oracle computes (explicit expected values at unit scale)."""
    from map_reduce_lite_spark.ops.multimodal import (
        resize_ppm,
        synthesize_ppm_media,
    )

    docs = spark.createDataFrame([(7,), (50,)], "doc_id long")
    out = {
        r["media_id"]: r.asDict()
        for r in resize_ppm(synthesize_ppm_media(docs)).collect()
    }
    # doc 7: w=11, h=3; m=11 > 8 -> ow=(11*8)//11=8, oh=max(1,(3*8)//11)=2
    w, h, ow, oh = 11, 3, 8, 2
    s = sum(
        (7 * 31 + ((((y * h) // oh) * w + (x * w) // ow) * 3 + c) * 7) % 256
        for y in range(oh)
        for x in range(ow)
        for c in range(3)
    )
    assert out[7]["ok"] and (out[7]["out_w"], out[7]["out_h"]) == (ow, oh)
    assert out[7]["n_px"] == ow * oh * 3 and out[7]["sum_px"] == s
    assert out[50]["ok"] is False and out[50]["out_w"] is None


def test_stub_kernels_survive_non_utf8_payloads(spark):
    """ADVICE r11: a raw binary (non-UTF-8) payload routed into the
    fake decode/resize kernels must yield NULL rows, not a
    UnicodeDecodeError that kills the stage."""
    from map_reduce_lite_spark.ops.multimodal import (
        decode_image_stub,
        resize_image_stub,
    )

    bad = bytes([0xFF, 0xFE, 0x80, 0x81])  # invalid UTF-8
    media = spark.createDataFrame(
        [(1, bad, ("application/octet-stream", None, None)),
         (2, b"fine text", ("application/octet-stream", None, None))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int>",
    )
    dec = {r["media_id"]: r.asDict() for r in decode_image_stub(media).collect()}
    assert dec[1]["feature"] is None and dec[1]["n_bytes"] == 4
    assert dec[2]["feature"] is not None
    rez = {r["media_id"]: r.asDict() for r in resize_image_stub(media).collect()}
    assert rez[1]["thumb_md5"] is None and rez[1]["width"] is None
    assert rez[2]["thumb_md5"] is not None


def test_decode_stub_empty_payload_null_moments(spark):
    """ADVICE r11: zero-length payload → NULL mean/var (parity with the
    SQL twin where list_sum([]) is NULL), not 0.0."""
    from map_reduce_lite_spark.ops.multimodal import decode_image_stub

    media = spark.createDataFrame(
        [(1, b"", ("application/octet-stream", None, None))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int>",
    )
    row = decode_image_stub(media).collect()[0]
    assert row["feature"][0] == 0.0 and row["feature"][2] is None


def test_near_dup_pairs_staged_refined_parity(spark, tmp_path):
    """build_near_dup_pairs(method="lsh_refine") stages the SAFETY-
    posture pair set: staged multiset == the inline refined form."""
    from collections import Counter

    from map_reduce_lite_spark.ops.dedup import (
        build_near_dup_pairs,
        embedding_near_dup_pairs,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    inline = Counter(
        tuple(r)
        for r in embedding_near_dup_pairs(emb, method="lsh_refine").collect()
    )
    staged = Counter(
        tuple(r)
        for r in build_near_dup_pairs(
            emb, str(tmp_path / "pairs"), method="lsh_refine"
        ).collect()
    )
    assert inline == staged and len(inline) > 0


def test_refined_candidates_structural_properties(spark):
    """Structural contract of adaptive re-banding on RANDOM vectors with
    a tiny forced cap (heavy engagement, no hand-built geometry), read
    straight from the candidate function (no cosine filter):

    1. refined candidates ⊆ the uncapped band-collision set (refinement
       never invents a pair);
    2. every pair inside a bucket at/below the cap survives verbatim
       (the recall-preserving half of the contract — a salt would
       violate this only in oversized buckets, refinement nowhere);
    3. within every still-oversized refined sub-bucket, each member is
       paired with the sub-bucket's min id (star connectivity).
    Membership/sub-bucket structure is recomputed test-side in numpy
    from the same seeded plane constants."""
    import numpy as np

    from map_reduce_lite_spark.ops.dedup import _refine_sizes, lsh_band_table
    from map_reduce_lite_spark.ops.pairs import BAND_KEYS, cooccur, refined_pairs
    from map_reduce_lite_spark.ops.similarity import (
        EMB_DIM,
        LSH_N_BANDS,
        LSH_PLANES,
        _hyperplanes,
        refine_hyperplanes,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    cap = 8
    emb = load_table(spark, SF_SMALL, "embeddings")
    bands = lsh_band_table(emb)
    refined = {
        tuple(r) for r in refined_pairs(_refine_sizes(emb, bands, cap), cap).collect()
    }
    uncapped = {
        tuple(r) for r in cooccur(bands, BAND_KEYS, "vec_id").select("m1", "m2").collect()
    }
    assert refined and refined <= uncapped  # (1)

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    planes = np.array(_hyperplanes(EMB_DIM, LSH_PLANES))
    rplanes = np.array(refine_hyperplanes(EMB_DIM))

    def hashes(v, P):
        bits = (P @ v > 0).astype(int)
        per = len(P) // LSH_N_BANDS
        return [
            int("".join(map(str, bits[b * per : (b + 1) * per])), 2)
            for b in range(LSH_N_BANDS)
        ]

    buckets: dict = {}
    subbuckets: dict = {}
    for vid, v in vecs.items():
        bh, rh = hashes(v, planes), hashes(v, rplanes)
        for b in range(LSH_N_BANDS):
            buckets.setdefault((b, bh[b]), []).append(vid)
            subbuckets.setdefault((b, bh[b], rh[b]), []).append(vid)
    engaged = False
    for key, members in buckets.items():
        if len(members) <= cap:  # (2) small buckets: exact all-pairs
            for i, a in enumerate(sorted(members)):
                for b in sorted(members)[i + 1 :]:
                    assert (a, b) in refined, (key, a, b)
        else:
            engaged = True
    assert engaged, "corpus must engage the cap for this test to bite"
    for (b, bh, rh), members in subbuckets.items():
        if len(buckets[(b, bh)]) > cap and len(members) > cap:  # (3) star
            rep = min(members)
            for m in members:
                if m != rep:
                    assert (rep, m) in refined, (b, bh, rh, m)


def test_copurchase_edges_staged_parity(spark, tmp_path):
    """build_copurchase_edges stages the shared co-purchase edge list
    (the third build-once artifact after knn edges and near-dup pairs):
    every consumer — triangles, label propagation, k-core — returns
    identical values from the staged artifact as from its inline
    build."""
    from map_reduce_lite_spark.ops.graph import (
        build_copurchase_edges,
        copurchase_edges,
        kcore_parts,
        label_propagation_parts,
        triangle_parts,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    staged = build_copurchase_edges(li, str(tmp_path / "edges"))
    assert {tuple(r) for r in staged.collect()} == {
        tuple(r) for r in copurchase_edges(li).collect()
    }
    for fn in (triangle_parts, label_propagation_parts, kcore_parts):
        inline_rows = {tuple(r) for r in fn(spark, SF_SMALL).collect()}
        staged_rows = {
            tuple(r) for r in fn(spark, SF_SMALL, edges=staged).collect()
        }
        assert inline_rows == staged_rows, fn.__name__
        assert len(inline_rows) > 0, fn.__name__
