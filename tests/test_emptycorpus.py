"""Empty-corpus sweep (r10): every table with ZERO rows — the slice a
100 TB crawl guarantees (a brand-new source, a fully-filtered shard, a
day with no events). Found by running the FULL 177-query driver-sim
against schema-faithful empty parquet: 172/177 matched outright; the
five divergences split into

- two real defects, both fixed this round and pinned here:
  streaming_purchase_view_left crashed (None - timedelta on the empty
  cutoff probe) and embedding_top_pc's oracle emitted 64 NULL rows
  against Spark's zero (the 1-row global-agg CTE fans out through the
  unpivot; EXISTS-guarded now);
- one ENGINE-SEMANTICS class, documented and pinned as a divergence:
  Spark's Expand operator emits ZERO rows for rollup / cube / GROUPING
  SETS over an empty relation, while DuckDB (per the SQL standard)
  emits the grand-total () grouping row. Making Spark standard-
  compliant here would cost a second full scan per query (union an
  explicitly-computed global row) — wrong trade at 100 TB for an
  empty-TABLE edge, so the divergence is pinned instead: if Spark ever
  changes this behavior, test_rollup_family_empty_table_divergence
  fails and the note gets retired.

A representative per-family subset re-runs cross-engine here so the
regression stays covered inside pytest (the full 177-query empty sweep
is a driver-sim protocol, ~7 min).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_oracle_parity import _multiset


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    import os

    d = tmp_path_factory.mktemp("emptyall")
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        schema = pq.read_schema(os.path.join(src, f))
        empty = pa.table(
            {n: pa.array([], schema.field(n).type) for n in schema.names}
        )
        pq.write_table(empty, str(d / f))
    return str(d)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    import os

    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(empty_dir)):
        if f.endswith(".parquet"):
            t = f[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{empty_dir}/{f}')"
            )
    return con


# One per family + the two queries fixed by this sweep + the heaviest
# degenerate-input machinery (iterative components, streaming join).
_EMPTY_SUBSET = [
    "q1_pricing_summary",          # relational agg
    "join_nation_region",          # join
    "wc_documents",                # parity workload
    "dedup_components",            # iterative graph over zero pairs
    "dedup_cluster_sizes",         # components consumer
    "similarity_knn_graph",        # banded ANN over zero vectors
    "similarity_ann_ivf",          # fused IVF kernel, zero centroids
    "similarity_ann_ivf_scaled",   # stride floor(sqrt(0)) never evaluated
    "text_vocab_coverage",         # the r10 NULL fan-out fix
    "text_fertility_by_lang",      # NULLIF strata
    # router over zero clusters — slow: DuckDB PLANNING of the recursive
    # refine-chain oracle alone runs ~1 min even on zero rows
    pytest.param("curation_leakage_safe_split", marks=pytest.mark.slow),
    "multimodal_ppm_decode",       # mapInPandas over zero batches
    "multimodal_ppm_resize",       # r11 NN resample over zero batches
    # the EXISTS-guard fix — slow: recursive power-iteration oracle
    pytest.param("embedding_top_pc", marks=pytest.mark.slow),
    "events_hourly",               # time windows over zero events
    "streaming_events_hourly",     # streaming drain of an empty source
    "streaming_purchase_view_left",  # the None-cutoff crash fix
    "sample_stratified_sources",   # sampling plan over zero strata
    "pagerank_supplier_part",      # iterative over zero edges
]


@pytest.mark.parametrize("name", _EMPTY_SUBSET)
def test_empty_corpus_matches_oracle(spark, empty_duck, empty_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, empty_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = empty_duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


def test_embedding_lsh_empty_corpus(spark, empty_dir):
    """On an empty corpus the LSH pair stage (both methods) and the
    star-only coverage metric return empty frames with their columns:
    the band table is empty, so the sizing probe finds no bucket."""
    from map_reduce_lite_spark.ops.dedup import (
        embedding_near_dup_pairs,
        lsh_band_table,
        refine_star_only_ids,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, empty_dir, "embeddings")
    for method in ("lsh", "lsh_refine"):
        pairs = embedding_near_dup_pairs(emb, method=method)
        assert pairs.columns == ["keep_id", "dup_id", "sim_e9"]
        assert pairs.count() == 0, method
    ids = refine_star_only_ids(emb, lsh_band_table(emb))
    assert ids.columns == ["vec_id"]
    assert ids.count() == 0


def test_rollup_family_empty_table_divergence(spark, empty_duck, empty_dir):
    """The PINNED engine-semantics divergence (see module doc): Spark
    emits zero rows for the rollup family over an empty relation,
    DuckDB emits the standard grand-total row. If either side changes,
    this fails and the documented note must be revisited."""
    import __spark_entry__ as e

    for name in ("rollup_returnflag", "cube_flag_status", "grouping_sets_priority"):
        assert e.queries()[name](spark, empty_dir).count() == 0, name
        duck_rows = empty_duck.execute(e.oracle_sql()[name]).fetchall()
        assert len(duck_rows) >= 1, name  # the () grouping-set row


def test_spark_rollup_empty_semantics_probe(spark):
    """Root cause pin: it's Spark's Expand operator, not our query
    shape — a bare rollup over an empty frame yields zero rows while
    the global aggregate yields one."""
    df = spark.createDataFrame([], "a string, x long")
    assert df.rollup("a").agg(F.count(F.lit(1))).count() == 0
    assert df.agg(F.count(F.lit(1))).count() == 1


# --------------------------------------------------------------------------
# single-row corpus (the n=1 degenerate: zero variances, short codebooks)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def one_row_dir(tmp_path_factory):
    """Head-1 slice of every table — one doc, one vector, one lineitem:
    the n=1 edge where variances are exactly zero and trained structures
    (PQ codebooks, centroid seeds) are shorter than their K literals."""
    import os

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("onerow")
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            pq.write_table(
                pq.read_table(os.path.join(src, f)).slice(0, 1), str(d / f)
            )
    return str(d)


@pytest.fixture(scope="module")
def one_row_duck(one_row_dir):
    import os

    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(one_row_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{one_row_dir}/{f}')"
            )
    return con


# the two r10 single-row-sweep crashes, plus the zero-variance/short-
# codebook neighborhoods most likely to regress
_ONE_ROW_SUBSET = [
    "stats_corr_qty_price",   # was: NaN -> ANSI long-cast ArithmeticException
    "similarity_ann_pq",      # was: cb[j] INVALID_ARRAY_INDEX (1-entry codebook)
    "similarity_ann_ivf",     # centroid seeds shorter than K
    "similarity_ann_ivf_scaled",  # stride floor(sqrt(1)) = 1: one centroid
    "cluster_embeddings_kmeans",
    "text_zipf_slope",        # one rank -> no slope
    "q1_pricing_summary",
]


@pytest.mark.parametrize("name", _ONE_ROW_SUBSET)
def test_one_row_corpus_matches_oracle(spark, one_row_duck, one_row_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, one_row_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = one_row_duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


def test_corr_single_row_group_is_null(spark, one_row_dir):
    """corr over a 1-row group: denominator exactly 0 -> NULL (not NaN,
    not an ANSI cast crash), n_items and covar still emitted."""
    import __spark_entry__ as e

    rows = e.queries()["stats_corr_qty_price"](spark, one_row_dir).collect()
    assert len(rows) == 1 and rows[0]["n_items"] == 1
    assert rows[0]["corr_e12"] is None
    assert rows[0]["covar_pop"] == 0.0


# --------------------------------------------------------------------------
# tie corpus (100 copies of one row, unique ids): full-collision dedup +
# timestamp-tie determinism — the sweep that PASSED 177/177 with no fixes
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ties_dir(tmp_path_factory):
    """100 verbatim copies of each table's first row with only the id
    column bumped: every document/vector is a full-collision duplicate
    and every event shares one timestamp — the tie regime a real crawl
    guarantees. The r10 full-surface sweep on this corpus read 177/177
    with NO fixes needed (id tiebreaks hold everywhere); this subset
    keeps that determinism guarded in pytest."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    idcols = {
        "customer.parquet": "c_custkey", "documents.parquet": "doc_id",
        "embeddings.parquet": "vec_id", "events.parquet": "event_id",
        "lineitem.parquet": "l_orderkey", "nation.parquet": "n_nationkey",
        "orders.parquet": "o_orderkey", "part.parquet": "p_partkey",
        "region.parquet": "r_regionkey", "supplier.parquet": "s_suppkey",
    }
    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("ties")
    for f, idc in idcols.items():
        base = pq.read_table(os.path.join(src, f)).slice(0, 1).to_pylist()[0]
        rows = [dict(base, **{idc: base[idc] + i}) for i in range(100)]
        schema = pq.read_schema(os.path.join(src, f))
        pq.write_table(
            pa.table(
                {n: pa.array([r[n] for r in rows], schema.field(n).type)
                 for n in schema.names}
            ),
            str(d / f),
        )
    return str(d)


@pytest.fixture(scope="module")
def ties_duck(ties_dir):
    import os

    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(ties_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{ties_dir}/{f}')"
            )
    return con


# the tiebreak-sensitive shapes: rank windows over identical order keys,
# full-collision dedup groups, sessionization over one shared timestamp
_TIES_SUBSET = [
    "dedup_exact",            # 100-way content-hash collision, min-id keep
    "dedup_minhash_lsh",      # every band bucket fully collides
    "window_top3_orders",     # rank over 100 identical totalprice values
    "sessionize_events",      # 100 events, one user, one timestamp
    "events_user_paths",      # transition paths under total ts ties
    "heavy_hitters_tokens",   # one token with count 100x
    "similarity_ann_ivf",     # 100 identical vectors: every cosine ties
    "similarity_ann_ivf_scaled",  # the same ties over C = 10 centroids
]


@pytest.mark.parametrize("name", _TIES_SUBSET)
def test_ties_corpus_matches_oracle(spark, ties_duck, ties_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, ties_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = ties_duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


# --------------------------------------------------------------------------
# Unicode corpus (CJK / RTL / Turkish-Greek casing / astral / NBSP):
# the multilingual regime a 100 TB crawl guarantees
# --------------------------------------------------------------------------

_UNI_DOCS = [
    (1, "汉字处理 中文 文本 没有 空格 分词 困难 汉字 中文", "zh", "cjk"),
    (2, "مرحبا بالعالم هذا نص عربي للاختبار مرحبا", "ar", "rtl"),
    (5, "İstanbul DİYARBAKIR ılgın Iğdır İİİ ııı", "tr", "case"),
    (6, "Στο ΤΈΛΟΣ σίγμα ΣΙΓΜΑΣ τελικό ς", "el", "case"),
    (8, "emoji 😀 test 👨‍👩‍👧‍👦 family 🇺🇸 flag 𝕊𝕡𝕒𝕣𝕜 math", "en", "astral"),
    (10, "\xa0non\xa0breaking\xa0spaces em space​zero​width", "en", "space"),
    (11, "ｆｕｌｌｗｉｄｔｈ　ｔｅｘｔ　ｔｅｓｔ", "ja", "width"),
]


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("unicorpus")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in _UNI_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in _UNI_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in _UNI_DOCS], pa.string()),
            "source": pa.array([r[3] for r in _UNI_DOCS], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in _UNI_DOCS], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def unicode_duck(unicode_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{unicode_dir}/documents.parquet')"
    )
    return con


# the five r10 Unicode-sweep defect classes, each represented:
# - wc/heavy_hitters: the mrl_lower İ/Σ casing alignment (Java full map
#   split 'DİYARBAKIR' into four tokens via the combining dot)
# - fingerprint/tfidf: the explicit trim(x, ' ') oracle set (DuckDB's
#   default trim strips NBSP; Spark strips ASCII space only)
# - decode/resize stubs: codepoint-based fake kernels (oracle domain
#   extended from ASCII to any text)
# - mixture_plan: try_cast on the non-numeric source suffix
_UNI_SUBSET = [
    "wc_documents",
    "heavy_hitters_tokens",
    "text_doc_fingerprint",
    "text_tfidf_top_terms",
    "multimodal_decode_stub",
    "multimodal_resize_stub",
    "multimodal_phash_dedup",
    "curation_mixture_plan",
    "text_char_entropy",
    "dedup_span_removal",
]


@pytest.mark.parametrize("name", _UNI_SUBSET)
def test_unicode_corpus_matches_oracle(spark, unicode_duck, unicode_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, unicode_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = unicode_duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


def test_mrl_lower_matches_utf8proc_simple_casing(spark, unicode_duck):
    """The two known full-vs-simple casemap divergences, pinned at the
    helper level: İ and contextual final sigma."""
    from map_reduce_lite_spark.registry import mrl_lower

    df = spark.createDataFrame(
        [("İstanbul",), ("ΣΙΓΜΑΣ",), ("DİYARBAKIR",)], "text string"
    )
    got = [r[0] for r in df.select(mrl_lower("text")).collect()]
    want = [
        unicode_duck.execute("SELECT lower(?)", [t]).fetchone()[0]
        for t in ("İstanbul", "ΣΙΓΜΑΣ", "DİYARBAKIR")
    ]
    assert got == want == ["istanbul", "σιγμασ", "diyarbakir"]
