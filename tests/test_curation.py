"""Behavioral invariants for ops/curation.py (value parity vs DuckDB is
covered query-by-query in tests/test_oracle_parity.py, which
auto-discovers the CURATION_QUERIES registry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_lite_spark.ops.curation import (
    CTX_TOKENS,
    MIX_RATE_HI,
    MIX_RATE_LO,
    TRAIN_PCT,
    VAL_PCT,
    contamination_check,
    mixture_plan,
    pii_redact,
    repetition_filter,
    sequence_packing,
    train_split,
)
from tests.conftest import SF_SMALL


def test_pii_redact_masks_everything(spark):
    """Every doc gains exactly one email and one phone from the fixture
    footer, and both get masked (the corpus itself has no PII)."""
    rows = pii_redact(spark, SF_SMALL).collect()
    assert sum(r.emails_masked for r in rows) == sum(r.n_docs for r in rows)
    assert sum(r.phones_masked for r in rows) == sum(r.n_docs for r in rows)
    # checksum is engine-portable and therefore never NULL
    assert all(r.redacted_checksum is not None for r in rows)


def test_contamination_nonvacuous_and_bounded(spark):
    rows = contamination_check(spark, SF_SMALL).collect()
    total_contaminated = sum(r.n_contaminated for r in rows)
    assert total_contaminated > 0, "holdout must collide with some train docs"
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_train


def test_repetition_flags_subset(spark):
    rows = repetition_filter(spark, SF_SMALL).collect()
    assert sum(r.n_flagged for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_flagged <= r.n_docs
        # max share is at most 1.0 → summed e6 shares bounded by n_docs * 1e6
        assert r.share_e6_sum <= r.n_docs * 1_000_000


def test_train_split_partitions_corpus(spark):
    from map_reduce_lite_spark.relational.tables import load_table

    rows = {r.split: r for r in train_split(spark, SF_SMALL).collect()}
    assert set(rows) == {"train", "val", "test"}
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == n_docs
    # 80/10/10 routing should roughly hold (hash uniformity, wide tolerance)
    assert rows["train"].n_docs > rows["val"].n_docs
    assert rows["train"].n_docs > rows["test"].n_docs


def test_train_split_is_stable_under_repartition(spark):
    """The split must not depend on partitioning — the reason it is
    hash-routed rather than rand(seed)-routed."""
    from map_reduce_lite_spark.registry import md5_60bit
    from map_reduce_lite_spark.relational.tables import load_table

    d = load_table(spark, SF_SMALL, "documents")
    bucket = (md5_60bit(F.col("doc_id").cast("string")) % 100).alias("b")
    one = d.select("doc_id", bucket)
    two = d.repartition(17).select("doc_id", bucket)
    assert one.subtract(two).count() == 0 and two.subtract(one).count() == 0


def test_mixture_rates_and_bounds(spark):
    rows = mixture_plan(spark, SF_SMALL).collect()
    for r in rows:
        src_num = int(r.source[3:])
        want = MIX_RATE_HI if src_num % 2 == 0 else MIX_RATE_LO
        assert r.rate_pct == want
        assert 0 <= r.n_sampled <= r.n_total
    # the two rate tiers must actually sample differently overall
    hi = sum(r.n_sampled for r in rows if r.rate_pct == MIX_RATE_HI)
    lo = sum(r.n_sampled for r in rows if r.rate_pct == MIX_RATE_LO)
    assert hi > lo


def test_sequence_packing_math(spark):
    rows = sequence_packing(spark, SF_SMALL).collect()
    assert sum(r.n_boundary_docs for r in rows) > 0
    for r in rows:
        # concat-and-chunk: sequence count is exactly ceil(tokens / CTX)
        assert r.n_sequences == (r.total_tokens + CTX_TOKENS - 1) // CTX_TOKENS
        # a doc can cross a boundary at most once per CTX window; the
        # boundary count can never exceed doc count or sequence count - 1
        assert r.n_boundary_docs <= r.n_docs
        assert r.n_sequences >= 1


def test_split_percentages_sane():
    assert TRAIN_PCT + VAL_PCT < 100  # test split must be nonempty by design


def test_contamination_detects_planted_benchmark_copy(spark):
    """Plant an exact copy of a benchmark doc in the training set: the
    copy must be flagged as contaminated (recall-style guarantee the
    per-source rates alone can't give)."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.curation import HOLDOUT_MOD
    from map_reduce_lite_spark.ops.dedup import shingles
    from map_reduce_lite_spark.relational.tables import load_table

    d = load_table(spark, SF_SMALL, "documents")
    bench_doc = d.filter(F.col("doc_id") % HOLDOUT_MOD == 0).limit(1).collect()[0]
    planted_id = 10_000_001  # not divisible by HOLDOUT_MOD -> lands in train
    assert planted_id % HOLDOUT_MOD != 0
    corpus = d.select("doc_id", "text", "source").unionByName(
        spark.createDataFrame(
            [(planted_id, bench_doc.text, "src_planted")],
            "doc_id long, text string, source string",
        )
    )
    sh = shingles(corpus)
    bench = (
        sh.join(
            corpus.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select(
                F.col("doc_id").alias("doc")
            ),
            "doc",
        )
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.join(corpus.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
                .select(F.col("doc_id").alias("doc")), "doc")
        .join(F.broadcast(bench), "shingle")
        .select("doc")
        .distinct()
    )
    flagged = {r.doc for r in hits.collect()}
    assert planted_id in flagged


def test_pretrain_export_roundtrip(spark, tmp_path):
    """The pipeline's sink end: split the corpus, write train/val/test as
    partitioned parquet, read back with a partition filter and verify
    (a) counts survive the round trip and (b) the read prunes to the
    requested split's files."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.registry import md5_60bit
    from map_reduce_lite_spark.relational.tables import load_table
    from map_reduce_lite_spark.sources.io import read_source, write_sink

    d = load_table(spark, SF_SMALL, "documents")
    bucket = md5_60bit(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    routed = d.select("doc_id", "text", "source", split.alias("split"))
    want = {r.split: r.n for r in routed.groupBy("split").agg(F.count("*").alias("n")).collect()}

    out = str(tmp_path / "export")
    write_sink(routed, out, fmt="parquet", partition_by=["split"])

    back = read_source(spark, out, fmt="parquet")
    got = {r.split: r.n for r in back.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert got == want

    # partition pruning: a split= filter must reach the scan as a
    # partition filter, not a data filter over all files
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.filter(F.col("split") == "val").explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "split" in plan, plan


def test_leakage_safe_split_zero_cross_doc_level_leaks(spark):
    """Cluster routing must never put a near-dup pair across splits;
    doc-level routing on the same corpus DOES (the audit is
    non-vacuous, the operator is load-bearing)."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops.curation import TRAIN_PCT, VAL_PCT, leakage_safe_split
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.registry import md5_60bit
    from map_reduce_lite_spark.relational.tables import load_table

    rows = leakage_safe_split(spark, SF_SMALL).collect()
    emb = load_table(spark, SF_SMALL, "embeddings")
    assert sum(r.n_vecs for r in rows) == emb.count()
    assert all(r.n_cross_pairs == 0 for r in rows)
    # clustering must be active (fewer clusters than vectors overall)
    assert sum(r.n_clusters for r in rows) < sum(r.n_vecs for r in rows)

    # contrast: naive doc-level routing leaks pairs across splits
    pairs = embedding_near_dup_pairs(emb, method="lsh")
    bucket = md5_60bit(F.col("vec_id").cast("string")) % 100
    naive = emb.select(
        "vec_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    crossed = (
        pairs.join(naive.select(F.col("vec_id").alias("keep_id"), F.col("split").alias("sa")), "keep_id")
        .join(naive.select(F.col("vec_id").alias("dup_id"), F.col("split").alias("sb")), "dup_id")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed > 0, "doc-level split should leak on this corpus"


def test_token_budget_greedy_prefix_semantics(spark):
    """kept set == the greedy best-score prefix whose inclusive token
    cumsum fits the budget; decomposed plan must equal the flat rule."""
    from map_reduce_lite_spark.ops.curation import (
        BUDGET_DEN,
        BUDGET_NUM,
        token_budget_select,
    )

    rows = token_budget_select(spark, SF_SMALL).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = total * BUDGET_NUM // BUDGET_DEN
    ordered = sorted(rows, key=lambda r: (-r["score_e6"], r["doc_id"]))
    cum, expect_kept = 0, set()
    for r in ordered:
        cum += r["n_tokens"]
        if cum <= budget:
            expect_kept.add(r["doc_id"])
    got_kept = {r["doc_id"] for r in rows if r["kept"]}
    assert got_kept == expect_kept
    kept_tokens = sum(r["n_tokens"] for r in rows if r["kept"])
    assert kept_tokens <= budget
    assert 0 < len(got_kept) < len(rows), "budget must actually split the corpus"


def test_mixture_temperature_rebalances_toward_small_sources(spark):
    """Temperature scaling must compress the share distribution: every
    below-average source gains share (or holds), every above-average
    source loses (or holds), shares stay a near-partition of 10000."""
    from map_reduce_lite_spark.ops.curation import mixture_temperature
    from tests.conftest import SF_SMALL

    rows = mixture_temperature(spark, SF_SMALL).collect()
    assert rows
    mean_share = 10000 / len(rows)
    for r in rows:
        if r.raw_share_bps < mean_share - 1:
            assert r.temp_share_bps >= r.raw_share_bps, r
        if r.raw_share_bps > mean_share + 1:
            assert r.temp_share_bps <= r.raw_share_bps, r
    for col in ("raw_share_bps", "temp_share_bps"):
        s = sum(getattr(r, col) for r in rows)
        assert 10000 - len(rows) < s <= 10000, (col, s)


def test_dsir_weights_target_docs_score_higher(spark):
    """The operator's reason to exist: documents FROM the target
    sources must, in aggregate, be judged more target-like than the
    rest (the hashed-ngram models are built from exactly those docs).
    Also pins the exact-partition invariants: one row per document,
    n_feats = tokens + transitions = 2·tokens − 1 for whitespace text,
    and more_target_like ⇔ logweight_e6 > 0."""
    from map_reduce_lite_spark.ops.curation import (
        DSIR_TARGET_SOURCES,
        dsir_weights,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    d = load_table(spark, SF_SMALL, "documents")
    rows = {r.doc_id: r for r in dsir_weights(spark, SF_SMALL).collect()}
    docs = d.select("doc_id", "source", "text").collect()
    assert len(rows) == len(docs)
    t_w, r_w = [], []
    for doc in docs:
        r = rows[doc.doc_id]
        n_tok = len([t for t in doc.text.strip().split() if t])
        assert r.n_feats == 2 * n_tok - 1, (doc.doc_id, r.n_feats, n_tok)
        assert r.more_target_like == (r.logweight_e6 > 0), r
        (t_w if doc.source in DSIR_TARGET_SOURCES else r_w).append(
            r.logweight_e6
        )
    assert t_w and r_w
    assert sum(t_w) / len(t_w) > sum(r_w) / len(r_w), (
        "mean target logweight must exceed mean non-target logweight"
    )


def test_ccnet_buckets_are_balanced_ordered_terciles(spark):
    """Within every language: buckets partition the docs into near
    thirds (value-based assignment may deviate only when equal-NLL
    docs straddle a boundary), and the NLL ranges are ordered
    head < middle < tail with no overlap (equal-NLL docs always share
    a bucket, so ranges can touch only at distinct values)."""
    from collections import defaultdict

    from map_reduce_lite_spark.ops.curation import ccnet_buckets

    rows = ccnet_buckets(spark, SF_SMALL).collect()
    assert rows
    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        assert r.ppl_bucket in ("head", "middle", "tail"), r
        by_lang[r.lang][r.ppl_bucket].append(r.nll_e6)
    for lang, buckets in by_lang.items():
        n = sum(len(v) for v in buckets.values())
        for name, v in buckets.items():
            # near-third: ties can push a whole value-group over a
            # boundary, but the fixture NLLs are near-unique
            assert abs(len(v) - n / 3) <= max(2, n * 0.1), (lang, name, len(v), n)
        if all(buckets.get(b) for b in ("head", "middle", "tail")):
            assert max(buckets["head"]) <= min(buckets["middle"]), lang
            assert max(buckets["middle"]) <= min(buckets["tail"]), lang
