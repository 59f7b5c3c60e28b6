"""Physical-plan regression tests — the scale contract, pinned.

Correctness tests prove the operators right at small SF; these prove the
PLANS are the ones that survive 100 TB: filters pushed to the parquet
scan, column pruning in ReadSchema, dims broadcast instead of shuffled,
partial (map-side) aggregation, top-k as TakeOrderedAndProject rather
than a global sort, semi-joins staying semi, and no Python row UDFs in
JVM-expressible pipelines. If one of these fails after a refactor, the
query still returns the right rows — and would fall over at scale.
"""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout
from pathlib import Path

import pytest

from tests.conftest import SF_SMALL


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# Session-level memo of built query DataFrames: builders with
# construction-time actions (iterative loops, eager checkpoints, pivot
# probes) cost seconds each, and the plan tests only READ plans —
# DataFrames are immutable, so every test in this module can share one
# build per query instead of re-running those actions per test.
_BUILT: dict[str, object] = {}


def _q(spark, name):
    import __spark_entry__ as e

    if name not in _BUILT:
        _BUILT[name] = e.queries()[name](spark, SF_SMALL)
    return _BUILT[name]


def test_q6_filters_reach_parquet_scan(spark):
    plan = _plan(_q(spark, "q6_forecast_revenue"))
    assert "PushedFilters: [" in plan
    # all three predicate columns pushed, not just evaluated post-scan
    # (the PushedFilters list is string-truncated past ~100 chars, so
    # assert the IsNotNull entries, which print first and in full —
    # the old `or f"{col})" in plan` fallback matched anywhere in the
    # plan and was vacuous)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan, (col, plan)


def test_q6_column_pruning(spark):
    plan = _plan(_q(spark, "q6_forecast_revenue"))
    # ReadSchema must carry only the 4 needed columns — a scan that reads
    # l_orderkey/l_partkey/... for this query is reading 2x the bytes
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in schema_line
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in schema_line


def test_q3_broadcasts_customer(spark):
    plan = _plan(_q(spark, "q3_top_orders"))
    assert "BroadcastHashJoin" in plan
    # the fact-fact join shuffles; the dim join must not
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


_BENCH_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@pytest.mark.skipif(
    not Path(_BENCH_SF_DIR).exists(), reason="bench-scale fixture absent"
)
def test_q3_broadcasts_customer_at_sf01(spark):
    """Pin the intended sf0.1 strategy: with NO hint, Catalyst's size
    stats must still broadcast the segment-filtered customer dim (and
    orders) at sf0.1 — the r4 bench drift on q3 was sweep contention,
    not a plan change (clean re-time: 1.03 s vs the 0.79 s r1 number,
    with this exact double-broadcast plan). Planning-only, no
    execution. Note: asserts Catalyst's size-stat-driven choice on the
    driver-generated fixture; regenerated data with much larger
    customer/orders files could legitimately flip the no-hint plan."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["q3_top_orders"](spark, _BENCH_SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_q5_star_join_broadcasts_all_dims(spark):
    plan = _plan(_q(spark, "q5_region_revenue"))
    # 5 joins total; at least the 4 dim joins must be broadcast
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_q1_partial_aggregation(spark):
    plan = _plan(_q(spark, "q1_pricing_summary"))
    # map-side combine: a partial HashAggregate before the exchange and a
    # final one after (the reference shuffles every raw pair — SURVEY §4.2)
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2, plan


def test_q4_stays_semi_join(spark):
    plan = _plan(_q(spark, "q4_late_orders"))
    assert "LeftSemi" in plan, plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(_q(spark, "topk_parts"))
    assert "TakeOrderedAndProject" in plan, plan


def test_wordcount_no_python_udf(spark):
    # tokenization must stay JVM-side (split/explode), never BatchEvalPython
    plan = _plan(_q(spark, "wc_documents"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_relational_queries_whole_stage_codegen(spark):
    # AQE reveals the final (codegen-annotated) plan only after execution;
    # simple mode then marks codegen'd operators with '*(stage)'
    df = _q(spark, "q1_pricing_summary")
    df.collect()  # this plan's own action — count() would plan separately
    plan = _plan(df, "simple")
    assert "*(" in plan, plan


def test_bruteforce_broadcasts_query_side(spark):
    plan = _plan(_q(spark, "similarity_bruteforce"))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_dedup_exact_shuffles_hashes_not_text(spark):
    plan = _plan(_q(spark, "dedup_exact"), "formatted")
    # the exchange key is the 60-bit content hash; the raw text column
    # must not survive past the scan projection into the exchange
    exch = [ln for ln in plan.splitlines() if "Exchange" in ln or "hashpartitioning" in ln]
    assert exch, plan
    assert not any("text" in ln for ln in exch), exch


def test_dedup_components_no_quadratic_join(spark):
    """dedup_components must be fed LSH-blocked pairs: the pair generator
    is equi-joins on (band_id, band_hash), never a cartesian / BNLJ scan
    of the full corpus (the O(n²) killer at 100 TB)."""
    from map_reduce_lite_spark.ops.dedup import embedding_near_dup_pairs
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    pairs = embedding_near_dup_pairs(emb, method="lsh")
    plan = _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_jaccard_caps_posting_lists(spark):
    plan = _plan(_q(spark, "dedup_ngram_jaccard"))
    # the DF-cap aggregation must appear between the shingle index and
    # the self-join: a count-per-shingle HashAggregate feeding a filter
    assert "count(1)" in plan or "count(" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_grouping_sets_single_expand(spark):
    plan = _plan(_q(spark, "grouping_sets_priority"))
    assert plan.count("Expand") >= 1
    # one scan, not one per grouping set (formatted mode prints each
    # operator twice: once in the tree, once in the details section)
    assert plan.count("Scan parquet") <= 2, plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set (the holdout) must broadcast — the
    training-corpus shingle stream never shuffles for the overlap join."""
    plan = _plan(_q(spark, "curation_contamination"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pii_redact_is_scan_project_agg(spark):
    """Redaction is a pure projection + one map-side-combined agg: no
    joins, no Python, nothing that wouldn't stream at 100 TB."""
    plan = _plan(_q(spark, "curation_pii_redact"))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine before the shuffle


def test_hash_split_family_no_joins_no_python(spark):
    for name in ("curation_train_split", "curation_mixture_plan",
                 "curation_sequence_packing"):
        plan = _plan(_q(spark, name))
        assert "Join" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)


def test_multires_rollup_single_scan_single_expand(spark):
    """The hour/day/month cascade must be ONE scan + ONE Expand, not
    three rollup jobs (the continuous-aggregate promise)."""
    plan = _plan(_q(spark, "events_rollup_multires"))
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") <= 2, plan  # tree + details sections
    assert "partial_" in plan, plan


def test_leakage_split_pairs_materialized_once(spark):
    """The LSH pair set feeds both the components iteration and the
    crossing audit; the eager localCheckpoint must make the final plan
    read the MATERIALIZED pairs (ExistingRDD scans) instead of
    re-deriving the band join + cosine verify per consumer."""
    plan = _plan(_q(spark, "curation_leakage_safe_split"))
    assert "ExistingRDD" in plan, plan
    # the LSH machinery (hyperplane projections via posexplode of the
    # band structs) must NOT appear downstream of the checkpoint
    assert "posexplode" not in plan.lower(), plan


def test_sampling_family_no_joins_no_python(spark):
    """Deterministic sampling is scan → hash filter → small agg: no
    joins, no Python, nothing stateful."""
    for name in ("sample_bernoulli_docs", "sample_stratified_sources"):
        plan = _plan(_q(spark, name))
        assert "Join" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)


def test_heavy_hitters_take_ordered(spark):
    plan = _plan(_q(spark, "heavy_hitters_tokens"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_" in plan, plan  # map-side combine of local vocab


def test_no_cartesian_product_anywhere(spark):
    """Global lint: NO query in the entire surface may compile to a
    CartesianProduct, and unbounded BroadcastNestedLoopJoin is allowed
    only in the explicitly-quadratic exactness baselines (which
    broadcast a provably small side). Streaming queries are skipped —
    their builders execute a drain, and their batch twins are linted."""
    import __spark_entry__ as e

    allowed_bnlj = {
        # exact O(n²) recall oracles — broadcast small side by design
        "dedup_embedding_cosine",
        "similarity_bruteforce",
        # hard-negative mining: same broadcast-query-side scan shape as
        # the brute-force pass (production mines from an ANN pool)
        "similarity_hard_negatives",
        # filtered hybrid search: brute-force pass over the quality-
        # pre-filtered corpus (broadcast query side by design)
        "similarity_filtered_topk",
        # range join is non-equi by semantics; small side broadcast
        "range_join_qty_bands",
        "subquery_small_qty_revenue",
        "q11_important_parts",  # global-scalar HAVING compare
        "q15_top_supplier",     # max-equality scalar compare
        "q22_idle_rich_customers",  # 1-row global-average scalar compare
        # coarse stage of the rerank funnel: broadcast QUERY side scores
        # all candidates on projected dims by design (composes with
        # IVF/LSH blocking at scale); the exact stage is equi-joined
        "similarity_ann_rerank",
        # same shape for the PQ funnel's ADC stage: broadcast 8-row
        # query side over the 9-int code rows (1/32 of the embedding
        # bytes); the exact rerank stage is equi-joined
        "similarity_ann_pq",
        # broadcast 8-row query side scanning the corpus once, the
        # brute_force_topk shape; the recall math after is id-only
        "embedding_prefix_recall",
        "text_tfidf_top_terms",  # broadcast 1-row corpus-size N
        "text_unigram_logprob",  # broadcast 1-row corpus-size N
        "curation_dsir_weights",  # broadcast 1-row (n_t, n_r) feature totals
        "vocab_bpe_apply",  # broadcast 1-row pivoted merge list
        "text_bigram_logprob",   # broadcast 1-row (n_train, v_train)
        "text_bm25_search",      # broadcast 1-row (n_docs, avgdl)
        "text_collocation_lift",  # broadcast 1-row corpus-size N
        "curation_token_budget",  # broadcast 1-row token budget
        "curation_mixture_temperature",  # broadcast 1-row share totals
        "assoc_rules_brands",  # broadcast 1-row basket total
        # broadcast 1-row scalars: corpus max date + per-dim customer
        # totals feeding the histogram bucket tables
        "rfm_segment_customers",
        # k-means assignment: corpus × K-row broadcast centroid table
        "cluster_embeddings_kmeans",
        "semdedup_embeddings",
        "pipeline_semdedup_prune",
        # broadcast bounded-by-construction sides: the (K+1)-row vocab
        # grid and the 1-row corpus token total
        "text_js_divergence",
        # power iteration: 1-row v vector broadcast into the corpus scan
        "embedding_top_pc",
        # broadcast 1-row corpus-centroid array joined to the per-label
        # means (labels × 64 state, never corpus-sized)
        "embedding_label_drift",
        # broadcast 1-row corpus token total under the K-row curve
        "text_vocab_coverage",
        # broadcast CONSTANT-K codebook (TakeOrdered 32 rows by salted
        # hash — fixed size at any corpus scale, unlike stride centroids)
        "embedding_ood_score",
    }
    failures = []
    for name in e.queries():
        if name.startswith("streaming_"):
            continue
        plan = _plan(_q(spark, name), "extended")
        if "CartesianProduct" in plan:
            failures.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            failures.append((name, "BroadcastNestedLoopJoin"))
    assert not failures, failures


@pytest.mark.parametrize("name", ["similarity_ann_ivf", "similarity_ann_ivf_scaled"])
def test_ivf_is_one_arrow_pass(spark, name):
    """IVF assignment, probe and exact rerank are one MapInArrow over the
    corpus (the fused ``ivf_scores`` kernel; the probes are ranked on the
    driver): no query × centroid nested-loop join, and no corpus-vector
    shuffle — the one Exchange is the top-k window's, on ``query_id``.
    Counted in the executed (final adaptive) plan."""
    df = _q(spark, name)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, plan
    assert final.count("MapInArrow") == 1, final
    assert "BroadcastNestedLoopJoin" not in final, final
    exchanges = [ln for ln in final.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1 and "hashpartitioning(query_id" in exchanges[0], final


def test_jsd_vocab_topk_no_full_broadcast(spark):
    """text_js_divergence: the term→bucket map must be the K-row
    TakeOrderedAndProject head, NOT the full distinct-token table — the
    old form ran an unpartitioned row_number window over the whole
    vocabulary and broadcast it (executor OOM at crawl-scale
    vocabularies). No Window node may appear anywhere in the plan.

    r12: the tokenize→topk→bucket-map→per-(source,bucket)-count
    pipeline sits behind a localCheckpoint barrier in the final query
    (one corpus pass instead of five), so the guard is asserted on the
    factored pre-barrier builder; the final plan is additionally pinned
    to consume ONLY the checkpointed RDD (no second corpus scan) and to
    stay window- and Python-free."""
    from map_reduce_lite_spark.ops.text import _jsd_source_token_counts

    pre = _plan(_jsd_source_token_counts(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in pre, pre
    assert "Window" not in pre, pre
    assert "BatchEvalPython" not in pre, pre

    plan = _plan(_q(spark, "text_js_divergence"))
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_span_queries_tokenize_once(spark):
    """The token array must appear as ONE split() in the optimized plan.
    If the tokenizer expression gets inlined into the span-construction
    lambdas (no CSE inside higher-order functions), every span position
    re-splits the document — O(n_tokens²)/doc, measured 7–28× slower at
    sf0.1. Guards the _tokens_col materialization in ops/spans.py."""
    for name in ("dedup_substring_spans", "vocab_bpe_merges"):
        df = _q(spark, name)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, (name, plan.count("split("))


def test_cms_partial_agg_and_topk(spark):
    """The CMS cell build must partial-aggregate map-side (that is the
    whole bounded-state argument) and the top-k side must be
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(_q(spark, "sketch_cms_token_freq"))
    assert "partial_" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_unigram_logprob_jvm_only_partial_agg(spark):
    plan = _plan(_q(spark, "text_unigram_logprob"))
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_anomaly_moments_broadcast_no_window(spark):
    """events_anomaly_zscore: the per-type moments are a broadcast join
    back, the flagging pass is a scan — no window, no sort, no Python."""
    plan = _plan(_q(spark, "events_anomaly_zscore"))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "PythonUDF" not in plan


def test_gapfill_post_agg_only(spark):
    """events_gapfill_hourly: raw events feed exactly ONE aggregation;
    the calendar/fill/LOCF stages run on the bucketed table (the two
    further aggregates are over the agg output, not the scan)."""
    plan = _plan(_q(spark, "events_gapfill_hourly"), "extended")
    # physical plan scans the events parquet exactly twice: once for the
    # bucket agg, once reused for the span agg (both post-shuffle tiny)
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("Scan parquet") <= 2, phys
    assert "CartesianProduct" not in phys


def test_inverted_index_bounded_no_global_sort(spark):
    """text_inverted_index: the posting cap is applied pre-aggregation
    (rank filter), and there is no global Sort outside the per-token
    window sort."""
    plan = _plan(_q(spark, "text_inverted_index"))
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "PythonUDF" not in plan


def test_fuzzy_link_equi_blocked(spark):
    """fuzzy_link_customer_supplier: candidates come from an EQUI join
    on the blocking key (hash or broadcast) — never a cartesian with a
    distance post-filter."""
    plan = _plan(_q(spark, "fuzzy_link_customer_supplier"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """At cluster scale (application side over the 10 GB default scan
    threshold) Catalyst injects a runtime bloom filter from the
    selective build side into the probe side's scan — rows that cannot
    join die before the exchange. Pin that the engine session supports
    the injection by lowering the size thresholds to test scale."""
    from pyspark.sql import functions as F
    from map_reduce_lite_spark.relational.tables import load_table

    restore = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        li = load_table(spark, SF_SMALL, "lineitem")
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:2000]
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)


def test_token_budget_no_global_window(spark):
    """The corpus-side running sum must be a window PARTITIONED by
    score (many tasks), with the histogram cumulative broadcast back —
    never an unpartitioned global-sort window over the documents."""
    plan = _plan(_q(spark, "curation_token_budget"))
    # both windows present: the tiny histogram cumulative (score DESC,
    # no partition spec — fine, it runs over <=1e6 aggregated rows) and
    # the per-bucket running sum partitioned by score_e6
    assert "windowspecdefinition(score_e6" in plan, plan
    assert "BroadcastHashJoin" in plan  # pre_tokens joined back broadcast
    # the 1-row budget rides a broadcast nested-loop cross, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan


def test_topk_per_stratum_group_limit_pushdown(spark):
    """Both rank<=k windows must get Spark's WindowGroupLimit pushdown
    (partial limit before the exchange), so only ~k rows per map
    partition ever cross the wire."""
    plan = _plan(_q(spark, "sample_topk_per_stratum"))
    assert plan.count("WindowGroupLimit") >= 4, plan  # partial+final × 2 stages
    assert "Generate" not in plan and "CartesianProduct" not in plan


def test_bm25_scale_contract(spark):
    """BM25 serving at corpus scale: the fixed query-term set pivots
    into per-doc tf columns, so the only join left is the 1-row
    corpus-stats broadcast (n_docs, avgdl, per-term dfs) attached via
    BroadcastNestedLoopJoin — no (doc, term) posting shuffle and no
    per-(query, doc) scoring aggregation survive. The top-K rank
    window must get WindowGroupLimit (tasks ship K candidates per
    query, not the corpus), and scoring stays JVM-side."""
    plan = _plan(_q(spark, "text_bm25_search"))
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row stats attach
    # exactly one corpus-wide exchange: doc repartition; the window
    # exchange sees only tasks×K rows and the stats agg a 1-row side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_user_shuffle(spark):
    """SCD2 history build: ONE exchange on user_id serves the change
    lag, run-numbering sum, run aggregation, and effective_to lead —
    the extra passes are per-partition sorts, never re-shuffles. No
    Python UDFs anywhere in the pipeline."""
    plan = _plan(_q(spark, "scd2_user_state"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_window_not_range_join(spark):
    """Last-touch attribution: the as-of lookup is a window pass on the
    user partitioning (last non-null touch carried forward), NOT a
    range join — exactly one corpus-sized exchange; the only other
    exchange feeds the <=|types|+1-key final agg, which must be
    map-side combined (partial agg present)."""
    plan = _plan(_q(spark, "attribution_last_touch"), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
