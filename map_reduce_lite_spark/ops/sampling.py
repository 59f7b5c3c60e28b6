"""Deterministic sampling — the reproducibility-critical family a
training-data pipeline runs constantly (down-sample a crawl, carve a
fixed holdout, rebalance sources) and that random `df.sample()` can't
give you: RNG sampling changes membership under retries, repartitions,
and re-runs, which silently changes the training set.

Everything here routes on the portable 60-bit md5 hash of a stable key
(registry.py), so membership is a pure function of the row — the same
doc is in or out on every run, on every cluster, in every engine. That
also makes the family fully value-oracle-able in DuckDB, unlike RNG
sampling which is engine-specific by construction.

The reference has no sampling operators (its workload surface is
wc/grep/degree/matmul — SURVEY.md §2.2); this module is part of the
driver-mandated training-data-pipeline extension surface, same contract
as ops/dedup.py / ops/curation.py.

Scale: every operator is scan → stateless hash filter → (optional) one
aggregation. The filter is a per-row expression with no shuffle and no
state; Catalyst pushes column pruning into the scan, and the only
shuffles are the final small aggregations. Skew-free by construction —
md5 scatters any hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import Query, md5_60bit, sql_md5_60bit, sql_ws_split, token_rows
from map_reduce_lite_spark.relational.tables import load_table

# basis points out of 10_000 — integer rate math keeps both engines exact
BERNOULLI_BPS = 2500          # 25% corpus down-sample
STRATA_BPS = {                # per-source target rates (rebalancing plan;
    "src0": 1000,             # testdata sources are src0..src19 — treat
    "src1": 8000,             # src0 as the abundant crawl, src1/src2 as
    "src2": 9000,             # scarce high-quality strata)
    "src3": 5000,
}
STRATA_DEFAULT_BPS = 3000     # any source not in the plan
SAMPLE_SALT = "mrl_sample_v1"  # version the membership function explicitly


def _bucket(col):
    """Deterministic 0..9999 bucket for a stable key column."""
    return F.pmod(md5_60bit(col), F.lit(10000))


def _sql_bucket(expr: str) -> str:
    # md5_60bit is 60-bit → non-negative; plain % matches pmod
    return f"({sql_md5_60bit(expr)} % 10000)"


def sample_bernoulli_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli(25%) document sample: a doc is kept iff
    hash(salt ‖ doc_id) lands under the rate. Membership never changes
    across runs/retries/partitionings — the property RNG sample() lacks.

    Output is the kept rows' stable columns, so the driver hash pins the
    exact membership set, not just its size."""
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))
    return (
        d.filter(_bucket(key) < BERNOULLI_BPS)
        .select("doc_id", "source", "lang", "n_chars")
    )


SAMPLE_BERNOULLI_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE {_sql_bucket(f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")} < {BERNOULLI_BPS}
"""


def _strata_rate_col():
    rate = F.lit(STRATA_DEFAULT_BPS)
    expr = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(bps))
            for s, bps in sorted(STRATA_BPS.items())
        ],
        rate,
    )
    return expr


def sample_stratified_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each SOURCE gets its own keep
    rate (the mixture-rebalancing move — down-sample the abundant crawl,
    keep nearly all of the scarce high-quality strata). Reported per
    source as (n_total, n_sampled, target_bps) so the oracle pins both
    the stratification math and the exact per-stratum membership counts.

    Scale: one scan, per-row hash filter folded into a conditional
    aggregate — no shuffle beyond the tiny per-source agg."""
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))
    kept = (_bucket(key) < _strata_rate_col()).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_sampled"),
            F.max(_strata_rate_col()).alias("target_bps"),
        )
    )


def _sql_strata_rate() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {bps}" for s, bps in sorted(STRATA_BPS.items())
    )
    return f"CASE {whens} ELSE {STRATA_DEFAULT_BPS} END"


SAMPLE_STRATIFIED_SQL = f"""
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {_sql_bucket(f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
                     < {_sql_strata_rate()} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       MAX({_sql_strata_rate()}) AS target_bps
FROM documents
GROUP BY source
"""


TOPK_TOKENS = 50


def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the top-50 tokens by frequency with a
    deterministic (count DESC, token ASC) tiebreak — the vocabulary /
    stopword-discovery pass every text pipeline starts with.

    Scale: tokenize → ONE hash aggregation (map-side partial combine
    collapses each partition to its local counts before the exchange) →
    TakeOrderedAndProject for the top-k (no global sort). At 100 TB the
    aggregation state is O(vocabulary), not O(tokens); for a truly
    unbounded key space the same shape runs on the hashed token with a
    count-min refinement — here the exact form IS the scale path."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(TOPK_TOKENS)
    )


HEAVY_HITTERS_SQL = f"""
SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest({sql_ws_split('lower(text)')}) AS token
  FROM documents
)
WHERE length(token) > 0
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {TOPK_TOKENS}
"""


TOPK_PER_STRATUM = 12
_TOPK_FANOUT = 16  # stage-1 sub-partitions per stratum


def sample_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic per-stratum sample: each source keeps the k
    documents with the smallest portable hash — uniform-without-
    replacement membership (the fixed-size holdout / eval-set carve)
    that never churns across runs, engines, or corpus partitionings.

    Scale shape: Spark's WindowGroupLimit pushdown already bounds a
    rank<=k window's shuffle to k rows per map partition, but the
    reduce side still funnels k·(map partitions) rows — at 100 TB,
    ~100k partitions → millions of rows — through ONE task per
    stratum. The two-stage plan caps that: stage 1 ranks within
    (source, hash % FANOUT) sub-partitions and keeps each local top-k;
    stage 2 re-ranks the ≤ FANOUT·k survivors per source (a few KB
    however large the stratum, vs k·P). The union of per-sub top-k
    provably contains the global top-k, so the two-stage result is
    identical to the one-window plan — which is therefore the flat SQL
    oracle. Both stages get the WindowGroupLimit partial-limit for
    free (visible in .explain as paired WindowGroupLimit nodes)."""
    d = load_table(spark, sf_dir, "documents")
    h = md5_60bit(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string")))
    w1 = Window.partitionBy("source", "sub").orderBy("h", "doc_id")
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "source", h.alias("h"))
        .withColumn("sub", F.pmod(F.col("h"), F.lit(_TOPK_FANOUT)))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= TOPK_PER_STRATUM)
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= TOPK_PER_STRATUM)
        .select("source", "doc_id", "h", F.col("rk").cast("long").alias("rk"))
    )


SAMPLE_TOPK_SQL = f"""
WITH hashed AS (
  SELECT source, doc_id,
         {sql_md5_60bit(f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT source, doc_id, h,
       ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
FROM hashed
QUALIFY rk <= {TOPK_PER_STRATUM}
"""


SAMPLING_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "sample_bernoulli_docs",
            sample_bernoulli_docs,
            SAMPLE_BERNOULLI_SQL,
            "deterministic hash-Bernoulli 25% document sample",
        ),
        Query(
            "sample_stratified_sources",
            sample_stratified_sources,
            SAMPLE_STRATIFIED_SQL,
            "per-source deterministic stratified sampling plan",
        ),
        Query(
            "heavy_hitters_tokens",
            heavy_hitters_tokens,
            HEAVY_HITTERS_SQL,
            "top-k token heavy hitters, deterministic tiebreak",
        ),
        Query(
            "sample_topk_per_stratum",
            sample_topk_per_stratum,
            SAMPLE_TOPK_SQL,
            "exact-k deterministic per-stratum sample, two-stage top-k",
        ),
    ]
}
