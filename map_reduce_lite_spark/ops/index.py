"""Inverted-index construction — the classic MapReduce workload the
reference's wc/grep family points at (token -> posting list), built the
scale-safe way.

The naive build (``collect_list(doc_id)`` per token) is a memory bomb:
a stopword's posting list at 100 TB is billions of ids in ONE
aggregation buffer. The shape below bounds every buffer:

  tokenize -> DISTINCT (token, doc_id)            [one shuffle]
           -> row_number per token by doc_id      [reuses the same
                                                   hash partitioning]
           -> groupBy token: df = COUNT(*),
              postings = first K ids only         [buffer <= K ids]

``df`` (document frequency) is exact over ALL postings; only the
materialized posting sample is capped at K — the index layout real
systems use (posting lists are stored in blocks; the head block plus a
count is the summary). Low-df tokens (df < MIN_DF) are dropped, the
standard index-size lever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import (
    Query,
    mrl_lower,
    sql_token_rows,
    sql_ws_split,
    sql_ws_tokens,
    token_rows,
    ws_split,
)
from map_reduce_lite_spark.relational.tables import load_table

POSTINGS_CAP = 8   # ids materialized per token (head block)
MIN_DF = 2         # drop hapax tokens from the index

_SQL_TOKS = sql_ws_tokens("lower(text)")


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token -> (document frequency, first-K posting list as CSV).

    Exact df for every token, bounded memory per aggregation buffer
    (module doc). The window and the final groupBy share the hash
    partitioning on token, so the build is one shuffle + one sort.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.filter(ws_split(mrl_lower("text")), lambda x: x != "")
    )
    pairs = d.select("doc_id", F.explode(toks).alias("token"))
    rn = F.row_number().over(Window.partitionBy("token").orderBy("doc_id"))
    head = pairs.withColumn("rn", rn)
    return (
        head.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.when(F.col("rn") <= POSTINGS_CAP, F.col("doc_id")))
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


INVERTED_INDEX_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKS}) AS token
  FROM documents
),
ranked AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM pairs
)
SELECT token, COUNT(*) AS df,
       string_agg(CASE WHEN rn <= {POSTINGS_CAP} THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS postings
FROM ranked
GROUP BY token
HAVING COUNT(*) >= {MIN_DF}
"""


VOCAB_K = 100  # closed-vocabulary size for the OOV health metric


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus's own top-K
    vocabulary — the tokenizer-health metric a pipeline tracks per
    ingestion source (a source whose OOV spikes is drifting away from
    the tokenizer's training distribution).

    Plan: tokenize once; the vocabulary is a K-row aggregate (bounded
    by construction — broadcast back); the rate is one LEFT join + one
    conditional aggregation. Integer basis points, exact in both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token", "source")
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.floor(F.col("n_oov") * 10000 / F.col("n_tokens"))
            .cast("long")
            .alias("oov_bps"),
        )
    )


OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT source, unnest({sql_ws_split('lower(text)')}) AS token
  FROM documents
),
t2 AS (SELECT * FROM toks WHERE length(token) > 0),
vocab AS (
  SELECT token FROM t2
  GROUP BY token
  ORDER BY COUNT(*) DESC, token ASC
  LIMIT {VOCAB_K}
)
SELECT t2.source,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(floor(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 10000.0
                  / COUNT(*)) AS BIGINT) AS oov_bps
FROM t2 LEFT JOIN vocab v ON t2.token = v.token
GROUP BY t2.source
"""


# --------------------------------------------------------------------------
# BM25 ranked retrieval — the search capstone over the index stats
# --------------------------------------------------------------------------

# Lucene-variant BM25 (k1=1.2, b=0.75): idf = ln(1 + (N-df+0.5)/(df+0.5))
# is never negative, the same practical choice Lucene made over the raw
# Robertson-Spärck Jones form.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# Small fixed query workload (terms from the corpus vocabulary) — BM25
# serving always scores a query batch against the corpus statistics.
BM25_QUERY_SET: list[tuple[int, str]] = [
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "agg"), (2, "stream"),
    (3, "vector"), (3, "scan"), (3, "filter"),
]


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K documents per query under BM25 — ranked retrieval over the
    same corpus statistics the inverted index materializes (df per
    term, per-doc length, corpus avgdl).

    Plan shape: the query term set is a FIXED literal, so the per-doc
    statistics pivot into columns — a tokenize pass + one
    groupBy(doc_id) produces (dl, tf_<term>...); the corpus statistics
    (n_docs, avgdl, every per-term df) collapse into a SINGLE 1-row
    aggregate of that table, broadcast back; scoring is then a pure
    projection per doc row (the old shape re-derived the (doc, term)
    tf table for each of its four consumers — 4-5 corpus tokenize
    passes — and shuffled per-(query, doc) contribution rows into a
    scoring aggregation; all of that is gone). NOTE: per_doc is not
    materialized, so the stats subtree re-derives it — the plan
    tokenizes the corpus TWICE (stats aggregate + scoring projection),
    down from 4-5; an eager barrier was measured slower at sf0.1
    because the two passes overlap on idle cores (the r12
    rejected-checkpoint note). Top-K per query is a
    rank window that Spark rewrites to WindowGroupLimit: every task
    keeps only K candidates per query BEFORE the exchange, so the
    final sort sees tasks×K rows, not the corpus (plan-pinned in
    tests/test_plans.py).

    Determinism: idf and the tf normalization are a fixed sequence of
    IEEE double ops on exact integer inputs (bit-identical in DuckDB);
    each term contribution is quantized to DECIMAL(18,12) before the
    per-query sum (exact decimal addition — accumulation order cannot
    matter, and unmatched terms add an exact 0), so the score is
    bit-identical to the old per-(query, doc) decimal aggregation;
    ties on score break by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    uterms: list[str] = []
    for _q, _t in BM25_QUERY_SET:
        if _t not in uterms:
            uterms.append(_t)
    queries: dict[int, list[int]] = {}
    for _q, _t in BM25_QUERY_SET:
        queries.setdefault(_q, []).append(uterms.index(_t))
    toks = token_rows(d.repartition(fanout, "doc_id"), "term", "doc_id")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == F.lit(t)).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(uterms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(uterms))
        ],
    ).select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
        *[f"df_{i}" for i in range(len(uterms))],
    )

    def _contrib(i: int):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        tfn = (tf * F.lit(BM25_K1 + 1.0)) / (
            tf
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf > 0, (idf * tfn).cast("decimal(18,12)")).otherwise(
            F.lit(0).cast("decimal(18,12)")
        )

    def _qstruct(qid: int, idxs: list[int]):
        n_matched = None
        score = None
        for i in idxs:
            m = (F.col(f"tf_{i}") > 0).cast("long")
            c = _contrib(i)
            n_matched = m if n_matched is None else n_matched + m
            score = c if score is None else score + c
        return F.struct(
            F.lit(qid).alias("query_id"),
            n_matched.alias("n_matched"),
            score.cast("double").alias("score"),
        )

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.explode(
                F.array(*[_qstruct(q, idxs) for q, idxs in sorted(queries.items())])
            ).alias("s"),
        )
        .select("doc_id", "s.query_id", "s.n_matched", "s.score")
        .filter(F.col("n_matched") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "n_matched",
            F.floor(F.col("score") * 1e6).cast("long").alias("score_e6"),
        )
    )


_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERY_SET)

BM25_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'doc_id')}
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), qterms(query_id, term) AS (
  VALUES {_BM25_VALUES}
), uterms AS (
  SELECT DISTINCT term FROM qterms
), dfreq AS (
  SELECT t.term, COUNT(*) AS df
  FROM tf t JOIN uterms u ON u.term = t.term
  GROUP BY 1
), scored AS (
  SELECT q.query_id, t.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * ((t.tf * {BM25_K1 + 1.0}) /
            (t.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * (l.dl / s.avgdl))))
           AS contrib
  FROM tf t
  JOIN qterms q ON q.term = t.term
  JOIN dfreq d ON d.term = t.term
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, COUNT(*) AS n_matched,
         CAST(SUM(CAST(contrib AS DECIMAL(18,12))) AS DOUBLE) AS score
  FROM scored GROUP BY 1, 2
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rank AS INT) AS rank,
       doc_id, n_matched,
       CAST(floor(score * 1e6) AS BIGINT) AS score_e6
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM agg
)
WHERE rank <= {BM25_TOP_K}
"""


INDEX_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "text_inverted_index",
            text_inverted_index,
            INVERTED_INDEX_SQL,
            "bounded-memory inverted index: exact df + head-K postings",
        ),
        Query(
            "text_oov_rate",
            text_oov_rate,
            OOV_RATE_SQL,
            "per-source OOV rate vs corpus top-K vocabulary",
        ),
        Query(
            "text_bm25_search",
            text_bm25_search,
            BM25_SQL,
            "BM25 top-K ranked retrieval for a fixed query batch",
        ),
    ]
}
