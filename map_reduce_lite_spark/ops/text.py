"""Text-analysis operators for training-data pipelines.

All four are single-pass, JVM-codegen expressions over the documents
table — no Python in the hot path, no shuffle except final aggregation
where present. At 100 TB each is scan-bound and embarrassingly parallel.

- language ID: stopword-hit scoring per language (n-gram-free heuristic;
  integer counts → deterministic argmax with a fixed tie order).
- quality scoring: length / token / punctuation / stopword ratios.
- token stats: whitespace tokens + a BPE-ish regex token count.
- fingerprinting: md5 content hash (hex + portable 60-bit int form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.pairs import sql_cooccur
from map_reduce_lite_spark.registry import (
    WS_CHARS,
    WS_RUN,
    Query,
    md5_60bit,
    mrl_lower,
    sql_md5_60bit,
    sql_token_positions,
    sql_token_rows,
    sql_ws_count,
    sql_ws_split,
    token_rows,
    ws_count,
    ws_split,
)
from map_reduce_lite_spark.relational.tables import load_table

# Small fixed stopword lists (public, common words). Order of the dict is
# the deterministic tie-break order for argmax.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "im"],
}

# BPE-ish token regex: letter runs, digit runs, or single non-space symbols
BPE_TOKEN_RE = rf"\p{{L}}+|\p{{N}}+|[^\p{{L}}\p{{N}}{WS_CHARS}]"


def _stopword_hits(text_col: Column, words: list[str]) -> Column:
    """Count of stopword occurrences (word-boundary regex, integer)."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(mrl_lower(text_col), F.lit(pattern), F.lit(0))).cast("long")


def _sql_stopword_hits(expr: str, words: list[str]) -> str:
    # DuckDB string literals do not process backslash escapes — emit \b raw
    pattern = r"\b(" + "|".join(words) + r")\b"
    return f"CAST(len(regexp_extract_all(lower({expr}), '{pattern}')) AS BIGINT)"


def lang_hits() -> list[Column]:
    """One ``hits_<lang>`` stopword count of ``text`` per STOPWORDS
    language (matches sql_lang_hits)."""
    return [
        _stopword_hits(F.col("text"), ws).alias(f"hits_{l}") for l, ws in STOPWORDS.items()
    ]


def sql_lang_hits() -> str:
    return ",\n         ".join(
        f"{_sql_stopword_hits('text', ws)} AS hits_{l}" for l, ws in STOPWORDS.items()
    )


def lang_argmax() -> Column:
    """The stopword language ID over the ``hits_<lang>`` columns
    (matches sql_lang_argmax): no hits gives 'und', and a tie goes to
    the first language in STOPWORDS order."""
    best = F.greatest(*[F.col(f"hits_{l}") for l in STOPWORDS])
    pred = F.when(best == 0, F.lit("und"))
    for l in STOPWORDS:
        pred = pred.when(F.col(f"hits_{l}") == best, F.lit(l))
    return pred


def sql_lang_argmax() -> str:
    best = "greatest(" + ", ".join(f"hits_{l}" for l in STOPWORDS) + ")"
    whens = " ".join(f"WHEN hits_{l} = {best} THEN '{l}'" for l in STOPWORDS)
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} END"


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict language by max stopword hits (ties → fixed language order,
    no hits → 'und')."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", "lang", *lang_hits())
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        lang_argmax().alias("pred_lang"),
        *[F.col(f"hits_{l}") for l in STOPWORDS],
    )


LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang AS actual_lang,
         {sql_lang_hits()}
  FROM documents
)
SELECT doc_id, actual_lang, {sql_lang_argmax()} AS pred_lang,
       {', '.join(f'hits_{l}' for l in STOPWORDS)}
FROM scored
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: integer counts + ratio of integers
    (bit-identical division both engines)."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_tokens = ws_count("text")
    n_stop = _stopword_hits(F.col("text"), STOPWORDS["en"])
    mean_tok_len = (n_chars - n_tokens + 1) / n_tokens  # chars net of single spaces
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop / n_tokens).alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
    )


QUALITY_SQL = rf"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       {sql_ws_count('text')} AS n_tokens,
       {_sql_stopword_hits('text', STOPWORDS['en'])} AS n_stopwords,
       {_sql_stopword_hits('text', STOPWORDS['en'])}
         / {sql_ws_count('text')} AS stopword_ratio,
       (CAST(length(text) AS BIGINT) - {sql_ws_count('text')} + 1)
         / {sql_ws_count('text')} AS mean_token_len
FROM documents
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts per source."""
    d = load_table(spark, sf_dir, "documents")
    bpe_tokens = F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")
    per_doc = d.select("source", ws_count("text").alias("ws_toks"), bpe_tokens.alias("bpe_toks"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_toks").alias("total_ws_tokens"),
        F.sum("bpe_toks").alias("total_bpe_tokens"),
        F.max("bpe_toks").alias("max_bpe_tokens"),
    )


TOKEN_STATS_SQL = rf"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM({sql_ws_count('text')}) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))) AS BIGINT) AS total_bpe_tokens,
       CAST(MAX(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))) AS BIGINT) AS max_bpe_tokens
FROM documents
GROUP BY source
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 hex of whitespace-normalized text plus the
    portable 60-bit integer form (shuffle-friendly dedup key)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(mrl_lower(F.trim("text")), WS_RUN, " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        md5_60bit(norm).alias("fp_60bit"),
    )


_NORM_EXPR = f"regexp_replace(lower(trim(text, ' ')), '{WS_RUN}', ' ', 'g')"
FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5({_NORM_EXPR}) AS fp_md5,
       {sql_md5_60bit(_NORM_EXPR)} AS fp_60bit
FROM documents
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf.

    idf = ln((N+1)/(df+1)) — smoothed; ln is bit-identical between the
    JVM and DuckDB (verified empirically over the value range), and the
    argument is one double division of exact integers, so scores
    hash-match. Plan shape: tokenize → (doc, term) counts → df by term →
    broadcast the 1-row corpus count — two shuffles total (term, doc),
    no driver-side N, no unpartitioned windows."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = token_rows(d.repartition(fanout, "doc_id"), "term", "doc_id")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log(
        (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * idf).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.floor(F.col("score") * 1e6).cast("long").alias("score_e6"),
        )
    )


TFIDF_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'doc_id')}
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(rank AS INT) AS rank,
       CAST(floor(score * 1e6) AS BIGINT) AS score_e6
FROM (SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= {TFIDF_TOP_K}
"""


# Rabin–Karp polynomial rolling hash: base 257, modulus 2^31-1 (keeps
# acc*257 + char < 2^39 — no int64 overflow in either engine's fold).
RH_BASE = 257
RH_MOD = 2147483647


def rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Rabin–Karp rolling hash over the raw characters —
    the classic streaming fingerprint (one pass, O(1) state per doc;
    the incremental form also windows over k-grams for chunk-level
    dedup). Exact integer fold → full oracle parity; at 100 TB this is
    scan-bound with zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    fold = F.aggregate(
        F.split(F.col("text"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * RH_BASE + F.ascii(c)) % RH_MOD,
    )
    return d.select("doc_id", fold.alias("rolling_hash"), F.length("text").cast("long").alias("n_chars"))


ROLLING_HASH_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT, [ascii(c) FOR c IN string_split(text, '')]),
         (acc, c) -> (acc * {RH_BASE} + c) % {RH_MOD}) AS rolling_hash,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


# HLL++ with rsd=5%: |approx - exact| / exact stays within 3·rsd with
# overwhelming probability; the driver-hashed within_tolerance flag
# hard-fails if the sketch ever drifts past it.
SKETCH_RSD = 0.05
SKETCH_TOL = 3 * SKETCH_RSD


def sketch_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live HLL++ estimate next to the exact count — the internal
    aggregate behind sketch_distinct_tokens, exposed for the accuracy
    property test (tests/test_sketch.py)."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token", "source")
    return toks.groupBy("source").agg(
        F.approx_count_distinct("token", rsd=SKETCH_RSD).alias("approx_distinct"),
        F.countDistinct("token").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def sketch_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per source via HyperLogLog++ sketches
    (approx_count_distinct, rsd=5%) next to the exact count.

    THE scale pattern for cardinality at 100 TB: the sketch is a few KB
    of mergeable state per group — map-side partials merge instead of
    shuffling every distinct token. DuckDB's HLL differs bit-wise by
    construction, so the ESTIMATE itself can't be oracle-hashed;
    instead the output carries the exactly-replayable columns
    (exact_distinct, n_tokens) plus within_tolerance — a boolean the
    Spark side computes from the live sketch and the oracle asserts
    TRUE. A sketch regression past 3·rsd flips the flag and
    hash-fails the driver compare. The estimate's accuracy curve is
    additionally property-tested (tests/test_sketch.py)."""
    agg = sketch_distinct_raw(spark, sf_dir)
    within = (
        F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct")
        <= F.lit(SKETCH_TOL)
    )
    return agg.select(
        "source", "exact_distinct", "n_tokens", within.alias("within_tolerance")
    )


SKETCH_DISTINCT_SQL = f"""
SELECT source,
       COUNT(DISTINCT token) AS exact_distinct,
       COUNT(*) AS n_tokens,
       TRUE AS within_tolerance
FROM (
  SELECT source,
         unnest({sql_ws_split('lower(text)')}) AS token
  FROM documents
)
WHERE length(token) > 0
GROUP BY source
"""


# exact-mode accuracy: percentile_approx returns the exact discrete
# quantile while per-group distinct values stay below this (guarded by
# tests/test_sketch.py — sf0.1 has ~2e5 distinct prices per group, so
# the old 1e5 setting silently left exact mode between sf0.01 and sf0.1)
GK_EXACT_ACCURACY = 1_000_000
# the production-tier sketch whose approximation quality the tolerance
# flag pins (state O(accuracy), mergeable — the true 100 TB setting)
GK_PROD_ACCURACY = 1_000
GK_VALUE_TOL = 0.05
_GK_PROBS = [0.25, 0.5, 0.75, 0.95]


def sketch_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile summary per return flag via the Greenwald–Khanna sketch
    (percentile_approx) — the other half of the sketch family next to
    the HLL cardinality sketch.

    THE scale pattern for quantiles at 100 TB: GK state is bounded
    (O(accuracy)) and mergeable, so partials combine map-side instead
    of sorting the column. Two tiers run in ONE aggregation pass: the
    exact-mode tier (accuracy 1e6 — discrete-quantile EXACT while
    per-group distinct values stay below it, which the oracle pins as
    quantile_disc equality and a named test guards), and the
    production tier (accuracy 1e3 — the state size a 100 TB run would
    actually carry), pinned by within_tolerance: the oracle asserts
    TRUE, so a sketch regression past 5% value error hash-fails the
    driver compare. Per-column scalars, not an array — array cells
    break harness canonicalization (the round-1 array_agg lesson)."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = F.percentile_approx(
        "l_extendedprice", _GK_PROBS, GK_EXACT_ACCURACY
    ).alias("qs")
    qs_prod = F.percentile_approx(
        "l_extendedprice", _GK_PROBS, GK_PROD_ACCURACY
    ).alias("qs_prod")
    agg = li.groupBy("l_returnflag").agg(qs, qs_prod)
    within = None
    for i in range(len(_GK_PROBS)):
        ok_i = (
            F.abs(F.col("qs_prod")[i] - F.col("qs")[i]) / F.col("qs")[i]
            <= F.lit(GK_VALUE_TOL)
        )
        within = ok_i if within is None else (within & ok_i)
    return agg.select(
        "l_returnflag",
        F.col("qs")[0].alias("price_q25"),
        F.col("qs")[1].alias("price_q50"),
        F.col("qs")[2].alias("price_q75"),
        F.col("qs")[3].alias("price_q95"),
        within.alias("within_tolerance"),
    )


SKETCH_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.25) AS price_q25,
       quantile_disc(l_extendedprice, 0.5) AS price_q50,
       quantile_disc(l_extendedprice, 0.75) AS price_q75,
       quantile_disc(l_extendedprice, 0.95) AS price_q95,
       TRUE AS within_tolerance
FROM lineitem GROUP BY l_returnflag
"""


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    unigram model — the perplexity-proxy quality signal (CCNet ranks web
    documents by LM perplexity; the unigram model is its join-only
    distributed floor). Low score ⇒ made of common tokens; high score ⇒
    rare/garbage-heavy.

    Plan: tokenize → corpus unigram counts (one groupBy) → join tokens
    to counts (shuffle keyed on token — the vocabulary is corpus-sized,
    so it is JOINED, not broadcast) → per-doc aggregation. Two shuffles,
    same shape as tf-idf. Determinism: -ln(count/N) is one double
    division + one ln of identical operands per token (bit-identical in
    both engines); the per-doc sum goes through DECIMAL(18,12) so
    accumulation order cannot matter; the mean is one double division;
    the output is floor-scaled to e6."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = token_rows(d.repartition(fanout, "doc_id"), "term", "doc_id")
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = toks.agg(F.count(F.lit(1)).alias("nn"))
    nll = -F.log(F.col("c").cast("double") / F.col("nn").cast("double"))
    return (
        toks.join(cnt, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.floor(
                (
                    F.sum(nll.cast("decimal(18,12)")).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e6
            )
            .cast("long")
            .alias("nll_e6"),
        )
    )


UNIGRAM_LOGPROB_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'doc_id')}
), cnt AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY 1
), n AS (
  SELECT COUNT(*) AS nn FROM toks
)
SELECT doc_id, COUNT(*) AS n_toks,
       CAST(floor((CAST(SUM(CAST(-ln(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
                                 AS DECIMAL(18,12))) AS DOUBLE)
                   / COUNT(*)) * 1e6) AS BIGINT) AS nll_e6
FROM toks JOIN cnt USING (term) CROSS JOIN n
GROUP BY doc_id
"""


# Count-Min sketch: the frequency member of the sketch family (next to
# HLL cardinality and GK quantiles). d rows × w buckets of int64 counts
# (32 KB here) replace per-token state; estimates never underestimate,
# overestimate by <= e/w · N with prob 1-e^-d. Unlike the HLL, the CMS
# is built from the portable md5 hash, so the ENTIRE sketch — every
# cell and every min — is exactly replayable in DuckDB: the oracle is a
# full value oracle, no tolerance flag needed.
CMS_ROWS = 4
CMS_WIDTH = 1024
CMS_TOP_K = 20


def _cms_bucket(token, r: int):
    return F.pmod(md5_60bit(F.concat(F.lit(f"cms{r}|"), token)), F.lit(CMS_WIDTH))


def sketch_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the corpus top-k tokens, next
    to their exact counts.

    Scale: the token stream maps each token to CMS_ROWS (row, bucket)
    cells; map-side partial aggregation collapses every task's stream
    to <= d·w cells before the one tiny shuffle, so the sketch costs
    O(d·w) state regardless of corpus size — THE bounded-memory
    frequency pattern at 100 TB. The top-k side is
    TakeOrderedAndProject (no global sort); estimates probe the
    broadcast cell table with one (r, b)-melted join and take the
    min."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token")
    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket(F.col("token"), r).alias("b"),
                        )
                        for r in range(CMS_ROWS)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CMS_TOP_K)
    )
    # r12: probe the sketch with ONE broadcast join. The old per-row
    # loop carried d broadcast cell slices that each re-ran the
    # tokenize+explode+agg pipeline (5 corpus passes); an interim
    # lazy-checkpoint fix shared the cell table, but a single
    # uncommitted RDD feeding several CONCURRENT broadcast jobs races —
    # each job recomputes the lineage until the blocks land (the
    # sibling sketch_cms_merge_shards measured 2.7 s best / 19 s worst
    # that way). Melting the top-k probes to (token, r, b) rows and
    # inner-joining the d·w-row cell table once makes every tokenize
    # branch single-consumer — 2 corpus passes (cells, top-k), nothing
    # shared to race on. A top-k token's cell always exists (its own
    # occurrences count into it), so the join keeps exactly d rows per
    # token and MIN over them equals the old LEAST across d columns.
    probes = topk.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("token"), r).alias("b"),
                    )
                    for r in range(CMS_ROWS)
                ]
            )
        ).alias("rb"),
    ).select("token", "exact_count", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_count",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_count")).alias("no_underestimate"),
    )


def _cms_sql() -> str:
    def bucket(expr: str, r: int) -> str:
        salted = f"'cms{r}|' || {expr}"
        return f"({sql_md5_60bit(salted)} % {CMS_WIDTH})"

    joins = "\n  ".join(
        f"JOIN cells c{r} ON c{r}.r = {r} AND c{r}.b = {bucket('t.token', r)}"
        for r in range(CMS_ROWS)
    )
    least = "least(" + ", ".join(f"c{r}.c" for r in range(CMS_ROWS)) + ")"
    bucket_case = " ".join(
        f"WHEN {r} THEN {bucket('token', r)}" for r in range(CMS_ROWS)
    )
    rows_list = "[" + ", ".join(str(r) for r in range(CMS_ROWS)) + "]"
    return rf"""
WITH toks AS (
  SELECT token FROM (
    SELECT unnest({sql_ws_split('lower(text)')}) AS token
    FROM documents
  ) WHERE length(token) > 0
), cells AS (
  SELECT r, CASE r {bucket_case} END AS b, COUNT(*) AS c
  FROM toks, LATERAL (SELECT unnest({rows_list}) AS r) rr
  GROUP BY 1, 2
), topk AS (
  SELECT token, COUNT(*) AS exact_count
  FROM toks GROUP BY token
  ORDER BY exact_count DESC, token ASC
  LIMIT {CMS_TOP_K}
)
SELECT t.token, t.exact_count,
       {least} AS cms_est,
       {least} >= t.exact_count AS no_underestimate
FROM topk t
  {joins}
"""


CMS_SQL = _cms_sql()


def sketch_cms_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability of the CMS — the property that makes sketches THE
    100 TB aggregation pattern: each shard (here: source) builds its
    own d×w cell table independently, the shards merge by cell-wise
    SUM, and the merged sketch answers queries exactly as if built
    over the whole corpus in one pass. That is how a 1000-executor
    job summarizes per-partition state into KB-sized artifacts that an
    incremental refresh later folds together WITHOUT re-scanning (the
    ops/snapshot.py standing-index story, applied to frequency stats).

    Output per top-k token: exact count, the directly-built global
    estimate, the shard-merged estimate, and merge_lossless — which
    must always be true (cell-wise SUM commutes with the per-cell
    counts; the min over rows is taken after merging). Fully
    value-oracled: every cell is portable md5 arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token", "source")
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), _cms_bucket(F.col("token"), r).alias("b")
                )
                for r in range(CMS_ROWS)
            ]
        )
    ).alias("rb")
    # per-shard sketches: (source, r, b, c) — built independently per source
    shard_cells = (
        toks.select("source", rb)
        .groupBy("source", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # THE MERGE: cell-wise SUM across shards (d·w rows, KB-sized)
    merged = shard_cells.groupBy("r", "b").agg(F.sum("c").alias("c"))
    # direct global sketch, built in one pass for comparison
    direct = (
        toks.select(rb)
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CMS_TOP_K)
    )
    # r12: probe each sketch with ONE broadcast join instead of d
    # broadcast cell slices per sketch. The old per-row loop carried 8
    # broadcast subtrees that each re-ran the tokenize+explode pipeline
    # (9 corpus passes, 42-Exchange plan); an interim lazy-checkpoint
    # fix shared the cell tables but its single uncommitted RDD fed 8
    # CONCURRENT broadcast jobs, which race to materialize it and
    # recompute the lineage per job (measured 2.7 s best / 19 s worst in
    # one session). Melting the top-k probes to (token, r, b) rows and
    # joining each d·w-row cell table once makes every tokenize branch
    # single-consumer — 3 corpus passes (shards, direct, top-k: the
    # semantic floor, the sketches are deliberately built separately)
    # with no shared state to race on. A top-k token's cell always
    # exists (its own occurrences count into it), so the inner join
    # keeps exactly d rows per token and MIN over them equals the old
    # LEAST over d joined columns.
    probes = topk.select("token", "exact_count", rb).select(
        "token", "exact_count", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    )
    est = (
        probes.join(
            F.broadcast(merged.withColumnRenamed("c", "mc")), ["r", "b"]
        )
        .join(F.broadcast(direct.withColumnRenamed("c", "dc")), ["r", "b"])
        .groupBy("token", "exact_count")
        .agg(F.min("mc").alias("est_merged"), F.min("dc").alias("est_direct"))
    )
    return est.select(
        "token",
        "exact_count",
        "est_direct",
        "est_merged",
        (F.col("est_direct") == F.col("est_merged")).alias("merge_lossless"),
    )


def _cms_merge_sql() -> str:
    def bucket(expr: str, r: int) -> str:
        salted = f"'cms{r}|' || {expr}"
        return f"({sql_md5_60bit(salted)} % {CMS_WIDTH})"

    joins = "\n  ".join(
        f"JOIN merged m{r} ON m{r}.r = {r} AND m{r}.b = {bucket('t.token', r)}\n"
        f"  JOIN direct d{r} ON d{r}.r = {r} AND d{r}.b = {bucket('t.token', r)}"
        for r in range(CMS_ROWS)
    )
    least_m = "least(" + ", ".join(f"m{r}.c" for r in range(CMS_ROWS)) + ")"
    least_d = "least(" + ", ".join(f"d{r}.c" for r in range(CMS_ROWS)) + ")"
    bucket_case = " ".join(
        f"WHEN {r} THEN {bucket('token', r)}" for r in range(CMS_ROWS)
    )
    rows_list = "[" + ", ".join(str(r) for r in range(CMS_ROWS)) + "]"
    return rf"""
WITH toks AS (
  SELECT source, token FROM (
    SELECT source,
           unnest({sql_ws_split('lower(text)')}) AS token
    FROM documents
  ) WHERE length(token) > 0
), shard_cells AS (
  SELECT source, r, CASE r {bucket_case} END AS b, COUNT(*) AS c
  FROM toks, LATERAL (SELECT unnest({rows_list}) AS r) rr
  GROUP BY 1, 2, 3
), merged AS (
  SELECT r, b, CAST(SUM(c) AS BIGINT) AS c FROM shard_cells GROUP BY r, b
), direct AS (
  SELECT r, CASE r {bucket_case} END AS b, COUNT(*) AS c
  FROM toks, LATERAL (SELECT unnest({rows_list}) AS r) rr
  GROUP BY 1, 2
), topk AS (
  SELECT token, COUNT(*) AS exact_count
  FROM toks GROUP BY token
  ORDER BY exact_count DESC, token ASC
  LIMIT {CMS_TOP_K}
)
SELECT t.token, t.exact_count,
       {least_d} AS est_direct,
       {least_m} AS est_merged,
       {least_d} = {least_m} AS merge_lossless
FROM topk t
  {joins}
"""


CMS_MERGE_SQL = _cms_merge_sql()


# --------------------------------------------------------------------------
# Collocation discovery (document-level co-occurrence lift)
# --------------------------------------------------------------------------

COLLOC_TOP_M = 20          # vocabulary slice carrying pair statistics
COLLOC_SCALE = 1_000_000   # lift reported as floor(1e6 · N·n_ab/(n_a·n_b))


def collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation discovery: document-level co-occurrence lift (the
    PMI ratio before the log) for every pair of the top-M
    document-frequency tokens — the phrase/tokenizer-merge induction
    statistic a text pipeline computes before growing a vocabulary.

    Integer-exact end to end: lift is floor-scaled BIGINT arithmetic,
    no libm log whose last bits differ across engines. Headroom bound:
    SCALE·N·n_ab must fit int64, i.e. N·n_ab < 9.2e12 — fine up to
    ~3e6 fully co-occurring docs; past that, swap the constant for a
    DECIMAL(38,0) product (semantics unchanged).

    Scale shape: the pair space is bounded by M, not the corpus. The
    top-M vocabulary is one map-side-combined agg + TakeOrdered (M
    rows, broadcast); per-doc presence collapses via a single groupBy
    into a sorted ≤M-element array; pairs are generated JVM-side from
    that array (`transform`×`slice`, ≤M²/2 structs per doc) — no
    corpus self-join, one real shuffle (the doc groupBy), and the
    final pair agg carries ≤M²/2 distinct keys. The SQL oracle states
    the same thing as a within-doc self-join, equivalent because the
    array is the doc's distinct present-token set."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token", "doc_id").distinct()
    # The M-row vocabulary slice used to be consumed three times
    # (presence filter + both lift margins), and every consumer re-ran
    # the whole tokenize+distinct+agg pipeline: 4 corpus tokenize
    # passes. Instead of a barrier (an eager checkpoint serializes the
    # vocab job that previously overlapped on idle cores — measured as
    # a ~0.3 s local loss, the rejected-BM25 shape), make topm
    # single-consumer: the df margins ride INSIDE the presence arrays
    # as (token, df) structs, so n_a/n_b fall out of the pair explode
    # itself and the margin lookup joins disappear. 2 tokenize passes
    # (vocab build + doc presence) — the semantic floor for a
    # df-ranked vocabulary — with no materialization barrier.
    topm = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(COLLOC_TOP_M)
    )
    # array_sort on (token, df) structs orders by token first; tokens
    # are distinct within a doc's set, so the array order — and hence
    # the emitted pair set — is identical to the old token-only sort.
    arrs = (
        toks.join(F.broadcast(topm), "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("token"), F.col("df")))
            ).alias("arr")
        )
    )
    pairs = arrs.select(
        F.explode(
            F.expr(
                "flatten(transform(arr, (x, i) -> "
                "transform(slice(arr, i + 2, size(arr)), "
                "y -> struct(x.token AS tok_a, x.df AS n_a, "
                "y.token AS tok_b, y.df AS n_b))))"
            )
        ).alias("p")
    ).select("p.tok_a", "p.n_a", "p.tok_b", "p.n_b")
    # n_a/n_b are functionally dependent on tok_a/tok_b; keying the agg
    # on all four keeps the same ≤M²/2 distinct keys (+16 bytes/row of
    # map-side-combined shuffle, bounded by M²).
    co = pairs.groupBy("tok_a", "n_a", "tok_b", "n_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return co.crossJoin(F.broadcast(n_docs)).select(
        "tok_a",
        "tok_b",
        "n_a",
        "n_b",
        "n_ab",
        F.expr(
            f"({COLLOC_SCALE} * n_docs * n_ab) div (n_a * n_b)"
        ).alias("lift_e6"),
    )


COLLOCATION_SQL = rf"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.term AS token
  FROM documents,
       LATERAL unnest({sql_ws_split('lower(text)')}) AS t(term)
  WHERE t.term <> ''
), topm AS (
  SELECT token, COUNT(*) AS df FROM toks GROUP BY 1
  ORDER BY df DESC, token ASC LIMIT {COLLOC_TOP_M}
), present AS (
  SELECT toks.doc_id, toks.token FROM toks JOIN topm USING (token)
), co AS (
  SELECT m1 AS tok_a, m2 AS tok_b, n_shared AS n_ab
  FROM ({sql_cooccur("present", "doc_id", "token")})
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tok_a, tok_b, ta.df AS n_a, tb.df AS n_b, n_ab,
       ({COLLOC_SCALE} * n.n_docs * n_ab) // (ta.df * tb.df) AS lift_e6
FROM co
JOIN topm ta ON co.tok_a = ta.token
JOIN topm tb ON co.tok_b = tb.token
CROSS JOIN n
"""


# Stupid backoff (Brants et al. 2007, "Large Language Models in Machine
# Translation"): S(cur|prev) = c(prev,cur)/c(prev) when the bigram was
# seen in training, else ALPHA · smoothed-unigram. The web-scale LM
# recipe — no normalization pass, every quantity a corpus count.
BIGRAM_BACKOFF_ALPHA = 0.4


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-score under a held-out bigram
    model with stupid backoff — the CCNet-style perplexity quality
    signal one step past ``text_unigram_logprob``. The model trains on
    even doc_ids and scores EVERY document, so odd documents genuinely
    exercise the backoff path (scoring a corpus under its own bigram
    MLE would never back off — every observed transition is in the
    model by construction).

    Plan: posexplode → per-doc lag window (doc-partitioned, full
    parallelism) gives the transition stream; bigram counts, context
    counts and unigram counts are three groupBys of the train half.
    The bigram and context tables are CORPUS-SIZED (|bigram vocab|
    grows with the corpus — at 100 TB these are billions of rows), so
    they are JOINED on their keys, never broadcast; only the 1-row
    (n_train, v_train) scalar broadcasts. Shuffle ledger: one doc
    repartition, three model aggs, three model equi-joins, one per-doc
    agg — all linear, all key-partitioned.

    Determinism: seen case -ln(c_big/c_ctx) and backoff case
    -ln(0.4 · (c_uni+1)/(n_train+v_train)) are each one integer
    division → IEEE double → ln, written in the same operand order in
    both engines; the per-doc sum goes through DECIMAL(18,12).
    Documents with fewer than two tokens have no transitions and are
    absent from the output (both engines)."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = (
        d.repartition(fanout, "doc_id")
        .select(
            "doc_id",
            F.posexplode(ws_split(mrl_lower("text"))).alias(
                "pos", "term"
            ),
        )
        .filter(F.length("term") > 0)
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    trans = (
        toks.select(
            "doc_id",
            F.lag("term", 1).over(w).alias("prev"),
            F.col("term").alias("cur"),
        )
        .filter(F.col("prev").isNotNull())
    )
    train_trans = trans.filter(F.col("doc_id") % 2 == 0)
    big = train_trans.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_big"))
    ctx = train_trans.groupBy("prev").agg(F.count(F.lit(1)).alias("c_ctx"))
    train_toks = toks.filter(F.col("doc_id") % 2 == 0)
    uni = train_toks.groupBy(F.col("term").alias("cur")).agg(
        F.count(F.lit(1)).alias("c_uni")
    )
    stats = train_toks.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.count_distinct("term").alias("v_train"),
    )
    smoothed = (F.coalesce(F.col("c_uni"), F.lit(0)) + F.lit(1)) / (
        F.col("n_train") + F.col("v_train")
    )
    nll = F.when(
        F.col("c_big").isNotNull(), -F.log(F.col("c_big") / F.col("c_ctx"))
    ).otherwise(-F.log(F.lit(BIGRAM_BACKOFF_ALPHA) * smoothed))
    return (
        trans.join(big, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .join(uni, "cur", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum(F.col("c_big").isNull().cast("long")).alias("n_backoff"),
            F.floor(
                (
                    F.sum(nll.cast("decimal(18,12)")).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e6
            )
            .cast("long")
            .alias("nll_e6"),
        )
    )


BIGRAM_LOGPROB_SQL = rf"""
WITH toks AS ({sql_token_positions('documents', 'lower(text)', 'doc_id')}
), trans AS (
  SELECT doc_id, lag(token, 1) OVER w AS prev, token AS cur
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lag(token, 1) OVER w IS NOT NULL
), train_trans AS (
  SELECT * FROM trans WHERE doc_id % 2 = 0
), big AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_big
  FROM train_trans GROUP BY 1, 2
), ctx AS (
  SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_ctx
  FROM train_trans GROUP BY 1
), train_toks AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), uni AS (
  SELECT token AS cur, CAST(COUNT(*) AS BIGINT) AS c_uni
  FROM train_toks GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS v_train
  FROM train_toks
), scored AS (
  SELECT t.doc_id,
         CASE WHEN b.c_big IS NULL THEN 1 ELSE 0 END AS is_backoff,
         CASE WHEN b.c_big IS NOT NULL THEN -ln(b.c_big / c.c_ctx)
              ELSE -ln({BIGRAM_BACKOFF_ALPHA} *
                       ((COALESCE(u.c_uni, 0) + 1) / (s.n_train + s.v_train)))
         END AS nll
  FROM trans t
  LEFT JOIN big b ON b.prev = t.prev AND b.cur = t.cur
  LEFT JOIN ctx c ON c.prev = t.prev
  LEFT JOIN uni u ON u.cur = t.cur
  CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_trans,
       CAST(SUM(is_backoff) AS BIGINT) AS n_backoff,
       CAST(floor((CAST(SUM(CAST(nll AS DECIMAL(18,12))) AS DOUBLE)
                   / COUNT(*)) * 1e6) AS BIGINT) AS nll_e6
FROM scored GROUP BY doc_id
"""


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution — the
    classic cheap garbage detector (binary blobs and repeated-char spam
    sit at the extremes; natural language clusters ~2.5-4.2 nats). Works
    on trim(lower(text), ' ') like the rest of the text family.

    Plan (r8 rewrite, the simhash-HOF precedent): a ZERO-SHUFFLE pure
    map — per row, sort the characters and run-length-encode them in
    ONE ``aggregate`` pass (constant-size expression tree; O(n log n)
    per doc with NO alphabet dependence — an A/B'd distinct×replace
    variant was O(alphabet·n) per doc, a blowup on adversarial
    unique-char blobs). The r7 position-explode + groupBy(doc_id, ch)
    formulation was bit-identical but paid an exploded-row pass plus a
    (doc, char) shuffle; this is per-doc local. A/B at sf0.1: 0.33-0.46
    vs 0.47-0.82 s, exceptAll-empty both directions at sf0.01.
    Determinism: entropy is computed as ln(n) − (Σ c·ln c)/n, so the
    only double terms are c·ln(c) of exact BIGINT run lengths, written
    in identical operand order in both engines and summed through
    DECIMAL(27,12) (c·ln c overflows an (18,12) at ~10^5-char docs;
    (27,12) holds to ~10^13-char docs; decimal addition is exact, so
    the sorted-run accumulation order vs the oracle's GROUP BY order
    cannot diverge). Token-less docs drop in both engines."""
    d = load_table(spark, sf_dir, "documents")
    clnc = "cast(cast({r} as double) * ln(cast({r} as double)) as decimal(27,12))"
    close_run = (
        "cast(st.acc + if(st.run = 0, cast(0 as decimal(27,12)), "
        + clnc.format(r="st.run")
        + ") as decimal(27,12))"
    )
    run_expr = f"""
    aggregate(
      array_sort(split(s, '')),
      named_struct('prev', cast(null as string), 'run', cast(0 as bigint),
                   'nd', cast(0 as bigint), 'acc', cast(0 as decimal(27,12))),
      (st, c) -> if(c = st.prev,
          named_struct('prev', st.prev, 'run', st.run + 1,
                       'nd', st.nd, 'acc', st.acc),
          named_struct('prev', c, 'run', cast(1 as bigint),
                       'nd', st.nd + 1, 'acc', {close_run})),
      st -> named_struct('nd', st.nd, 'acc', {close_run}))
    """
    return (
        d.select("doc_id", F.trim(mrl_lower("text")).alias("s"))
        .filter(F.length("s") > 0)
        .select(
            "doc_id",
            F.length("s").cast("long").alias("n_chars_norm"),
            F.expr(run_expr).alias("st"),
        )
        .select(
            "doc_id",
            "n_chars_norm",
            F.col("st.nd").alias("n_distinct_chars"),
            F.floor(
                (
                    F.log(F.col("n_chars_norm").cast("double"))
                    - F.col("st.acc").cast("double")
                    / F.col("n_chars_norm").cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("entropy_e6"),
        )
    )


CHAR_ENTROPY_SQL = r"""
WITH chars AS (
  SELECT doc_id, substring(s, i, 1) AS ch
  FROM (SELECT doc_id, trim(lower(text), ' ') AS s FROM documents),
       LATERAL (SELECT unnest(range(1, length(s) + 1)) AS i) p
), cc AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars_norm,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(floor((ln(CAST(SUM(c) AS DOUBLE))
                   - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                   AS DECIMAL(27,12))) AS DOUBLE)
                     / CAST(SUM(c) AS DOUBLE)) * 1e6) AS BIGINT) AS entropy_e6
FROM cc GROUP BY doc_id
"""


ZIPF_TOP_K = 100  # tokens ranked per source for the slope fit


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope: least-squares slope of ln(freq) on
    ln(rank) over the source's top-K tokens — the corpus-QA statistic
    that separates natural text (slope ≈ −1) from templated/synthetic
    text (shallow slope: ranks decay too slowly) and from
    low-diversity spam (steep slope).

    Plan: one groupBy(source, term) count (map-side combined), per-
    source top-K via a rank window that Spark executes as
    WindowGroupLimit (each shuffle partition retains only K rows per
    source during the sort — never a full per-source vocabulary sort
    buffer), then a K-row-per-source agg. Sources are a bounded set, so
    the K-row tables are trivial at any corpus size. Determinism:
    ranks break count ties by token ASC (total order); x=ln(rank) and
    y=ln(count) are lns of exact integers; Σxy/Σx/Σy/Σx² accumulate
    through DECIMAL(27,12); the closing slope arithmetic is one
    identical double expression. Sources with < 2 ranked tokens drop
    (slope undefined)."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = token_rows(d.repartition(fanout, "doc_id"), "term", "source")
    cnt = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("term"))
    ranked = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ZIPF_TOP_K)
        .select(
            "source",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    dec = lambda col: col.cast("decimal(27,12)")  # noqa: E731
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    nd = F.col("n_ranked").cast("double")
    slope = (
        nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        agg.filter(F.col("n_ranked") >= 2)
        .select(
            "source",
            F.col("n_ranked").cast("long").alias("n_ranked"),
            F.floor(slope * 1e6).cast("long").alias("zipf_slope_e6"),
        )
    )


ZIPF_SLOPE_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'source')}
), cnt AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT source,
         ln(CAST(row_number() OVER (PARTITION BY source
                                    ORDER BY c DESC, term ASC) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, term ASC) AS rk
  FROM cnt
  QUALIFY rk <= {ZIPF_TOP_K}
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_ranked,
         CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx
  FROM ranked GROUP BY source
)
SELECT source, n_ranked,
       CAST(floor(((CAST(n_ranked AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_ranked AS DOUBLE) * sxx - sx * sx)) * 1e6)
            AS BIGINT) AS zipf_slope_e6
FROM agg WHERE n_ranked >= 2
"""


# Closed support for the per-source JS divergence: top-K corpus tokens
# plus ONE '<other>' bucket for everything else. Deliberately small so
# the bucket path is value-verified on the 31-word fixture vocabulary
# in every sweep (a K above the fixture vocab would leave '<other>'
# untested until a Zipf corpus), and so the distribution support — and
# with it the source × vocab grid — is bounded by construction at any
# corpus size.
JSD_TOP_VOCAB = 20


def _jsd_source_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expensive pre-barrier pipeline of ``js_divergence_sources``:
    one tokenize pass → top-K head-term table (TakeOrderedAndProject,
    never a window / global sort) → broadcast-map every token to its
    bucket → per-(source, bucket) exact counts. Factored out so
    `tests/test_plans.py` can pin the plan shape of THIS pipeline —
    the caller immediately puts it behind a localCheckpoint barrier,
    which hides it from the final query's explain output."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = token_rows(d.repartition(fanout, "doc_id"), "term", "source")
    corpus = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # two-stage top-K: partial per-partition heaps → one K-row merge;
    # the broadcast side is exactly K rows regardless of vocabulary size
    topk = (
        corpus.orderBy(F.desc("c"), F.asc("term"))
        .limit(JSD_TOP_VOCAB)
        .select("term", F.col("term").alias("mtok"))
    )
    mapped = toks.join(F.broadcast(topk), "term", "left").select(
        "source", F.coalesce("mtok", F.lit("<other>")).alias("mtok")
    )
    return mapped.groupBy("source", "mtok").agg(F.count(F.lit(1)).alias("cs"))


def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's token
    distribution and the whole-corpus distribution — the drift metric a
    mixture-curation pipeline tracks per ingestion source (JSD is
    symmetric and bounded by ln 2, unlike KL, so a brand-new source
    can't blow the dashboard up on a single unseen token).

    Distributions are over the corpus's top-JSD_TOP_VOCAB tokens plus
    an '<other>' bucket (total order: count DESC, token ASC), so the
    support is closed and identical in both engines. Plan: one
    tokenize pass (``_jsd_source_token_counts`` — its head terms come
    from a two-stage top-K, TakeOrderedAndProject, so ONLY those K rows
    are broadcast and every miss of the left join coalesces to
    '<other>'; no vocabulary-sized table is sorted on one task or
    shipped to executors at any corpus size); per-source and corpus
    counts are map-side-combined aggs over the (K+1)-symbol support;
    the source × vocab grid and the 1-row corpus total are bounded
    broadcasts (no-cartesian allowlist). Determinism: p and q are
    single divisions of exact BIGINTs; each p·ln(p/((p+q)/2)) term is
    written in the identical operand order in both engines and summed
    through DECIMAL(27,12); the closing (Σtp + Σtq)/2 is one double
    expression.

    r12: sc_ is the finest-grained aggregate — every other count the
    query needs (per-token cq, per-source ns, global nq) is an exact
    BIGINT rollup of it. Previously qc/ns/nq each re-aggregated the
    token stream, re-running the tokenize+broadcast-map pipeline (5
    corpus passes, 18-scan plan); now ONE pass builds sc_ (bounded
    state: n_sources × (K+1) rows — always checkpoint-safe) and the
    rollups are integer sums over it, associative and bit-identical."""
    # eager=False, MEASURED (r13): the r12 verdict flagged this as the
    # merge_shards lazy-ckpt/concurrent-broadcast race shape and asked
    # for eager. 7-rep in-process spread at sf0.1 says otherwise: lazy
    # warm 1.70-1.84 s with NO outlier (localCheckpoint caches through
    # the block manager, whose per-partition locking serializes
    # concurrent materialization instead of duplicating it), while
    # eager read 1.89-2.70 s — the extra serialized job costs more than
    # the non-race. The merge_shards 19.3 s pathology came from an
    # UNCACHED interim subtree feeding 8 broadcast futures, a different
    # shape; it was fixed there by removing that ckpt, not by eagerness.
    sc_ = materialize(_jsd_source_token_counts(spark, sf_dir), eager=False)
    qc = sc_.groupBy("mtok").agg(F.sum("cs").alias("cq"))
    ns = sc_.groupBy("source").agg(F.sum("cs").alias("ns"))
    nq = sc_.agg(F.sum("cs").alias("nq"))
    grid = ns.select("source").crossJoin(F.broadcast(qc.select("mtok")))
    pq = (
        grid.join(sc_, ["source", "mtok"], "left")
        .join(qc, "mtok")
        .join(ns, "source")
        .crossJoin(F.broadcast(nq))
        .select(
            "source",
            F.when(F.col("cs").isNull(), F.lit(0.0))
            .otherwise(F.col("cs").cast("double") / F.col("ns").cast("double"))
            .alias("p"),
            (F.col("cq").cast("double") / F.col("nq").cast("double")).alias("q"),
        )
    )
    dec = lambda col: col.cast("decimal(27,12)")  # noqa: E731
    half = lambda x: x / F.lit(2.0)  # noqa: E731
    terms = pq.select(
        "source",
        F.when(
            F.col("p") > 0.0,
            dec(F.col("p") * F.log(F.col("p") / half(F.col("p") + F.col("q")))),
        )
        .otherwise(dec(F.lit(0)))
        .alias("tp"),
        dec(F.col("q") * F.log(F.col("q") / half(F.col("p") + F.col("q")))).alias(
            "tq"
        ),
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.floor(
            ((F.sum("tp").cast("double") + F.sum("tq").cast("double")) / F.lit(2.0))
            * 1e9
        )
        .cast("long")
        .alias("jsd_e9"),
    )


JSD_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'source')}
), corpus AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term
), vocab AS (
  SELECT term,
         CASE WHEN row_number() OVER (ORDER BY c DESC, term ASC)
                   <= {JSD_TOP_VOCAB}
              THEN term ELSE '<other>' END AS mtok
  FROM corpus
), mapped AS (
  SELECT t.source, v.mtok FROM toks t JOIN vocab v ON v.term = t.term
), sc_ AS (
  SELECT source, mtok, CAST(COUNT(*) AS BIGINT) AS cs
  FROM mapped GROUP BY 1, 2
), qc AS (
  SELECT mtok, CAST(COUNT(*) AS BIGINT) AS cq FROM mapped GROUP BY 1
), ns AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM mapped GROUP BY 1
), nq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM mapped
), grid AS (
  SELECT s.source, m.mtok
  FROM (SELECT source FROM ns) s CROSS JOIN (SELECT mtok FROM qc) m
), pq AS (
  SELECT g.source,
         CASE WHEN sc_.cs IS NULL THEN 0.0
              ELSE CAST(sc_.cs AS DOUBLE) / CAST(ns.ns AS DOUBLE) END AS p,
         CAST(qc.cq AS DOUBLE) / CAST(nq.nq AS DOUBLE) AS q
  FROM grid g
  LEFT JOIN sc_ ON sc_.source = g.source AND sc_.mtok = g.mtok
  JOIN qc ON qc.mtok = g.mtok
  JOIN ns ON ns.source = g.source
  CROSS JOIN nq
), terms AS (
  SELECT source,
         CASE WHEN p > 0.0
              THEN CAST(p * ln(p / ((p + q) / 2.0)) AS DECIMAL(27,12))
              ELSE CAST(0 AS DECIMAL(27,12)) END AS tp,
         CAST(q * ln(q / ((p + q) / 2.0)) AS DECIMAL(27,12)) AS tq
  FROM pq
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab,
       CAST(floor(((CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)) / 2.0)
                  * 1e9) AS BIGINT) AS jsd_e9
FROM terms GROUP BY source
"""


COVERAGE_KS = [10, 50, 100, 500]  # vocabulary sizes on the coverage curve


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each K in COVERAGE_KS, the share
    of all corpus token occurrences covered by the K most frequent
    tokens — the curve a tokenizer-budget / vocab-size decision reads
    (how much of the stream does a 10k-type vocab actually explain?).
    Reference parity: composition of the wordcount tokenizer (SURVEY §2
    W1-W2) with a bounded top-K; the reference's wc pipeline feeds the
    same decision in its docs.

    Scale shape: tokenize → ONE map-side-combined hash aggregation
    (state = vocabulary, not tokens) → TakeOrderedAndProject for the
    top max(K) rows. The rank window that follows orders max(K)=500
    rows — bounded by the CONSTANT K, not the corpus, so the
    single-partition window is not a scale hazard (same argument as
    heavy_hitters_tokens' limit). Coverage per K is conditional
    aggregation over those 500 rows; the corpus total is a 1-row
    broadcast. Integer division (DIV) end-to-end — no float path."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_rows(d, "token")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total_tokens"))
    kmax = max(COVERAGE_KS)
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(kmax)
    # bounded window: exactly kmax rows reach it, whatever the corpus size
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
    )
    cov_wide = ranked.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("n")).otherwise(F.lit(0))).alias(
                f"cov_{k}"
            )
            for k in COVERAGE_KS
        ]
    )
    curve = cov_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.col(f"cov_{k}").cast("long").alias("covered_tokens"),
                    )
                    for k in COVERAGE_KS
                ]
            )
        ).alias("s")
    ).select("s.k", "s.covered_tokens")
    return (
        curve.crossJoin(F.broadcast(total))
        # token-less corpus: the groupless aggregates above still emit
        # one all-NULL row each (Spark semantics), which would fan out
        # into K rows of NULLs — DuckDB's GROUP BY over the empty
        # ranked×ks join yields ZERO rows instead. Agree on zero rows:
        # an empty vocabulary has no coverage curve.
        .filter(F.col("covered_tokens").isNotNull())
        .select(
            "k",
            "covered_tokens",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            # nullif: kept as a second guard (a zero-token corpus that
            # somehow reaches the div must yield NULL like DuckDB's //,
            # not an ANSI DIVIDE_BY_ZERO)
            F.expr("(10000 * covered_tokens) div nullif(total_tokens, 0)").alias(
                "coverage_bps"
            ),
        )
    )


VOCAB_COVERAGE_SQL = rf"""
WITH counts AS (
  SELECT token, COUNT(*) AS n
  FROM (SELECT unnest({sql_ws_split('lower(text)')}) AS token
        FROM documents)
  WHERE length(token) > 0
  GROUP BY token
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rk
  FROM counts
  ORDER BY n DESC, token ASC
  LIMIT {max(COVERAGE_KS)}
), total AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM counts
), ks(k) AS (
  VALUES {', '.join(f'({k})' for k in COVERAGE_KS)}
), cov AS (
  SELECT CAST(ks.k AS INT) AS k,
         CAST(SUM(CASE WHEN rk <= ks.k THEN n ELSE 0 END) AS BIGINT)
           AS covered_tokens
  FROM ranked CROSS JOIN ks
  GROUP BY ks.k
)
SELECT k, covered_tokens, total_tokens,
       (10000 * covered_tokens) // NULLIF(total_tokens, 0) AS coverage_bps
FROM cov CROSS JOIN total
"""


def fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per predicted language: BPE-ish regex tokens
    per whitespace word and chars per BPE token, stratified by the
    stopword language-ID — the multilingual-tokenizer health metric
    (a language whose fertility balloons is being byte-fragmented, and
    its effective context window shrinks proportionally).

    Composition of the certified lang_id argmax and token_stats
    counters: one scan computes per-doc (pred_lang, ws, bpe, chars)
    entirely in JVM codegen, then ONE map-side-combined aggregation on
    the (≤5-value) language key. Ratios in integer basis points via
    exact DIV — no float path, hash-deterministic at any scale."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        ws_count("text").alias("ws_toks"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("bpe_toks"),
        F.length("text").cast("long").alias("n_chars"),
        *lang_hits(),
    )
    return (
        scored.select(lang_argmax().alias("pred_lang"), "ws_toks", "bpe_toks", "n_chars")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_toks").alias("total_ws_tokens"),
            F.sum("bpe_toks").alias("total_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "pred_lang",
            "n_docs",
            "total_ws_tokens",
            "total_bpe_tokens",
            "total_chars",
            F.expr("(10000 * total_bpe_tokens) div total_ws_tokens").alias(
                "fertility_bps"
            ),
            # nullif: a stratum of whitespace-only/empty docs (all 'und')
            # has bpe_toks=0, and Spark 4.1 runs ANSI mode — a bare div
            # throws DIVIDE_BY_ZERO while DuckDB's // returns NULL; NULL
            # on both sides keeps the engines agreeing on degenerate
            # corpora instead of crash-vs-NULL diverging
            F.expr(
                "(10000 * total_chars) div nullif(total_bpe_tokens, 0)"
            ).alias("chars_per_bpe_bps"),
        )
    )


FERTILITY_SQL = rf"""
WITH scored AS (
  SELECT {sql_ws_count('text')} AS ws_toks,
         CAST(len(regexp_extract_all(text,
              '{BPE_TOKEN_RE}')) AS BIGINT) AS bpe_toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         {sql_lang_hits()}
  FROM documents
), labeled AS (
  SELECT {sql_lang_argmax()} AS pred_lang, ws_toks, bpe_toks, n_chars FROM scored
)
SELECT pred_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_toks) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_toks) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       (10000 * CAST(SUM(bpe_toks) AS BIGINT)) // CAST(SUM(ws_toks) AS BIGINT)
         AS fertility_bps,
       (10000 * CAST(SUM(n_chars) AS BIGINT))
         // NULLIF(CAST(SUM(bpe_toks) AS BIGINT), 0) AS chars_per_bpe_bps
FROM labeled
GROUP BY pred_lang
"""


TEXT_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "text_js_divergence",
            js_divergence_sources,
            JSD_SQL,
            "per-source Jensen-Shannon divergence vs the corpus token distribution",
        ),
        Query(
            "text_collocation_lift",
            collocation_lift,
            COLLOCATION_SQL,
            "top-M token co-occurrence lift (integer-exact PMI ratio)",
        ),
        Query("text_lang_id", lang_id, LANG_ID_SQL, "stopword language ID"),
        Query(
            "text_char_entropy",
            char_entropy,
            CHAR_ENTROPY_SQL,
            "per-doc character-distribution Shannon entropy (garbage detector)",
        ),
        Query(
            "text_zipf_slope",
            zipf_slope,
            ZIPF_SLOPE_SQL,
            "per-source Zipf slope of ln(freq) on ln(rank) over top-K tokens",
        ),
        Query(
            "text_vocab_coverage",
            vocab_coverage,
            VOCAB_COVERAGE_SQL,
            "corpus token-occurrence coverage of the top-K vocabulary, K in {10,50,100,500}",
        ),
        Query(
            "text_fertility_by_lang",
            fertility_by_lang,
            FERTILITY_SQL,
            "BPE-per-word fertility and chars-per-token by predicted language",
        ),
        Query("text_quality_score", quality_score, QUALITY_SQL, "quality features"),
        Query("text_token_stats", token_stats, TOKEN_STATS_SQL, "token counting"),
        Query("text_doc_fingerprint", doc_fingerprint, FINGERPRINT_SQL, "content fingerprints"),
        Query("text_tfidf_top_terms", tfidf_top_terms, TFIDF_SQL, "per-doc tf-idf top terms"),
        Query("text_rolling_hash", rolling_hash, ROLLING_HASH_SQL, "Rabin–Karp rolling fingerprint"),
        Query(
            "sketch_distinct_tokens",
            sketch_distinct_tokens,
            SKETCH_DISTINCT_SQL,
            "HLL++ distinct-token cardinality per source (tolerance-flagged)",
        ),
        Query(
            "sketch_quantiles_price",
            sketch_quantiles_price,
            SKETCH_QUANTILES_SQL,
            "GK quantile sketch (exact-mode) per return flag",
        ),
        Query(
            "sketch_cms_token_freq",
            sketch_cms_token_freq,
            CMS_SQL,
            "Count-Min sketch frequency estimates for top-k tokens (fully value-oracled)",
        ),
        Query(
            "sketch_cms_merge_shards",
            sketch_cms_merge_shards,
            CMS_MERGE_SQL,
            "per-shard CMS sketches merged cell-wise == direct global sketch",
        ),
        Query(
            "text_unigram_logprob",
            unigram_logprob,
            UNIGRAM_LOGPROB_SQL,
            "perplexity-proxy quality: mean -ln p(token) under the corpus unigram model",
        ),
        Query(
            "text_bigram_logprob",
            bigram_logprob,
            BIGRAM_LOGPROB_SQL,
            "held-out bigram LM with stupid backoff: per-doc mean NLL + backoff rate",
        ),
    ]
}
