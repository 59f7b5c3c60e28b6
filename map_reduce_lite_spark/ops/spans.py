"""Exact substring-level dedup and document chunking.

Whole-document dedup (ops/dedup.py) misses the dominant contamination
mode in web-scale pretraining corpora: long verbatim token spans that
recur inside otherwise-distinct documents (boilerplate, license
blurbs, templated text). The published remedy is exact substring
dedup over fixed-length token windows (Lee et al., "Deduplicating
Training Data Makes Language Models Better" uses 50-token spans over a
suffix array). A suffix array is a single-machine construction; the
distributed re-expression is a hashed shingle inverted index — exactly
the shape below: tokenize → slide a K-token window → one groupBy on
the span. The reference engine has no span operator (its text surface
is wc/grep — SURVEY.md §2.2); this module is part of the
training-data-pipeline extension surface.

Scale notes (100 TB):
- Span generation is a per-row JVM expression (split + transform +
  slice): no Python, no state, scan-bound. The row explosion is
  ~n_tokens rows per doc at stride 1 — the documented cost of EXACT
  substring dedup; SPAN_STRIDE is the lever (stride s cuts emitted
  spans by s× and still catches any duplicated run of length
  >= SPAN_TOKENS + s - 1).
- The single shuffle keys on the span text. Hot boilerplate spans are
  exactly the skew risk; at cluster scale the groupBy is
  partial-aggregated map-side (COUNT/COUNT DISTINCT via partial
  aggregation), so a hot span ships one partial row per task, not one
  row per occurrence.
- Chunking is pure per-row expression work — zero shuffle, the ideal
  Spark operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import (
    Query,
    md5_60bit,
    mrl_lower,
    sql_md5_60bit,
    sql_ws_tokens,
    ws_tokens,
)
from map_reduce_lite_spark.relational.tables import load_table

SPAN_TOKENS = 8   # window length in tokens (Lee et al. use 50; corpus docs here are ~60 tokens)
SPAN_STRIDE = 1   # stride 1 = exact; raise to trade recall for volume
SPAN_MIN_DOCS = 2  # a span is boilerplate once it appears in >= 2 distinct docs

CHUNK_CHARS = 160   # chunk length in characters
CHUNK_STRIDE = 120  # overlap = CHUNK_CHARS - CHUNK_STRIDE = 40 chars


def _tokens_col(d: DataFrame) -> DataFrame:
    """Materialize the token array as a column attribute BEFORE any
    higher-order span construction. Subexpressions inside transform()
    lambdas are NOT common-subexpression-eliminated, so tokenization
    inlined into the lambda re-splits the text once per span position —
    O(n_tokens²) work per document (measured 7× slower at sf0.1). A
    projected column is evaluated once per row and referenced by
    attribute from the lambda."""
    return d.select("doc_id", ws_tokens(mrl_lower("text")).alias("toks"))


_SQL_TOKS = sql_ws_tokens("lower(text)")


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate span index: every K-token span that appears in >= 2
    distinct documents, with document and occurrence counts.

    Plan: scan → per-row span explosion (JVM expressions only) → ONE
    groupBy(span) with partial aggregation. The output is the
    inverted-index head a cleaning pass would broadcast to strip
    boilerplate (cf. curation_repetition_filter for the
    within-document analogue)."""
    t = _tokens_col(load_table(spark, sf_dir, "documents"))
    n = F.size("toks")
    # guard: sequence(1, 0) would generate a DESCENDING range in Spark,
    # so emit no starts when the doc is shorter than the window
    starts = F.when(
        n >= SPAN_TOKENS,
        F.sequence(F.lit(1), n - SPAN_TOKENS + 1, F.lit(SPAN_STRIDE)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    spans = F.transform(
        starts, lambda i: F.array_join(F.slice(F.col("toks"), i, SPAN_TOKENS), " ")
    )
    exploded = t.select("doc_id", F.explode(spans).alias("span"))
    return (
        exploded.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .select("span", "n_docs", "n_occ", md5_60bit(F.col("span")).alias("span_hash"))
    )


DEDUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), spans AS (
  -- t[i : i+K-1] is 1-based inclusive slicing (K elements);
  -- range() is exclusive-stop so short docs yield an empty range
  SELECT doc_id, array_to_string(t[i : i + {SPAN_TOKENS - 1}], ' ') AS span
  FROM toks, LATERAL (
    SELECT unnest(range(1, len(t) - {SPAN_TOKENS} + 2, {SPAN_STRIDE})) AS i
  ) s
)
SELECT span,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       {sql_md5_60bit('span')} AS span_hash
FROM spans
GROUP BY span
HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
"""


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size character chunks per document — the
    standard pre-embedding / pre-tokenization segmentation step
    (context-window packing feeds on these).

    Pure per-row expression work: sequence → explode → substr. Zero
    shuffle, scan-bound, embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    offs = F.sequence(F.lit(1), F.length("text"), F.lit(CHUNK_STRIDE))
    e = d.select("doc_id", "text", F.explode(offs).alias("chunk_off"))
    chunk = F.col("text").substr(F.col("chunk_off"), F.lit(CHUNK_CHARS))
    return e.select(
        "doc_id",
        F.floor((F.col("chunk_off") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("chunk_off").cast("int").alias("chunk_off"),
        chunk.alias("chunk"),
        F.length(chunk).cast("int").alias("chunk_len"),
        md5_60bit(chunk).alias("chunk_hash"),
    )


CHUNK_SQL = f"""
SELECT doc_id,
       CAST((i - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(i AS INT) AS chunk_off,
       substr(text, CAST(i AS INT), {CHUNK_CHARS}) AS chunk,
       CAST(length(substr(text, CAST(i AS INT), {CHUNK_CHARS})) AS INT) AS chunk_len,
       {sql_md5_60bit(f'substr(text, CAST(i AS INT), {CHUNK_CHARS})')} AS chunk_hash
FROM documents, LATERAL (
  SELECT unnest(range(1, length(text) + 1, {CHUNK_STRIDE})) AS i
) s
"""


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLEANING pass over the boilerplate span index: rewrite the
    corpus with every duplicated K-token span occurrence REMOVED except
    the global-first one (Lee et al. 2022 keep one copy of each
    duplicated span; the canonical occurrence here is the
    lexicographic min of (doc_id, position), picked by a
    partial-aggregable min-over-struct — never a per-span row_number
    window, which a million-occurrence boilerplate span would turn
    into one hot task).

    Plan: span occurrences (same per-row JVM explosion as
    dedup_substring_spans, positions kept) → ONE groupBy(span) for
    {n_docs, first occurrence} → join occurrences back on span (only
    duplicated-span rows survive) → explode each non-canonical
    occurrence into its K covered token positions → per-doc position
    set (bounded by the doc's own token count) → equi-join onto the
    corpus and filter the token array by position JVM-side. The corpus
    is never shuffled token-exploded: only deletion rows — bounded by
    duplicate occurrences × K — move through the shuffles. Cleaned
    text is the kept tokens joined with single spaces (tokenized
    canonical form, same convention as the rest of the text family)."""
    t = _tokens_col(load_table(spark, sf_dir, "documents"))
    n = F.size("toks")
    starts = F.when(
        n >= SPAN_TOKENS,
        F.sequence(F.lit(1), n - SPAN_TOKENS + 1, F.lit(SPAN_STRIDE)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    occ = t.select(
        "doc_id",
        F.explode(starts).alias("pos"),
        F.col("toks"),
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.slice(F.col("toks"), F.col("pos"), SPAN_TOKENS), " ").alias(
            "span"
        ),
    )
    bp = (
        occ.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))).alias(
                "first"
            ),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .select("span", "first")
    )
    dels = (
        occ.join(bp, "span")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first.d"))
                & (F.col("pos") == F.col("first.p"))
            )
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_TOKENS - 1))
            ).alias("dp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("dp").alias("dels"))
    )
    joined = t.join(dels, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(F.col("dels"), F.expr("array()").cast("array<int>")).alias("dels"),
    )
    # Kept tokens via position-set difference: array_except builds a hash
    # set of `dels` once per row — O(n_tokens + n_dels) — where the
    # earlier per-token array_contains lambda rescanned dels for every
    # token (O(n·d), quadratic on a boilerplate-saturated doc).
    # array_except preserves left-operand order, so positions stay
    # ascending and token order is untouched. Guarded: sequence(1, 0)
    # would generate a DESCENDING [1, 0] for an empty token array.
    n_toks = F.size("toks")
    kept_pos = F.when(
        n_toks >= 1, F.array_except(F.sequence(F.lit(1), n_toks), F.col("dels"))
    ).otherwise(F.expr("array()").cast("array<int>"))
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col("toks"), p))
    cleaned = F.array_join(kept, " ")
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        cleaned.alias("cleaned_text"),
        md5_60bit(cleaned).alias("cleaned_hash"),
    )


SPAN_REMOVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), occ AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(t[i : i + {SPAN_TOKENS - 1}], ' ') AS span
  FROM toks, LATERAL (
    SELECT unnest(range(1, len(t) - {SPAN_TOKENS} + 2, {SPAN_STRIDE})) AS i
  ) s
), bp AS (
  SELECT span, min(struct_pack(d := doc_id, p := pos)) AS first
  FROM occ
  GROUP BY span
  HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
), dels AS (
  SELECT o.doc_id, list(DISTINCT u.dp) AS dels
  FROM occ o
  JOIN bp b USING (span),
  LATERAL (SELECT unnest(range(o.pos, o.pos + {SPAN_TOKENS})) AS dp) u
  WHERE NOT (o.doc_id = b.first.d AND o.pos = b.first.p)
  GROUP BY o.doc_id
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(len(tk.t) - len(k.kept) AS BIGINT) AS n_removed,
       -- DuckDB array_to_string([]) is NULL where Spark's is '' —
       -- coalesce pins the engines to the same empty-doc rendering
       coalesce(array_to_string(k.kept, ' '), '') AS cleaned_text,
       {sql_md5_60bit("coalesce(array_to_string(k.kept, ' '), '')")}
         AS cleaned_hash
FROM toks tk
LEFT JOIN dels d ON d.doc_id = tk.doc_id,
LATERAL (SELECT list_filter(tk.t,
           (x, i) -> NOT list_contains(coalesce(d.dels, []), i)) AS kept) k
"""


BPE_TOP_K = 32  # merge candidates surfaced per round


def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-token-pair counts — the inner statistic of one BPE
    merge round (count all adjacent symbol pairs, merge the most
    frequent). Here the symbols are whitespace tokens: the corpus-wide
    ranking a distributed tokenizer trainer recomputes each round.

    Plan: per-row pair explosion (zip_with of the token array against
    its shift-by-one — pure O(n) array work per row) → ONE
    map-side-combined groupBy → TakeOrderedAndProject for the global
    top-k (no full sort, no single-partition window). The (count desc,
    pair asc) order is total, so the top-k set is deterministic."""
    t = _tokens_col(load_table(spark, sf_dir, "documents"))
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("toks"), F.lit(1), m),
        F.slice(F.col("toks"), F.lit(2), m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        t.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


BPE_MERGES_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), pairs AS (
  SELECT array_to_string(t[i : i + 1], ' ') AS pair
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
)
SELECT pair, COUNT(*) AS n_occ
FROM pairs
GROUP BY pair
ORDER BY n_occ DESC, pair ASC
LIMIT {BPE_TOP_K}
"""


# Merges applied by the inference-side query below — the head of the
# learned merge ranking. One round's statistics applied in rank order
# is exactly how a trained merge list is applied at tokenization time.
BPE_APPLY_M = 8


def vocab_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the top-M learned BPE merges and measure the compression —
    the inference half of the tokenizer-training loop whose training
    half is ``vocab_bpe_merges`` (learn → APPLY → measure).

    Mechanics: each document becomes a token body where EVERY token is
    flanked by ``\\n`` on both sides (so consecutive tokens are
    separated by ``\\n\\n`` and the body starts/ends with one ``\\n``),
    and merge i rewrites the literal ``\\n<a>\\n\\n<b>\\n`` to
    ``\\n<a>_<b>\\n`` — plain left-to-right non-overlapping literal
    replacement, which is BPE's greedy pairing and means the same
    thing in Spark (Java String.replace) and DuckDB (replace()). The
    trailing ``\\n`` in the pattern is the token-boundary guard: a
    bare ``\\n<a>\\n<b>`` prefix pattern would also fire when <b> is a
    proper PREFIX of the next token (pair (x, a) merging into token
    "agg"), over-merging and inflating saved_bps; the doubled
    separator keeps adjacent repeats mergeable ([a,b,a,b] → two
    merges) because each replacement re-emits both boundary newlines,
    preserving the flanking invariant for later merges. Merges are
    applied in learned rank order, so later merges see earlier merges'
    output exactly as a real tokenizer would. Token counts come from
    counting newlines — every token contributes exactly two, and each
    merge drops two — so n_after = newlines/2 with no re-tokenization
    (empty docs guarded to 0).

    Scale shape: the merge table is one corpus pair-count aggregation
    (the learner's plan) reduced to a 1-row pivot and broadcast; the
    application pass is a PURE MAP over the corpus (M literal replaces
    per row) feeding one per-source aggregation. Nothing corpus-sized
    shuffles except the tiny (source) agg keys."""
    d = load_table(spark, sf_dir, "documents")
    merges = vocab_bpe_merges(spark, sf_dir).limit(BPE_APPLY_M)
    w = Window.orderBy(F.desc("n_occ"), F.asc("pair"))
    piv = (
        merges.withColumn("rk", F.row_number().over(w))
        .groupBy()
        .agg(
            *[
                F.max(F.when(F.col("rk") == i, F.col("pair"))).alias(f"p{i}")
                for i in range(1, BPE_APPLY_M + 1)
            ]
        )
    )
    toks = ws_tokens(mrl_lower("text"))
    body = F.concat(F.lit("\n"), F.array_join(toks, "\n\n"), F.lit("\n"))
    applied = body
    # a merge slot can be NULL on a corpus with < M distinct pairs;
    # coalesce to a \x01 sentinel no token body can contain
    for i in range(1, BPE_APPLY_M + 1):
        p = F.coalesce(F.col(f"p{i}"), F.lit("\x01"))
        pat = F.concat(
            F.lit("\n"), F.replace(p, F.lit(" "), F.lit("\n\n")), F.lit("\n")
        )
        rep = F.concat(
            F.lit("\n"), F.replace(p, F.lit(" "), F.lit("_")), F.lit("\n")
        )
        applied = F.replace(applied, pat, rep)
    # Two newlines per surviving token; empty docs guarded (their body
    # is "\n\n" which would otherwise read as one phantom token).
    n_after = F.when(F.size(toks) == 0, F.lit(0)).otherwise(
        (
            (
                F.length(applied)
                - F.length(F.replace(applied, F.lit("\n"), F.lit("")))
            )
            / 2
        ).cast("int")
    )
    per_doc = d.crossJoin(F.broadcast(piv)).select(
        "source",
        F.size(toks).alias("n_before"),
        n_after.alias("n_after"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_before").alias("tokens_before"),
            F.sum("n_after").alias("tokens_after"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_before",
            "tokens_after",
            F.expr(
                "(10000 * (tokens_before - tokens_after)) div tokens_before"
            ).alias("saved_bps"),
        )
    )


def _bpe_apply_sql() -> str:
    piv_cols = ", ".join(
        f"MAX(CASE WHEN rk = {i} THEN pair END) AS p{i}"
        for i in range(1, BPE_APPLY_M + 1)
    )
    applied = "chr(10) || array_to_string(t, chr(10) || chr(10)) || chr(10)"
    for i in range(1, BPE_APPLY_M + 1):
        p = f"COALESCE(p{i}, chr(1))"
        pat = f"chr(10) || replace({p}, ' ', chr(10) || chr(10)) || chr(10)"
        rep = f"chr(10) || replace({p}, ' ', '_') || chr(10)"
        applied = f"replace({applied}, {pat}, {rep})"
    return f"""
WITH toks AS (
  SELECT source, {_SQL_TOKS} AS t FROM documents
), pairs AS (
  SELECT array_to_string(t[i : i + 1], ' ') AS pair
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
), merges AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM pairs GROUP BY pair
  ORDER BY n_occ DESC, pair ASC
  LIMIT {BPE_APPLY_M}
), ranked AS (
  SELECT pair, row_number() OVER (ORDER BY n_occ DESC, pair ASC) AS rk
  FROM merges
), piv AS (
  SELECT {piv_cols} FROM ranked
), applied AS (
  SELECT source,
         CAST(len(t) AS BIGINT) AS n_before,
         CAST(CASE WHEN len(t) = 0 THEN 0
              ELSE (length({applied}) -
                    length(replace({applied}, chr(10), ''))) // 2
              END AS BIGINT) AS n_after
  FROM toks CROSS JOIN piv
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_before) AS BIGINT) AS tokens_before,
       CAST(SUM(n_after) AS BIGINT) AS tokens_after,
       CAST((10000 * (SUM(n_before) - SUM(n_after))) // SUM(n_before)
            AS BIGINT) AS saved_bps
FROM applied
GROUP BY source
"""


BPE_APPLY_SQL = _bpe_apply_sql()


SPAN_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query(
            "dedup_substring_spans",
            dedup_substring_spans,
            DEDUP_SPANS_SQL,
            "exact K-token substring dedup (hashed shingle inverted index)",
        ),
        Query(
            "dedup_span_removal",
            dedup_span_removal,
            SPAN_REMOVAL_SQL,
            "corpus rewrite with duplicated K-token spans removed (keep global-first occurrence)",
        ),
        Query(
            "text_chunk_documents",
            text_chunk_documents,
            CHUNK_SQL,
            "overlapping fixed-size character chunking",
        ),
        Query(
            "vocab_bpe_apply",
            vocab_bpe_apply,
            BPE_APPLY_SQL,
            "apply the top-M learned BPE merges; per-source compression",
        ),
        Query(
            "vocab_bpe_merges",
            vocab_bpe_merges,
            BPE_MERGES_SQL,
            "BPE merge-round statistic: global top-k adjacent token pairs",
        ),
    ]
}
