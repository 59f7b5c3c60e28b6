"""Training-data curation operators beyond dedup: PII redaction,
benchmark-contamination checks, repetition filtering, deterministic
train/val/test splits, mixture sampling, and sequence packing.

These are the remaining first-class pieces of a pretraining ingest
(alongside ops/dedup.py, ops/text.py, ops/pipeline.py). The reference
has no analog (driver-mandated extension surface); every operator here
is a single declarative DataFrame plan with a DuckDB oracle twin.

Scale shapes, per operator:
- pii_redact: pure per-row projection (regexp_replace/regexp_count in
  whole-stage codegen) + one map-side-combined groupBy. No joins.
- contamination: the benchmark n-gram set is tiny relative to the
  corpus (holdout docs only) — it is explicitly broadcast, so the
  corpus-side shingle stream never shuffles for the join; the per-doc
  hit count is a map-side-combined groupBy on doc id.
- repetition_filter: per-doc bigram counts — one shuffle keyed by doc
  (pre-aligned by token_positions' repartition), then a window-free two-level
  agg. No corpus self-join anywhere.
- train_split / mixture_plan: stateless per-row hash routing (portable
  md5 — identical on any engine, any cluster size, any partitioning,
  unlike rand(seed) which is partition-dependent) + one groupBy.
- sequence_packing: cumulative token sums within (source) partitions —
  one window sort per source partition, closed-form bin math, no
  iteration. At 100 TB, sources are the natural pack-within unit; a
  global pack would serialize on one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.dedup import shingles, sql_shingles
from map_reduce_lite_spark.registry import (
    Query,
    md5_60bit,
    mrl_lower,
    sql_md5_60bit,
    sql_token_positions,
    sql_token_rows,
    sql_ws_count,
    token_positions,
    token_rows,
    ws_count,
    ws_tokens,
)
from map_reduce_lite_spark.relational.tables import load_table

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Regex subset chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround. Pluggable in production —
# these two are the canonical email/phone demo pair.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"
_CHECKSUM_MOD = 1000003  # keep the per-source checksum sum far from BIGINT overflow


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask emails then phone numbers; per-source redaction audit.

    The synthetic corpus contains no natural PII (verified: zero digits
    or '@' in any document), so the query first appends a DETERMINISTIC
    contact footer derived from doc_id — the fixture makes the masking
    measurably non-vacuous while keeping the operator itself (the regex
    mask + audit aggregation) the real, reusable piece. Output columns:
    (source, n_docs, emails_masked, phones_masked, redacted_checksum)
    where the checksum is sum(md5_60bit(redacted_text) % 1000003) —
    proving both engines produced byte-identical redacted text."""
    d = load_table(spark, sf_dir, "documents")
    contact = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("."),
    )
    with_pii = d.select("doc_id", "source", contact.alias("raw"))
    emails = F.regexp_count(F.col("raw"), F.lit(EMAIL_RE))
    no_email = F.regexp_replace(F.col("raw"), EMAIL_RE, "[EMAIL]")
    phones = F.regexp_count(no_email, F.lit(PHONE_RE))
    redacted = F.regexp_replace(no_email, PHONE_RE, "[PHONE]")
    audited = with_pii.select(
        "source",
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        (md5_60bit(redacted) % _CHECKSUM_MOD).alias("csum"),
    )
    return audited.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("emails_masked"),
        F.sum("n_phones").alias("phones_masked"),
        F.sum("csum").alias("redacted_checksum"),
    )


PII_REDACT_SQL = rf"""
WITH with_pii AS (
  SELECT doc_id, source,
         text || ' Contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.org or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS raw
  FROM documents
), masked AS (
  SELECT source,
         len(regexp_extract_all(raw, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(regexp_replace(raw, '{EMAIL_RE}', '[EMAIL]', 'g'),
                                '{PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '[EMAIL]', 'g'),
                        '{PHONE_RE}', '[PHONE]', 'g') AS redacted
  FROM with_pii
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_emails) AS BIGINT) AS emails_masked,
       CAST(SUM(n_phones) AS BIGINT) AS phones_masked,
       CAST(SUM({sql_md5_60bit('redacted')} % {_CHECKSUM_MOD}) AS BIGINT)
         AS redacted_checksum
FROM masked GROUP BY source
"""


# --------------------------------------------------------------------------
# Benchmark-contamination check
# --------------------------------------------------------------------------

HOLDOUT_MOD = 97  # doc_id % 97 == 0 stands in for "the benchmark set"


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-set contamination against a benchmark set.

    The benchmark is the doc_id % 97 == 0 holdout (stand-in for an eval
    suite); a training doc is contaminated iff it shares ≥1 word
    3-shingle with any benchmark doc. Output: (source, n_train,
    n_contaminated, n_hit_shingles) where n_hit_shingles counts the
    distinct (doc, shingle) collisions.

    Scale: the benchmark shingle set is tiny (the holdout, not the
    corpus) — broadcast, so the training shingle stream joins without a
    shuffle; contaminated-doc detection is a semi-join-shaped groupBy
    on ids only, never on text."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d)
    bench = F.broadcast(
        sh.join(
            d.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select(
                F.col("doc_id").alias("doc")
            ),
            "doc",
        )
        .select("shingle")
        .distinct()
    )
    train = sh.join(
        d.filter(F.col("doc_id") % HOLDOUT_MOD != 0).select(F.col("doc_id").alias("doc")),
        "doc",
    )
    hits = train.join(bench, "shingle").groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_doc = (
        d.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
        .select(F.col("doc_id").alias("doc"), "source")
        .join(hits, "doc", "left")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.coalesce((F.col("n_hits") > 0).cast("long"), F.lit(0))).alias(
            "n_contaminated"
        ),
        F.sum(F.coalesce("n_hits", F.lit(0))).alias("n_hit_shingles"),
    )


CONTAMINATION_SQL = f"""
WITH sh AS ({sql_shingles('documents')}
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc % {HOLDOUT_MOD} = 0
), train AS (
  SELECT doc, shingle FROM sh WHERE doc % {HOLDOUT_MOD} <> 0
), hits AS (
  SELECT t.doc, COUNT(*) AS n_hits
  FROM train t JOIN bench b ON t.shingle = b.shingle
  GROUP BY t.doc
)
SELECT d.source, COUNT(*) AS n_train,
       CAST(SUM(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(COALESCE(h.n_hits, 0)) AS BIGINT) AS n_hit_shingles
FROM documents d LEFT JOIN hits h ON h.doc = d.doc_id
WHERE d.doc_id % {HOLDOUT_MOD} <> 0
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# Repetition (quality) filter
# --------------------------------------------------------------------------

REPETITION_MAX_SHARE = 0.08  # Gopher-style gate on the top bigram's share


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag docs whose most-repeated word bigram exceeds 8% of all
    bigrams (the Rae et al. 2021 repetition family of quality gates).

    Output: (source, n_docs, n_flagged, share_e6_sum) where share_e6_sum
    is sum(floor(1e6 * max_share)) — an exact-integer aggregate of the
    per-doc shares, immune to float summation order.

    Scale: bigram multiplicities need one shuffle keyed by doc (already
    aligned by token_positions' repartition); both aggregation levels map-side
    combine. Nothing is quadratic; no text leaves the scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = token_positions(d)
    w = Window.partitionBy("doc").orderBy("pos")
    bg = (
        toks.select("doc", F.concat_ws(" ", F.col("token"), F.lead("token", 1).over(w)).alias("g"),
                    F.lead("token", 1).over(w).alias("_t"))
        .filter(F.col("_t").isNotNull())
        .select("doc", "g")
    )
    counts = bg.groupBy("doc", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("max_c")
    )
    share = F.col("max_c").cast("double") / F.col("n_bigrams").cast("double")
    flagged = per_doc.select(
        "doc",
        (share > F.lit(REPETITION_MAX_SHARE)).cast("long").alias("flag"),
        F.floor(share * 1e6).cast("long").alias("share_e6"),
    )
    d_src = d.select(F.col("doc_id").alias("doc"), "source")
    return d_src.join(flagged, "doc").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("flag").alias("n_flagged"),
        F.sum("share_e6").alias("share_e6_sum"),
    )


REPETITION_SQL = rf"""
WITH toks AS ({sql_token_positions('documents', 'text', 'doc_id AS doc')}
), bg AS (
  SELECT doc, token || ' ' || lead(token, 1) OVER w AS g
  FROM toks WINDOW w AS (PARTITION BY doc ORDER BY pos)
  QUALIFY lead(token, 1) OVER w IS NOT NULL
), counts AS (
  SELECT doc, g, COUNT(*) AS c FROM bg GROUP BY doc, g
), per_doc AS (
  SELECT doc, SUM(c) AS n_bigrams, MAX(c) AS max_c FROM counts GROUP BY doc
), flagged AS (
  SELECT doc,
         CASE WHEN CAST(max_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                   > {REPETITION_MAX_SHARE}::DOUBLE THEN 1 ELSE 0 END AS flag,
         CAST(floor(1e6 * (CAST(max_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)))
              AS BIGINT) AS share_e6
  FROM per_doc
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(f.flag) AS BIGINT) AS n_flagged,
       CAST(SUM(f.share_e6) AS BIGINT) AS share_e6_sum
FROM documents d JOIN flagged f ON f.doc = d.doc_id
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

TRAIN_PCT = 80
VAL_PCT = 10  # test gets the remainder


def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-route every doc into train/val/test (80/10/10) and report
    per-split stats: (split, n_docs, n_tokens, n_sources).

    The router is a portable md5 of the doc id — NOT rand(seed), which
    depends on partitioning and row order, silently reshuffling the
    split on every repartition. A hash split is stable under any
    cluster size, input order, or engine — the property that matters
    when the split must be reproducible across a 100 TB re-run."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_60bit(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    n_tokens = ws_count("text")
    return (
        d.select(split.alias("split"), "source", n_tokens.alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


TRAIN_SPLIT_SQL = rf"""
WITH routed AS (
  SELECT CASE
           WHEN {sql_md5_60bit("CAST(doc_id AS VARCHAR)")} % 100 < {TRAIN_PCT} THEN 'train'
           WHEN {sql_md5_60bit("CAST(doc_id AS VARCHAR)")} % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split,
         source,
         {sql_ws_count('text')} AS n_tokens
  FROM documents
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT source) AS n_sources
FROM routed GROUP BY split
"""


# --------------------------------------------------------------------------
# Mixture sampling plan
# --------------------------------------------------------------------------

MIX_RATE_HI = 80  # % kept from even-numbered sources (the "high-quality" pile)
MIX_RATE_LO = 30  # % kept from odd-numbered sources


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (α = 0.5): the multilingual-
    pretraining rebalance w_i ∝ n_i^α that upweights small sources
    relative to raw proportional sampling. Output per source: token
    count, raw proportional share, temperature share (both exact bps),
    and boost_flag (whether the source gained weight).

    Determinism: sqrt is IEEE-754 correctly rounded — bit-identical in
    both engines — and everything downstream stays integer:
    s_i = floor(sqrt(n_i) · 1e6) is an exact int64, the denominators
    are exact integer SUMs (order-free), and the shares are floor
    divisions. No order-dependent float accumulation anywhere.

    Scale: one map-side-combined agg over the corpus to (source,
    n_tokens); the rebalance math runs on the #sources-row table
    against two 1-row broadcast scalar totals."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = ws_count("text")
    per_src = d.select("source", n_tokens.alias("t")).groupBy("source").agg(
        F.sum("t").alias("n_tokens")
    )
    scaled = per_src.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6)
        .cast("long")
        .alias("s"),
    )
    totals = scaled.agg(
        F.sum("n_tokens").alias("tot_n"), F.sum("s").alias("tot_s")
    )
    return (
        scaled.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            F.floor(F.lit(10000) * F.col("n_tokens") / F.col("tot_n"))
            .cast("long")
            .alias("raw_share_bps"),
            F.floor(F.lit(10000) * F.col("s") / F.col("tot_s"))
            .cast("long")
            .alias("temp_share_bps"),
        )
        .withColumn(
            "boosted", F.col("temp_share_bps") > F.col("raw_share_bps")
        )
    )


MIXTURE_TEMP_SQL = rf"""
WITH per_src AS (
  SELECT source,
         CAST(SUM({sql_ws_count('text')}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), scaled AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS s
  FROM per_src
), totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_n,
         CAST(SUM(s) AS BIGINT) AS tot_s
  FROM scaled
)
SELECT sc.source, sc.n_tokens,
       CAST(floor(10000.0 * sc.n_tokens / t.tot_n) AS BIGINT) AS raw_share_bps,
       CAST(floor(10000.0 * sc.s / t.tot_s) AS BIGINT) AS temp_share_bps,
       CAST(floor(10000.0 * sc.s / t.tot_s) AS BIGINT)
         > CAST(floor(10000.0 * sc.n_tokens / t.tot_n) AS BIGINT) AS boosted
FROM scaled sc CROSS JOIN totals t
"""


def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-source subsampling — the data-mixing step that turns
    raw source piles into a pretraining mixture. Even-numbered sources
    keep 80%, odd keep 30% (stand-ins for per-domain mixture weights).
    Output: (source, rate_pct, n_total, n_sampled, sampled_tokens).

    Deterministic Bernoulli via the portable doc-id hash: the sample is
    identical on any engine/cluster/partitioning, and — unlike
    df.sample() — a doc's membership never changes when the corpus
    grows, so incremental ingests don't churn the mixture."""
    d = load_table(spark, sf_dir, "documents")
    # try_cast, not cast: the weight table is keyed by the fixtures'
    # "srcN" convention, and a source named outside it ("cjk", "wiki")
    # must fall to the default LO rate — ANSI cast('' as long) instead
    # throws CAST_INVALID_INPUT (found by the r10 Unicode-corpus sweep).
    # NULL % 2 = NULL, which is not 0, so the otherwise() branch fires —
    # the same NULL path DuckDB's TRY_CAST takes.
    src_num = F.substring("source", 4, 10).try_cast("long")
    rate = F.when(src_num % 2 == 0, F.lit(MIX_RATE_HI)).otherwise(F.lit(MIX_RATE_LO))
    keep = (md5_60bit(F.col("doc_id").cast("string")) % 100) < rate
    n_tokens = ws_count("text")
    return (
        d.select(
            "source",
            rate.cast("long").alias("rate_pct"),
            keep.cast("long").alias("kept"),
            n_tokens.alias("n_tokens"),
        )
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_sampled"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "sampled_tokens"
            ),
        )
    )


MIXTURE_SQL = rf"""
WITH flagged AS (
  SELECT source,
         CASE WHEN TRY_CAST(substr(source, 4) AS BIGINT) % 2 = 0
              THEN {MIX_RATE_HI} ELSE {MIX_RATE_LO} END AS rate_pct,
         CASE WHEN {sql_md5_60bit("CAST(doc_id AS VARCHAR)")} % 100 <
              CASE WHEN TRY_CAST(substr(source, 4) AS BIGINT) % 2 = 0
                   THEN {MIX_RATE_HI} ELSE {MIX_RATE_LO} END
              THEN 1 ELSE 0 END AS kept,
         {sql_ws_count('text')} AS n_tokens
  FROM documents
)
SELECT source, CAST(rate_pct AS BIGINT) AS rate_pct, COUNT(*) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS sampled_tokens
FROM flagged GROUP BY source, rate_pct
"""


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------

CTX_TOKENS = 128  # context-window size for the demo corpus (parameter in prod)


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing audit: docs are concatenated in doc_id
    order within each source and sliced into CTX_TOKENS-token training
    sequences. Closed-form per-source report: (source, n_docs,
    total_tokens, n_sequences, n_boundary_docs) where n_boundary_docs
    counts docs split across a sequence boundary (the attention-mask
    pollution metric packing strategies trade off).

    Scale: one window sort per source partition (the natural packing
    unit — a global order would serialize the corpus through one
    partition), integer-only math, no iteration, no Python."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = ws_count("text")
    w = Window.partitionBy("source").orderBy("doc_id")
    staged = d.select("source", "doc_id", n_tokens.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    first_seq = F.floor((F.col("cum") - F.col("n_tokens")) / CTX_TOKENS)
    last_seq = F.floor((F.col("cum") - 1) / CTX_TOKENS)
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.floor((F.sum("n_tokens") - 1) / CTX_TOKENS) + 1).alias("n_sequences"),
        F.sum((first_seq != last_seq).cast("long")).alias("n_boundary_docs"),
    )


SEQUENCE_PACKING_SQL = rf"""
WITH staged AS (
  SELECT source, doc_id,
         {sql_ws_count('text')} AS n_tokens,
         SUM({sql_ws_count('text')})
           OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(floor((SUM(n_tokens) - 1) / {CTX_TOKENS}) + 1 AS BIGINT) AS n_sequences,
       CAST(SUM(CASE WHEN floor((cum - n_tokens) / {CTX_TOKENS})
                  <> floor((cum - 1) / {CTX_TOKENS}) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs
FROM staged GROUP BY source
"""


# --------------------------------------------------------------------------
# Leakage-safe (cluster-level) split
# --------------------------------------------------------------------------

def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test routing that routes whole near-dup CLUSTERS, not
    documents, so no LSH-DETECTED near-duplicate pair ever straddles a
    split boundary.

    A doc-level hash split puts ~19% of each near-dup pair's mass in a
    different split than its twin — the classic eval-contamination bug.
    Here the route key is the connected-component representative of the
    LSH-blocked embedding near-dup graph (ops/dedup.dedup_components'
    machinery), so every member of a cluster lands together. The output
    audits itself: n_cross_pairs counts near-dup pairs whose ends fall
    in different splits, keyed by the keep-end's split — zero by
    construction over the detected pair graph, and the oracle proves
    both engines agree it is.

    GUARANTEE SCOPE: "zero leakage" is relative to the detected pair
    graph. Because this is a SAFETY operator, it must not use the
    hot-bucket SALTED cap the throughput dedup queries use (cap engaged
    = pairs inside an oversized bucket silently dropped, which here
    would mean undetected cross-split leakage that the self-audit —
    computed from the same pair set — could not see). r10 resolved that
    by exempting the cap entirely, which left one adversarial
    mega-bucket (near-constant embeddings — exactly what boilerplate-
    heavy crawls produce) costing size² candidate pairs. r11 replaces
    the exemption with ADAPTIVE RE-BANDING (method="lsh_refine"; its
    four candidate branches and their recall limits are described in
    the ops/pairs.py docstring): buckets over EMB_BUCKET_CAP are
    refined instead of salted, at ≤ cap² plus linear cost per bucket.
    Bounded-cost + zero-dropped-pairs on the mega-bucket corpora, the
    deep-cone salting-vs-rebanding gap (4/15 vs 15/15), and the
    anchor-star boundary catch are pinned in tests/test_capcorpus.py.
    Beyond those of the refinement, LSH banding itself limits recall: a
    true near-dup pair missed by all bands can still split, and so can
    a pair of satellites near each OTHER but far from every anchor,
    sharing no small bucket and no refine sub-bucket.

    Output: (split, n_vecs, n_clusters, n_cross_pairs,
    n_approx_members). ``n_approx_members`` (r12, the r11 ADVICE
    visibility fix): the count of routed vectors whose detection
    coverage was STAR-ONLY in every band (bucket oversized AND refine
    sub-bucket still oversized everywhere — pairs.star_only_ids)
    — i.e. members for whom "zero leakage over the detected graph" is
    star-approximated rather than exhaustive, because a
    satellite-satellite pair among them is detected only via its
    representative. Zero whenever every bucket fit under the cap, so a
    consumer sees exactly when, and for how many vectors, the
    guarantee engages its approximate regime instead of having to
    trust a self-referential audit.

    Scale: pair finding is the banded LSH path (no O(n²)); components
    is iterative join+agg on ids; the routing itself is stateless hash
    math. The audit join carries (8-byte id, split) pairs only. The
    pair set feeds BOTH the components iteration and the crossing
    audit, so it is materialized exactly once, eagerly — without it
    the LSH band join + cosine verify (the most expensive stage here)
    would execute twice."""
    from map_reduce_lite_spark.ops.dedup import (
        embedding_near_dup_pairs,
        lsh_band_table,
        refine_star_only_ids,
    )
    from map_reduce_lite_spark.ops.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    # one banding for BOTH the pair stage and the coverage metric —
    # projected + checkpointed once (r12)
    bands = lsh_band_table(emb)
    pairs = materialize(
        embedding_near_dup_pairs(emb, method="lsh_refine", bands=bands).select(
            "keep_id", "dup_id"
        ),
        eager=True,
    )
    comp = connected_components(pairs, src="keep_id", dst="dup_id")
    assigned = (
        emb.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id", F.coalesce("component", F.col("vec_id")).alias("cluster")
        )
    )
    bucket = md5_60bit(F.col("cluster").cast("string")) % 100
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # r12: `routed` is consumed FOUR times below (final per-split agg,
    # both ends of the crossing audit, the approx-coverage join).
    # Unmaterialized, each consumer re-executed the emb scan + the
    # component labeling join + the routing hash — 4 corpus passes
    # (measured: 4 identical scan+join subtrees, 38-Exchange plan).
    # The routing table is (vec_id, cluster, split) — the very artifact
    # a production split pipeline persists — so checkpointing it is
    # scale-safe by definition; lazy, so the first action materializes.
    routed = materialize(
        assigned.select("vec_id", "cluster", split.alias("split")), eager=False
    )
    crossing = (
        pairs.join(
            routed.select(F.col("vec_id").alias("keep_id"), F.col("split").alias("split_a")),
            "keep_id",
        )
        .join(
            routed.select(F.col("vec_id").alias("dup_id"), F.col("split").alias("split_b")),
            "dup_id",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_cross"))
    )
    approx_per_split = (
        routed.join(refine_star_only_ids(emb, bands), "vec_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_approx"))
    )
    return (
        routed.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .join(crossing, "split", "left")
        .join(approx_per_split, "split", "left")
        .select(
            "split",
            "n_vecs",
            "n_clusters",
            F.coalesce("n_cross", F.lit(0)).alias("n_cross_pairs"),
            F.coalesce("n_approx", F.lit(0)).alias("n_approx_members"),
        )
    )


def _leakage_split_sql() -> str:
    from map_reduce_lite_spark.ops.dedup import NEAR_DUP_COS
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        EMB_DIM,
        LSH_N_BANDS,
        LSH_PLANES,
        _hyperplanes,
        _sql_cos,
        refine_hyperplanes,
        sql_refine_coverage_cte,
        sql_refined_cands_chain,
    )

    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    rplanes = refine_hyperplanes(EMB_DIM)
    chain = sql_refined_cands_chain(planes, rplanes, LSH_N_BANDS, EMB_BUCKET_CAP)
    coverage = sql_refine_coverage_cte(EMB_BUCKET_CAP)
    return f"""
WITH RECURSIVE {chain}
, {coverage}
, scored AS (
  SELECT c.keep_id, c.dup_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM cands c
  JOIN embeddings ea ON ea.vec_id = c.keep_id
  JOIN embeddings eb ON eb.vec_id = c.dup_id
), pairs AS (
  SELECT keep_id, dup_id FROM scored WHERE sim >= {NEAR_DUP_COS}
), edges AS (
  SELECT keep_id AS a, dup_id AS b FROM pairs
  UNION
  SELECT dup_id, keep_id FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component
  FROM reach GROUP BY a
), routed AS (
  SELECT e.vec_id,
         COALESCE(c.component, e.vec_id) AS cluster,
         CASE
           WHEN {sql_md5_60bit("CAST(COALESCE(c.component, e.vec_id) AS VARCHAR)")}
                % 100 < {TRAIN_PCT} THEN 'train'
           WHEN {sql_md5_60bit("CAST(COALESCE(c.component, e.vec_id) AS VARCHAR)")}
                % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split
  FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
), crossing AS (
  SELECT ra.split AS split, COUNT(*) AS n_cross
  FROM pairs p
  JOIN routed ra ON ra.vec_id = p.keep_id
  JOIN routed rb ON rb.vec_id = p.dup_id
  WHERE ra.split <> rb.split
  GROUP BY ra.split
), approx_split AS (
  SELECT r.split, COUNT(*) AS n_approx
  FROM routed r JOIN approx_only a ON a.vec_id = r.vec_id
  GROUP BY r.split
)
SELECT r.split, COUNT(*) AS n_vecs, COUNT(DISTINCT r.cluster) AS n_clusters,
       COALESCE(MAX(x.n_cross), 0) AS n_cross_pairs,
       COALESCE(MAX(ap.n_approx), 0) AS n_approx_members
FROM routed r LEFT JOIN crossing x ON x.split = r.split
LEFT JOIN approx_split ap ON ap.split = r.split
GROUP BY r.split
"""


LEAKAGE_SPLIT_SQL = _leakage_split_sql()


# --------------------------------------------------------------------------
# Per-source quality-quantile filter
# --------------------------------------------------------------------------

QUALITY_QUANTILE = 0.25   # drop the bottom quartile per source
_QQ_EXACT_ACCURACY = 1_000_000  # GK exact mode (same contract as ops/text.py)


def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents scoring at or above their source's 25th-percentile
    quality — per-domain quality gating (web sources get judged against
    their own distribution, not a global bar that would wipe out
    low-resource domains).

    Scale shape: the per-source threshold is a Greenwald–Khanna
    percentile (percentile_approx in exact mode at this accuracy —
    the two-tier contract pinned by sketch_quantiles_price) computed
    as ONE mergeable map-side-combined aggregation, then broadcast
    back. A percent_rank window would instead globally sort every
    source partition — the GK-threshold + tiny-join shape is what
    survives 100 TB. Score is an integer (floor of the stopword-ratio
    ×1e6) so threshold comparison is exact in both engines."""
    from map_reduce_lite_spark.ops.text import STOPWORDS, _stopword_hits

    d = load_table(spark, sf_dir, "documents")
    n_tokens = ws_count("text")
    n_stop = _stopword_hits(F.col("text"), STOPWORDS["en"])
    score = F.floor((n_stop / n_tokens) * 1e6).cast("long")
    scored = d.select("doc_id", "source", score.alias("score_e6"))
    thr = scored.groupBy("source").agg(
        F.percentile_approx("score_e6", QUALITY_QUANTILE, _QQ_EXACT_ACCURACY)
        .cast("long")
        .alias("thr_e6")
    )
    return scored.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "score_e6",
        "thr_e6",
        (F.col("score_e6") >= F.col("thr_e6")).alias("kept"),
    )


def _quality_quantile_sql() -> str:
    from map_reduce_lite_spark.ops.text import STOPWORDS, _sql_stopword_hits

    hits = _sql_stopword_hits("text", STOPWORDS["en"])
    ntok = sql_ws_count("text")
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(floor(({hits} / {ntok}) * 1e6) AS BIGINT) AS score_e6
  FROM documents
), thr AS (
  SELECT source, CAST(quantile_disc(score_e6, {QUALITY_QUANTILE}) AS BIGINT) AS thr_e6
  FROM scored GROUP BY source
)
SELECT doc_id, source, score_e6, thr_e6, score_e6 >= thr_e6 AS kept
FROM scored JOIN thr USING (source)
"""


QUALITY_QUANTILE_SQL = _quality_quantile_sql()


# --------------------------------------------------------------------------
# Token-budget corpus selection
# --------------------------------------------------------------------------

BUDGET_NUM, BUDGET_DEN = 6, 10  # keep the best ~60% of corpus tokens


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-budget selection: keep the highest-quality documents
    (stopword-ratio score, doc_id tiebreak) whose cumulative token count
    fits within BUDGET_NUM/BUDGET_DEN of the corpus's total tokens — the
    "best N tokens" carve a pretraining run starts from when compute,
    not data, sets the corpus size.

    The obvious plan — SUM(n_tokens) OVER (ORDER BY score DESC) — is a
    GLOBAL prefix sum: an unpartitioned window runs in ONE task, a
    non-starter at 100 TB. This decomposes it exactly:
      1. histogram: one map-side-combined groupBy on the integer score
         (≤1e6+1 buckets, MBs total) → per-bucket token sums;
      2. cumulative over the tiny histogram (a window over ≤1e6 rows)
         gives each bucket the token mass in STRICTLY better buckets;
      3. broadcast that back and run the within-bucket running sum as a
         window PARTITIONED by score — many independent partitions
         instead of one global sort; only the single boundary bucket's
         ordering actually decides membership.
    kept == (better-bucket mass + within-bucket running sum) <= budget
    reproduces the global-window semantics exactly (doc_id is the
    in-bucket order, so the flat SQL window below is the oracle)."""
    from map_reduce_lite_spark.ops.text import STOPWORDS, _stopword_hits

    d = load_table(spark, sf_dir, "documents")
    n_tokens = ws_count("text")
    n_stop = _stopword_hits(F.col("text"), STOPWORDS["en"])
    score = F.floor((n_stop / n_tokens) * 1e6).cast("long")
    scored = d.select(
        "doc_id", "source", score.alias("score_e6"), n_tokens.alias("n_tokens")
    )

    hist = scored.groupBy("score_e6").agg(F.sum("n_tokens").alias("btoks"))
    w_hist = Window.orderBy(F.desc("score_e6")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = hist.select(
        "score_e6",
        F.coalesce(F.sum("btoks").over(w_hist), F.lit(0)).alias("pre_tokens"),
    )
    budget = hist.agg(F.sum("btoks").alias("total_tokens")).select(
        F.expr(f"total_tokens * {BUDGET_NUM} div {BUDGET_DEN}").alias("budget")
    )

    w_bucket = (
        Window.partitionBy("score_e6")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        scored.join(F.broadcast(pre), "score_e6")
        .crossJoin(F.broadcast(budget))
        .select(
            "doc_id",
            "source",
            "score_e6",
            "n_tokens",
            (
                (F.col("pre_tokens") + F.sum("n_tokens").over(w_bucket))
                <= F.col("budget")
            ).alias("kept"),
        )
    )


def _token_budget_sql() -> str:
    from map_reduce_lite_spark.ops.text import STOPWORDS, _sql_stopword_hits

    hits = _sql_stopword_hits("text", STOPWORDS["en"])
    ntok = sql_ws_count("text")
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(floor(({hits} / {ntok}) * 1e6) AS BIGINT) AS score_e6,
         {ntok} AS n_tokens
  FROM documents
), b AS (
  SELECT (SUM(n_tokens) * {BUDGET_NUM}) // {BUDGET_DEN} AS budget FROM scored
)
SELECT doc_id, source, score_e6, n_tokens,
       SUM(n_tokens) OVER (ORDER BY score_e6 DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING)
         <= (SELECT budget FROM b) AS kept
FROM scored
"""


TOKEN_BUDGET_SQL = _token_budget_sql()


# --------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling
# --------------------------------------------------------------------------

# Hashed n-gram feature space size. DSIR (Xie et al., NeurIPS 2023,
# "Data Selection for Language Models via Importance Resampling") hashes
# unigram+bigram features into a FIXED number of buckets, so the
# class-conditional bag-of-ngrams model is constant-size no matter how
# big the corpus is — the property that makes the method practical at
# pretraining scale, and the contrast with text_bigram_logprob whose
# model tables are corpus-sized and must be JOINED. 256 buckets keeps
# the demo collision-rich (31-word vocab); production uses ~10k.
DSIR_BUCKETS = 256
# "Target" domain stand-in: a fixed source subset (the paper's target
# is e.g. Wikipedia; the fixture's sources are uniform, so weights
# hover near 0 — the operator, not the fixture, is the deliverable).
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance log-weight: how much more likely
    the document's hashed unigram+bigram features are under the
    TARGET source distribution than under the raw corpus distribution
    (log p_target(doc) − log p_raw(doc), add-one-smoothed bucket
    unigram models). Positive ⇒ resampling would up-weight the doc
    toward the target domain.

    Scale shape — the reason DSIR works at 100 TB: feature extraction
    is a PURE MAP — unigram and bigram features are built per row from
    the token array (``zip_with`` of the array against itself shifted
    by one — no lag window, no doc sort, no union of exploded
    streams), then one explode; BOTH model distributions come from ONE
    B=256-key groupBy over that stream (map-side combined, constant
    output size), broadcast back; the per-doc weight is one doc-keyed
    agg. No corpus-sized model table, no self-join — one corpus pass,
    two broadcasts (B rows + 1 scalar row).

    Determinism: each side of the weight is one BIGINT division →
    IEEE double → ln, written in the same operand order in both
    engines; the per-doc sum goes through DECIMAL(18,12) (the
    text_bigram_logprob recipe). `more_target_like` derives from the
    already-exact integer logweight_e6."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    arr = ws_tokens(mrl_lower("text"))
    docs = d.repartition(fanout, "doc_id").select(
        "doc_id",
        F.col("source").isin(*DSIR_TARGET_SOURCES).cast("long").alias("is_t"),
        arr.alias("arr"),
    )
    unifeats = F.transform("arr", lambda t: F.concat(F.lit("u|"), t))
    # Clamped slice length: an empty/whitespace-only doc tokenizes to an
    # empty array, and slice(arr, 2, -1) throws INVALID_PARAMETER_VALUE
    # at runtime. greatest(.., 0) yields empty bigrams instead — the doc
    # then contributes no features and drops out of the per-doc agg,
    # exactly what the DuckDB oracle does (its toks CTE is empty).
    m = F.greatest(F.size("arr") - 1, F.lit(0))
    bigfeats = F.zip_with(
        F.slice("arr", 1, m),
        F.slice("arr", 2, m),
        lambda a, b: F.concat_ws("|", F.lit("b"), a, b),
    )
    feats = materialize(
        docs.select(
            "doc_id", "is_t", F.explode(F.concat(unifeats, bigfeats)).alias("feat")
        )
        .select(
            "doc_id",
            "is_t",
            F.pmod(md5_60bit(F.col("feat")), F.lit(DSIR_BUCKETS)).alias("bucket"),
        ),
        # Two consumers (model agg + per-doc scoring join) and Catalyst
        # does not dedupe common subtrees, so without this the tokenize
        # + lag-window stream executes once per consumer. The
        # checkpoint is (doc_id, is_t, bucket) — ~20 B/feature, far
        # smaller than the text it derives from; at scale this is the
        # featurized intermediate you would persist anyway.
        eager=False,
    )
    model = feats.groupBy("bucket").agg(
        F.sum("is_t").alias("c_t"), F.count(F.lit(1)).alias("c_r")
    )
    # Totals are exactly the column sums of the B-row model — no
    # second corpus-wide pass.
    stats = model.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    term = F.log(
        (F.col("c_t") + 1) / (F.col("n_t") + F.lit(DSIR_BUCKETS))
    ) - F.log((F.col("c_r") + 1) / (F.col("n_r") + F.lit(DSIR_BUCKETS)))
    out = (
        feats.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.floor(F.sum(term.cast("decimal(18,12)")).cast("double") * 1e6)
            .cast("long")
            .alias("logweight_e6"),
        )
    )
    return out.select(
        "doc_id",
        "n_feats",
        "logweight_e6",
        (F.col("logweight_e6") > 0).alias("more_target_like"),
    )


def _dsir_sql() -> str:
    targets = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    is_t = f"CASE WHEN source IN ({targets}) THEN 1 ELSE 0 END AS is_t"
    b = DSIR_BUCKETS
    return rf"""
WITH toks AS ({sql_token_positions('documents', 'lower(text)', 'doc_id', is_t)}
), uni AS (
  SELECT doc_id, is_t, 'u|' || token AS feat FROM toks
), big AS (
  SELECT doc_id, is_t, 'b' || '|' || prev || '|' || cur AS feat FROM (
    SELECT doc_id, is_t, lag(token, 1) OVER w AS prev, token AS cur
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lag(token, 1) OVER w IS NOT NULL
  )
), feats AS (
  SELECT doc_id, is_t, ({sql_md5_60bit("feat")} % {b}) AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
), model AS (
  SELECT bucket, CAST(SUM(is_t) AS BIGINT) AS c_t,
         CAST(COUNT(*) AS BIGINT) AS c_r
  FROM feats GROUP BY 1
), stats AS (
  SELECT CAST(SUM(is_t) AS BIGINT) AS n_t,
         CAST(COUNT(*) AS BIGINT) AS n_r
  FROM feats
), scored AS (
  SELECT f.doc_id,
         ln((m.c_t + 1) / (s.n_t + {b})) - ln((m.c_r + 1) / (s.n_r + {b}))
           AS term
  FROM feats f JOIN model m USING (bucket) CROSS JOIN stats s
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(floor(CAST(SUM(CAST(term AS DECIMAL(18,12))) AS DOUBLE) * 1e6)
              AS BIGINT) AS logweight_e6
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_feats, logweight_e6,
       logweight_e6 > 0 AS more_target_like
FROM agg
"""


DSIR_SQL = _dsir_sql()


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    every document gets its unigram-LM mean NLL (the distributed
    perplexity proxy, same math as ``text_unigram_logprob``) and is
    assigned to the head / middle / tail tercile WITHIN ITS LANGUAGE —
    the standard web-corpus quality partition (head = most fluent,
    tail = candidate garbage) that downstream mixtures sample from.

    Scale shape: the tercile boundaries are computed VALUE-wise, not
    document-wise — one groupBy onto (lang, nll_e6) distinct values,
    then the cumulative window runs over #distinct-values rows per
    language (the RFM/token-budget histogram-decomposition trick), so
    no per-language global sort of the corpus ever happens; documents
    get their bucket back via an equi-join on (lang, nll_e6). Ties are
    value-based by construction: equal-NLL docs always share a bucket,
    so the output is independent of partitioning and engine sort
    order. All bucket math is exact integers ((3·c_prev) div n)."""
    d = load_table(spark, sf_dir, "documents")
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = materialize(
        token_rows(d.repartition(fanout, "doc_id"), "term", "doc_id", "lang"),
        # two consumers: the vocabulary agg and the scoring join
        eager=False,
    )
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = cnt.agg(F.sum("c").alias("nn"))
    nll = -F.log(F.col("c").cast("double") / F.col("nn").cast("double"))
    per_doc = materialize(
        toks.join(cnt, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(
                (
                    F.sum(nll.cast("decimal(18,12)")).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e6
            )
            .cast("long")
            .alias("nll_e6"),
        ),
        # two consumers: the value histogram and the bucket join-back
        eager=False,
    )
    vals = per_doc.groupBy("lang", "nll_e6").agg(F.count(F.lit(1)).alias("cnt"))
    n_lang = per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        Window.partitionBy("lang")
        .orderBy("nll_e6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    buckets = (
        vals.withColumn("c_prev", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .join(F.broadcast(n_lang), "lang")
        .select(
            "lang",
            "nll_e6",
            F.least(
                F.lit(3), F.expr("(3 * c_prev) div n_docs") + F.lit(1)
            ).alias("b"),
        )
    )
    label = (
        F.when(F.col("b") == 1, F.lit("head"))
        .when(F.col("b") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return per_doc.join(buckets, ["lang", "nll_e6"]).select(
        "doc_id", "lang", "nll_e6", label.alias("ppl_bucket")
    )


CCNET_BUCKETS_SQL = rf"""
WITH toks AS (
  {sql_token_rows('term', 'doc_id', 'lang')}
), cnt AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt
), per_doc AS (
  SELECT t.doc_id, t.lang,
         CAST(floor((CAST(SUM(CAST(
                -ln(CAST(cnt.c AS DOUBLE) / CAST(n.nn AS DOUBLE))
              AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)) * 1e6) AS BIGINT)
           AS nll_e6
  FROM toks t JOIN cnt USING (term) CROSS JOIN n
  GROUP BY t.doc_id, t.lang
), vals AS (
  SELECT lang, nll_e6, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM per_doc GROUP BY 1, 2
), n_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM per_doc GROUP BY 1
), buckets AS (
  SELECT v.lang, v.nll_e6,
         least(3, (3 * COALESCE(SUM(v.cnt) OVER (
             PARTITION BY v.lang ORDER BY v.nll_e6
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               // nl.n_docs + 1) AS b
  FROM vals v JOIN n_lang nl USING (lang)
)
SELECT p.doc_id, p.lang, p.nll_e6,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM per_doc p JOIN buckets USING (lang, nll_e6)
"""


CURATION_QUERIES: dict[str, Query] = {
    "curation_ccnet_buckets": Query(
        "curation_ccnet_buckets",
        ccnet_buckets,
        CCNET_BUCKETS_SQL,
        "CCNet head/middle/tail per-language perplexity terciles",
    ),
    "curation_dsir_weights": Query(
        "curation_dsir_weights",
        dsir_weights,
        DSIR_SQL,
        "DSIR hashed-ngram importance log-weights vs a target source mix",
    ),
    "curation_token_budget": Query(
        "curation_token_budget",
        token_budget_select,
        TOKEN_BUDGET_SQL,
        "global token-budget selection via histogram-decomposed prefix sum",
    ),
    "curation_quality_quantile": Query(
        "curation_quality_quantile",
        quality_quantile_filter,
        QUALITY_QUANTILE_SQL,
        "per-source GK-quantile quality gate (broadcast thresholds)",
    ),
    "curation_pii_redact": Query(
        "curation_pii_redact",
        pii_redact,
        PII_REDACT_SQL,
        "email/phone masking with per-source redaction audit",
    ),
    "curation_contamination": Query(
        "curation_contamination",
        contamination_check,
        CONTAMINATION_SQL,
        "3-gram benchmark-contamination rate per source",
    ),
    "curation_repetition_filter": Query(
        "curation_repetition_filter",
        repetition_filter,
        REPETITION_SQL,
        "max-bigram-share repetition quality gate",
    ),
    "curation_train_split": Query(
        "curation_train_split",
        train_split,
        TRAIN_SPLIT_SQL,
        "deterministic hash-routed train/val/test split",
    ),
    "curation_mixture_plan": Query(
        "curation_mixture_plan",
        mixture_plan,
        MIXTURE_SQL,
        "weighted per-source mixture subsampling",
    ),
    "curation_mixture_temperature": Query(
        "curation_mixture_temperature",
        mixture_temperature,
        MIXTURE_TEMP_SQL,
        "temperature-scaled (alpha=0.5) mixture weights, exact-bps shares",
    ),
    "curation_sequence_packing": Query(
        "curation_sequence_packing",
        sequence_packing,
        SEQUENCE_PACKING_SQL,
        "concat-and-chunk context-window packing audit",
    ),
    "curation_leakage_safe_split": Query(
        "curation_leakage_safe_split",
        leakage_safe_split,
        LEAKAGE_SPLIT_SQL,
        "cluster-level split: near-dups never straddle train/val/test",
    ),
}
