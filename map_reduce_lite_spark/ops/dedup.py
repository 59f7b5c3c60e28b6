"""Deduplication operators for large-scale text corpora.

Four strategies, all shuffle-architected for 100 TB:

- **exact**: group by a 60-bit content hash, not the full text — the
  shuffle carries 8-byte keys instead of document bodies. Collision rate
  at 2^60 is negligible for ≤ billions of docs; a verify-on-text pass can
  be appended for the paranoid.
- **n-gram Jaccard**: word-shingle inverted index self-join. The shuffle
  key is the shingle hash; pair-counting is a pure integer aggregation.
  Quadratic only within a shingle's posting list — at scale, drop
  ultra-frequent shingles (document-frequency cap) exactly like a stop
  list; the cap keeps posting lists bounded.
- **MinHash + LSH**: k=32 portable min-hashes, banded 8×4. Candidate
  recall for Jaccard≥0.5 with these parameters is 1-(1-0.5^4)^8 ≈ 0.42
  per band family — tuned for demo; raise k/bands for production recall.
  Only band-signature equality joins — no pairwise scan at all.
- **SimHash**: 32-bit weighted fingerprint, 4×8-bit band join, Hamming
  distance ≤ 3 verify. Near-constant cost per doc; band join is the only
  shuffle.

All four use the portable md5-based 60-bit hash (registry.md5_60bit) so
each has a full DuckDB oracle — including LSH banding, which is usually
oracle-unfriendly.

Spark-only note: at 100 TB replace the md5 tokenizer hash with
``xxhash64`` (cheaper, JVM-intrinsic); md5 is kept here for
engine-portability of the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.pairs import (
    BAND_KEYS,
    band_salt,
    bucket_over_cap,
    cooccur,
    refine_sizes,
    refined_pairs,
    split_hot_buckets,
    sql_band_salt,
    sql_cooccur,
    sql_salted_split,
    star_only_ids,
)
from map_reduce_lite_spark.registry import (
    Query,
    md5_60bit,
    sql_md5_60bit,
    sql_token_positions,
    sql_ws_split,
    token_positions,
    ws_tokens,
)
from map_reduce_lite_spark.relational.tables import load_table, read_parquet

# MinHash parameters (bands × rows-per-band = num hashes). The module
# defaults are the DEMO configuration pinned by the DuckDB oracle —
# cheap enough to replay in SQL (32 MIN aggregates), candidate recall at
# J=0.5 only ~0.42. Production corpora should pass the PROD_* values
# (k=128, 16 bands × 8 rows: recall 1-(1-J^8)^16 ≈ 0.95 at J=0.8,
# ≈ 0.9997 at J=0.9, while keeping the false-positive knee near the
# (1/16)^(1/8) ≈ 0.71 threshold) — recall is property-tested at the
# production setting in tests/test_dedup.py.
MINHASH_BANDS = 8
MINHASH_ROWS = 4
NUM_MINHASHES = MINHASH_BANDS * MINHASH_ROWS

PROD_MINHASH_BANDS = 16
PROD_MINHASH_ROWS = 8

SHINGLE_SIZE = 3
JACCARD_THRESHOLD = 0.5

# Document-frequency cap for the shingle inverted index: shingles
# appearing in more than this many documents are dropped before the
# self-join, exactly like a stop list. A stop-shingle's posting list
# contributes |postings|² candidate pairs, so one "of the and" shared by
# 1M docs would emit 10^12 pairs — the cap bounds every posting list and
# therefore the join's worst case. Sizes (|A|, |B|) are still computed
# on the FULL shingle sets; only the intersection counting is capped, so
# capped Jaccard is a lower bound of true Jaccard (ties broken toward
# precision — the right direction for dedup). At the test scale factors
# max DF is 9, so the default cap does not perturb the oracle values.
SHINGLE_DF_CAP = 50


# --------------------------------------------------------------------------
# Tokenize / shingle (shared)
# --------------------------------------------------------------------------

def shingles(df: DataFrame) -> DataFrame:
    """(doc, shingle) — distinct word SHINGLE_SIZE-shingles of
    ``(doc_id, text)`` rows via lead() windows (matches sql_shingles).

    Cost shape: the only shuffle of full rows is the doc repartition in
    ``token_positions`` (small pre-explode rows); the lead() window then
    sorts WITHIN those partitions — no second corpus-wide shuffle. Measured
    3× faster than the explode-free transform/element_at array
    formulation (element_at per shingle is slower than codegen'd lead
    over pipelined tokens)."""
    toks = token_positions(df)
    w = Window.partitionBy("doc").orderBy("pos")
    nxt = range(1, SHINGLE_SIZE)
    parts = [F.col("token")] + [F.lead("token", i).over(w) for i in nxt]
    sh = toks.select("doc", F.concat_ws(" ", *parts).alias("shingle"),
                     *[F.lead("token", i).over(w).alias(f"_t{i}") for i in nxt])
    sh = sh.filter(F.col(f"_t{SHINGLE_SIZE - 1}").isNotNull()).select("doc", "shingle")
    return sh.distinct()


def sql_shingles(src: str) -> str:
    """shingles over relation ``src`` (doc_id, text) as the body of a
    SELECT."""
    leads = [f"lead(token, {i}) OVER w" for i in range(1, SHINGLE_SIZE)]
    return f"""SELECT DISTINCT doc, {" || ' ' || ".join(["token", *leads])} AS shingle
  FROM ({sql_token_positions(src, 'text', 'doc_id AS doc')})
  WINDOW w AS (PARTITION BY doc ORDER BY pos)
  QUALIFY {leads[-1]} IS NOT NULL"""


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by 60-bit content hash (8-byte shuffle keys)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(md5_60bit(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


DEDUP_EXACT_SQL = f"""
SELECT {sql_md5_60bit('text')} AS content_hash,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# N-gram Jaccard pair scoring
# --------------------------------------------------------------------------

def _shingle_overlap(docs: DataFrame) -> DataFrame:
    """(doc1, doc2, n_inter, n1, n2) for every doc pair doc1 < doc2
    sharing a shingle: |∩| from the DF-capped inverted-index self-join
    (``pairs.cooccur`` keyed by shingle: shuffle by shingle, integer
    pair counts), n1/n2 the FULL shingle set sizes. Shingles in more
    than SHINGLE_DF_CAP documents (read at call time, the join's
    ``key_cap``) are dropped from the index before the self-join.
    Matches sql_shingle_overlap."""
    sh = shingles(docs).cache()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = cooccur(sh, "shingle", "doc", key_cap=SHINGLE_DF_CAP).select(
        F.col("m1").alias("doc1"), F.col("m2").alias("doc2"), F.col("n_shared").alias("n_inter")
    )
    sz1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_shingles").alias("n1"))
    sz2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_shingles").alias("n2"))
    return inter.join(sz1, "doc1").join(sz2, "doc2")


def sql_shingle_overlap(src: str) -> str:
    """_shingle_overlap over relation ``src`` (doc_id, text) as the body
    of a SELECT."""
    return f"""WITH sh AS ({sql_shingles(src)}
  ), sizes AS (
    SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
  ), inter AS (
    SELECT m1 AS doc1, m2 AS doc2, n_shared AS n_inter
    FROM ({sql_cooccur("sh", "shingle", "doc", key_cap=SHINGLE_DF_CAP)})
  )
  SELECT doc1, doc2, n_inter, s1.n AS n1, s2.n AS n2
  FROM inter JOIN sizes s1 ON s1.doc = doc1 JOIN sizes s2 ON s2.doc = doc2"""


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with word-3-shingle Jaccard ≥ JACCARD_THRESHOLD
    (read at call time; matches sql_ngram_jaccard_pairs).

    jaccard = |∩| / (|A| + |B| - |∩|) over ``_shingle_overlap``'s
    DF-capped counts. Division of identical ints → bit-identical
    doubles vs the oracle."""
    jac = F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter"))
    return (
        _shingle_overlap(docs)
        .select("doc1", "doc2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def sql_ngram_jaccard_pairs(src: str) -> str:
    """ngram_jaccard_pairs over relation ``src`` (doc_id, text) as the
    body of a SELECT."""
    return f"""SELECT doc1, doc2, n_inter / (n1 + n2 - n_inter) AS jaccard
  FROM ({sql_shingle_overlap(src)})
  WHERE n_inter / (n1 + n2 - n_inter) >= {JACCARD_THRESHOLD}"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d)


DEDUP_NGRAM_SQL = sql_ngram_jaccard_pairs("documents")


# --------------------------------------------------------------------------
# Asymmetric containment (near-subset detection)
# --------------------------------------------------------------------------

# A quote-heavy copy or a doc embedded inside a larger page has HIGH
# containment but LOW Jaccard (the union is dominated by the bigger
# doc), so symmetric near-dup misses it. C(A→B) = |sh(A) ∩ sh(B)| /
# |sh(A)| ≥ τ flags A as a near-subset of B.
CONTAINMENT_T = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-subset pairs: (contained_doc, container_doc,
    containment) where ≥ CONTAINMENT_T of the contained doc's word-3
    shingles also appear in the container.

    Scale shape is dedup_ngram_jaccard's exactly — one DF-capped
    inverted-index self-join computes each unordered pair's |∩| ONCE,
    then both directed ratios are checked against τ from the same row
    (no second join, no second shuffle): containment reuses the
    Jaccard candidate machinery, it just divides by |A| instead of
    |A∪B|. Division of identical ints → bit-identical doubles vs the
    oracle."""
    both = _shingle_overlap(load_table(spark, sf_dir, "documents"))
    # r12: the two directed ratios used to be a unionAll of two
    # projections of `both` — and a union does not share its branches'
    # common subtree, so the inverted-index self-join (the expensive
    # stage) executed TWICE. Exploding a 2-element struct array emits
    # both directions from ONE execution; same rows, same multiset.
    directed = F.array(
        F.struct(
            F.col("doc1").alias("contained_doc"),
            F.col("doc2").alias("container_doc"),
            (F.col("n_inter") / F.col("n1")).alias("containment"),
        ),
        F.struct(
            F.col("doc2").alias("contained_doc"),
            F.col("doc1").alias("container_doc"),
            (F.col("n_inter") / F.col("n2")).alias("containment"),
        ),
    )
    return (
        both.select(F.explode(directed).alias("d"))
        .select("d.contained_doc", "d.container_doc", "d.containment")
        .filter(F.col("containment") >= CONTAINMENT_T)
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH both_sized AS ({sql_shingle_overlap('documents')}
), directed AS (
  SELECT doc1 AS contained_doc, doc2 AS container_doc,
         n_inter / n1 AS containment
  FROM both_sized
  UNION ALL
  SELECT doc2 AS contained_doc, doc1 AS container_doc,
         n_inter / n2 AS containment
  FROM both_sized
)
SELECT contained_doc, container_doc, containment
FROM directed WHERE containment >= {CONTAINMENT_T}
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# Mersenne prime field for the permutation family h_i = (a_i*h + b_i) mod P.
# P < 2^31 keeps a_i*h < 2^62 — no int64 overflow in either engine.
MINHASH_P = 2147483647


def _coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) permutation coefficients for any k —
    Knuth multiplicative constants, reproducible in plain SQL."""
    a = [(i * 2654435761 + 1) % MINHASH_P for i in range(1, num_hashes + 1)]
    b = [(i * 40503 + 7) % MINHASH_P for i in range(1, num_hashes + 1)]
    return a, b


_A, _B = _coeffs(NUM_MINHASHES)


def minhash_signatures(sh: DataFrame, num_hashes: int = NUM_MINHASHES) -> DataFrame:
    """(doc, m0..m{k-1}) — k portable min-hashes in ONE aggregation pass.

    Each shingle is md5-hashed once; the k permutations are integer
    arithmetic evaluated as k parallel MIN aggregates (map-side partial
    agg), so shuffle volume is docs × k longs and there is no row
    explosion at all — the design that survives a 100 TB corpus."""
    ca, cb = _coeffs(num_hashes)
    hashed = sh.select(
        "doc", (md5_60bit(F.col("shingle")) % MINHASH_P).alias("h")
    )
    mins = [
        F.min((F.col("h") * ca[i] + cb[i]) % MINHASH_P).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc").agg(*mins)


def minhash_band_sigs(
    docs: DataFrame,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
) -> DataFrame:
    """(doc, band, sig) — the banded MinHash signature table.

    This is the MERGEABLE index artifact: at scale it is computed once
    per ingested batch and stored; an incremental refresh band-joins
    the delta's signatures against it (band_collisions) instead of
    re-scanning the corpus. Matches sql_minhash_bands."""
    sigs = minhash_signatures(shingles(docs), bands * rows)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc", F.explode(band_structs).alias("bs")).select(
        "doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def sql_minhash_bands(
    src: str, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS
) -> str:
    """minhash_band_sigs over relation ``src`` (doc_id, text) as the
    body of a SELECT."""
    ca, cb = _coeffs(bands * rows)
    mins = ",\n           ".join(
        f"MIN((h * {ca[i]} + {cb[i]}) % {MINHASH_P}) AS m{i}"
        for i in range(bands * rows)
    )
    sigs = ",\n    ".join(
        " || ',' || ".join(f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows))
        for b in range(bands)
    )
    return f"""SELECT doc, unnest(range({bands})) AS band, unnest([
    {sigs}]) AS sig
  FROM (
    SELECT doc,
           {mins}
    FROM (SELECT doc, {sql_md5_60bit('shingle')} % {MINHASH_P} AS h
          FROM ({sql_shingles(src)}))
    GROUP BY doc
  )"""


def band_collisions(delta: DataFrame, standing: DataFrame) -> DataFrame:
    """(delta_doc, standing_doc): one row per band in which a delta doc's
    MinHash band signature equals a DIFFERENT standing doc's (matches
    sql_band_collisions). A changed doc colliding with its own standing
    version is expected, not a dedup signal, so equal ids never pair."""
    d, s = delta.alias("d"), standing.alias("s")
    return d.join(
        s,
        (F.col("d.band") == F.col("s.band"))
        & (F.col("d.sig") == F.col("s.sig"))
        & (F.col("d.doc") != F.col("s.doc")),
    ).select(F.col("d.doc").alias("delta_doc"), F.col("s.doc").alias("standing_doc"))


def sql_band_collisions(delta: str, standing: str) -> str:
    """band_collisions of two (doc, band, sig) relations as the body of
    a SELECT."""
    return f"""SELECT d.doc AS delta_doc, s.doc AS standing_doc
  FROM {delta} d JOIN {standing} s
    ON d.band = s.band AND d.sig = s.sig AND d.doc <> s.doc"""


def minhash_lsh_pairs(
    docs: DataFrame,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
) -> DataFrame:
    """LSH candidate pairs: equal band signature in ≥ 1 of ``bands``
    bands of ``rows`` min-hashes each (k = bands × rows total hashes).

    Candidate probability for a pair with Jaccard J is 1-(1-J^rows)^bands
    — pick (bands, rows) for the corpus: the module default (8×4) is the
    cheap oracle-replayable demo; PROD_MINHASH_BANDS × PROD_MINHASH_ROWS
    (16×8) is the production setting with recall ≥ 0.9 at J ≥ 0.8
    (property-tested). Only band-signature equi-joins — candidate work is
    quadratic only within a colliding bucket, never corpus-wide."""
    banded = minhash_band_sigs(docs, bands, rows)
    # materialize ONCE before the self-join: the shingle + k-minhash
    # aggregation above is the dominant cost, and Spark plans each join
    # side independently (no ReusedExchange here) — without this the
    # whole signature pipeline runs twice (measured ~2x cold, ~15% warm)
    banded = materialize(banded, eager=True)
    return cooccur(banded, ["band", "sig"], "doc").select(
        F.col("m1").alias("doc1"), F.col("m2").alias("doc2")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs at the oracle-pinned demo setting (8 bands ×
    4 rows). Output is the distinct candidate pair set — the verify pass
    (exact Jaccard on candidates only) is dedup_ngram_jaccard restricted
    to these pairs."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d)


def dedup_minhash_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs at the PRODUCTION banding (16 bands × 8 rows,
    k=128): recall 1-(1-J^8)^16 ≈ 0.95 at J=0.8 — the setting a real
    corpus runs. Same operator as dedup_minhash_lsh; only (bands, rows)
    differ, and the oracle replays the identical 128-hash computation
    (the 128 MIN aggregates are one grouped scan in both engines, so
    even the production banding is fully value-oracled — it is not just
    property-tested)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, bands=PROD_MINHASH_BANDS, rows=PROD_MINHASH_ROWS)


def _minhash_sql(bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS) -> str:
    return f"""
WITH bands AS ({sql_minhash_bands('documents', bands, rows)}
)
SELECT m1 AS doc1, m2 AS doc2 FROM ({sql_cooccur("bands", ["band", "sig"], "doc")})
"""


DEDUP_MINHASH_SQL = _minhash_sql()
DEDUP_MINHASH_PROD_SQL = _minhash_sql(PROD_MINHASH_BANDS, PROD_MINHASH_ROWS)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

# 60-bit simhash, 4 bands × 15 bits, Hamming ≤ 3 — the Manku et al.
# (WWW 2007) production setting is 64-bit / k=3; 60 bits is the width
# of the portable md5_60bit hash, so every fingerprint bit carries a
# live vote in BOTH engines. The width matters at scale twice over:
# a 32-bit fingerprint saturates by the birthday bound on any real
# corpus, and its 8-bit band buckets (256 per band) made candidate
# generation effectively quadratic on self-similar data — the
# regenerated sf0.1 corpus put 17% of ALL doc pairs through the
# Hamming verify. 15-bit bands give 32768 buckets per band.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
HAMMING_MAX = 3  # ≤3 differing bits + 4 bands ⇒ ≥1 band agrees exactly


# The 60-bit packing loop as ONE constant-size higher-order expression.
# The sign-of-votes test sum(±1) > 0 is rewritten as the exact integer
# equivalence 2·count_set_bits > n_tokens (sum = 2·count_set − n), so
# the whole fingerprint is per-row array work: for each bit position i,
# one allocation-free `aggregate` pass counts set bits over the token
# hashes. Two wins over the previous explode + 60-SUM groupBy form:
# (1) the fingerprint stage is a PURE MAP — zero shuffle; the only
# shuffle left in the entire simhash pipeline is the 16-byte band rows;
# (2) the Catalyst tree is constant-size, so analysis + codegen cost
# ~0.05 s instead of the ~1.5 s a 60-term unrolled expression costs PER
# FRESH DATAFRAME (driver-side; measured: fresh-DF fingerprint 2.0 s →
# 1.0 s, execution alone 0.44 s → 0.20 s at sf0.1 — the HOF pass is
# also faster to RUN because it never materializes the exploded token
# stream).
_SIMHASH_FP_EXPR = f"""
aggregate(
  sequence(0, {SIMHASH_BITS - 1}),
  CAST(0 AS BIGINT),
  (acc, i) -> acc + IF(
     2 * aggregate(hs, CAST(0 AS BIGINT), (c, h) -> c + (shiftright(h, i) & 1))
         > size(hs),
     shiftleft(CAST(1 AS BIGINT), i),
     CAST(0 AS BIGINT)))
"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc, simhash) — 60-bit simhash over distinct whitespace tokens.

    Map-only: tokenize → within-doc array_distinct → md5_60bit per
    token → the constant-size vote/pack expression above, all per-row.
    The repartition exists only to spread tokenize CPU across local
    cores on the small demo files; on a cluster, input splits already
    provide map parallelism and it can be dropped. (History: the r5
    form exploded tokens and ran a 60-SUM groupBy — two shuffles of
    the token stream and a 60-term Catalyst tree; see _SIMHASH_FP_EXPR
    for the measured wins of this form.)"""
    spark = docs.sparkSession
    fanout = max(spark.sparkContext.defaultParallelism, 8)
    toks = ws_tokens("text")
    hashed = docs.repartition(fanout, F.col("doc_id")).select(
        F.col("doc_id").alias("doc"),
        F.transform(F.array_distinct(toks), lambda t: md5_60bit(t)).alias("hs"),
    )
    # Token-less docs are excluded, matching the oracle's toks CTE which
    # never emits a row for them: without this, every empty doc would get
    # simhash=0 and Spark alone would report all-empty pairs as hamming-0
    # near-dups. Identical text is dedup_exact's job, not simhash's.
    return hashed.where(F.size("hs") > 0).select(
        "doc", F.expr(_SIMHASH_FP_EXPR).alias("simhash")
    )


# Hard bound on a band bucket's quadratic blowup — the simhash twin of
# SEMDEDUP_CLUSTER_CAP. Corpora with heavily templated / low-entropy
# text collapse many documents onto the same fingerprint chunk (the r6
# scale-stress measured a 29k-doc bucket on a saturated-vocabulary
# corpus: 430M candidate pairs from ONE bucket, wall time superlinear
# exponent 1.2); even the driver fixture's hottest sf0.1 bucket holds
# 1 582 of 5 000 docs. Buckets above the cap are sub-split into
# ceil(size/cap) blocks by a BAND-SALTED portable hash, so the
# candidate stage is O(Σ min(size, cap)·size) per band. The band salt
# makes the split independent across the 4 bands: a pair agreeing on m
# over-cap bands survives with prob 1-(1-1/n_sub)^m rather than being
# dropped with full correlation — and truly identical text is caught
# unconditionally by dedup_exact, which is the operator whose job that
# is. 4096 > every fixture bucket, so results there are unchanged; the
# forced-cap test proves boundedness + oracle agreement under
# splitting.
SIMHASH_BUCKET_CAP = 4096


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ 3, found via a
    4×15-bit band join (a pair within distance 3 must agree exactly on
    ≥ 1 band), bucket-capped at SIMHASH_BUCKET_CAP (read at call
    time)."""
    fps = simhash_fingerprints(docs)
    bands = fps.select(
        "doc", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "chunk",
        F.expr(
            f"shiftright(simhash, band * {SIMHASH_BAND_BITS}) & {SIMHASH_BAND_MASK}"
        ),
    )
    # Checkpointed: the band table now has THREE consumers (the sizing
    # probe and both self-join sides). Pre-cap, AQE exchange reuse made
    # a checkpoint a wash (A/B 2.62 vs 2.58 s at sf0.1); with the probe
    # it is what keeps the 60-SUM fingerprint agg single-execution.
    bands = materialize(bands, eager=True)
    # Sizing probe: one scalar job over the materialized band table
    # (4 rows/doc). When every (band, chunk) bucket is under the cap —
    # the common case on natural corpora, and the driver fixtures — the
    # split is provably an identity and is skipped (A/B at sf0.1:
    # 2.6 s vs 3.2 s warm — the cap is free until a bucket engages it).
    sp, _ = split_hot_buckets(
        bands, ["band", "chunk"], SIMHASH_BUCKET_CAP, band_salt("shb", "band", "doc")
    )
    # each doc has one simhash, so grouping on (doc1, doc2, s1, s2) is
    # the multi-band dedup; the Hamming filter reads only group keys and
    # is pushed below the aggregate, into the join
    return (
        cooccur(sp, ["band", "chunk", "sub"], "doc", payload=("simhash",))
        .select(
            F.col("m1").alias("doc1"),
            F.col("m2").alias("doc2"),
            F.expr("bit_count(simhash_1 ^ simhash_2)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d)


def _simhash_sql(cap: int = SIMHASH_BUCKET_CAP) -> str:
    salt = sql_band_salt("shb", "band", "doc")
    return rf"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, t.tok AS token
  FROM documents,
       LATERAL unnest({sql_ws_split('text')}) AS t(tok)
  WHERE t.tok <> ''
), hashed AS (
  SELECT doc, {sql_md5_60bit('token')} AS h FROM toks
), votes AS (
  SELECT doc, bit.b AS bit,
         SUM(CASE WHEN (h >> bit.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, LATERAL unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit(b)
  GROUP BY 1, 2
), fps AS (
  SELECT doc, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc
), bands AS (
  SELECT doc, simhash, band.k AS band,
         (simhash >> (band.k * {SIMHASH_BAND_BITS})) & {SIMHASH_BAND_MASK} AS chunk
  FROM fps, LATERAL unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band(k)
), sp AS ({sql_salted_split("bands", ["band", "chunk"], cap, salt)}
)
SELECT doc1, doc2, hamming FROM (
  SELECT m1 AS doc1, m2 AS doc2,
         CAST(bit_count(xor(simhash_1, simhash_2)) AS INT) AS hamming
  FROM ({sql_cooccur("sp", ["band", "chunk", "sub"], "doc", payload=("simhash",))})
)
WHERE hamming <= {HAMMING_MAX}
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------

NEAR_DUP_COS = 0.40  # demo threshold; corpus max pairwise cosine is ~0.51


def lsh_band_table(corpus: DataFrame) -> DataFrame:
    """Materialized (vec_id, band_id, band_hash) banding of ``corpus`` —
    the shared first stage of every embedding-LSH consumer (the
    near-dup pairs, the k-NN graph, the star-only coverage metric), so
    a job needing the table more than once projects and checkpoints it
    exactly once. Band join and pair dedup then move ids only (8-byte
    keys); vectors join back for scoring."""
    from map_reduce_lite_spark.ops.similarity import (
        EMB_DIM,
        LSH_PLANES,
        _hyperplanes,
        lsh_band_rows,
    )

    return materialize(
        lsh_band_rows(corpus, _hyperplanes(EMB_DIM, LSH_PLANES)), eager=True
    )


def _refine_sizes(corpus: DataFrame, bands: DataFrame, cap: int) -> DataFrame:
    """``pairs.refine_sizes`` of ``bands``, the oversized buckets'
    members re-hashed against ``refine_hyperplanes``."""
    from map_reduce_lite_spark.ops.similarity import (
        EMB_DIM,
        lsh_band_rows,
        refine_hyperplanes,
    )

    rplanes = refine_hyperplanes(EMB_DIM)
    return refine_sizes(
        bands, cap, lambda ids: lsh_band_rows(corpus.join(ids, "vec_id"), rplanes, "rh")
    )


def refine_star_only_ids(corpus: DataFrame, bands: DataFrame) -> DataFrame:
    """IDs whose candidate coverage under adaptive re-banding is
    STAR-ONLY in every band (``pairs.star_only_ids``; the branches are
    described in the ops/pairs.py docstring), given the corpus's
    ``lsh_band_table``.

    r12 (the r11 ADVICE visibility fix): the adaptive path's "zero
    dropped detections" guarantee is computed from its own pair set,
    so a consumer could not previously SEE the regime where detection
    becomes approximate (a satellite-satellite near-dup pair sharing
    only a still-oversized sub-bucket is found only via its
    representative). This function makes the regime observable:
    ``leakage_safe_split`` counts these members per split
    (``n_approx_members``), zero whenever every bucket fit under
    EMB_BUCKET_CAP (read at call time) — so downstream consumers see
    exactly when, and for how many vectors, the guarantee weakened from
    exhaustive to star-approximated.

    Cost: count aggregations on 8-byte keys plus the refinement
    projection of the oversized buckets' members only; the sizing probe
    (pairs.bucket_over_cap) returns an empty frame without touching the
    refinement planes when no bucket is oversized (the driver-fixture
    case, where the metric is provably zero, and an empty corpus)."""
    from map_reduce_lite_spark.ops.similarity import EMB_BUCKET_CAP

    cap = EMB_BUCKET_CAP
    if not bucket_over_cap(bands, BAND_KEYS, cap):
        return corpus.sparkSession.createDataFrame([], "vec_id long")
    return star_only_ids(_refine_sizes(corpus, bands, cap), cap)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    method: str = "exact",
    bands: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate (keep_id, dup_id, sim_e9) pairs of a
    (vec_id, embedding) corpus by cosine ≥ NEAR_DUP_COS.

    ``bands`` (r12): a pre-materialized ``lsh_band_table``, letting a
    caller that needs the band table for more than the pair stage
    (leakage_safe_split also feeds it to refine_star_only_ids) project
    + checkpoint it exactly once.

    ``method="exact"`` scores the full triangular self-join — the oracle
    path, quadratic in corpus size, fine for verification corpora.
    ``method="lsh"`` blocks the self-join on banded random-hyperplane
    buckets (similarity.lsh_band_hashes) and exact-verifies cosine only
    on colliding pairs — the 100 TB path: the shuffle key is the band
    hash, pair work is quadratic only within a bucket, and recall vs
    exact is property-tested (tests/test_dedup.py).

    Hot-bucket cap (r9): on an unclustered corpus, band collisions are
    a constant fraction of n² — measured 66 s at 20k random unit
    vectors with the pair scoring dominating the whole components
    family. Buckets over EMB_BUCKET_CAP (read at call time) are
    salted-split by pairs.split_hot_buckets, bounding per-bucket work
    at cap² regardless of collision density; its probe skips the split
    entirely when no bucket is oversized (the driver fixtures), where
    the plain join is provably identical. The SQL twins replay
    sizes+salt unconditionally (n_sub=1 → sub ≡ 0 identity), so both
    branches hash-match them; cap-ENGAGED parity is pinned in
    tests/test_capcorpus.py.

    ``method="lsh_refine"`` (r11): same banding, but oversized buckets
    are ADAPTIVELY RE-BANDED instead of salted (pairs.refined_pairs) —
    for SAFETY consumers (leakage_safe_split) where a salt's
    silently-dropped intra-bucket pairs would mean undetected
    cross-split leakage. Same bounded per-bucket cost, no
    intra-sub-bucket pair dropped; when no bucket is oversized all
    three lsh variants are the identical plain band join."""
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        _pair_cos,
        _spread,
        _vectors,
        cosine_verify,
        sim_e9,
    )

    if method == "exact":
        # BNLJ parallelism follows the streamed (left) side's partitions;
        # one parquet split would mean one core for the whole O(n²) scan
        scored = (
            _spread(_vectors(corpus, "keep_id", "a"), "keep_id")
            .join(_vectors(corpus, "dup_id", "b"), F.col("keep_id") < F.col("dup_id"))
            .select("keep_id", "dup_id", _pair_cos("a", "b").alias("sim"))
        )
    elif method in ("lsh", "lsh_refine"):
        if bands is None:
            bands = lsh_band_table(corpus)
        cap = EMB_BUCKET_CAP
        sp, hot = split_hot_buckets(
            bands, BAND_KEYS, cap, band_salt("emb", "band_id", "vec_id")
        )
        if hot and method == "lsh_refine":
            ids = refined_pairs(_refine_sizes(corpus, bands, cap), cap)
        else:
            ids = cooccur(sp, [*BAND_KEYS, "sub"], "vec_id").select(
                F.col("m1").alias("keep_id"), F.col("m2").alias("dup_id")
            )
        scored = cosine_verify(ids, corpus, "keep_id", "dup_id")
    else:
        raise ValueError(f"unknown method {method!r}")
    return scored.filter(F.col("sim") >= F.lit(NEAR_DUP_COS)).select(
        "keep_id", "dup_id", sim_e9()
    )


def build_near_dup_pairs(
    corpus: DataFrame, path: str, method: str = "lsh"
) -> DataFrame:
    """STAGE the LSH-verified near-dup pair set as a parquet artifact
    and return its scan — the production shape for the whole components
    family (r10, the build_knn_edges pattern): the banded pair join +
    cosine verify is the family's dominant cost, and the registered
    single-query forms of dedup_components / dedup_cluster_sizes /
    dedup_survivors_docs / curation_leakage_safe_split each rebuild it
    (required by the driver contract's independent calls). At 100 TB
    the pair set is built once per corpus snapshot and every consumer —
    ``connected_components(pairs)``, ``dedup_survivors(pairs, ...)``,
    the split router — reads the artifact; a parquet file also
    survives executor loss, unlike in-memory checkpoints. Staged vs
    inline full-multiset parity is pinned in
    test_near_dup_pairs_staged_parity.

    ``method`` (r11): "lsh" (salted cap — the throughput posture) or
    "lsh_refine" (adaptive re-banding — the SAFETY posture a staged
    artifact feeding leakage_safe_split-style routing should carry,
    since a salt's dropped pairs would become silent cross-split
    leakage in every downstream consumer of the artifact)."""
    embedding_near_dup_pairs(corpus, method=method).write.mode("overwrite").parquet(path)
    return read_parquet(corpus.sparkSession, path)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb)


def _embedding_cosine_sql() -> str:
    from map_reduce_lite_spark.ops.similarity import _sql_cos

    return f"""
WITH scored AS (
  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         {_sql_cos('a.embedding', 'b.embedding')} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT keep_id, dup_id, CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM scored WHERE sim >= {NEAR_DUP_COS}
"""


DEDUP_EMBEDDING_SQL = _embedding_cosine_sql()


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of embedding near-dup: LSH-band blocking + exact
    cosine verify on colliding pairs only. The exact quadratic query
    above is the verification oracle for recall; THIS is the operator a
    production pipeline runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, method="lsh")


def _embedding_lsh_sql() -> str:
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        EMB_DIM,
        LSH_N_BANDS,
        LSH_PLANES,
        _hyperplanes,
        _sql_cos,
        sql_capped_bands_chain,
    )

    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    return f"""
WITH {sql_capped_bands_chain(planes, LSH_N_BANDS, EMB_BUCKET_CAP, "emb")}
, pairs AS (
  SELECT m1 AS keep_id, m2 AS dup_id
  FROM ({sql_cooccur("bands", [*BAND_KEYS, "sub"], "vec_id")})
), scored AS (
  SELECT p.keep_id, p.dup_id,
         {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.keep_id
  JOIN embeddings eb ON eb.vec_id = p.dup_id
)
SELECT keep_id, dup_id, CAST(floor(sim * 1e9) AS BIGINT) AS sim_e9
FROM scored WHERE sim >= {NEAR_DUP_COS}
"""


DEDUP_EMBEDDING_LSH_SQL = _embedding_lsh_sql()


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH-blocked
    embedding-cosine pair graph — the canonical-representative step a
    real dedup pipeline runs after pair finding (keep component minimum,
    drop the rest). Pair generation is the ``method="lsh"`` band-blocked
    path (bucket join + cosine verify on collisions only), NOT the exact
    O(n²) self-join — the exact path stays available as the recall
    oracle (dedup_embedding_cosine / tests/test_dedup.py). Iterative
    min-label propagation on Spark; the oracle replays it with a
    recursive transitive-closure CTE over the same LSH pair set."""
    from map_reduce_lite_spark.ops.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, method="lsh")
    return connected_components(pairs, src="keep_id", dst="dup_id")


def _components_reach_cte() -> str:
    """Shared WITH RECURSIVE chain ending in ``reach`` — the transitive
    closure of the LSH-blocked near-dup pair graph. Consumed by the
    components oracle AND the survivors oracle."""
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        EMB_DIM,
        LSH_N_BANDS,
        LSH_PLANES,
        _hyperplanes,
        _sql_cos,
        sql_capped_bands_chain,
    )

    planes = _hyperplanes(EMB_DIM, LSH_PLANES)
    return f"""
WITH RECURSIVE {sql_capped_bands_chain(planes, LSH_N_BANDS, EMB_BUCKET_CAP, "emb")}
, cands AS (
  SELECT m1 AS keep_id, m2 AS dup_id
  FROM ({sql_cooccur("bands", [*BAND_KEYS, "sub"], "vec_id")})
), scored AS (
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
)"""


def _components_sql() -> str:
    return (
        _components_reach_cte()
        + """
SELECT a AS node, LEAST(a, MIN(b)) AS component
FROM reach GROUP BY a
"""
    )


DEDUP_COMPONENTS_SQL = _components_sql()


def dedup_survivors_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP-LIST a dedup pipeline actually materializes: every
    vec_id that survives cluster-level near-dup pruning — each
    connected component of the LSH-blocked cosine pair graph keeps its
    minimum id, every unpaired vector keeps itself. This is
    ``dedup_components``'s consumer stage (ops/graph.dedup_survivors)
    registered end-to-end: pairs → components → anti-join, so the
    driver value-verifies the full pair→cluster→prune funnel, not just
    the cluster labels.

    Scale shape: the pair + components stages are dedup_components'
    exactly (banded join, log-round pointer jumping); the prune adds
    one id-only anti-join against the corpus — 8-byte keys, no new
    hazard. Oracle: the same recursive transitive-closure CTE, keeping
    ids that are never a non-minimum member of their component."""
    from map_reduce_lite_spark.ops.graph import dedup_survivors

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, method="lsh")
    return dedup_survivors(pairs, emb.select("vec_id"), "vec_id")


def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty: what fraction of a doc's word-3
    shingles first appeared in an EARLIER document (doc_id order = the
    corpus's ingestion order)? The memorization/staleness metric a
    curation pass tracks alongside near-dup rate — a crawl slice whose
    novelty collapses is re-crawling what the corpus already has.

    Plan: the shared distinct (doc, shingle) table (one corpus
    shuffle), a min-doc-per-shingle aggregation (map-side combined —
    posting lists collapse to one value, so NO df cap is needed: there
    is no self-join to go quadratic), one join back on the shingle key
    reusing the same partitioning, and a per-doc count agg. All exact
    integers; basis points by integer floor."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d).cache()
    first = sh.groupBy("shingle").agg(F.min("doc").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc"), 1).otherwise(0)
            ).alias("n_seen_before"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_seen_before",
        F.floor(
            F.lit(10000)
            * (F.col("n_shingles") - F.col("n_seen_before"))
            / F.col("n_shingles")
        )
        .cast("long")
        .alias("novelty_bps"),
    )


SHINGLE_NOVELTY_SQL = f"""
WITH sh AS ({sql_shingles('documents')}
), first AS (
  SELECT shingle, MIN(doc) AS first_doc FROM sh GROUP BY shingle
)
SELECT sh.doc AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc < sh.doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seen_before,
       CAST(floor(10000 * (COUNT(*) - SUM(CASE WHEN f.first_doc < sh.doc
                                              THEN 1 ELSE 0 END))
                  / COUNT(*)) AS BIGINT) AS novelty_bps
FROM sh JOIN first f ON f.shingle = sh.shingle
GROUP BY sh.doc
"""


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup exposure per ingestion source: how many of a source's
    documents participate in at least one word-3-shingle near-dup pair
    (the dedup_ngram_jaccard pair set), as exact basis points — the
    per-source health metric that tells a mixture planner WHICH feed
    is flooding the corpus with copies.

    Plan: the pair stage is dedup_ngram_jaccard's (DF-capped inverted
    index, id-only pairs); flagged ids are a distinct union of both
    pair columns (8-byte rows), attached to sources by one equi-join,
    and the rate is a |sources|-key aggregation."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d)
    # Both pair columns from ONE execution of the pair pipeline: a
    # union's branches share no subtrees, so the old two-projection
    # union re-ran the whole DF-capped inverted-index join per side
    # (the dedup_containment lesson — same 2-element explode fix).
    flagged = (
        pairs.select(F.explode(F.array("doc1", "doc2")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        d.select("doc_id", "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_duped"),
        )
        .select(
            "source",
            "n_docs",
            "n_duped",
            F.floor(F.lit(10000) * F.col("n_duped") / F.col("n_docs"))
            .cast("long")
            .alias("dup_rate_bps"),
        )
    )


DEDUP_RATE_BY_SOURCE_SQL = f"""
WITH pairs AS ({sql_ngram_jaccard_pairs('documents')}
), flagged AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc1 AS doc_id FROM pairs UNION ALL SELECT doc2 FROM pairs
  )
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duped,
       CAST(floor(10000 * SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0
                                   END) / COUNT(*)) AS BIGINT)
         AS dup_rate_bps
FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
GROUP BY d.source
"""


def _survivors_sql() -> str:
    return (
        _components_reach_cte()
        + """
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id NOT IN (
  SELECT a FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a
)
"""
    )


DEDUP_SURVIVORS_SQL = _survivors_sql()


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE HISTOGRAM: how many clusters of each size
    the LSH-blocked cosine pair graph collapses into — the dedup-QA
    summary a pipeline tracks per crawl slice (a fat tail of mega-
    clusters means template boilerplate is exploding; a histogram of
    pairs means benign near-dups). Consumer stage of
    ``dedup_components``: component labels → per-component size →
    per-size cluster count and doc total.

    Scale shape: inherits dedup_components' certified funnel (banded
    pair join, log-round pointer jumping); the histogram adds two
    map-side-combined aggregations over (component) then (size) — both
    key spaces are ≤ the paired-node count, rows are 8-16 bytes.
    Output is O(max cluster size) rows. Integers end-to-end."""
    from map_reduce_lite_spark.ops.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, method="lsh")
    comps = connected_components(pairs, src="keep_id", dst="dup_id")
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


DEDUP_CLUSTER_SIZES_SQL = (
    _components_reach_cte()
    + """
, comp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
), sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""
)


DEDUP_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("dedup_exact", dedup_exact, DEDUP_EXACT_SQL, "exact dedup by content hash"),
        Query("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_SQL, "3-shingle jaccard pairs"),
        Query(
            "dedup_containment",
            dedup_containment,
            DEDUP_CONTAINMENT_SQL,
            "directed near-subset pairs by asymmetric shingle containment",
        ),
        Query("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_SQL, "minhash-LSH candidates"),
        Query(
            "dedup_minhash_lsh_prod",
            dedup_minhash_lsh_prod,
            DEDUP_MINHASH_PROD_SQL,
            "minhash-LSH candidates at production banding (16x8, k=128)",
        ),
        Query("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL, "simhash hamming pairs"),
        Query(
            "dedup_embedding_cosine",
            dedup_embedding_cosine,
            DEDUP_EMBEDDING_SQL,
            "embedding-cosine near-dup pairs (exact)",
        ),
        Query(
            "dedup_embedding_lsh",
            dedup_embedding_lsh,
            DEDUP_EMBEDDING_LSH_SQL,
            "embedding near-dup, LSH-blocked (scale path)",
        ),
        Query(
            "dedup_components",
            dedup_components,
            DEDUP_COMPONENTS_SQL,
            "near-dup clusters via connected components",
        ),
        Query(
            "dedup_cluster_sizes",
            dedup_cluster_sizes,
            DEDUP_CLUSTER_SIZES_SQL,
            "near-dup cluster size histogram over the LSH cosine pair graph",
        ),
        Query(
            "dedup_survivors_docs",
            dedup_survivors_docs,
            DEDUP_SURVIVORS_SQL,
            "keep-list after cluster-level near-dup pruning (pairs → components → anti-join)",
        ),
        Query(
            "text_shingle_novelty",
            text_shingle_novelty,
            SHINGLE_NOVELTY_SQL,
            "per-doc fraction of shingles first seen in earlier docs (exact bps)",
        ),
        Query(
            "dedup_rate_by_source",
            dedup_rate_by_source,
            DEDUP_RATE_BY_SOURCE_SQL,
            "per-source near-dup participation rate over the jaccard pair set",
        ),
    ]
}
