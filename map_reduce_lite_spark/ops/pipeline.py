"""End-to-end training-data curation pipeline — the composition the
individual operators exist FOR.

A pretraining ingest runs, in order: quality filtering → language
filtering → near-duplicate removal, then reports the survival funnel
per source. This module chains the engine's own operators (quality
features from ops/text.py semantics, stopword language ID, n-gram
Jaccard near-dup pairs from ops/dedup.py with its document-frequency
cap) into ONE DataFrame plan, proving the pieces compose without
materialization barriers.

Scale shape: stage 1+2 are a single codegen'd scan projection (no
shuffle); stage 3 shuffles only the SURVIVORS' shingles (filter first,
dedup second — at 100 TB the quality+lang gate typically drops half the
corpus before the expensive stage); the funnel aggregation is one
map-side-combined groupBy over per-doc flags. No collect, no Python.

The reference has nothing like this (it is the driver-mandated
extension surface), but the shape mirrors how its users would chain
jobs: workload_test.sh:24-29 pipes matrix-multiply phase 1 output into
phase 2 — here the chaining is one Catalyst plan instead of two jobs
over S3 files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.dedup import (
    band_collisions,
    minhash_band_sigs,
    ngram_jaccard_pairs,
    sql_band_collisions,
    sql_minhash_bands,
    sql_ngram_jaccard_pairs,
)
from map_reduce_lite_spark.ops.snapshot import _derived_snapshots, snapshot_diff, sql_snapshot_delta
from map_reduce_lite_spark.ops.text import (
    STOPWORDS,
    lang_argmax,
    lang_hits,
    sql_lang_argmax,
    sql_lang_hits,
)
from map_reduce_lite_spark.registry import Query, sql_ws_count, ws_count
from map_reduce_lite_spark.relational.tables import load_table

# Stage-1 quality gate: enough tokens to be trainable text, mean token
# length in the plausible-natural-language band (garbage/binary text
# skews long). Exact-integer division → bit-identical across engines.
MIN_TOKENS = 20
MAX_MEAN_TOKEN_LEN = 8.0


def quality_lang_flags(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Stage 1+2 of the curation pipeline as one codegen'd projection:
    (doc_id, source, text, n_tokens, q_ok, l_ok) — q_ok is the
    token-count / mean-token-length gate, l_ok additionally requires the
    stopword-argmax language to be 'en' (ties break in STOPWORDS order,
    no hits → 'und'). No shuffle; reused by pretrain_curation and both
    refresh pipelines; matches sql_quality_lang_flags. ``carry`` names
    extra input columns to pass through unchanged — consumers that used
    to re-join their own upstream just to re-attach a column they
    already had (doubling the upstream subtree: a DataFrame consumed
    twice is planned twice) carry it through instead."""
    n_chars = F.length("text").cast("long")
    n_tokens = ws_count("text")
    mean_tok_len = (n_chars - n_tokens + 1) / n_tokens
    flagged = d.select(
        "doc_id",
        "source",
        "text",
        *carry,
        n_tokens.alias("n_tokens"),
        ((n_tokens >= MIN_TOKENS) & (mean_tok_len <= MAX_MEAN_TOKEN_LEN)).alias("q_ok"),
        *lang_hits(),
    )
    return flagged.withColumn("l_ok", F.col("q_ok") & (lang_argmax() == "en")).drop(
        *[f"hits_{l}" for l in STOPWORDS]
    )


def sql_quality_lang_flags(src: str, carry: tuple[str, ...] = ()) -> str:
    """quality_lang_flags over relation ``src`` as the body of a SELECT."""
    cols = ", ".join(["doc_id", "source", "text", *carry])
    q_ok = (
        f"(n_tokens >= {MIN_TOKENS}"
        f" AND (n_chars - n_tokens + 1) / n_tokens <= {MAX_MEAN_TOKEN_LEN})"
    )
    return f"""SELECT {cols}, n_tokens, {q_ok} AS q_ok,
         {q_ok} AND {sql_lang_argmax()} = 'en' AS l_ok
  FROM (
    SELECT {cols}, {sql_ws_count('text')} AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           {sql_lang_hits()}
    FROM {src}
  )"""


def pretrain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival funnel of the 3-stage curation pipeline:
    (source, n_total, n_quality, n_lang, n_kept, kept_tokens).

    - n_quality: docs passing the token-count / mean-token-length gate.
    - n_lang:    of those, docs whose stopword-argmax language is 'en'
                 (ties break in STOPWORDS order, no hits → 'und').
    - n_kept:    of those, docs surviving near-dup removal — a doc is
                 dropped iff it is the HIGHER id of a surviving pair
                 with word-3-shingle Jaccard ≥ 0.5 (keep-lowest rule;
                 pair finding uses the DF-capped inverted index, so no
                 posting-list blowup at scale).
    - kept_tokens: whitespace tokens the surviving docs contribute.
    """
    d = load_table(spark, sf_dir, "documents")
    flagged = quality_lang_flags(d)

    survivors = flagged.filter("l_ok").select("doc_id", "source", "text", "n_tokens")
    pairs = ngram_jaccard_pairs(survivors)
    drops = pairs.select(F.col("doc2").alias("doc_id")).distinct()
    kept = survivors.join(drops, "doc_id", "left_anti")

    funnel = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
        F.sum(F.col("l_ok").cast("long")).alias("n_lang"),
    )
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    return funnel.join(kept_stats, "source", "left").select(
        "source",
        "n_total",
        "n_quality",
        "n_lang",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
    )


PRETRAIN_CURATION_SQL = f"""
WITH flagged AS ({sql_quality_lang_flags('documents')}
), cur AS (
  SELECT doc_id, source, text, n_tokens FROM flagged WHERE l_ok
), pairs AS ({sql_ngram_jaccard_pairs('cur')}
), drops AS (
  SELECT DISTINCT doc2 AS doc_id FROM pairs
), kept AS (
  SELECT c.source, c.n_tokens FROM cur c
  LEFT JOIN drops dr ON dr.doc_id = c.doc_id
  WHERE dr.doc_id IS NULL
), funnel AS (
  SELECT source, COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         CAST(SUM(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang
  FROM flagged GROUP BY source
), kept_stats AS (
  SELECT source, COUNT(*) AS n_kept, SUM(n_tokens) AS kept_tokens
  FROM kept GROUP BY source
)
SELECT f.source, f.n_total, f.n_quality, f.n_lang,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM funnel f LEFT JOIN kept_stats k ON k.source = f.source
"""


def pipeline_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh: ONLY the snapshot delta re-enters the
    curation gates.

    At 100 TB a refresh never reprocesses the standing corpus — the
    snapshot diff (ops/snapshot.py) classifies keys, and just the
    added+changed documents flow through the quality/language gates,
    reported per (source, status): (n_delta, n_quality, n_lang,
    delta_tokens). Cost scales with the DELTA, not the corpus: the
    diff shuffles 16-byte hash rows, the gates are one codegen'd
    projection over delta text fetched by an id equi-join. The full
    production refresh additionally dedups the delta AGAINST the
    standing index (the minhash band signatures are mergeable, so the
    standing side is a precomputed signature table, not a re-scan) —
    the gate composition here is the oracle-checkable core of that
    loop."""
    d = load_table(spark, sf_dir, "documents")
    prev, cur = _derived_snapshots(d)
    delta_keys = snapshot_diff(prev, cur).filter(
        F.col("status").isin("added", "changed")
    )
    delta = delta_keys.join(cur, "doc_id")  # text always from the CURRENT snapshot
    # status rides through the gate projection (carry) instead of a
    # re-join against delta_keys, whose second consumption re-planned —
    # and re-executed — the whole full-outer snapshot diff (5 document
    # scans; 3 with the carry).
    flagged = quality_lang_flags(delta, carry=("status",))
    return (
        flagged
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
            F.sum(F.col("l_ok").cast("long")).alias("n_lang"),
            F.sum("n_tokens").alias("delta_tokens"),
        )
        .select(
            "source", "status", "n_delta", "n_quality", "n_lang", "delta_tokens"
        )
    )


INCREMENTAL_REFRESH_SQL = f"""
WITH {sql_snapshot_delta()}, delta AS (
  SELECT cur.doc_id, cur.source, cur.text, diff.status
  FROM diff JOIN cur ON cur.doc_id = diff.doc_id
  WHERE diff.status IN ('added', 'changed')
), flagged AS ({sql_quality_lang_flags('delta', ('status',))}
)
SELECT source, status, COUNT(*) AS n_delta,
       CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(SUM(n_tokens) AS BIGINT) AS delta_tokens
FROM flagged GROUP BY source, status
"""


def pipeline_full_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production refresh loop in one plan: snapshot diff →
    quality/language gates → incremental near-dup against the standing
    MinHash index → per-(source, status) survival report.

    Composes what the individual queries prove piecewise
    (snapshot_diff_documents, pipeline_incremental_refresh,
    dedup_incremental_minhash): only added+changed docs re-enter the
    pipeline; gates run BEFORE signatures so the expensive stage sees
    only gate-survivors (filter-first, the pretrain_curation lesson);
    the dedup stage band-joins delta signatures against the STANDING
    corpus's stored signature index — the standing corpus is never
    re-scanned, so refresh cost scales with the delta. A gated doc is
    dropped on any band collision with a standing doc (candidate-level
    policy, matching dedup_incremental_minhash; production would add
    an exact-Jaccard verify on the collisions, same plan shape).

    Report columns: n_delta (added+changed), n_gates (passed
    quality+lang), n_dup (gated but colliding with standing), n_survive
    (gated, no collision), survive_tokens (tokens the survivors add).
    """
    d = load_table(spark, sf_dir, "documents")
    prev, cur = _derived_snapshots(d)
    # flagged is consumed twice (signature stage + survival report) and
    # used to re-join delta_keys just to re-attach status, so the
    # un-barriered plan re-ran the full-outer snapshot diff 4x and the
    # stopword gate 2x: 11 document scans. status now rides through the
    # gate projection (carry) — delta_keys has ONE consumer and needs
    # no barrier — and flagged, the gated delta batch a production
    # refresh persists, is materialized ONCE (eager: serialized at
    # build time, no concurrent-stage race on an uncommitted lazy
    # checkpoint). 4 document scans remain: two for the diff, one to
    # re-attach delta text, one for the standing signature index.
    delta_keys = snapshot_diff(prev, cur).filter(
        F.col("status").isin("added", "changed")
    )
    delta = delta_keys.join(cur, "doc_id")
    flagged = materialize(quality_lang_flags(delta, carry=("status",)), eager=True)
    gated = flagged.filter("l_ok").select("doc_id", "text")
    standing = minhash_band_sigs(prev)  # production: a stored index table
    dsigs = minhash_band_sigs(gated)
    dups = (
        band_collisions(dsigs, standing)
        .select(F.col("delta_doc").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    w = flagged.join(dups, "doc_id", "left")
    survive = F.col("l_ok") & F.col("is_dup").isNull()
    return (
        w.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.sum(F.col("l_ok").cast("long")).alias("n_gates"),
            F.sum((F.col("l_ok") & F.col("is_dup").isNotNull()).cast("long")).alias(
                "n_dup"
            ),
            F.sum(survive.cast("long")).alias("n_survive"),
            F.sum(F.when(survive, F.col("n_tokens")).otherwise(0)).alias(
                "survive_tokens"
            ),
        )
        .select(
            "source", "status", "n_delta", "n_gates", "n_dup", "n_survive",
            "survive_tokens",
        )
    )


FULL_REFRESH_SQL = f"""
WITH {sql_snapshot_delta()}, delta AS (
  SELECT cur.doc_id, cur.source, cur.text, diff.status
  FROM diff JOIN cur ON cur.doc_id = diff.doc_id
  WHERE diff.status IN ('added', 'changed')
), flagged AS ({sql_quality_lang_flags('delta', ('status',))}
), gated AS (
  SELECT doc_id, text FROM flagged WHERE l_ok
), standing AS ({sql_minhash_bands('prev')}
), dsigs AS ({sql_minhash_bands('gated')}
), dups AS (
  SELECT DISTINCT delta_doc AS doc_id
  FROM ({sql_band_collisions('dsigs', 'standing')})
)
SELECT source, status, COUNT(*) AS n_delta,
       CAST(SUM(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_gates,
       CAST(SUM(CASE WHEN l_ok AND du.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN l_ok AND du.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survive,
       CAST(SUM(CASE WHEN l_ok AND du.doc_id IS NULL THEN n_tokens ELSE 0 END)
            AS BIGINT) AS survive_tokens
FROM flagged f LEFT JOIN dups du ON du.doc_id = f.doc_id
GROUP BY source, status
"""


PIPELINE_QUERIES: dict[str, Query] = {
    "pipeline_pretrain_curation": Query(
        "pipeline_pretrain_curation",
        pretrain_curation,
        PRETRAIN_CURATION_SQL,
        "quality → language → near-dup curation funnel per source",
    ),
    "pipeline_incremental_refresh": Query(
        "pipeline_incremental_refresh",
        pipeline_incremental_refresh,
        INCREMENTAL_REFRESH_SQL,
        "snapshot delta → curation gates: refresh cost scales with the delta",
    ),
    "pipeline_full_refresh": Query(
        "pipeline_full_refresh",
        pipeline_full_refresh,
        FULL_REFRESH_SQL,
        "diff → gates → incremental dedup vs standing index → survival report",
    ),
}
