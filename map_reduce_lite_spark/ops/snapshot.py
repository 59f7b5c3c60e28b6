"""Snapshot diff — CDC-style incremental corpus refresh.

A 100 TB training corpus is not rebuilt from scratch; each refresh
diffs the new crawl snapshot against the previous one and processes
only the delta (added + changed docs re-enter the pipeline, removed
docs retire from the index). The reference has no incremental story —
its jobs always rescan the full input (mrl-worker reruns the map phase
over every S3 object) — so this is extension surface, same contract as
ops/curation.py.

Scale shape: both snapshots project ``(key, content_hash)`` FIRST —
the 60-bit hash is 8 bytes, so the full-outer join that classifies
every key shuffles 16 bytes/row instead of the document text (at
100 TB that is the difference between a metadata-sized shuffle and
re-moving the corpus). Text never rides the join; consumers fetch
changed docs by joining the delta's keys back to the source. The
classification itself is one projection over the joined row — no
window, no second pass — and the summary is a map-side-combined
groupBy over (source, status).

The demo derives both snapshots deterministically from the one
``documents`` table so the oracle can replay them exactly:

- previous = docs except ``doc_id % 17 = 3`` (those are ADDED in
  current), with ``doc_id % 13 = 0`` docs carrying a stale text
  suffix (those are CHANGED);
- current  = docs except ``doc_id % 19 = 7`` (those are REMOVED —
  present only in previous).

``snapshot_diff`` itself takes any two keyed DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from map_reduce_lite_spark.ops.dedup import (
    band_collisions,
    minhash_band_sigs,
    sql_band_collisions,
    sql_minhash_bands,
)
from map_reduce_lite_spark.registry import Query, md5_60bit, sql_md5_60bit, sql_ws_count, ws_count
from map_reduce_lite_spark.relational.tables import load_table


def snapshot_diff(
    prev: DataFrame,
    cur: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Classify every key across two snapshots: added / removed /
    changed / unchanged.

    Projects (key, hash, carry...) per side before a full-outer join on
    the key — the join never moves ``content_col``. ``carry_cols`` ride
    from whichever side has the row (current wins when both do).

    Collision tradeoff behind the 16-bytes/row shuffle: 'changed' is
    detected purely by 60-bit hash inequality, so a prev/cur collision
    on the same key reports 'unchanged' and that update never re-enters
    the refresh pipeline (probability 2^-60 per changed doc — at 10^12
    changed docs/refresh, ~1 silently missed update per million
    refreshes; widen to a 128-bit hash if that matters)."""
    p = prev.select(
        F.col(key_col).alias("k"),
        md5_60bit(F.col(content_col)).alias("h_prev"),
        *[F.col(c).alias(f"prev_{c}") for c in carry_cols],
    )
    c = cur.select(
        F.col(key_col).alias("k"),
        md5_60bit(F.col(content_col)).alias("h_cur"),
        *[F.col(c_).alias(f"cur_{c_}") for c_ in carry_cols],
    )
    joined = p.join(c, "k", "full_outer")
    status = (
        F.when(F.col("h_prev").isNull(), F.lit("added"))
        .when(F.col("h_cur").isNull(), F.lit("removed"))
        .when(F.col("h_prev") != F.col("h_cur"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    carries = [
        F.coalesce(F.col(f"cur_{c_}"), F.col(f"prev_{c_}")).alias(c_)
        for c_ in carry_cols
    ]
    return joined.select(F.col("k").alias(key_col), status.alias("status"), *carries)


def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, status) delta summary between the derived previous
    and current document snapshots (see module doc for the derivation)."""
    d = load_table(spark, sf_dir, "documents")
    prev, cur = _derived_snapshots(d)
    delta = snapshot_diff(prev, cur, carry_cols=("source",))
    return (
        delta.groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .select("source", "status", "n_docs", "min_doc_id")
    )


def _derived_snapshots(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The module's deterministic (previous, current) snapshot pair."""
    prev = d.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [stale]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cur = d.filter(F.col("doc_id") % 19 != 7).select("doc_id", "source", "text")
    return prev, cur


def sql_snapshot_delta(carry: tuple[str, ...] = ()) -> str:
    """_derived_snapshots of ``documents`` and their snapshot_diff as
    WITH-clause CTEs: ``prev`` and ``cur`` (doc_id, source, text), and
    ``diff`` (doc_id, status, *carry)."""
    pc = "".join(f", {c_} AS prev_{c_}" for c_ in carry)
    cc = "".join(f", {c_} AS cur_{c_}" for c_ in carry)
    dc = "".join(f",\n         COALESCE(c.cur_{c_}, p.prev_{c_}) AS {c_}" for c_ in carry)
    return f"""prev AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0 THEN text || ' [stale]' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 3
), cur AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 19 <> 7
), p AS (
  SELECT doc_id AS k, {sql_md5_60bit('text')} AS h_prev{pc} FROM prev
), c AS (
  SELECT doc_id AS k, {sql_md5_60bit('text')} AS h_cur{cc} FROM cur
), diff AS (
  SELECT COALESCE(p.k, c.k) AS doc_id,
         CASE WHEN p.k IS NULL THEN 'added'
              WHEN c.k IS NULL THEN 'removed'
              WHEN p.h_prev <> c.h_cur THEN 'changed'
              ELSE 'unchanged' END AS status{dc}
  FROM p FULL OUTER JOIN c ON p.k = c.k
)"""


SNAPSHOT_DIFF_SQL = f"""
WITH {sql_snapshot_delta(("source",))}
SELECT source, status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM diff GROUP BY source, status
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the snapshot DELTA banded against the
    STANDING corpus's MinHash signature index.

    This is the refresh loop's dedup stage at 100 TB: the standing
    corpus's (doc, band, sig) table is a stored, mergeable artifact —
    computed once per ingested batch, never re-scanned — and each
    refresh computes signatures only for the added+changed documents,
    then band-joins delta-vs-standing. Candidate work is bounded by
    bucket collisions exactly as in whole-corpus LSH, but the left
    side is delta-sized. Self-pairs (a changed doc colliding with its
    own standing version) are excluded by id — that collision is
    expected, not a dedup signal. Here both signature tables are
    derived in-query so DuckDB replays the identical math end-to-end;
    production reads the standing side from storage."""
    d = load_table(spark, sf_dir, "documents")
    prev, cur = _derived_snapshots(d)
    delta_keys = snapshot_diff(prev, cur).filter(
        F.col("status").isin("added", "changed")
    )
    delta_docs = delta_keys.join(cur, "doc_id").select("doc_id", "text")
    standing = minhash_band_sigs(prev)  # production: a stored index table
    delta = minhash_band_sigs(delta_docs)
    return band_collisions(delta, standing).distinct()


DEDUP_INCREMENTAL_SQL = f"""
WITH {sql_snapshot_delta()}, delta_docs AS (
  SELECT cur.doc_id, cur.text
  FROM diff JOIN cur ON cur.doc_id = diff.doc_id
  WHERE diff.status IN ('added', 'changed')
), standing AS ({sql_minhash_bands('prev')}
), delta AS ({sql_minhash_bands('delta_docs')}
)
SELECT DISTINCT delta_doc, standing_doc
FROM ({sql_band_collisions('delta', 'standing')})
"""


def pipeline_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for corpus aggregates: the standing
    per-source stats table is UPDATED from the snapshot delta's signed
    contributions (+cur for added, -prev for removed, cur-prev for
    changed) instead of recomputed — and the operator proves the
    maintained numbers equal a direct recomputation over the current
    snapshot.

    This is how a 100 TB pipeline keeps corpus dashboards current:
    the standing stats are a KB-sized stored artifact, the refresh
    touches only delta rows (two delta-sized equi-joins fetch the
    prev/cur text for token counts; unchanged docs never enter the
    plan past the 16-byte diff join), and the merge is one signed SUM
    per (source). Same mergeability argument as
    sketch_cms_merge_shards, applied to exact aggregates under
    updates and deletes — the subtraction side is what plain
    re-aggregation can't do without a re-scan.

    Output per source: docs/tokens from direct recomputation and from
    maintenance, plus consistent (always true)."""
    d = load_table(spark, sf_dir, "documents")
    prev, cur = _derived_snapshots(d)
    delta = snapshot_diff(prev, cur, carry_cols=("source",)).filter(
        F.col("status") != "unchanged"
    )
    pv = prev.select("doc_id", ws_count("text").alias("prev_toks"))
    cv = cur.select("doc_id", ws_count("text").alias("cur_toks"))
    signed = (
        delta.join(pv, "doc_id", "left")
        .join(cv, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("status") == "added", F.lit(1))
            .when(F.col("status") == "removed", F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("d_docs"),
            (
                F.coalesce(F.col("cur_toks"), F.lit(0))
                - F.coalesce(F.col("prev_toks"), F.lit(0))
            ).alias("d_toks"),
        )
        .groupBy("source")
        .agg(F.sum("d_docs").alias("d_docs"), F.sum("d_toks").alias("d_toks"))
    )
    standing = prev.groupBy("source").agg(
        F.count(F.lit(1)).alias("p_docs"), F.sum(ws_count("text")).alias("p_toks")
    )
    maintained = standing.join(signed, "source", "left").select(
        "source",
        (F.col("p_docs") + F.coalesce(F.col("d_docs"), F.lit(0))).alias(
            "docs_maintained"
        ),
        (F.col("p_toks") + F.coalesce(F.col("d_toks"), F.lit(0))).alias(
            "toks_maintained"
        ),
    )
    direct = cur.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_direct"),
        F.sum(ws_count("text")).alias("toks_direct"),
    )
    return direct.join(maintained, "source").select(
        "source",
        "docs_direct",
        "docs_maintained",
        "toks_direct",
        "toks_maintained",
        (
            (F.col("docs_direct") == F.col("docs_maintained"))
            & (F.col("toks_direct") == F.col("toks_maintained"))
        ).alias("consistent"),
    )


INCREMENTAL_STATS_SQL = f"""
WITH {sql_snapshot_delta(("source",))}, signed AS (
  SELECT d.source,
         CAST(SUM(CASE d.status WHEN 'added' THEN 1
                                WHEN 'removed' THEN -1 ELSE 0 END) AS BIGINT)
           AS d_docs,
         CAST(SUM(COALESCE({sql_ws_count('cv.text')}, 0)
                - COALESCE({sql_ws_count('pv.text')}, 0))
              AS BIGINT) AS d_toks
  FROM diff d
  LEFT JOIN prev pv ON pv.doc_id = d.doc_id
  LEFT JOIN cur cv ON cv.doc_id = d.doc_id
  WHERE d.status <> 'unchanged'
  GROUP BY d.source
), standing AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS p_docs,
         CAST(SUM({sql_ws_count('text')}) AS BIGINT) AS p_toks
  FROM prev GROUP BY source
), maintained AS (
  SELECT st.source,
         st.p_docs + COALESCE(s.d_docs, 0) AS docs_maintained,
         st.p_toks + COALESCE(s.d_toks, 0) AS toks_maintained
  FROM standing st LEFT JOIN signed s ON s.source = st.source
), direct AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_direct,
         CAST(SUM({sql_ws_count('text')}) AS BIGINT) AS toks_direct
  FROM cur GROUP BY source
)
SELECT di.source, di.docs_direct, m.docs_maintained,
       di.toks_direct, m.toks_maintained,
       (di.docs_direct = m.docs_maintained
        AND di.toks_direct = m.toks_maintained) AS consistent
FROM direct di JOIN maintained m ON m.source = di.source
"""


SNAPSHOT_QUERIES: dict[str, Query] = {
    "snapshot_diff_documents": Query(
        "snapshot_diff_documents",
        snapshot_diff_documents,
        SNAPSHOT_DIFF_SQL,
        "CDC-style snapshot diff: added/removed/changed/unchanged per source",
    ),
    "dedup_incremental_minhash": Query(
        "dedup_incremental_minhash",
        dedup_incremental_minhash,
        DEDUP_INCREMENTAL_SQL,
        "snapshot delta band-joined against the standing MinHash signature index",
    ),
    "pipeline_incremental_stats": Query(
        "pipeline_incremental_stats",
        pipeline_incremental_stats,
        INCREMENTAL_STATS_SQL,
        "IVM: delta-maintained per-source aggregates == direct recomputation",
    ),
}
