"""Candidate-pair blocking: the one Spark-side implementation of the
bucketed pair generators' shared steps.

Every bucketed near-dup / k-NN family here is the same postings join
(V-SMART-Join, VLDB 2012): rows keyed by a bucket (a simhash band
chunk, an LSH band hash, a k-means cluster) self-join within their
bucket to form candidate pairs, and a separate stage verifies each
pair. A hot bucket makes that join quadratic in the bucket size, so
an oversized bucket is split into ceil(size / cap) sub-buckets by a
portable salted hash and pairs form only within a sub-bucket: work per
bucket is bounded by cap², at the price of dropping the pairs that
straddle two sub-buckets (property-pinned against the DuckDB twins,
which replay the same split in SQL, in tests/test_capcorpus.py).

- ``bucket_over_cap``: the sizing probe, one scalar job.
- ``salted_split``: the split itself, unconditional.
- ``split_hot_buckets``: probe, then split or ``sub ≡ 0``.
- ``band_self_join``: distinct id-ordered (keep_id, dup_id) pairs of a
  bucketed id table.

Each caller keeps its own salt string (``band_salt``) so the Spark and
SQL splits stay bit-identical; the cosine verify lives next to the dot
product in ops/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from map_reduce_lite_spark.registry import md5_60bit


def band_salt(prefix: str, band: str, member: str) -> Column:
    """``prefix|band|member`` — a per-band salt, so a pair's chance of
    sharing a sub-bucket is independent across bands."""
    return F.concat_ws(
        "|", F.lit(prefix), F.col(band).cast("string"), F.col(member).cast("string")
    )


def bucket_over_cap(rows: DataFrame, keys: list[str], cap: int) -> bool:
    """Sizing probe (one scalar job): does any ``keys`` bucket hold more
    than ``cap`` rows? False on an empty frame."""
    biggest = (
        rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
    )
    return biggest is not None and biggest > cap


def salted_split(rows: DataFrame, keys: list[str], cap: int, salt: Column) -> DataFrame:
    """``rows`` plus ``sub = pmod(md5_60bit(salt), n_sub)`` with
    ``n_sub = ceil(bucket size / cap)`` by exact integer arithmetic; a
    bucket at or under ``cap`` gets n_sub = 1, so sub ≡ 0 there. The
    bucket sizes are one row per bucket and are broadcast back."""
    sizes = rows.groupBy(*keys).agg(
        ((F.count(F.lit(1)) + F.lit(cap - 1)) / F.lit(cap)).cast("long").alias("n_sub")
    )
    return rows.join(F.broadcast(sizes), keys).withColumn(
        "sub", F.pmod(md5_60bit(salt), F.col("n_sub"))
    )


def split_hot_buckets(
    rows: DataFrame, keys: list[str], cap: int, salt: Column
) -> tuple[DataFrame, bool]:
    """(``rows`` with a ``sub`` column, whether any bucket was over
    ``cap``). When none is — the common case on natural corpora — the
    split is provably the identity, so the probe skips the sizes
    broadcast and the salt and returns ``sub ≡ 0``."""
    if bucket_over_cap(rows, keys, cap):
        return salted_split(rows, keys, cap, salt), True
    return rows.withColumn("sub", F.lit(0).cast("long")), False


def band_self_join(rows: DataFrame, on: list[str]) -> DataFrame:
    """Triangular self-join of a (vec_id, *on) table on its bucket
    columns → distinct (keep_id, dup_id) with keep_id < dup_id. IDs only
    on the shuffle (8-byte keys); vectors join back after the pair
    dedup, in the verify stage."""
    return (
        rows.select(F.col("vec_id").alias("keep_id"), *on)
        .join(rows.select(F.col("vec_id").alias("dup_id"), *on), on)
        .filter(F.col("keep_id") < F.col("dup_id"))
        .dropDuplicates(["keep_id", "dup_id"])
        .select("keep_id", "dup_id")
    )
