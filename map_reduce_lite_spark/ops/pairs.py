"""Candidate-pair blocking: the one implementation, Spark and SQL, of
the pair generators' shared steps.

Every pair generator here is the same postings join (V-SMART-Join,
VLDB 2012). Its joining phase is ``cooccur`` (SQL twin
``sql_cooccur``): rows keyed by a shared element (a shingle, an order,
a document, a simhash band chunk, an LSH band hash) self-join within
their key into id-ordered member pairs, counted per pair. The
similarity phase stays with each caller: a Jaccard or containment
ratio, a support threshold, a Hamming or cosine verify. A hot key
makes the join quadratic in the key's size. ``key_cap`` drops such a
key outright (a stop list); the salted split below instead cuts an
oversized bucket into ceil(size / cap) sub-buckets by a portable
salted hash, and pairs form only within a sub-bucket: work per bucket
is bounded by cap², at the price of dropping the pairs that straddle
two sub-buckets (property-pinned against the DuckDB twins, which
replay the same split in SQL, in tests/test_capcorpus.py).

- ``cooccur`` / ``sql_cooccur``: the joining phase.
- ``bucket_over_cap``: the sizing probe, one scalar job.
- ``salted_split`` / ``sql_salted_split``: the split itself,
  unconditional.
- ``split_hot_buckets``: probe, then split or ``sub ≡ 0``.

Each caller keeps its own salt string (``band_salt`` /
``sql_band_salt``) so the Spark and SQL splits stay bit-identical; the
cosine verify lives next to the dot product in ops/similarity.py.

The salted split is the throughput policy. The other, ADAPTIVE
RE-BANDING, is for consumers that must not silently drop a detectable
pair (the leakage-safe split). It applies to
an LSH band table (vec_id, band_id, band_hash): ``refine_sizes`` labels
each member with its bucket size ``n`` and, inside an oversized bucket
only, its hash ``rh`` under that band's chunk of seeded refinement
hyperplanes and its refine sub-bucket size ``m``. ``refined_pairs``
reads four candidate branches from that one table:

1. bucket ≤ cap: exact all-pairs within (band_id, band_hash);
2. oversized bucket, sub-bucket ≤ cap: exact all-pairs within
   (band_id, band_hash, rh). The refinement planes are per-band
   chunks, so a pair split by one band's refinement keeps its
   independent chance in every other band, and no pair inside a
   sub-bucket is dropped the way a salt drops them;
3. sub-bucket still > cap (members agree on all band and refinement
   signs, a near-constant core): a star to the sub-bucket's min-id
   member, size − 1 candidates instead of size². A near-constant core
   verifies against the representative whenever it verifies against
   any member, up to the threshold boundary, so the verified graph
   keeps its connectivity;
4. every member of an oversized bucket also pairs with the bucket's
   min-id member, whatever its sub-bucket. This catches a genuine
   near-dup of the bucket's dominant direction that disagrees with the
   refinement planes and would otherwise land in a singleton
   sub-bucket with no candidate in this band (measured: a cos-0.48
   satellite of a 600-member core was detected in zero pairs without
   it, in 600 by the exact oracle).

Per-bucket work is ≤ cap² plus linear stars, whatever the collision
density. Residual recall limits, both inherent to sub-quadratic
detection: a pair inside an oversized bucket that disagrees on that
band's refinement planes falls back on the other bands, and a
barely-above-threshold pair inside a still-oversized sub-bucket is
found only through the representative. ``star_only_ids`` names the
members that branches 3-4 alone cover in every band. The SQL twin is
``sql_refined_cands_chain`` / ``sql_refine_coverage_cte`` in
ops/similarity.py, row-for-row pinned in tests/test_capcorpus.py.
"""

from __future__ import annotations

import functools
import operator
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from map_reduce_lite_spark.registry import md5_60bit, sql_md5_60bit

BAND_KEYS = ["band_id", "band_hash"]  # the bucket of an LSH band table
_ENDS = (("a", 1), ("b", 2))  # the two sides of a pair: alias, column suffix


def band_salt(prefix: str, band: str, member: str) -> Column:
    """``prefix|band|member`` — a per-band salt, so a pair's chance of
    sharing a sub-bucket is independent across bands."""
    return F.concat_ws(
        "|", F.lit(prefix), F.col(band).cast("string"), F.col(member).cast("string")
    )


def sql_band_salt(prefix: str, band: str, member: str) -> str:
    """``band_salt`` as a SQL expression."""
    return f"'{prefix}|' || CAST({band} AS VARCHAR) || '|' || CAST({member} AS VARCHAR)"


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


def sql_salted_split(src: str, keys: list[str], cap: int, salt: str) -> str:
    """``salted_split`` of relation ``src`` as the body of a SELECT;
    ``salt`` is a SQL expression over ``src``'s columns."""
    on = ", ".join(keys)
    return f"""SELECT *, ({sql_md5_60bit(salt)} % n_sub) AS sub
  FROM {src} JOIN (SELECT {on}, (COUNT(*) + {cap - 1}) // {cap} AS n_sub
                   FROM {src} GROUP BY {on}) USING ({on})"""


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


def cooccur(
    rows: DataFrame,
    key: str | list[str],
    member: str,
    *,
    payload: tuple[str, ...] = (),
    min_count: int = 1,
    key_cap: int | None = None,
) -> DataFrame:
    """The joining phase: (m1, m2, n_shared, <payload>_1, <payload>_2)
    for every pair of ``member`` values m1 < m2 whose rows share a
    ``key`` (a column or a list of columns). ``n_shared`` counts the
    joined row pairs, multiplicity kept; pairs with fewer than
    ``min_count`` are dropped. Each ``payload`` column rides along from
    both sides and is part of the pair's group, so it must be a
    function of the member. ``key_cap`` drops every key holding more
    than ``key_cap`` rows before the join. A caller that reads only
    (m1, m2) gets the distinct pairs: Spark prunes the unused count.
    Both join sides recompute ``rows`` (Spark does not share their
    subtrees), so a caller materializes an expensive ``rows`` first."""
    keys = [key] if isinstance(key, str) else list(key)
    if key_cap is not None:
        rows = (
            rows.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= key_cap)
            .select(*keys)
            .join(rows, keys)
        )
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{member}") < F.col(f"b.{member}"))
    groups = [F.col(f"a.{member}").alias("m1"), F.col(f"b.{member}").alias("m2")]
    groups += [F.col(f"{s}.{p}").alias(f"{p}_{i}") for s, i in _ENDS for p in payload]
    carried = [f"{p}_{i}" for _, i in _ENDS for p in payload]
    pairs = (
        rows.alias("a")
        .join(rows.alias("b"), functools.reduce(operator.and_, on))
        .groupBy(*groups)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select("m1", "m2", "n_shared", *carried)
    )
    return pairs.filter(F.col("n_shared") >= min_count) if min_count > 1 else pairs


def sql_cooccur(
    src: str,
    key: str | list[str],
    member: str,
    *,
    payload: tuple[str, ...] = (),
    min_count: int = 1,
    key_cap: int | None = None,
) -> str:
    """``cooccur`` of relation ``src`` as the body of a SELECT, with the
    same output columns."""
    keys = [key] if isinstance(key, str) else list(key)
    if key_cap is not None:
        on = ", ".join(keys)
        src = f"""(SELECT * FROM {src} JOIN (
    SELECT {on} FROM {src} GROUP BY {on} HAVING COUNT(*) <= {key_cap}
  ) USING ({on}))"""
    cond = " AND ".join([f"a.{k} = b.{k}" for k in keys] + [f"a.{member} < b.{member}"])
    groups = [f"a.{member}", f"b.{member}"] + [f"{s}.{p}" for s, _ in _ENDS for p in payload]
    carried = "".join(f", {s}.{p} AS {p}_{i}" for s, i in _ENDS for p in payload)
    having = f"\n  HAVING COUNT(*) >= {min_count}" if min_count > 1 else ""
    return f"""SELECT a.{member} AS m1, b.{member} AS m2, COUNT(*) AS n_shared{carried}
  FROM {src} a JOIN {src} b ON {cond}
  GROUP BY {", ".join(groups)}{having}"""


def refine_sizes(
    bands: DataFrame, cap: int, refine_rows: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The sizing step of adaptive re-banding, the Spark twin of the SQL
    chain's ``rb`` ⋈ ``subsizes``: ``bands`` rows plus the bucket size
    ``n`` and, in a bucket over ``cap`` only, ``rh`` and the sub-bucket
    size ``m`` (null elsewhere). ``refine_rows`` maps a frame of the
    oversized buckets' member ids to their (vec_id, band_id, rh) rows,
    so only those members are re-hashed."""
    # one row per (band, hash): at most n_bands × 2^(planes/band), tiny
    sizes = bands.groupBy(*BAND_KEYS).agg(F.count(F.lit(1)).alias("n"))
    sized = bands.join(F.broadcast(sizes), BAND_KEYS)
    big = sized.filter(F.col("n") > cap)
    bigr = big.join(refine_rows(big.select("vec_id").distinct()), ["vec_id", "band_id"])
    sub_keys = [*BAND_KEYS, "rh"]
    # up to one sub-bucket per member: a shuffle join, not a broadcast
    subsizes = bigr.groupBy(*sub_keys).agg(F.count(F.lit(1)).alias("m"))
    return sized.filter(F.col("n") <= cap).unionByName(
        bigr.join(subsizes, sub_keys), allowMissingColumns=True
    )


def _star(rows: DataFrame, keys: list[str]) -> DataFrame:
    """(keep_id, dup_id): each member of a ``keys`` group paired with
    the group's min-id member. Only groups over the cap reach here, so
    the representatives are at most rows / cap and are broadcast."""
    reps = rows.groupBy(*keys).agg(F.min("vec_id").alias("rep"))
    return (
        rows.join(F.broadcast(reps), keys)
        .filter(F.col("vec_id") != F.col("rep"))
        .select(F.col("rep").alias("keep_id"), F.col("vec_id").alias("dup_id"))
    )


def refined_pairs(sized: DataFrame, cap: int) -> DataFrame:
    """Distinct (keep_id, dup_id) candidates of a ``refine_sizes``
    table: the four branches of the module docstring, in order."""
    sub_keys = [*BAND_KEYS, "rh"]
    exact = [
        cooccur(sized.filter(F.col(size) <= cap), keys, "vec_id").select(
            F.col("m1").alias("keep_id"), F.col("m2").alias("dup_id")
        )
        for size, keys in (("n", BAND_KEYS), ("m", sub_keys))
    ]
    return (
        exact[0]
        .unionByName(exact[1])
        .unionByName(_star(sized.filter(F.col("m") > cap), sub_keys))
        .unionByName(_star(sized.filter(F.col("n") > cap), BAND_KEYS))
        .dropDuplicates(["keep_id", "dup_id"])
    )


def star_only_ids(sized: DataFrame, cap: int) -> DataFrame:
    """vec_ids of a ``refine_sizes`` table with exact coverage (bucket
    or refine sub-bucket ≤ ``cap``) in no band: reachable in the
    candidate graph only through the branch 3-4 stars."""
    exact = F.when((F.col("n") <= cap) | (F.col("m") <= cap), 1).otherwise(0)
    return (
        sized.groupBy("vec_id")
        .agg(F.max(exact).alias("exact"))
        .filter(F.col("exact") == 0)
        .select("vec_id")
    )
