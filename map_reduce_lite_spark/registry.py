"""Query registry shared by the relational library and extension ops.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string (DuckDB dialect-compatible) used by the correctness driver.
``oracle`` is None for operators whose semantics aren't expressible in
portable SQL (LSH banding with engine-specific hashes, streaming state);
those get a rows-only check and a pytest property test instead.

Determinism contract between Spark and DuckDB (both must hash-match on
values, so floating-point aggregation order must not matter):
- integer outputs wherever possible (counts, keys, flags);
- SUM over doubles goes through DECIMAL: per-row double arithmetic is
  IEEE-identical in both engines, the row value is cast to
  DECIMAL(18,s) (identical rounding for non-tie values), summed exactly,
  and the exact total is cast back to DOUBLE → bit-identical;
- AVG = CAST(decimal-sum AS DOUBLE) / COUNT — one double division of
  identical operands;
- MIN/MAX on doubles are exact (no arithmetic);
- portable 60-bit hashes: first 15 hex chars of md5 → BIGINT
  (Spark: conv(substr(md5(x),1,15),16,10); DuckDB: ('0x'||...)::BIGINT);
- one whitespace class, WS_CHARS = [ \\t\\n\\r\\f\\x0B], spelled out
  because Java's \\s (Spark) includes vertical tab and RE2's \\s (DuckDB)
  does not; the explicit class is exactly Java's \\s, so Spark output is
  the same either way. Every whitespace tokenizer (trim spaces, split
  on runs: ws_split, ws_count, ws_tokens, token_rows, token_positions
  and their sql_ twins) and whitespace normalizer reads it from here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent SUM of a double expression (see module doc)."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 4) -> Column:
    """Order-independent AVG of a double expression."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)


def sql_dsum(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT({expr})"


def md5_60bit(col: Column) -> Column:
    """Portable 60-bit hash of a string column (matches sql_md5_60bit)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_60bit(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def mrl_lower(col: Column | str) -> Column:
    """Cross-engine lowercase (r10): Java's FULL Unicode case mapping
    diverges from DuckDB/utf8proc's SIMPLE mapping on exactly two
    non-locale points — U+0130 'İ' lowers to 'i'+U+0307 (TWO
    codepoints, whose combining dot then splits \\p{L}+ tokens) vs
    plain 'i' in DuckDB, and Java applies the contextual final-sigma
    rule (Σ → ς at word end) while utf8proc maps Σ → σ
    unconditionally. Pre-translating those two characters before
    lower() makes Java's mapping coincide with the simple one —
    identity on any text not containing İ/Σ (all ASCII fixtures), so
    every standing hash is unchanged. Found by the r10 Unicode-corpus
    sweep: wc_documents tokenized 'DİYARBAKIR' into four Java-side
    tokens via the combining dot. Every tokenizing/normalizing
    operator lowercases through this helper; the DuckDB twins keep
    plain lower() (the pre-translate is a no-op under utf8proc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.translate(c, "İΣ", "iσ"))


# The one whitespace class every tokenizer and normalizer splits on
# (module doc): the class body, and the run pattern split on.
WS_CHARS = r" \t\n\r\f\x0B"
WS_RUN = f"[{WS_CHARS}]+"


def ws_split(col: Column | str) -> Column:
    """Whitespace tokens (matches sql_ws_split): trim spaces, split on
    runs of WS_CHARS. Empty tokens stay — one on an empty or space-only
    text, a leading one before leading non-space whitespace."""
    return F.split(F.trim(col), WS_RUN)


def sql_ws_split(expr: str) -> str:
    return f"string_split_regex(trim({expr}, ' '), '{WS_RUN}')"


def ws_count(col: Column | str) -> Column:
    """Raw whitespace-token count, empties included (matches sql_ws_count)."""
    return F.size(ws_split(col)).cast("long")


def sql_ws_count(expr: str) -> str:
    return f"CAST(len({sql_ws_split(expr)}) AS BIGINT)"


def ws_tokens(col: Column | str) -> Column:
    """The non-empty whitespace tokens as an array (matches sql_ws_tokens)."""
    return F.filter(ws_split(col), lambda t: F.length(t) > 0)


def sql_ws_tokens(expr: str) -> str:
    return f"list_filter({sql_ws_split(expr)}, x -> x <> '')"


def token_rows(df: DataFrame, name: str, *keep: str) -> DataFrame:
    """The lowered, non-empty whitespace-token stream of ``df.text``: one
    row per token, as column ``name``, beside the ``keep`` columns."""
    toks = F.explode(ws_split(mrl_lower("text"))).alias(name)
    return df.select(*keep, toks).filter(F.length(name) > 0)


def sql_token_rows(name: str, *keep: str) -> str:
    """token_rows over ``documents`` as the body of a SELECT."""
    return f"""SELECT {', '.join(keep)}, t.{name} AS {name}
  FROM documents,
       LATERAL unnest({sql_ws_split('lower(text)')}) AS t({name})
  WHERE t.{name} <> ''"""


def token_positions(df: DataFrame) -> DataFrame:
    """(doc, pos, token): the non-empty whitespace tokens of ``df``'s
    (doc_id, text) rows with their positions (matches
    sql_token_positions; only the order of pos is shared).

    Repartitioning by doc BEFORE the explode spreads the CPU-heavy
    tokenize across cores when the source is one parquet split, and
    pre-aligns the partitioning every downstream per-doc window/groupBy
    needs — one shuffle of small rows instead of one of exploded rows."""
    fanout = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    return (
        df.repartition(fanout, F.col("doc_id"))
        .select(
            F.col("doc_id").alias("doc"),
            F.posexplode(ws_split("text")).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
    )


def sql_token_positions(src: str, text: str, *keep: str) -> str:
    """The positional token stream of relation ``src`` as the body of a
    SELECT: the ``keep`` expressions, then (pos, token) for every
    non-empty whitespace token of ``text``."""
    return f"""SELECT * FROM (
    SELECT * EXCLUDE (toks), unnest(generate_series(1, len(toks))) AS pos,
           unnest(toks) AS token
    FROM (SELECT {', '.join(keep)}, {sql_ws_split(text)} AS toks FROM {src})
  ) WHERE token <> ''"""
