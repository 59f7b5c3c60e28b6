"""Output checks, all run outside the timed region.

Every execution yields a row count, and the cold and last passes an
order-independent checksum (``digest``) too; both must agree across the
passes of a run. On top of that, each registry query's result is compared
once per run with its DuckDB ``oracle_sql()`` twin, and the
``Engine.submit`` output with word counts computed here from the generated
files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re
from collections import Counter
from decimal import Decimal
from pathlib import Path


def canon(v):
    """A value's engine-independent form: floats by ``repr`` (the engine
    promises bit-identity with the oracle), instants as naive UTC ISO
    strings, decimals normalised, nested values as tuples."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def digest(rows) -> tuple[int, int]:
    """(row count, order-independent 64-bit checksum) of ``rows``."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(canon(tuple(r))).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, total


def spark_rows(rows) -> tuple[list[str], list[tuple]]:
    cols = [c.lower() for c in rows[0].__fields__] if rows else []
    return cols, [tuple(r) for r in rows]


def oracle_mismatch(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """Compare Spark ``rows`` (columns ``cols``) with DuckDB's answer to
    ``sql`` as multisets of canonical tuples; None when they agree."""
    cur = con.execute(sql)
    dcols = [d[0].lower() for d in cur.description]
    drows = cur.fetchall()
    if cols and sorted(cols) != sorted(dcols):
        return f"columns {cols} vs oracle {dcols}"
    order = [dcols.index(c) for c in cols] if cols else list(range(len(dcols)))
    want = Counter(tuple(canon(r[i]) for i in order) for r in drows)
    got = Counter(canon(r) for r in rows)
    if got != want:
        return f"{sum(got.values())} rows vs oracle {sum(want.values())}, {len(got - want)} differ"
    return None


def duckdb_oracle(data: Path, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')"
        )
    return con


def read_lines(out: Path) -> list[str]:
    """Lines of every part file a text write committed under ``out``."""
    lines: list[str] = []
    for p in sorted(out.glob("part-*")):
        lines += p.read_text().splitlines()
    return lines


def _ascii_words(text: str) -> list[str]:
    return [w for w in re.split(r"[^a-z]+", text.lower()) if w]


def expected_wc(books: Path) -> Counter:
    words = Counter()
    for p in sorted(books.iterdir()):
        words.update(_ascii_words(p.read_text()))
    return Counter(f"{w} {n}" for w, n in words.items())
