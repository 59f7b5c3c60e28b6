"""Tests of the benchmark's output checks (no Spark needed)."""

from __future__ import annotations

import datetime as dt
from collections import Counter
from decimal import Decimal

import duckdb

import checks


def test_digest_is_order_independent_and_value_sensitive():
    rows = [(1, "a", 0.1), (2, "b", None), (1, "a", 0.1)]
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    assert checks.digest(rows)[0] == 3
    assert checks.digest(rows) != checks.digest([(1, "a", 0.1), (2, "b", None)])
    assert checks.digest([(0.1 + 0.2,)]) != checks.digest([(0.3,)])


def test_canon_instants_decimals_and_nesting():
    utc = dt.datetime(2024, 1, 1, 5, tzinfo=dt.timezone.utc)
    plus2 = dt.datetime(2024, 1, 1, 7, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert checks.canon(utc) == checks.canon(plus2) == checks.canon(utc.replace(tzinfo=None))
    assert checks.canon(Decimal("1.50")) == checks.canon(Decimal("1.5"))
    assert checks.canon([1, [2.0]]) == (1, ("2.0",))


def test_oracle_mismatch_matches_by_column_name_as_multisets():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, V)"
    assert checks.oracle_mismatch(con, sql, ["v", "k"], [("y", 2), ("x", 1)]) is None
    assert checks.oracle_mismatch(con, sql, ["v", "k"], [("y", 2)]) is not None
    assert "columns" in checks.oracle_mismatch(con, sql, ["k", "z"], [(1, "x"), (2, "y")])


def test_expected_word_counts(tmp_path):
    books = tmp_path / "books"
    books.mkdir()
    (books / "a.txt").write_text("Spark, data spark\nnone here\nspark\n")
    assert checks.expected_wc(books) == Counter(
        ["spark 3", "data 1", "none 1", "here 1"]
    )
