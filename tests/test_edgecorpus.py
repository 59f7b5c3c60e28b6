"""Adversarial mini-corpus, cross-engine: empty / whitespace-only docs,
BPE prefix traps, adjacent-repeat merges, and boilerplate spans — the
document shapes the synthetic fixtures never contain but a 100 TB crawl
guarantees. Each regression here crashed or silently diverged before the
round-7 fixes:

- ``curation_dsir_weights`` threw INVALID_PARAMETER_VALUE.LENGTH on an
  empty token array (slice length -1);
- ``dedup_simhash`` gave token-less docs simhash=0 and reported all-empty
  pairs as hamming-0 near-dups, while the oracle dropped those docs;
- ``vocab_bpe_apply``'s merge pattern had no trailing token boundary, so
  merge (x, a) also fired on token "agg" after an "x" (over-merging);
  the fix must NOT break adjacent repeats ([x,a,x,a] → two merges);
- ``dedup_span_removal``'s kept-position guard (sequence(1, 0) is a
  DESCENDING [1, 0] in Spark) on zero-token docs.

Both engines run the real registered query + oracle on the same parquet,
compared with the same multiset protocol as test_oracle_parity.
"""

from __future__ import annotations

import ast
import re

import pytest
from pyspark.sql import functions as F

from tests.test_oracle_parity import _multiset
from tests.test_pairs import PKG, _f_call

# Corpus design (see pair-count math in each test):
# - docs 1, 2: empty and whitespace-only (token-less)
# - docs 3-12: "x a" ×10            → learned merge #1 (count 12 w/ doc 81)
# - docs 13-21: "p1 q1" ×9 (src0 = a DSIR target source)
# - docs 22-75: "p2 q2" .. "p7 q7" ×9 each  → merges #2-#8
# - doc 80: "x agg"  — the prefix trap: (x, agg) appears once, far below
#   the top-8 cut, so NO learned merge may fire on it
# - doc 81: "x a x a" — adjacent repeats of merge #1
# - docs 90, 91: share the 8-token span "s1 .. s8" (doc 90 holds the
#   global-first occurrence; doc 91 loses 8 tokens)
# - doc 95: one token
_DOCS = (
    [(1, "", "bulk"), (2, "   ", "bulk")]
    + [(2 + i, "x a", "bulk") for i in range(1, 11)]
    + [(12 + i, "p1 q1", "src0") for i in range(1, 10)]
    + [
        (12 + 9 * (p - 1) + i, f"p{p} q{p}", f"f{p}")
        for p in range(2, 8)
        for i in range(1, 10)
    ]
    + [
        (80, "x agg", "trap"),
        (81, "x a x a", "rep"),
        (90, "s1 s2 s3 s4 s5 s6 s7 s8 taila", "span"),
        (91, "pre s1 s2 s3 s4 s5 s6 s7 s8", "span"),
        (95, "solo", "one"),
    ]
)


def _write_documents(d, docs) -> str:
    """``docs`` as (doc_id, text, source) rows of a documents table in
    ``d``; every doc is lang 'en'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array([r[2] for r in docs], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def _documents_duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return _write_documents(tmp_path_factory.mktemp("edgecorpus"), _DOCS)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    return _documents_duck(edge_dir)


_EDGE_QUERIES = [
    "curation_dsir_weights",
    "dedup_simhash",
    "vocab_bpe_apply",
    "dedup_span_removal",
    # r7 additions — empty/whitespace docs must drop identically from
    # both engines; single-token sources must drop from the slope fit
    "text_char_entropy",
    "text_zipf_slope",
    # r8 additions — the corpus has ~27 distinct tokens > JSD_TOP_VOCAB,
    # so the '<other>' bucket is live here too; the repeated "x a" docs
    # and the whitespace-only doc (normalizing to the empty string)
    # exercise phash grouping on degenerate payloads
    "text_js_divergence",
    "multimodal_phash_dedup",
    # r10 additions — the empty/whitespace-only docs land in 'und' with
    # real token mass elsewhere (the NULLIF guards' mixed regime), the
    # tiny vocabulary keeps every COVERAGE_KS tier live, and the PPM
    # round-trip runs its corrupt-every-50th rule over adversarial ids
    "text_fertility_by_lang",
    "text_vocab_coverage",
    "multimodal_ppm_decode",
    # r11 additions — the empty doc pins the decode stub's NULL-moments
    # agreement (ADVICE: Python 0.0 vs SQL NULL latent divergence, now
    # fixed to NULL on both sides); the real resize kernel runs its
    # NN map + corrupt-every-50th rule over the adversarial ids
    "multimodal_decode_stub",
    "multimodal_resize_stub",
    "multimodal_ppm_resize",
]


def _run_both(spark, duck, sf_dir, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(e.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    return spark_cols, spark_rows, duck_cols, duck_rows


def test_phash_vertical_tab_cross_engine(spark, tmp_path):
    """Java regex \\s includes vertical tab (\\x0B); RE2's does not.
    multimodal_phash_dedup spells the whitespace class out explicitly,
    so a payload containing \\x0B must (a) hash identically in both
    engines and (b) collide with its space-separated twin — this corpus
    has three \\x0B-bearing variants of one doc plus a control."""
    import __spark_entry__ as e

    docs = [
        (1, "hello world", "a"),
        (2, "hello\x0bworld", "a"),
        (3, "hello \x0b world", "a"),
        (4, "\x0bhello world\x0b", "a"),
        (5, "different text", "b"),
    ]
    con = _documents_duck(_write_documents(tmp_path, docs))
    sdf = e.queries()["multimodal_phash_dedup"](spark, str(tmp_path))
    spark_rows = sorted(tuple(r) for r in sdf.collect())
    duck_rows = sorted(
        tuple(r) for r in con.execute(e.oracle_sql()["multimodal_phash_dedup"]).fetchall()
    )
    assert spark_rows == duck_rows
    # docs 1-4 normalize to 'hello world' in BOTH engines → one group
    # of 4 keeping media_id 1, plus the control singleton
    by_keep = {r[2]: r[1] for r in spark_rows}
    assert by_keep == {1: 4, 5: 1}, spark_rows


# Vertical tab (\x0B) inside, between and around tokens. Java's \s
# (Spark) includes it and RE2's \s (DuckDB) does not, so every
# whitespace tokenizer splits on the registry's explicit class; with \s
# these docs tokenized differently in the two engines.
_VT_BASE = (
    "the quick brown fox jumps over the lazy dog and the cat is in the "
    "garden of the house with a red door"
)
_VT_DOCS = [
    (1, _VT_BASE, "src0"),
    (2, _VT_BASE.replace(" ", "\x0b", 1), "src0"),
    (3, _VT_BASE.replace(" lazy ", " \x0b lazy \x0b "), "src0"),
    (4, "\x0b" + _VT_BASE + "\x0b", "src1"),
    (5, _VT_BASE.replace(" ", "\x0b"), "src1"),
    (6, "a b c d e f g h i j", "src2"),
    (7, "a\x0bb c\x0bd e f g h i j", "src2"),
    (8, "\x0b", "src2"),
    (9, "hello\x0b\x0bworld", "src3"),
]

# documents-only tokenizing queries, at least one per module that
# tokenizes (ops/similarity's only one also reads embeddings)
_VT_QUERIES = [
    "text_quality_score",
    "text_token_stats",
    "text_doc_fingerprint",
    "text_tfidf_top_terms",
    "sketch_cms_token_freq",
    "curation_train_split",
    "curation_sequence_packing",
    "curation_ccnet_buckets",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_inverted_index",
    "text_oov_rate",
    "dedup_substring_spans",
    "vocab_bpe_apply",
    "heavy_hitters_tokens",
    "pipeline_pretrain_curation",
    "pipeline_incremental_stats",
]


@pytest.fixture(scope="module")
def vt_dir(tmp_path_factory):
    return _write_documents(tmp_path_factory.mktemp("vtcorpus"), _VT_DOCS)


@pytest.mark.parametrize("name", _VT_QUERIES)
def test_vertical_tab_tokenizes_alike(spark, vt_dir, name):
    spark_cols, spark_rows, duck_cols, duck_rows = _run_both(
        spark, _documents_duck(vt_dir), vt_dir, name
    )
    assert spark_rows, f"{name}: vacuous on the vertical-tab corpus"
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


# the letter tokenizer of the reference's wc (wordcount.TOKEN_SPLIT_RE)
# is the one other split policy; its DuckDB spelling lives in parity.py
_LETTER_SPLIT = re.compile(r"string_split_regex\([^']*'\[\^\\p\{L\}\]\+'\)")


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring nodes in ``tree``: prose, not code."""
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _whitespace_offenders(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, what) for each whitespace regex, SQL split or whitespace
    ``F.split`` in ``tree``; docstrings do not count."""
    docs = _docstrings(tree)
    found = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            v = n.value
            if "\\s" in v or "\\x0b" in v.lower() or "\x0b" in v:
                found.append((n.lineno, "whitespace regex"))
            if "string_split_regex(" in _LETTER_SPLIT.sub("", v):
                found.append((n.lineno, "string_split_regex"))
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "split"
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and not (
                len(n.args) > 1
                and (
                    isinstance(n.args[1], ast.Name) and n.args[1].id == "TOKEN_SPLIT_RE"
                    or isinstance(n.args[1], ast.Constant) and n.args[1].value == ""
                )
            )
        ):
            found.append((n.lineno, "F.split"))
    return found


def test_one_whitespace_tokenizer():
    """The whitespace class and every whitespace split live in
    registry.py; no other module spells a \\s regex, a SQL
    string_split_regex or a whitespace F.split of its own."""
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line} {what}"
        for p in sorted(PKG.rglob("*.py"))
        if p != PKG / "registry.py"
        for line, what in _whitespace_offenders(ast.parse(p.read_text()))
    ]
    assert offenders == []
    registry = _whitespace_offenders(ast.parse((PKG / "registry.py").read_text()))
    assert {what for _, what in registry} == {"whitespace regex", "string_split_regex", "F.split"}


def _positions(rows):
    """doc -> its tokens in position order (the engines number
    positions from different bases; only their order is shared)."""
    out = {}
    for doc, _, tok in sorted(rows):
        out.setdefault(doc, []).append(tok)
    return out


def _twins():
    """name -> (Spark half over a documents frame, SQL half over the
    ``documents`` view, row normalizer) for each shared pipeline stage."""
    from map_reduce_lite_spark.ops import dedup, pipeline, snapshot, text
    from map_reduce_lite_spark.registry import sql_token_positions, token_positions

    def collisions(d):
        bands = dedup.minhash_band_sigs(d)
        return dedup.band_collisions(bands.filter(F.col("doc") % 2 == 0), bands)

    def delta(carry):
        def run(d):
            return snapshot.snapshot_diff(*snapshot._derived_snapshots(d), carry_cols=carry)

        sql = f"WITH {snapshot.sql_snapshot_delta(carry)} SELECT * FROM diff"
        return run, sql, sorted

    flags = ("doc_id", "source", "n_tokens", "q_ok", "l_ok")
    return {
        "token_positions": (
            lambda d: token_positions(d).select("doc", "pos", "token"),
            "SELECT doc, pos, token FROM "
            f"({sql_token_positions('documents', 'text', 'doc_id AS doc')})",
            _positions,
        ),
        "shingles": (dedup.shingles, dedup.sql_shingles("documents"), sorted),
        "shingle_overlap": (
            lambda d: dedup._shingle_overlap(d).select("doc1", "doc2", "n_inter", "n1", "n2"),
            dedup.sql_shingle_overlap("documents"),
            sorted,
        ),
        "ngram_jaccard_pairs": (
            dedup.ngram_jaccard_pairs,
            dedup.sql_ngram_jaccard_pairs("documents"),
            sorted,
        ),
        "minhash_bands": (dedup.minhash_band_sigs, dedup.sql_minhash_bands("documents"), sorted),
        "band_collisions": (
            collisions,
            f"WITH b AS ({dedup.sql_minhash_bands('documents')}), "
            "dl AS (SELECT * FROM b WHERE doc % 2 = 0) "
            + dedup.sql_band_collisions("dl", "b"),
            sorted,
        ),
        "snapshot_delta": delta(()),
        "snapshot_delta_carry": delta(("source",)),
        "lang_argmax": (
            lambda d: d.select("doc_id", *text.lang_hits()).select("doc_id", text.lang_argmax()),
            f"SELECT doc_id, {text.sql_lang_argmax()} FROM "
            f"(SELECT doc_id, {text.sql_lang_hits()} FROM documents)",
            sorted,
        ),
        "quality_lang_flags": (
            lambda d: pipeline.quality_lang_flags(d).select(*flags),
            f"SELECT {', '.join(flags)} FROM ({pipeline.sql_quality_lang_flags('documents')})",
            sorted,
        ),
    }


@pytest.mark.parametrize("corpus", ["edge", "vt"])
@pytest.mark.parametrize("twin", sorted(_twins()))
def test_stage_twin_parity(spark, edge_dir, vt_dir, corpus, twin):
    """Each shared document-pipeline stage gives the same rows in its
    Spark half and its SQL half, on the edge corpus (empty,
    whitespace-only, one- and two-token docs) and the vertical-tab
    corpus."""
    sf_dir = {"edge": edge_dir, "vt": vt_dir}[corpus]
    run, sql, norm = _twins()[twin]
    spark_rows = [tuple(r) for r in run(spark.read.parquet(f"{sf_dir}/documents.parquet")).collect()]
    duck_rows = _documents_duck(sf_dir).execute(sql).fetchall()
    assert spark_rows, f"{twin}: vacuous on the {corpus} corpus"
    assert norm(spark_rows) == norm(duck_rows)


# Each shared stage's SQL spelling and the module whose twin emits it:
# no other module may spell it.
_STAGE_SPELLINGS = {
    "generate_series(1, len(": "registry.py",
    "lead(token, 2) OVER": "ops/dedup.py",
    "HAVING COUNT(*) <=": "ops/pairs.py",
    "% 17 <> 3": "ops/snapshot.py",
    "THEN 'und'": "ops/text.py",
}


def _sql_strings(tree: ast.Module) -> list[str]:
    """Non-docstring string constants of ``tree``, f-string parts included."""
    docs = _docstrings(tree)
    return [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs
    ]


def test_one_twin_per_stage():
    """Token positions, shingles, the DF-capped shingle overlap, the
    snapshot delta and the stopword argmax each have one SQL spelling:
    the twin's home module is the only one that writes it, and the twin
    emits it (the shingle windows are generated from SHINGLE_SIZE)."""
    from map_reduce_lite_spark.ops import dedup, snapshot, text
    from map_reduce_lite_spark.registry import sql_token_positions

    emitted = {
        "generate_series(1, len(": sql_token_positions("documents", "text", "doc_id"),
        "lead(token, 2) OVER": dedup.sql_shingles("documents"),
        "HAVING COUNT(*) <=": dedup.sql_shingle_overlap("documents"),
        "% 17 <> 3": snapshot.sql_snapshot_delta(),
        "THEN 'und'": text.sql_lang_argmax(),
    }
    strings = {
        str(p.relative_to(PKG)): _sql_strings(ast.parse(p.read_text()))
        for p in sorted(PKG.rglob("*.py"))
    }
    for spelling, home in _STAGE_SPELLINGS.items():
        spellers = {m for m, vs in strings.items() if any(spelling in v for v in vs)}
        assert spellers <= {home}, (spelling, sorted(spellers))
        assert spelling in emitted[spelling], spelling


# The triangular self-join, rows of one relation paired with one member
# strictly below the other, is written once: ``pairs.cooccur`` and
# ``pairs.sql_cooccur``. These writers keep their own, on purpose.
_SEMDEDUP = (
    "each member has exactly one (cluster, sub), so no pair repeats; "
    "cooccur's per-pair aggregate would add an exchange the join does not need"
)
_EXACT = "the exact O(n²) recall oracle: a theta join, not a shared-key join"
_TRIANGLE_EXEMPT = {
    "ops/clustering.py:_semdedup_pairs": _SEMDEDUP,
    "ops/clustering.py:_semdedup_sql": _SEMDEDUP,
    "ops/clustering.py:_semdedup_prune_sql": _SEMDEDUP,
    "ops/dedup.py:embedding_near_dup_pairs": _EXACT,
    "ops/dedup.py:_embedding_cosine_sql": _EXACT,
}
# SQL: ``x.<m> < y.<m>`` over two aliases; an f-string field reads "{}"
_SQL_TRIANGLE = re.compile(r"\b(\w+)\.(\w+|\{\})\s*<\s*(\w+)\.\2(?![\w{])")


def _text(node) -> str | None:
    """A string constant, or an f-string with each field read as "{}"."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)
    return None


def _col_name(node) -> str | None:
    """The name in ``F.col(<name>)``."""
    return _text(node.args[0]) if _f_call(node, "col") and len(node.args) == 1 else None


def _triangle_lines(tree: ast.Module) -> list[int]:
    """Lines of ``tree`` that spell the triangular self-join: in Spark,
    ``F.col("x.<m>") < F.col("y.<m>")`` or the id-pair form
    ``F.col("keep_id") < F.col("dup_id")``; in SQL, ``x.<m> < y.<m>``.
    Docstrings do not count."""
    docs = _docstrings(tree)
    found = []
    for n in ast.walk(tree):
        text = None if id(n) in docs else _text(n)
        if text and any(m[1] != m[3] for m in _SQL_TRIANGLE.finditer(text)):
            found.append(n.lineno)
        if isinstance(n, ast.Compare) and [type(o) for o in n.ops] == [ast.Lt]:
            lo, hi = _col_name(n.left), _col_name(n.comparators[0])
            if lo is None or hi is None:
                continue
            (la, _, lm), (ha, _, hm) = lo.rpartition("."), hi.rpartition(".")
            if (la and ha and la != ha and lm == hm) or (lo, hi) == ("keep_id", "dup_id"):
                found.append(n.lineno)
    return found


def _owner(tree: ast.Module, line: int) -> str | None:
    """The module-level function or assignment whose span holds ``line``."""
    return next(
        (
            n.name if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            else ",".join(t.id for t in n.targets if isinstance(t, ast.Name))
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Assign))
            and n.lineno <= line <= n.end_lineno
        ),
        None,
    )


def triangle_writers(pkg) -> set[str]:
    """``<module>:<owner>`` of every triangular self-join under ``pkg``."""
    writers = set()
    for p in sorted(pkg.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for line in _triangle_lines(tree):
            writers.add(f"{p.relative_to(pkg)}:{_owner(tree, line)}")
    return writers


def test_one_triangular_self_join():
    """Every pair generator forms its pairs through ``pairs.cooccur`` or
    ``pairs.sql_cooccur``, which are the only writers of the triangular
    self-join outside the named exemptions; each exemption still writes
    one (a stale entry fails)."""
    writers = triangle_writers(PKG)
    home = {"ops/pairs.py:cooccur", "ops/pairs.py:sql_cooccur"}
    assert writers - home - set(_TRIANGLE_EXEMPT) == set()
    assert home | set(_TRIANGLE_EXEMPT) <= writers


@pytest.mark.parametrize("name", _EDGE_QUERIES)
def test_edge_corpus_matches_oracle(spark, edge_duck, edge_dir, name):
    spark_cols, spark_rows, duck_cols, duck_rows = _run_both(
        spark, edge_duck, edge_dir, name
    )
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    assert _multiset(spark_rows, s_order) == _multiset(duck_rows, d_order), name


def test_simhash_excludes_tokenless_docs(spark, edge_dir):
    import __spark_entry__ as e

    pairs = e.queries()["dedup_simhash"](spark, edge_dir)
    assert pairs.count() > 0  # non-vacuous: the x-a clones do collide
    touching_empty = pairs.filter(
        F.col("doc1").isin(1, 2) | F.col("doc2").isin(1, 2)
    )
    assert touching_empty.count() == 0


def test_bpe_apply_boundary_and_repeats(spark, edge_dir):
    import __spark_entry__ as e

    rows = {
        r["source"]: r
        for r in e.queries()["vocab_bpe_apply"](spark, edge_dir).collect()
    }
    # prefix trap: (x, agg) is not a learned merge, and learned merge
    # (x, a) must NOT fire on "x agg" — before the boundary fix it did
    assert rows["trap"]["tokens_before"] == 2
    assert rows["trap"]["tokens_after"] == 2
    # adjacent repeats still merge twice: [x,a,x,a] → [x_a, x_a]
    assert rows["rep"]["tokens_before"] == 4
    assert rows["rep"]["tokens_after"] == 2
    # empty docs count 0 tokens, not a phantom newline token
    assert rows["bulk"]["n_docs"] == 12
    assert rows["bulk"]["tokens_before"] == 20
    assert rows["bulk"]["tokens_after"] == 10


def test_dsir_skips_tokenless_docs(spark, edge_dir):
    import __spark_entry__ as e

    out = e.queries()["curation_dsir_weights"](spark, edge_dir)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 1 not in ids and 2 not in ids
    assert len(ids) == len(_DOCS) - 2


def test_span_removal_handles_empty_docs(spark, edge_dir):
    import __spark_entry__ as e

    out = {
        r["doc_id"]: r
        for r in e.queries()["dedup_span_removal"](spark, edge_dir).collect()
    }
    assert out[1]["n_tokens"] == 0 and out[1]["cleaned_text"] == ""
    assert out[2]["n_tokens"] == 0 and out[2]["cleaned_text"] == ""
    # doc 91 loses exactly the 8 shared-span tokens; doc 90 keeps the
    # global-first occurrence
    assert out[91]["n_removed"] == 8 and out[91]["cleaned_text"] == "pre"
    assert out[90]["n_removed"] == 0
