"""Golden tests for the four reference workloads on text-file fixtures.

Comparison rules follow FIXTURES.md §5: outputs compared as multisets of
lines (the reference's partition layout is hasher-dependent and not
reproducible — common/src/lib.rs:128-136), floats numerically.
"""

from __future__ import annotations

from collections import Counter

import pytest

from map_reduce_lite_spark.engine import Engine


@pytest.fixture(scope="module")
def books_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("books")
    (d / "p.txt").write_text("The quick brown fox.\nJumps over the lazy dog!\nThe END?\n")
    (d / "q.txt").write_text("Énergie déjà vu — the naïve café.\nthe the THE\n")
    return str(d)


@pytest.fixture(scope="module")
def edges_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edges")
    (d / "00.txt").write_text("1\t2\n2\t3\n3\t1\n1\t1\n")
    (d / "01.txt").write_text("2\t4\n4\t1\n")
    return str(d)


@pytest.fixture(scope="module")
def mm_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mm")
    # A is 2x2, B is 2x2; product C = A@B
    (d / "input").write_text(
        "1 1 1.0 A\n1 2 2.0 A\n2 1 3.0 A\n2 2 4.0 A\n"
        "1 1 5.0 B\n1 2 6.0 B\n2 1 7.0 B\n2 2 8.0 B\n"
    )
    return str(d)


def _lines(df):
    return Counter(r["value"] for r in df.collect())


def test_wc_golden(spark, books_dir):
    """wc semantics: Unicode-aware split (`[^\\p{L}]+`), lowercase, count
    (workload/src/wc.rs:9-44)."""
    out = _lines(Engine(spark).submit("wc", f"{books_dir}/*.txt"))
    assert out["the 7"] == 1  # 4 in p.txt (incl END line 'The') + 3 in q.txt... recounted below
    # exact expectations for interesting tokens:
    assert out["énergie 1"] == 1  # Unicode letters kept, lowercased
    assert out["déjà 1"] == 1
    assert out["naïve 1"] == 1
    assert out["fox 1"] == 1
    assert out["end 1"] == 1


def test_wc_the_count(spark, books_dir):
    df = Engine(spark).submit("wc", f"{books_dir}/*.txt")
    vals = {r["value"] for r in df.collect()}
    # p.txt: 'The' x2 + 'the' x1 = 3; q.txt: 'the' + 'the the THE' = 4 → 7
    assert "the 7" in vals, sorted(vals)


def test_grep_golden(spark, books_dir):
    """grep semantics: literal term filter, per-file 1-based line numbers,
    '{file}:{line}:: {text}' format (workload/src/grep.rs)."""
    df = Engine(spark).submit("grep", f"{books_dir}/*.txt", term="the")
    out = sorted(r["value"] for r in df.collect())
    assert len(out) == 3
    assert out[0].endswith("p.txt:2:: Jumps over the lazy dog!")
    assert out[1].endswith("q.txt:1:: Énergie déjà vu — the naïve café.")
    assert out[2].endswith("q.txt:2:: the the THE")


def test_vertex_degree_golden(spark, edges_dir):
    """vertex-degree semantics: both endpoints count, self-loops twice
    (workload/src/vertex_degree.rs:31-43)."""
    out = _lines(Engine(spark).submit("vertex-degree", f"{edges_dir}/*.txt"))
    assert out == Counter(
        {"1, deg=5": 1, "2, deg=3": 1, "3, deg=2": 1, "4, deg=2": 1}
    )


def test_matrix_multiply_golden(spark, mm_dir):
    """Fused MM equals numpy's A@B (workload/src/matrix_multiply.rs)."""
    df = Engine(spark).submit("matrix-multiply", f"{mm_dir}/input")
    got = {}
    for r in df.collect():
        i, j, v, tag = r["value"].split()
        assert tag == "C"
        got[(int(i), int(j))] = float(v)
    # A=[[1,2],[3,4]], B=[[5,6],[7,8]] → C=[[19,22],[43,50]]
    assert got == {(1, 1): 19.0, (1, 2): 22.0, (2, 1): 43.0, (2, 2): 50.0}


def test_matrix_multiply_two_phase_chain(spark, mm_dir, tmp_path):
    """Phase-1 output feeds phase-2 (workload_test.sh:24-29 chaining)."""
    eng = Engine(spark)
    out1 = str(tmp_path / "mm1")
    eng.submit("matrix-multiply-1", f"{mm_dir}/input", output=out1)
    df = eng.submit("matrix-multiply-2", f"{out1}/part-*")
    got = {}
    for r in df.collect():
        i, j, v, _ = r["value"].split()
        got[(int(i), int(j))] = float(v)
    assert got == {(1, 1): 19.0, (1, 2): 22.0, (2, 1): 43.0, (2, 2): 50.0}


def test_engine_jobs_status(spark, books_dir):
    eng = Engine(spark)
    eng.submit("wc", f"{books_dir}/*.txt").count()
    with pytest.raises(KeyError):
        eng.submit("nope", "x")
    st = eng.status()
    assert st["completed_jobs"] >= 1
    assert eng.jobs()[0].workload == "wc"


def test_register_custom_workload(spark, books_dir):
    """The reference's registry contract (workload/src/lib.rs:31-55 +
    common/src/lib.rs:29-50): a user brings their own map/reduce pair
    and selects it by name at submit time. The fifth workload here is a
    per-file vowel-frequency report whose reduce is arbitrary Python
    over the grouped rows — applyInPandas, the full ReduceFn generality
    (each group's rows arrive as one pandas frame, one result row per
    group leaves)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.engine import register_workload

    def vowel_report(spark, input_glob, **aux):
        lines = (
            spark.read.text(input_glob)
            .withColumn("file", F.element_at(F.split(F.input_file_name(), "/"), -1))
        )

        # self-contained closure — pickles by value, so executors don't
        # need the repo on sys.path (driver imports from arbitrary cwd)
        def reduce_file(pdf: pd.DataFrame) -> pd.DataFrame:
            text = "\n".join(pdf["value"]).lower()
            n_vowels = sum(text.count(v) for v in "aeiou")
            return pd.DataFrame(
                {"value": [f"{pdf['file'].iloc[0]} vowels={n_vowels}"]}
            )

        return (
            lines.groupBy("file")
            .applyInPandas(reduce_file, schema="value string")
        )

    register_workload("vowel-report", vowel_report, replace=True)
    eng = Engine(spark)
    out = _lines(eng.submit("vowel-report", f"{books_dir}/*.txt"))
    # p.txt: "The quick brown fox.\nJumps over the lazy dog!\nThe END?\n"
    text_p = "the quick brown fox.\njumps over the lazy dog!\nthe end?"
    want_p = sum(text_p.count(v) for v in "aeiou")
    assert out[f"p.txt vowels={want_p}"] == 1
    assert any(k.startswith("q.txt vowels=") for k in out)

    with pytest.raises(ValueError):
        register_workload("wc", vowel_report)  # collision needs replace=True


def test_cli_submit_and_workloads(tmp_path, books_dir):
    """CLI smoke (≈ standalone/src/main.rs:12-27 + mrl-ctl submit):
    `python -m map_reduce_lite_spark submit` over a glob from the shell,
    auxiliary args after `--`."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    ls = subprocess.run(
        [sys.executable, "-m", "map_reduce_lite_spark", "workloads"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert ls.returncode == 0
    assert "wc" in ls.stdout.split() and "grep" in ls.stdout.split()

    out_dir = tmp_path / "out"
    env = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    import os

    run = subprocess.run(
        [
            sys.executable, "-m", "map_reduce_lite_spark", "submit",
            "-i", f"{books_dir}/*.txt", "-w", "grep", "-o", str(out_dir),
            "--", "--term", "the",
        ],
        capture_output=True, text=True, cwd=repo, timeout=300,
        env={**os.environ, **env},
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "Completed" in run.stdout
    parts = list(out_dir.glob("part-*"))
    assert parts, list(out_dir.iterdir())
    body = "".join(p.read_text() for p in parts)
    assert ":: " in body and "the" in body.lower()


def test_connected_components_reliable_checkpoint(spark, reliable_checkpoint, monkeypatch):
    """A session checkpoint dir switches lineage truncation to reliable
    checkpoint() — survives executor loss on a real cluster."""
    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components
    from tests.conftest import assert_reliable_written

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    with reliable_checkpoint() as ckdir:
        got = {
            (r["node"], r["component"])
            for r in connected_components(edges).collect()
        }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}
    assert_reliable_written(ckdir)


def test_resize_stub_deterministic(spark):
    """Resize plumbing: schema, bounds, determinism across runs."""
    from map_reduce_lite_spark.ops.multimodal import resize_image_stub, synthesize_media
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    media = synthesize_media(docs)
    a = {r["media_id"]: (r["width"], r["height"], r["thumb_md5"])
         for r in resize_image_stub(media, max_side=64).collect()}
    b = {r["media_id"]: (r["width"], r["height"], r["thumb_md5"])
         for r in resize_image_stub(media, max_side=64).collect()}
    assert a == b and len(a) == 50
    for w, h, md5 in a.values():
        assert w is None or (1 <= w <= 64)
        assert h is None or (1 <= h <= 64)


def test_frame_sample_counts(spark):
    from map_reduce_lite_spark.ops.multimodal import sample_frames_stub
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    frames = sample_frames_stub(docs).collect()
    lens = {r["doc_id"]: len(r["text"]) for r in docs.select("doc_id", "text").collect()}
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["media_id"], []).append(r)
    for mid, rows in per_doc.items():
        n = lens[mid]
        assert len(rows) == (n + 1023) // 1024
        assert sorted(r["frame_idx"] for r in rows) == list(range(len(rows)))


@pytest.mark.slow
def test_cli_compact(tmp_path, spark):
    """CLI compact subcommand end-to-end via a subprocess (the
    maintenance op a scheduler would invoke)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    src = str(tmp_path / "small")
    spark.range(2000).selectExpr("id AS k").repartition(16).write.mode(
        "overwrite"
    ).parquet(src)

    repo = str(Path(__file__).resolve().parents[1])
    dst = str(tmp_path / "compacted")
    run = subprocess.run(
        [
            sys.executable, "-m", "map_reduce_lite_spark", "compact",
            "-i", src, "-o", dst, "--target-mb", "64",
        ],
        capture_output=True, text=True, cwd=repo, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "compacted" in run.stdout
    back = spark.read.parquet(dst)
    assert back.count() == 2000
    assert len(back.inputFiles()) < 16


@pytest.mark.slow
def test_cli_zorder(tmp_path, spark):
    """CLI zorder subcommand end-to-end via a subprocess (the OPTIMIZE
    ZORDER maintenance analog on plain directories)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    src = str(tmp_path / "src")
    spark.range(5000).selectExpr(
        "id AS a", "(id * 37) % 5000 AS b"
    ).repartition(4).write.mode("overwrite").parquet(src)

    repo = str(Path(__file__).resolve().parents[1])
    dst = str(tmp_path / "zordered")
    run = subprocess.run(
        [
            sys.executable, "-m", "map_reduce_lite_spark", "zorder",
            "-i", src, "-o", dst, "-c", "a,b", "--num-files", "4",
        ],
        capture_output=True, text=True, cwd=repo, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "z-ordered" in run.stdout
    back = spark.read.parquet(dst)
    assert back.count() == 5000
    assert set(back.columns) == {"a", "b"}


def test_connected_components_converges_in_log_rounds(spark, monkeypatch):
    """Pointer jumping must bound rounds at ~log2(diameter), not
    diameter: a 64-chain (diameter 63) converging in <= 8 rounds is the
    difference between 20 rounds and a million on a 10^6-doc
    boilerplate chain at crawl scale. Measured r8 (SCALE.md): chains of
    diameter 63 / 1023 / 8191 converge in 7 / 11 / 14 rounds; a clique
    in 2."""
    from pyspark.sql import functions as F

    from map_reduce_lite_spark.ops import graph
    from map_reduce_lite_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    chain = spark.range(63).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = connected_components(chain, max_iter=40)
    assert connected_components.last_rounds <= 8
    rows = out.collect()
    assert {r.component for r in rows} == {0} and len(rows) == 64


def test_kcore_peel_converges_within_fixed_rounds(spark):
    """KCORE_ROUNDS is sized to reach the fixpoint on natural graphs:
    one more peel round on the fixture graph must change nothing, and
    every survivor must have degree >= KCORE_K among survivors (the
    k-core invariant)."""
    from pyspark.sql import functions as F

    import map_reduce_lite_spark.ops.graph as g
    from tests.conftest import SF_SMALL

    out = {(r.part, r.kcore_degree) for r in g.kcore_parts(spark, SF_SMALL).collect()}
    assert out
    assert all(d >= g.KCORE_K for _, d in out)
    orig = g.KCORE_ROUNDS
    try:
        g.KCORE_ROUNDS = orig + 1
        more = {
            (r.part, r.kcore_degree) for r in g.kcore_parts(spark, SF_SMALL).collect()
        }
    finally:
        g.KCORE_ROUNDS = orig
    assert more == out
