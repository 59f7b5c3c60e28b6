"""Corpus-snapshot builder: the production packaging of the three
staged build-once artifacts (r12, unifying the r10/r11 pattern).

At 100 TB the expensive shared stages — the k-NN edge list, the
verified near-dup pair set, the supported co-purchase edge list — are
built ONCE per corpus snapshot and every consumer reads the parquet
artifact (module docs in ops/similarity.py, ops/dedup.py, ops/graph.py
describe exactly this shape). r10-r11 gave each artifact a hand-called
``build_*`` function; this module is the facade a pipeline actually
runs:

    from map_reduce_lite_spark.corpus_snapshot import build_snapshot
    manifest = build_snapshot(spark, sf_dir, "s3a://bucket/snap/2026-08-16")

and the consumer side resolves FROM THE MANIFEST instead of
hard-coding paths:

    edges = read_artifact(spark, snap_dir, "knn_edges")
    hubness_from_edges(emb, edges)

The manifest (``manifest.json`` inside the snapshot dir) records each
artifact's relative path, row count, and build parameters — enough for
a consumer to verify it is reading the artifact it expects (a pair set
built with the throughput-salted cap is NOT safe to feed split
routing; the manifest's ``method`` field makes that checkable instead
of hoped). Manifest I/O goes through the Hadoop FileSystem API, so the
snapshot dir can be any Spark-supported scheme (file://, hdfs://,
s3a://) — the same connector story as sources/io.py.

The near-dup pair artifact is built with method="lsh_refine" (adaptive
re-banding, the SAFETY posture, whose candidate branches the
ops/pairs.py docstring describes): a shared artifact's consumers include
split routers, and a salted cap's silently-dropped pairs would become
silent cross-split leakage in every one of them (ops/dedup.py
build_near_dup_pairs). Throughput consumers that prefer the salted
form can still call build_near_dup_pairs directly.

Reference parity note: the reference has no snapshot machinery — its
jobs re-scan inputs per run (mrl-worker/src/map.rs). This module is
part of the beyond-reference training-data-pipeline surface.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "manifest.json"
MANIFEST_VERSION = 1


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    # wholeTextFiles works on every Spark-supported scheme and returns
    # the file content intact (spark.read.text would lose line order)
    return spark.sparkContext.wholeTextFiles(path).collect()[0][1]


def build_snapshot(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
) -> dict:
    """Build every staged artifact for the corpus at ``sf_dir`` into
    ``out_dir`` and write the manifest. Returns the manifest dict.

    Artifacts and their parameters (the registered-query defaults, so
    staged-vs-inline parity is exact):

    - ``knn_edges``: per-node top-K approximate neighbors
      (similarity.build_knn_edges — k, salted cap).
    - ``near_dup_pairs``: cosine-verified near-dup pairs at the
      production threshold, adaptive re-banding (dedup.
      build_near_dup_pairs(method="lsh_refine") — see module doc).
    - ``copurchase_edges``: support-gated co-purchase part edges
      (graph.build_copurchase_edges).
    """
    from map_reduce_lite_spark.ops.dedup import NEAR_DUP_COS, build_near_dup_pairs
    from map_reduce_lite_spark.ops.graph import (
        TRIANGLE_MIN_SUPPORT,
        build_copurchase_edges,
    )
    from map_reduce_lite_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        EMB_DIM,
        KNN_GRAPH_K,
        build_knn_edges,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    out = out_dir.rstrip("/")

    artifacts: dict[str, dict] = {}
    scans = {
        "knn_edges": (
            build_knn_edges(emb, f"{out}/knn_edges"),
            {"k": KNN_GRAPH_K, "cap": EMB_BUCKET_CAP, "dim": EMB_DIM},
        ),
        "near_dup_pairs": (
            build_near_dup_pairs(emb, f"{out}/near_dup_pairs", method="lsh_refine"),
            {
                "threshold": NEAR_DUP_COS,
                "cap": EMB_BUCKET_CAP,
                "method": "lsh_refine",
                "dim": EMB_DIM,
            },
        ),
        "copurchase_edges": (
            build_copurchase_edges(
                li, f"{out}/copurchase_edges", min_support=TRIANGLE_MIN_SUPPORT
            ),
            {"min_support": TRIANGLE_MIN_SUPPORT},
        ),
    }
    for name, (scan, params) in scans.items():
        artifacts[name] = {
            "path": name,  # relative to the snapshot dir
            "format": "parquet",
            "rows": scan.count(),
            "params": params,
        }
    manifest = {
        "version": MANIFEST_VERSION,
        "sf_dir": sf_dir,
        "artifacts": artifacts,
    }
    _write_text(
        spark, f"{out}/{MANIFEST_NAME}", json.dumps(manifest, indent=1) + "\n"
    )
    return manifest


def load_manifest(spark: SparkSession, snap_dir: str) -> dict:
    m = json.loads(_read_text(spark, f"{snap_dir.rstrip('/')}/{MANIFEST_NAME}"))
    if m.get("version") != MANIFEST_VERSION:
        raise ValueError(
            f"snapshot manifest version {m.get('version')!r} != {MANIFEST_VERSION}"
        )
    return m


def read_artifact(spark: SparkSession, snap_dir: str, name: str) -> DataFrame:
    """Resolve artifact ``name`` through the manifest and return its
    scan. Raises KeyError with the available names if absent — a
    consumer must never silently read a path that the builder did not
    record."""
    m = load_manifest(spark, snap_dir)
    try:
        entry = m["artifacts"][name]
    except KeyError:
        raise KeyError(
            f"snapshot has no artifact {name!r}; has {sorted(m['artifacts'])}"
        ) from None
    return spark.read.format(entry["format"]).load(
        f"{snap_dir.rstrip('/')}/{entry['path']}"
    )
