"""Lineage truncation (map_reduce_lite_spark/lineage.py): one function
decides between localCheckpoint and reliable checkpoint() from the
session's checkpoint dir, and nothing else in the engine materializes
a frame by hand."""

from __future__ import annotations

import importlib
import re
from collections import Counter
from pathlib import Path

import pytest

from tests.conftest import SF_SMALL, assert_reliable_written, count_jobs

PKG = Path(__file__).resolve().parent.parent / "map_reduce_lite_spark"


def test_truncation_only_in_lineage_module():
    """Every checkpoint goes through ``materialize``: a direct call
    anywhere else — the package or the tools that drive it — would
    bypass the session's reliable-checkpoint setting."""
    pattern = re.compile(r"localCheckpoint\(|\.checkpoint\(|setCheckpointDir\(")
    sources = sorted(PKG.rglob("*.py")) + sorted((PKG.parent / "tools").glob("*.py"))
    offenders = [
        f"{p.relative_to(PKG.parent)}:{i}"
        for p in sources
        if p != PKG / "lineage.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []


def test_materialize_local_by_default(spark):
    from map_reduce_lite_spark.lineage import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    for eager in (True, False):
        out = materialize(spark.range(7), eager=eager)
        assert sorted(r.id for r in out.collect()) == list(range(7))


def test_materialize_reliable_when_dir_set(spark, reliable_checkpoint):
    from map_reduce_lite_spark.lineage import materialize

    with reliable_checkpoint() as ckdir:
        assert str(ckdir) in spark.sparkContext.getCheckpointDir()
        out = materialize(spark.range(7), eager=True)
        assert_reliable_written(ckdir)
        assert sorted(r.id for r in out.collect()) == list(range(7))
    assert spark.sparkContext.getCheckpointDir() is None


# One entry per module whose truncation sites had no reliable path
# before lineage.materialize existed.
RELIABLE_ENTRIES = [
    ("map_reduce_lite_spark.ops.clustering", "cluster_embeddings_kmeans"),
    ("map_reduce_lite_spark.ops.projection", "embedding_top_pc"),
    ("map_reduce_lite_spark.ops.curation", "dsir_weights"),
    ("map_reduce_lite_spark.relational.queries3", "rfm_segment_customers"),
    ("map_reduce_lite_spark.ops.pipeline", "pipeline_full_refresh"),
    ("map_reduce_lite_spark.ops.text", "js_divergence_sources"),
    ("map_reduce_lite_spark.ops.similarity", "similarity_nn_descent"),
]


@pytest.mark.parametrize(
    "module,name", RELIABLE_ENTRIES, ids=[n for _, n in RELIABLE_ENTRIES]
)
def test_reliable_checkpoint_matches_local(spark, reliable_checkpoint, module, name):
    """Same values in reliable mode as on the default local path, and
    the checkpoint dir was actually written."""
    build = getattr(importlib.import_module(module), name)
    plain = Counter(tuple(r) for r in build(spark, SF_SMALL).collect())
    with reliable_checkpoint() as ckdir:
        ck = Counter(tuple(r) for r in build(spark, SF_SMALL).collect())
    assert plain == ck
    assert_reliable_written(ckdir)


def test_lazy_marks_run_jobs_in_the_lpa_builder(spark, monkeypatch):
    """A lazy mark is not free under AQE: building
    ``graph_label_propagation`` (lazy marks only, no action of its own)
    already runs jobs, because each mark executes the shuffle stages
    below it when it is made (lineage.py). The distributed rounds are
    forced: the driver branch's pull of the edge set is an action."""
    import __spark_entry__ as e
    from map_reduce_lite_spark.ops import graph

    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", 0)  # distributed rounds

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    _, jobs = count_jobs(spark, lambda: e.queries()["graph_label_propagation"](spark, SF_SMALL))
    assert jobs >= 1
