"""The graph operators' driver branch (``ops/graph.py:_local_edges``).

Label propagation and the connected-components tail finish an edge set
of at most ``LOCAL_GRAPH_EDGES`` rows in numpy on the driver; above it
they run their distributed rounds. Both branches must return the same
rows with the same schema on every shape, and the driver branch must
keep its job count down: that is what it is for.
"""

from __future__ import annotations

import random
from collections import Counter
from itertools import combinations

import pytest

from map_reduce_lite_spark.ops import graph
from tests.conftest import SF_SMALL, count_jobs

# A gate every edge set is above (-1, not 0: an empty edge set has at
# most 0 rows) and one every edge set here is below (a limit is an int).
DISTRIBUTED, LOCAL = -1, 1 << 30


def _assert_same(monkeypatch, build):
    """The row multiset of ``build()``, after asserting that the rows
    and ``schema.simpleString()`` are the same with the edge set kept
    distributed and finished on the driver."""
    out = []
    for gate in (DISTRIBUTED, LOCAL):
        monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", gate)
        df = build()
        out.append((Counter(tuple(r) for r in df.collect()), df.schema.simpleString()))
    assert out[1] == out[0]
    return out[0][0]


def _shuffled_path(n, seed=7):
    ids = list(range(n + 1))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n)]


def _random_graph(seed, nodes, edges):
    rng = random.Random(seed)
    return [(rng.randrange(nodes), rng.randrange(nodes)) for _ in range(edges)]


# --------------------------------------------------------------------------
# label propagation
# --------------------------------------------------------------------------

_LPA_GRAPHS = {
    # node 0 sees labels 1 and 2 once each: the tie goes to the smaller
    "count_tie": [(0, 1), (0, 2), (1, 3), (2, 4)],
    "two_way_ties": [(0, 1), (0, 2), (0, 3), (1, 2), (3, 4), (4, 5), (5, 3)],
    "star": [(0, s) for s in range(1, 40)],
    "star_big_center": [(1000, s) for s in range(1, 40)],
    "disjoint_pairs": [(2 * i + 1, 2 * i) for i in range(30)],
    "cliques": list(combinations(range(6), 2)) + list(combinations(range(100, 104), 2)),
    "duplicates_and_self_loops": [(1, 2), (1, 2), (2, 1), (3, 3), (3, 4), (4, 4)],
    "random_a": _random_graph(11, 60, 150),
    "random_b": _random_graph(12, 200, 260),
}


@pytest.mark.parametrize("name", sorted(_LPA_GRAPHS))
def test_lpa_branches_agree_on_seeded_graphs(spark, monkeypatch, name):
    edges = spark.createDataFrame(_LPA_GRAPHS[name], "u long, v long")
    rows = _assert_same(
        monkeypatch, lambda: graph.label_propagation_parts(spark, "", edges=edges)
    )
    assert rows


def test_lpa_branches_agree_on_int_ids_and_empty_edges(spark, monkeypatch):
    ints = spark.createDataFrame(_LPA_GRAPHS["random_a"], "u int, v int")
    _assert_same(monkeypatch, lambda: graph.label_propagation_parts(spark, "", edges=ints))
    empty = spark.createDataFrame([], "u long, v long")
    rows = _assert_same(
        monkeypatch, lambda: graph.label_propagation_parts(spark, "", edges=empty)
    )
    assert rows == Counter()


def test_lpa_branches_agree_on_the_registered_query(spark, monkeypatch):
    assert _assert_same(monkeypatch, lambda: graph.label_propagation_parts(spark, SF_SMALL))


def test_lpa_query_runs_at_most_five_jobs(spark):
    """Build plus count of ``graph_label_propagation`` at SF_SMALL: the
    co-purchase edge build, one pull of its forward edges and the
    count. Its distributed rounds ran 14."""
    import __spark_entry__ as e

    build = e.queries()["graph_label_propagation"]
    n, jobs = count_jobs(spark, lambda: build(spark, SF_SMALL).count())
    assert n > 0
    assert jobs <= 5, jobs


# --------------------------------------------------------------------------
# connected components
# --------------------------------------------------------------------------

_CC_GRAPHS = {
    # two paths, a pair and a node whose only edge is a self-loop
    "mixed": [(1, 2), (2, 3), (10, 11), (20, 20)],
    "chain_64": [(i, i + 1) for i in range(63)],
    "shuffled_path_3000": _shuffled_path(3000),
    "self_loops_only": [(5, 5), (7, 7), (9, 9)],
    "duplicates": [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (4, 4), (2, 5)],
    "star_big_center": [(10_000, s) for s in range(200)],
    "cliques": list(combinations(range(12), 2)) + list(combinations(range(50, 58), 2)),
    "random": _random_graph(5, 400, 300),
}


@pytest.mark.parametrize("name", sorted(_CC_GRAPHS))
def test_cc_branches_agree(spark, monkeypatch, name):
    edges = spark.createDataFrame(_CC_GRAPHS[name], "src long, dst long")
    rows = _assert_same(monkeypatch, lambda: graph.connected_components(edges))
    nodes = {x for e in _CC_GRAPHS[name] for x in e}
    assert sorted(n for n, _ in rows) == sorted(nodes)


def test_cc_branches_agree_on_empty_and_mixed_id_types(spark, monkeypatch):
    empty = spark.createDataFrame([], "src long, dst long")
    assert _assert_same(monkeypatch, lambda: graph.connected_components(empty)) == Counter()
    mixed = spark.createDataFrame(_CC_GRAPHS["mixed"], "src int, dst long")
    _assert_same(monkeypatch, lambda: graph.connected_components(mixed))
    ints = spark.createDataFrame(_CC_GRAPHS["random"], "src int, dst int")
    _assert_same(monkeypatch, lambda: graph.connected_components(ints))


def test_cc_driver_tail_after_distributed_rounds(spark, monkeypatch):
    """A gate below the starting edge count: the first round runs
    distributed, the star rewrite shrinks the cliques to stars, and
    the driver finishes the rest with the same rows."""
    pairs = [
        (c * 100 + i, c * 100 + j)
        for c in range(8)
        for i, j in combinations(range(10), 2)
    ] + _shuffled_path(40, seed=3)
    edges = spark.createDataFrame(pairs, "src long, dst long")
    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", DISTRIBUTED)
    want = Counter(tuple(r) for r in graph.connected_components(edges).collect())

    tails = []
    real = graph._cc_tail

    def spy(e, t):
        tails.append(t.num_rows)
        return real(e, t)

    monkeypatch.setattr(graph, "_cc_tail", spy)
    monkeypatch.setattr(graph, "LOCAL_GRAPH_EDGES", len(pairs) // 2)
    got = Counter(tuple(r) for r in graph.connected_components(edges).collect())
    assert got == want
    assert graph.connected_components.last_rounds >= 1
    assert len(tails) == 1 and tails[0] <= len(pairs) // 2


@pytest.mark.parametrize(
    "name",
    [
        "dedup_components",
        "dedup_cluster_sizes",
        "dedup_survivors_docs",
        "curation_leakage_safe_split",
    ],
)
def test_cc_consumer_loop_runs_at_most_two_jobs(spark, monkeypatch, name):
    """Each connected-components consumer at SF_SMALL: the loop is one
    limited pull of the starting edge set (before the driver tail it
    ran 5 star rounds of ~5 jobs each at sf0.1, 27 jobs)."""
    import __spark_entry__ as e

    loops = []
    real = graph._cc_loop

    def counted(edges, max_iter):
        comp, jobs = count_jobs(spark, lambda: real(edges, max_iter))
        loops.append(jobs)
        return comp

    monkeypatch.setattr(graph, "_cc_loop", counted)
    e.queries()[name](spark, SF_SMALL)
    assert loops and all(jobs <= 2 for jobs in loops), loops
