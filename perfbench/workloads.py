"""The benchmark's workloads: which engine entry points a pass calls, and
how each result is checked.

Every item is a (build, action) pair over public entry points:

- registry queries: build = ``queries()[name](spark, data_dir)``, action =
  ``.count()``; the rows behind the checksum are collected after the pass,
  outside the timed region;
- reference jobs: action = ``Engine(spark).submit(name, input, output=dir)``,
  which plans and writes in one call (its build span is empty).

The layer of an item is the repo module that owns its builder.

The two workloads split the engine by where a pass spends its time:
``pair_similarity`` is action-bound (the IVF candidate-pair probe and
rerank, and the one part-file write), ``iterative_materialize`` is
build-bound (a driver-side iterative loop with per-round checkpoints). The
pair family and the loop sit in different workloads, so a change to one
predicts no change on the other, and only ``pair_similarity`` writes.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import checks


@dataclass
class Ctx:
    spark: object
    data: Path
    out: Path
    engine: object
    oracle: object = None  # DuckDB connection for ground-truth checks


@dataclass(frozen=True)
class Item:
    name: str
    layer: str
    build: Callable[[Ctx], object]
    act: Callable[[Ctx, object], object]
    # Row count of an action's payload; outside timing, runs no Spark job.
    size: Callable[[Ctx, object], int]
    # (lowercased columns, rows) of an action's payload; outside timing.
    rows: Callable[[Ctx, object], tuple[list[str], list[tuple]]]
    # Ground truth, checked once per run: (ctx, columns, rows) -> error or None.
    check: Callable[[Ctx, list[str], list[tuple]], str | None]


def layer_of(fn) -> str:
    """``map_reduce_lite_spark.ops.dedup`` -> ``ops.dedup``,
    ``map_reduce_lite_spark.relational.queries2`` -> ``relational``."""
    parts = fn.__module__.split(".")[1:]
    return ".".join(parts[:2]) if parts[0] == "ops" else parts[0]


def query_item(name: str) -> Item:
    from __spark_entry__ import oracle_sql, queries

    builder, sql = queries()[name], oracle_sql()[name]
    return Item(
        name, layer_of(builder),
        lambda ctx: builder(ctx.spark, str(ctx.data)),
        lambda ctx, df: (df, df.count()),
        lambda ctx, payload: payload[1],
        lambda ctx, payload: checks.spark_rows(payload[0].collect()),
        lambda ctx, cols, rows: checks.oracle_mismatch(ctx.oracle, sql, cols, rows),
    )


def submit_item(name: str, input_dir: str, expected: Callable[[Ctx], Counter]) -> Item:
    def act(ctx: Ctx, _):
        out = ctx.out / name
        ctx.engine.submit(name, str(ctx.data / input_dir), output=str(out))
        return out

    def check(ctx: Ctx, cols, rows):
        got, want = Counter(r[0] for r in rows), expected(ctx)
        if got != want:
            return f"{sum(got.values())} lines vs {sum(want.values())} expected"
        return None

    return Item(
        name, "engine", lambda ctx: None, act,
        lambda ctx, out: len(checks.read_lines(out)),
        lambda ctx, out: (["value"], [(line,) for line in checks.read_lines(out)]),
        check,
    )


def pair_similarity() -> list[Item]:
    return [
        query_item("similarity_ann_ivf"),  # IVF probe + exact rerank
        # the write path: a reference job committing part files
        submit_item("wc", "books", lambda ctx: checks.expected_wc(ctx.data / "books")),
    ]


def iterative_materialize() -> list[Item]:
    # fixed-round synchronous label propagation; each round's labels checkpointed
    return [query_item("graph_label_propagation")]


WORKLOADS = {
    "pair_similarity": pair_similarity,
    "iterative_materialize": iterative_materialize,
}
ORACLE_TABLES = {
    "pair_similarity": ["embeddings"],
    "iterative_materialize": ["lineitem"],
}
