"""Lineage truncation: the one place the engine materializes a frame.

Four sites keep the lineage on purpose and ``cache``/``persist``
instead: the shingle table that two consumers read in
``ops/dedup.py`` (``_shingle_overlap`` and ``shingle_novelty``), and
the ``costs`` and ``revenue`` aggregates in
``relational/queries3.py``, which must stay recomputable after an
executor loss (a ``localCheckpoint`` is not).

The reference hand-builds fault recovery (its coordinator re-runs
failed tasks and deletes partial outputs, mrl-coordinator/src/
job_queue.rs:83-88,128-153). Here that is Spark's job: lineage replays
lost partitions, and a materialized frame cuts the lineage so iterative
loops and multi-reference subtrees don't re-execute their whole
upstream plan.

Which kind of materialization is a DEPLOYMENT decision, made once with
Spark's own setting rather than per call:

- no checkpoint directory (the default): ``localCheckpoint`` — blocks
  in executor storage; fast, but losing an executor mid-job kills the
  job, because the truncated lineage cannot be recomputed;
- ``spark.checkpoint.dir`` set at submit time (or
  ``sc.setCheckpointDir``), a shared-FS path (HDFS/S3) on a cluster:
  reliable ``checkpoint()`` — the materialization survives executor
  loss, the posture for long iterative jobs where that is routine.

``eager=False`` marks a frame for truncation without an action of its
own; the next action that touches it materializes and truncates it.
The mark is not free under adaptive query execution, which the
engine's session turns on: the shuffle stages below a lazy mark run as
jobs when the mark is made, inside the builder, and only the rest waits
for the action (measured at sf0.001 on 4 cores: with a mark on each
round's label table the ``graph_label_propagation`` builder ran 17 of
the query's 19 jobs with AQE on, 2 of 3 with it off; with its one
remaining mark, on the forward edge list, and the tables' schemas read
from their footers, it runs 3 of 14 with AQE on; tests/test_lineage.py
pins that the builder runs jobs). So a lazy mark over a shuffle saves
a job only where AQE is off, and each call site picks eager or lazy by
measurement on the session it runs on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["materialize"]


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when the
    session has a checkpoint directory, ``localCheckpoint`` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)

