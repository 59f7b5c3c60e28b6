"""Lineage truncation: the one place the engine materializes a frame.

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
for the action (measured at sf0.001 on 4 cores: the
``graph_label_propagation`` builder runs 16-17 of the query's 19-20
jobs with AQE on, 2 of 3 with it off; tests/test_lineage.py pins that
the builder runs jobs). So a lazy mark over a shuffle saves a job only
where AQE is off, and each call site picks eager or lazy by measurement
on the session it runs on.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame

__all__ = ["materialize"]


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when the
    session has a checkpoint directory, ``localCheckpoint`` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


class _HardBarrier:
    """Parquet write+read lineage barrier for iterative loops, with a
    leak-free lifecycle (r10 — previously every ``connected_components``
    call mkdtemp'd a directory even when the barrier never fired, and
    barrier files were never deleted, accumulating across a 176-query
    bench and any long-lived driver):

    - the barrier directory is created LAZILY on the first actual
      barrier write — the common converge-in-<8-rounds call touches
      the filesystem zero times. It goes under the session's checkpoint
      directory when one is set (shared FS on a cluster), else a
      driver-temp dir;
    - each barrier write deletes the PREVIOUS barrier file (safe: the
      new parquet fully materializes the state before the delete, and
      the only frames alive across rounds are the checkpointed inputs
      and the new file's scan);
    - ``finalize`` re-materializes the final frame off the last file
      (via ``materialize``, so a reliable-checkpoint session keeps
      cluster resilience) and then removes the whole barrier directory;
      ``abort`` removes it on the error path.

    Deletion goes through the Hadoop FileSystem API so a checkpoint
    directory on HDFS/S3 cleans up the same way a local temp dir does
    (Python's shutil can't reach scheme'd paths)."""

    def __init__(self, spark, prefix: str):
        self._spark = spark
        self._prefix = prefix
        self._root: str | None = None
        self._last_path: str | None = None

    def _ensure_root(self) -> str:
        if self._root is None:
            ckdir = self._spark.sparkContext.getCheckpointDir()
            if ckdir is not None:
                # concurrent callers must not collide
                self._root = f"{ckdir.rstrip('/')}/{self._prefix}_{uuid.uuid4().hex}"
            else:
                self._root = tempfile.mkdtemp(prefix=f"{self._prefix}_")
        return self._root

    def _rm(self, path: str) -> None:
        # best-effort: never fail the query over cleanup
        try:
            jvm = self._spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(
                self._spark._jsc.hadoopConfiguration()
            )
            fs.delete(hpath, True)
        except Exception:
            pass

    def barrier(self, df: DataFrame, tag: str) -> DataFrame:
        """Write ``df`` to parquet, return a fresh scan of it, and drop
        the previous barrier file."""
        path = f"{self._ensure_root()}/{tag}"
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        if self._last_path is not None:
            self._rm(self._last_path)
        self._last_path = path
        return out

    def finalize(self, df: DataFrame) -> DataFrame:
        """Detach ``df`` from the last barrier file (if any barrier ever
        fired) and remove all barrier storage. If the detaching
        materialization itself fails, the barrier subtree is still
        removed before the exception propagates — the frame is dead
        either way, and the error path must not reintroduce the
        accumulation leak this class exists to prevent."""
        if self._root is None:
            return df  # barrier never fired: nothing on disk
        try:
            df = materialize(df, eager=True)  # off the parquet scan
        except BaseException:
            self.abort()
            raise
        self._rm(self._root)
        self._root = None
        self._last_path = None
        return df

    def abort(self) -> None:
        """Error-path cleanup: remove barrier storage unconditionally."""
        if self._root is not None:
            self._rm(self._root)
            self._root = None
            self._last_path = None
