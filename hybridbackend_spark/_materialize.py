"""Lineage cuts: the one place that decides how a materialized frame is
stored.

Iterative operators (graph rounds, dedup label propagation, corpus
state loops) and multiply-referenced intermediates cut their lineage so
a plan does not grow with the round count and shared work runs once.
Every such cut calls :func:`materialize`:

- When the session's SparkContext has a checkpoint dir
  (``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``), the
  frame is ``checkpoint()``-ed to that reliable storage. A later stage
  that loses an executor re-reads the files instead of failing.
- Otherwise it is ``localCheckpoint()``-ed: blocks in executor storage,
  the fastest cut, and the right one for ``local[...]`` mode, where
  the driver is the only executor. On a cluster, losing the executor
  that holds a block fails the next read of the cut with
  ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; its lineage is gone, so Spark
  cannot recompute it.

``eager=True`` (the default) runs the job that writes the cut at once;
``eager=False`` writes it on the frame's first action. The cut counts
no rows and logs nothing, since a row count would cost one more Spark
job per cut. There is no ``persist()`` fallback either: a persisted
frame keeps its whole lineage, and the loops cut precisely to stop
their plans from growing each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage cut, stored as the module docstring says."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
