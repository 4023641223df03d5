"""The engine's one materialization rule.

Query builders materialize a frame when several consumers read it (a
self-join, an iterative loop, a census read N times), because Catalyst
does not share a subtree between references and each one would otherwise
re-run its scan. Every such step goes through :func:`materialize`, so the
engine makes one choice about where the rows live:

- **A checkpoint directory is set** (``spark.checkpoint.dir`` or
  ``SparkContext.setCheckpointDir``): an eager reliable ``checkpoint()``.
  The rows are written to that directory, so they survive the loss of
  the executor that computed them. With
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
  ``session.get_spark``) the files are deleted once the frame is garbage
  collected.
- **No checkpoint directory:** an eager ``localCheckpoint()``. The rows
  are blocks in executor storage, freed once the frame is garbage
  collected. They die with their executor, so a job that reads them after
  an executor is lost fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
  On ``local[N]`` the driver is the only executor, so nothing is lost.

Always eager: a lazy checkpoint first materialized by a broadcast-exchange
thread deadlocks on the RDD checkpoint lock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once and return a frame that reads the stored rows."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint()
