"""Lineage cuts: the one way operators materialize an intermediate
frame.

Iterative and multi-branch operators cut lineage so a plan cannot
embed every previous round (driver analysis blow-up) and so a frame
read by several branches is computed once.  Whether the cut is
executor-local or reliable is a DEPLOYMENT choice, made once per
session, not per call: set ``spark.checkpoint.dir`` at build time
(``get_spark(extra_confs={'spark.checkpoint.dir': path})``) or call
``sc.setCheckpointDir(path)``, and every operator's cuts become
reliable checkpoints on that storage.
"""
from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF

__all__ = ['cut']


def cut(df: SparkDF, eager: bool = True) -> SparkDF:
    """Materialize ``df`` behind a lineage cut.

    Without a session checkpoint directory the cut is a
    ``localCheckpoint``: its blocks live in executor storage and die
    with any executor loss — fine on local[], a recompute-on-failure
    hazard on a real cluster.  With one
    (``sc.getCheckpointDir()`` is set) the cut is a reliable
    checkpoint on that storage instead.

    ``eager=False`` defers the local materialization to the first
    action that reads the frame: iterative operators cut lineage
    once per round, and an eager cut makes every round a separate
    scheduler job — lazy cuts let one downstream job compute a whole
    chain of rounds stage-by-stage (same stages, a fraction of the
    job round-trips; Spark still persists each marked RDD and
    truncates its lineage when that job finishes).  The RELIABLE
    branch stays eager regardless: a lazily triggered ``checkpoint``
    recomputes its RDD from lineage during the checkpoint write —
    the classic double-compute trap.

    The session's checkpoint directory is only read, never set.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=True)
