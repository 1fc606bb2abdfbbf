"""Lineage cuts and their release: the one way operators materialize
an intermediate frame, and the one owner that frees it.

Iterative and multi-branch operators cut lineage so a plan cannot
embed every previous round (driver analysis blow-up) and so a frame
read by several branches is computed once.  Whether the cut is
executor-local or reliable is a DEPLOYMENT choice, made once per
session, not per call: set ``spark.checkpoint.dir`` at build time
(``get_spark(extra_confs={'spark.checkpoint.dir': path})``) or call
``sc.setCheckpointDir(path)``, and every operator's cuts become
reliable checkpoints on that storage.

What :func:`cut` and :func:`keep` make while a :func:`scope` is the
innermost open one is freed when that scope exits, with no garbage
collection; :meth:`Scope.result` marks the frame that outlives it.
Open scopes live in a ``ContextVar``: each thread has its own.
"""
from __future__ import annotations

import contextvars
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame as SparkDF

__all__ = ['cut', 'keep', 'scope', 'scoped']

_OPEN = contextvars.ContextVar('lineage_scopes', default=())  # inner last


class Scope:
    """What one :func:`scope` block holds."""

    def __init__(self) -> None:
        self._cuts: list = []  # (frame, JVM RDD)
        self._kept: list = []  # persisted frames

    def result(self, df: SparkDF) -> SparkDF:
        """Materialize ``df`` — in place if this scope cut it, else by
        an eager :func:`cut` — and hand it to the enclosing scope (or
        the garbage collector).  Call it while this scope is innermost."""
        if not any(f is df for f, _ in self._cuts):
            df = cut(df)
        i = next(i for i, (f, _) in enumerate(self._cuts) if f is df)
        entry = self._cuts.pop(i)
        if not entry[1].isCheckpointed():
            entry[1].count()
        outer = _OPEN.get()[:-1]
        if outer:
            outer[-1]._cuts.append(entry)
        return df


@contextmanager
def scope():
    """Open a release scope; it unpersists what was cut or kept
    inside it when the block exits, also when it raises."""
    s = Scope()
    token = _OPEN.set(_OPEN.get() + (s,))
    try:
        yield s
    finally:
        _OPEN.reset(token)
        for df in s._kept:
            df.unpersist()
        # the context cleaner's call (RDD.unpersist logs a warning per
        # local checkpoint); reliable cuts keep their files
        for _, rdd in s._cuts:
            rdd.context().unpersistRDD(rdd.id(), False)


def scoped() -> bool:
    """Whether a :func:`scope` is open in this context."""
    return bool(_OPEN.get())


def keep(df: SparkDF) -> SparkDF:
    """Persist ``df`` until the innermost open scope exits; with no
    scope open, return it unchanged (lazy, nothing cached)."""
    if scoped():
        _OPEN.get()[-1]._kept.append(
            df.persist(StorageLevel.MEMORY_AND_DISK))
    return df


def cut(df: SparkDF, eager: bool = True) -> SparkDF:
    """Materialize ``df`` behind a lineage cut, held by the innermost
    open :func:`scope` (by the garbage collector when none is open).

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
        out = df.localCheckpoint(eager=eager)
    else:
        out = df.checkpoint(eager=True)
    if scoped():
        # a cut frame's analyzed plan is a LogicalRDD over its RDD
        _OPEN.get()[-1]._cuts.append(
            (out, out._jdf.queryExecution().analyzed().rdd()))
    return out
