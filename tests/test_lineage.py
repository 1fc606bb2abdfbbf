"""Tests for how operators materialize and release frames.

Operators never choose between local and reliable cuts themselves:
:func:`lineage.cut` reads the session's checkpoint directory, and a
source scan keeps every other operator and streaming module from
cutting lineage or persisting on its own.  In
``streaming/incremental.py`` only the exactly-once protocol function
touches the commit helpers, and in ``plans/queries.py`` only three
session helpers pick temp directories, stage chunks and run streams.
No operator or streaming module counts a ``limit``.  A
:func:`lineage.scope` frees what was cut or kept inside it when it
exits; outside any scope, cut RDDs are released once their frames are
garbage.
"""
from __future__ import annotations

import ast
import gc
import time
from pathlib import Path

import pytest

import ons_utils_spark
from ons_utils_spark.operators import lineage
from ons_utils_spark.operators.clustering import connected_components
from ons_utils_spark.operators.lineage import cut

PACKAGE = Path(ons_utils_spark.__file__).parent
CUT_CALLS = {'localCheckpoint', 'checkpoint', 'setCheckpointDir',
             'persist', 'cache'}
PROTOCOL_CALLS = {'_batch_state', '_marker_row', '_append_store',
                  'isEmpty'}
SESSION_CALLS = {'gettempdir', 'utime', 'awaitTermination'}
SCOPED_QUERIES = ('q_pagerank', 'q_label_prop', 'q_dedup_keep_best',
                  'q_bitext_mine', 'q_connected_components')


OPERATOR_PATHS = [path for sub in ('operators', 'streaming')
                  for path in sorted((PACKAGE / sub).rglob('*.py'))]


def _called(node):
    """The name ``node`` calls, as a method or a bare function, or None
    when ``node`` is not a call."""
    if not isinstance(node, ast.Call):
        return None
    func = node.func
    return (func.attr if isinstance(func, ast.Attribute)
            else getattr(func, 'id', None))


def _call_sites(paths, names, on=None) -> set:
    """(module path, top-level definition) of every call to one of
    ``names``, as a method or a bare function, in ``paths``; with
    ``on``, only method calls on the result of a call to one of
    ``on``."""
    sites = set()
    for path in paths:
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if _called(node) not in names:
                    continue
                if on is not None \
                        and _called(getattr(node.func, 'value', None)) \
                        not in on:
                    continue
                sites.add((path.relative_to(PACKAGE).as_posix(),
                           getattr(top, 'name', '<module>')))
    return sites


def test_only_cut_cuts_lineage():
    assert _call_sites(OPERATOR_PATHS, CUT_CALLS) == {
        ('operators/lineage.py', 'cut'), ('operators/lineage.py', 'keep')}


def test_no_operator_counts_a_limit():
    """No ``.limit(...).count()`` under ``operators/`` or
    ``streaming/``: a codegen'd ``limit`` takes a fresh
    ``_limit_counter_N`` name in every plan, so every call recompiles
    its generated classes, which the compiled-class cache cannot
    serve.  Count the rows (a zero count is the emptiness check)."""
    assert _call_sites(OPERATOR_PATHS, {'count'}, on={'limit'}) == set()


def test_only_the_commit_protocol_touches_store_and_cache():
    path = PACKAGE / 'streaming' / 'incremental.py'
    assert _call_sites([path], PROTOCOL_CALLS) == {
        ('streaming/incremental.py', '_exactly_once_sink')}


def test_only_the_session_helpers_stage_and_run_streams():
    """In ``plans/queries.py`` only ``_session_dir`` picks a temp
    directory, only ``_stage_chunks`` staggers chunk mtimes and only
    ``_run_stream`` opens and waits on a file-source stream."""
    path = PACKAGE / 'plans' / 'queries.py'
    reads = {('plans/queries.py', getattr(top, 'name', '<module>'))
             for top in ast.parse(path.read_text()).body
             for node in ast.walk(top)
             if getattr(node, 'attr', None) == 'readStream'}
    assert _call_sites([path], SESSION_CALLS) | reads == {
        ('plans/queries.py', name)
        for name in ('_session_dir', '_stage_chunks', '_run_stream')}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs()
               .keySet().toArray())


def _release_garbage(spark):
    """Drop unreachable frames on both sides of py4j; Spark's context
    cleaner then unpersists their RDDs asynchronously."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _await_release(spark, rdds: set) -> set:
    """Run both garbage collectors until none of ``rdds`` is persisted
    (the cleaner unpersists asynchronously), for up to 120 s; return
    those still persisted."""
    deadline = time.monotonic() + 120
    while rdds & _persisted(spark) and time.monotonic() < deadline:
        _release_garbage(spark)
        time.sleep(0.5)
    return rdds & _persisted(spark)


def test_cut_rdds_are_released_once_results_are_garbage(spark_session):
    """Graph and dedup queries leave their lineage-cut RDDs persisted
    after ``collect``; once the results are dropped and both garbage
    collectors run, the cleaner releases every one of them."""
    from test_round2_queries import SF

    from ons_utils_spark.plans.queries import QUERIES

    def persisted():
        return _persisted(spark_session)

    start = persisted()
    for name in SCOPED_QUERIES:
        QUERIES[name](spark_session, SF).collect()
    held = persisted() - start
    assert held
    assert not _await_release(spark_session, held)
    assert len(persisted()) <= len(start)


def test_scope_releases_query_rdds_without_gc(spark_session):
    """Built and collected inside a scope, each query leaves no RDD it
    persisted behind — no garbage collector runs — and frees nothing
    cut before the scope opened.  (RDDs earlier tests left for the GC
    may be freed meanwhile, so the set is not compared whole.)"""
    from test_round2_queries import SF

    from ons_utils_spark.plans.queries import QUERIES

    before = _persisted(spark_session)
    outside = cut(_edges(spark_session).groupBy('dst').count())
    held = _persisted(spark_session) - before
    assert held
    for name in SCOPED_QUERIES:
        start = _persisted(spark_session)
        with lineage.scope():
            QUERIES[name](spark_session, SF).collect()
        assert _persisted(spark_session) - start == set(), name
        assert held <= _persisted(spark_session), name
    assert outside.count() == 23
    del outside
    assert not _await_release(spark_session, held)


def _edges(spark):
    return spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)], 'src long, dst long')


def test_operator_outside_a_scope_holds_only_its_result(spark_session):
    """An operator frees its own intermediates when it returns; only
    the materialized result's RDD stays, and the GC releases it once
    the result is garbage (so later tests start from a settled set)."""
    from ons_utils_spark.operators.graph import pagerank

    start = _persisted(spark_session)
    ranks = pagerank(_edges(spark_session), iterations=3)
    held = _persisted(spark_session) - start
    assert len(held) == 1
    assert len(ranks.collect()) == 40
    assert _persisted(spark_session) - start == held
    del ranks
    assert not _await_release(spark_session, held)


def test_frame_read_after_its_scope_closed_raises(spark_session):
    with lineage.scope():
        inner = cut(_edges(spark_session).groupBy('dst').count())
        assert inner.count() == 23
    with pytest.raises(Exception, match='CHECKPOINT_RDD_BLOCK_ID'):
        inner.collect()


def test_result_moves_to_the_enclosing_scope(spark_session):
    start = _persisted(spark_session)
    with lineage.scope():
        with lineage.scope() as s:
            kept = lineage.keep(_edges(spark_session).select('src'))
            out = s.result(kept.groupBy('src').count())
        assert _persisted(spark_session) - start
        assert out.count() == 40
    assert _persisted(spark_session) - start == set()
    assert lineage.keep(spark_session.range(3)).count() == 3
    assert _persisted(spark_session) - start == set()


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], 'id_a bigint, id_b bigint')


def test_operator_leaves_unset_checkpoint_dir_unset(spark_session):
    sc = spark_session.sparkContext
    assert sc.getCheckpointDir() is None
    connected_components(_pairs(spark_session)).collect()
    assert sc.getCheckpointDir() is None


def test_operator_leaves_session_checkpoint_dir_in_place(
        spark_session, session_checkpoint_dir):
    sc = spark_session.sparkContext
    before = sc.getCheckpointDir()
    assert before is not None
    connected_components(_pairs(spark_session)).collect()
    assert sc.getCheckpointDir() == before


def test_reliable_cut_is_eager_even_when_asked_lazy(
        spark_session, session_checkpoint_dir):
    """A lazily triggered reliable checkpoint would compute its RDD
    twice, so ``eager=False`` still writes the checkpoint at once."""
    out = cut(spark_session.range(10), eager=False)
    assert list(session_checkpoint_dir.glob('*/rdd-*'))
    assert out.count() == 10
