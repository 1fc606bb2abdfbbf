"""Tests for operators.lineage: the one lineage-cut policy.

Operators never choose between local and reliable cuts themselves:
:func:`lineage.cut` reads the session's checkpoint directory, and a
source scan keeps every other operator and streaming module from
cutting lineage on its own.
"""
from __future__ import annotations

import ast
from pathlib import Path

import ons_utils_spark
from ons_utils_spark.operators.clustering import connected_components
from ons_utils_spark.operators.lineage import cut

PACKAGE = Path(ons_utils_spark.__file__).parent
CUT_CALLS = {'localCheckpoint', 'checkpoint', 'setCheckpointDir'}


def _cut_call_sites() -> set:
    """(module path, enclosing function) of every call to a
    lineage-cut or checkpoint-directory method under ``operators/``
    and ``streaming/``."""
    sites = set()
    for sub in ('operators', 'streaming'):
        for path in sorted((PACKAGE / sub).rglob('*.py')):
            tree = ast.parse(path.read_text())
            parent = {child: node for node in ast.walk(tree)
                      for child in ast.iter_child_nodes(node)}
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in CUT_CALLS):
                    continue
                owner = node
                while owner in parent and not isinstance(
                        owner, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    owner = parent[owner]
                name = getattr(owner, 'name', '<module>')
                sites.add((path.relative_to(PACKAGE).as_posix(), name))
    return sites


def test_only_cut_cuts_lineage():
    assert _cut_call_sites() == {('operators/lineage.py', 'cut')}


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
