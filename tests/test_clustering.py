"""Tests for connected components / component-based dedup."""
import logging

from ons_utils_spark.operators.clustering import (
    connected_components,
    dedup_by_components,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, 'id_a bigint, id_b bigint')


def test_transitive_chain_one_component(spark_session):
    pairs = _pairs(spark_session, [(1, 2), (2, 3), (3, 4)])
    comps = {r['node']: r['comp']
             for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components(spark_session):
    pairs = _pairs(spark_session, [(1, 2), (5, 6), (6, 7)])
    comps = {r['node']: r['comp']
             for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5}


def test_long_path_converges(spark_session):
    # path 0-1-2-...-12: needs multiple propagation rounds
    pairs = _pairs(spark_session, [(i, i + 1) for i in range(12)])
    comps = {r['node']: r['comp']
             for r in connected_components(pairs).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 13


def test_dedup_by_components_transitive(spark_session):
    # A~B and B~C but never A~C directly: greedy per-pair would keep C
    # if only (A,B),(B,C) candidates seen pairwise; component dedup
    # keeps only A.
    df = spark_session.createDataFrame(
        [(1, 'a'), (2, 'b'), (3, 'c'), (9, 'z')],
        'doc_id bigint, text string',
    )
    pairs = _pairs(spark_session, [(1, 2), (2, 3)])
    kept = sorted(
        r['doc_id']
        for r in dedup_by_components(df, pairs, 'doc_id').collect()
    )
    assert kept == [1, 9]


def test_long_chain_converges_within_iteration_cap(spark_session):
    """A 120-node path must fully converge: 1-hop propagation alone
    would need 119 rounds; pointer doubling needs ~7."""
    from ons_utils_spark import connected_components
    edges = spark_session.createDataFrame(
        [(i, i + 1) for i in range(100, 220)], 'id_a bigint, id_b bigint')
    comps = connected_components(edges, max_iterations=20)
    rows = comps.collect()
    assert len(rows) == 121
    assert all(r['comp'] == 100 for r in rows)


def test_components_checkpoint_dir_roundtrip(spark_session, request):
    """A session checkpoint directory routes the per-round lineage
    cuts through real on-disk reliable checkpoints, same answer."""
    from ons_utils_spark import connected_components
    edges = spark_session.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], 'id_a bigint, id_b bigint')
    default = {(r['node'], r['comp']) for r in connected_components(
        edges).collect()}
    ck = request.getfixturevalue('session_checkpoint_dir')
    with_dir = {(r['node'], r['comp']) for r in connected_components(
        edges).collect()}
    assert with_dir == default
    assert list(ck.glob('*/rdd-*'))  # really wrote reliable checkpoints


class TestIterationCapWarning:
    """Stopping at ``max_iterations`` with labels still changing is
    reported on the module logger, never silent."""

    LOGGER = 'ons_utils_spark.operators.clustering'

    def test_capped_path_logs_warning(self, spark_session, caplog):
        # a 40-node path needs ~5 doubling rounds; one is not enough
        pairs = _pairs(spark_session, [(i, i + 1) for i in range(40)])
        with caplog.at_level(logging.WARNING, logger=self.LOGGER):
            comps = connected_components(pairs, max_iterations=1)
        assert {r['comp'] for r in comps.collect()} != {0}
        warned = [r for r in caplog.records if r.name == self.LOGGER]
        assert len(warned) == 1
        assert warned[0].levelno == logging.WARNING
        assert 'max_iterations=1' in warned[0].getMessage()

    def test_converged_call_logs_nothing(self, spark_session, caplog):
        pairs = _pairs(spark_session, [(i, i + 1) for i in range(40)])
        with caplog.at_level(logging.DEBUG, logger=self.LOGGER):
            comps = connected_components(pairs)
        assert {r['comp'] for r in comps.collect()} == {0}
        assert not [r for r in caplog.records if r.name == self.LOGGER]
