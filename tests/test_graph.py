"""Tests for operators.graph (PageRank)."""
from __future__ import annotations

import pytest

from ons_utils_spark.operators.graph import pagerank


@pytest.fixture
def star(spark_session):
    # 1..4 all point at 5 (5 is a sink)
    return spark_session.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5)], 'src long, dst long')


def test_star_center_dominates_float(star):
    ranks = {r['node']: r['rank'] for r in
             pagerank(star, iterations=10).collect()}
    assert max(ranks, key=ranks.get) == 5
    # leaves are symmetric — identical ranks
    assert len({ranks[i] for i in (1, 2, 3, 4)}) == 1
    # float mode distributes ≈ all mass (self-loop keeps sinks')
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_star_center_dominates_integer(star):
    ranks = {r['node']: r['rank'] for r in
             pagerank(star, iterations=10,
                      mode='integer').collect()}
    assert max(ranks, key=ranks.get) == 5
    assert len({ranks[i] for i in (1, 2, 3, 4)}) == 1
    assert all(isinstance(v, int) for v in ranks.values())


def test_cycle_is_uniform(spark_session):
    cyc = spark_session.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], 'src long, dst long')
    ranks = [r['rank'] for r in
             pagerank(cyc, iterations=8).collect()]
    assert max(ranks) == pytest.approx(min(ranks), rel=1e-9)
    assert sum(ranks) == pytest.approx(1.0, abs=1e-9)


def test_integer_hand_computed_two_cycle(spark_session):
    """Pin the exact integer recurrence on a 2-cycle with scale 100:
    r0 = 50 each; base = 15*100/(20*2)... -> (3*100)//(2*20)=7;
    each it: r' = 7 + (17*50)//20 = 7+42 = 49, then fixed at
    7 + (17*49)//20 = 7+41 = 48, then 7 + (17*48)//20 = 47, ..."""
    cyc = spark_session.createDataFrame(
        [(1, 2), (2, 1)], 'src long, dst long')
    r1 = {r['node']: r['rank'] for r in
          pagerank(cyc, iterations=1, mode='integer',
                   scale=100).collect()}
    assert r1 == {1: 49, 2: 49}
    r2 = {r['node']: r['rank'] for r in
          pagerank(cyc, iterations=2, mode='integer',
                   scale=100).collect()}
    assert r2 == {1: 48, 2: 48}


def test_self_loops_all_covers_isolated_sources(spark_session):
    df = spark_session.createDataFrame([(1, 2)], 'src long, dst long')
    ranks = {r['node']: r['rank'] for r in
             pagerank(df, iterations=4, self_loops='all').collect()}
    assert set(ranks) == {1, 2}
    assert ranks[2] > ranks[1]


def test_integer_dangling_matches_local_fold(spark_session):
    """self_loops='dangling' covers nodes without in-edges through the
    nodes-frame left join: source-only nodes 1 and 4 keep exactly the
    teleport mass, and sink 5 keeps its mass through its self-edge."""
    from fractions import Fraction

    edges = [(1, 2), (2, 3), (3, 2), (4, 2), (2, 5), (4, 3)]
    got = {r['node']: r['rank'] for r in pagerank(
        spark_session.createDataFrame(edges, 'src long, dst long'),
        iterations=3, mode='integer', self_loops='dangling').collect()}
    # local replay: self-edge on each sink, scale 1e12, 17/20
    scale = 10 ** 12
    nodes = sorted({x for e in edges for x in e})
    sinks = set(nodes) - {a for a, _ in edges}
    es = sorted(set(edges) | {(n, n) for n in sinks})
    od = {n: sum(1 for a, _ in es if a == n) for n in nodes}
    frac = Fraction(0.85).limit_denominator(1000)
    num, den = frac.numerator, frac.denominator
    base = (den - num) * scale // (den * len(nodes))
    r = {n: scale // len(nodes) for n in nodes}
    for _ in range(3):
        inc = {n: 0 for n in nodes}
        for a, b in es:
            inc[b] += r[a] // od[a]
        r = {n: base + (num * inc[n]) // den for n in nodes}
    assert got == r
    assert got[1] == got[4] == base


class TestTriangles:
    def _count(self, spark, rows):
        from ons_utils_spark.operators.graph import triangle_count

        df = spark.createDataFrame(rows, 'src long, dst long')
        return triangle_count(df).collect()[0]

    def test_k4_has_four_triangles(self, spark_session):
        k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
        r = self._count(spark_session, k4)
        assert r['n_triangles'] == 4
        assert r['n_edges'] == 6

    def test_path_has_none(self, spark_session):
        r = self._count(spark_session, [(1, 2), (2, 3), (3, 4)])
        assert r['n_triangles'] == 0

    def test_duplicates_and_reversals_collapse(self, spark_session):
        rows = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 3)]
        r = self._count(spark_session, rows)
        assert r['n_edges'] == 3      # self-loop + reversals dropped
        assert r['n_triangles'] == 1

    def test_two_shared_edge_triangles(self, spark_session):
        rows = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
        r = self._count(spark_session, rows)
        assert r['n_triangles'] == 2


class TestBfs:
    def _levels(self, spark, edges, srcs, **kw):
        from ons_utils_spark.operators.graph import bfs_levels

        e = spark.createDataFrame(edges, 'src long, dst long')
        s = spark.createDataFrame([(x,) for x in srcs], 'node long')
        return {r['node']: r['hop'] for r in
                bfs_levels(e, s, **kw).collect()}

    def test_directed_path(self, spark_session):
        got = self._levels(
            spark_session, [(1, 2), (2, 3), (3, 4)], [1])
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}

    def test_direction_respected(self, spark_session):
        got = self._levels(spark_session, [(2, 1), (2, 3)], [1])
        assert got == {1: 0}  # no out-edges from 1
        undirected = self._levels(
            spark_session, [(2, 1), (2, 3)], [1], directed=False)
        assert undirected == {1: 0, 2: 1, 3: 2}

    def test_min_hop_wins_on_diamond(self, spark_session):
        got = self._levels(
            spark_session,
            [(1, 2), (2, 4), (1, 4), (4, 5)], [1])
        assert got[4] == 1 and got[5] == 2

    def test_max_hops_bounds_reach(self, spark_session):
        got = self._levels(
            spark_session, [(1, 2), (2, 3), (3, 4)], [1], max_hops=2)
        assert 4 not in got and got[3] == 2

    def test_multi_source_and_isolated(self, spark_session):
        got = self._levels(
            spark_session, [(1, 2)], [1, 9])  # 9 has no edges
        assert got == {1: 0, 9: 0, 2: 1}

    def test_sources_built_once(self, spark_session):
        """Hop 1 expands the checkpointed sources, so the caller's
        sources build runs once, not again for the hop-1 broadcast."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        from ons_utils_spark.operators.graph import bfs_levels

        builds = spark_session.sparkContext.accumulator(0)

        @F.udf(LongType())
        def counted(x):
            builds.add(1)
            return x

        e = spark_session.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], 'src long, dst long')
        s = spark_session.createDataFrame(
            [(1,), (5,)], 'node long').select(
            counted('node').alias('node'))
        got = {r['node']: r['hop'] for r in bfs_levels(e, s).collect()}
        assert got == {1: 0, 5: 0, 2: 1, 6: 1, 3: 2}
        assert builds.value == 2


class TestLabelPropagation:
    def _labels(self, spark, edges, iterations=5):
        from ons_utils_spark.operators.graph import label_propagation

        df = spark.createDataFrame(edges, 'src long, dst long')
        return {r['node']: r['label'] for r in
                label_propagation(df, iterations=iterations).collect()}

    def test_two_cliques_with_bridge(self, spark_session):
        k = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
        k += [(a, b) for a in (7, 8, 9) for b in (7, 8, 9) if a < b]
        k += [(3, 7)]  # weak bridge
        got = self._labels(spark_session, k)
        # each clique converges to its min id; the bridge does not
        # merge the cliques (each side's internal majority wins)
        assert got[1] == got[2] == got[3] == 1
        assert got[7] == got[8] == got[9] == 7

    def test_deterministic_ties(self, spark_session):
        # star: leaves adopt the hub label; hub sees all-distinct
        # neighbor labels -> min label wins deterministically
        star = [(5, 1), (5, 2), (5, 3)]
        a = self._labels(spark_session, star, iterations=3)
        b = self._labels(spark_session, star, iterations=3)
        assert a == b

    def test_self_loops_ignored(self, spark_session):
        got = self._labels(spark_session, [(1, 1), (1, 2)])
        assert set(got) == {1, 2}


def test_validation(spark_session):
    df = spark_session.createDataFrame([(1, 2)], 'src long, dst long')
    with pytest.raises(ValueError, match='mode'):
        pagerank(df, mode='bogus')
    with pytest.raises(ValueError, match='self_loops'):
        pagerank(df, self_loops='maybe')


def test_pagerank_checkpoint_dir_roundtrip(spark_session, request):
    """A session checkpoint directory must produce identical ranks
    via RELIABLE checkpoints on real storage (not executor-local
    blocks)."""
    edges = spark_session.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], 'src long, dst long')
    default = {r['node']: r['rank'] for r in pagerank(
        edges, mode='integer', iterations=4).collect()}
    ck = request.getfixturevalue('session_checkpoint_dir')
    with_dir = {r['node']: r['rank'] for r in pagerank(
        edges, mode='integer', iterations=4).collect()}
    assert with_dir == default
    assert list(ck.glob('*/rdd-*'))  # really wrote reliable checkpoints


def test_bfs_and_lpa_checkpoint_dir_roundtrip(
        spark_session, request):
    from ons_utils_spark.operators.graph import (
        bfs_levels, label_propagation, triangle_count)
    edges = spark_session.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], 'src long, dst long')
    srcs = spark_session.createDataFrame([(1,)], 'node long')
    default_lpa = {r['node']: r['label'] for r in label_propagation(
        edges, iterations=3).collect()}
    ck = request.getfixturevalue('session_checkpoint_dir')
    bfs = {(r['node'], r['hop']) for r in bfs_levels(
        edges, srcs, max_hops=4).collect()}
    assert bfs == {(1, 0), (2, 1), (3, 2)}
    lpa = {r['node']: r['label'] for r in label_propagation(
        edges, iterations=3).collect()}
    assert lpa == default_lpa
    tri = triangle_count(
        spark_session.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], 'src long, dst long'),
    ).collect()[0]
    assert tri['n_triangles'] == 1
    assert list(ck.glob('*/rdd-*'))


class TestHits:
    EDGES = [
        (1, 101), (1, 102), (1, 103),
        (2, 101), (2, 102),
        (3, 101),
    ]

    def _edges(self, spark):
        return spark.createDataFrame(self.EDGES, 'src long, dst long')

    def test_integer_ordering(self, spark_session):
        from ons_utils_spark.operators.graph import hits
        out = {r['node']: (r['hub'], r['authority']) for r in
               hits(self._edges(spark_session), iterations=3,
                    mode='integer').collect()}
        hubs = sorted((h, n) for n, (h, _) in out.items() if h > 0)
        auths = sorted((a, n) for n, (_, a) in out.items() if a > 0)
        # 1 links most/best -> strongest hub; 101 is cited by all
        assert [n for _, n in hubs[::-1]] == [1, 2, 3]
        assert [n for _, n in auths[::-1]] == [101, 102, 103]
        # bipartite: customers aren't authorities and vice versa
        assert all(out[n][1] == 0 for n in (1, 2, 3))
        assert all(out[n][0] == 0 for n in (101, 102, 103))

    def test_float_mode_normalized_and_same_order(self, spark_session):
        from ons_utils_spark.operators.graph import hits
        out = hits(self._edges(spark_session), iterations=3,
                   mode='float').collect()
        h2 = sum(r['hub'] ** 2 for r in out)
        a2 = sum(r['authority'] ** 2 for r in out)
        assert abs(h2 - 1.0) < 1e-9 and abs(a2 - 1.0) < 1e-9
        by_hub = sorted((r['hub'], r['node']) for r in out
                        if r['hub'] > 0)
        assert [n for _, n in by_hub[::-1]] == [1, 2, 3]

    def test_duplicate_edges_collapse(self, spark_session):
        from ons_utils_spark.operators.graph import hits
        once = hits(self._edges(spark_session), iterations=2,
                    mode='integer').collect()
        doubled = spark_session.createDataFrame(
            self.EDGES * 2, 'src long, dst long')
        twice = hits(doubled, iterations=2, mode='integer').collect()
        assert sorted(map(tuple, once)) == sorted(map(tuple, twice))

    def test_bad_args(self, spark_session):
        from ons_utils_spark.operators.graph import hits
        import pytest as _pt
        with _pt.raises(ValueError, match='mode'):
            hits(self._edges(spark_session), mode='exact')
        with _pt.raises(ValueError, match='iterations'):
            hits(self._edges(spark_session), iterations=0)


class TestPersonalizedPagerank:
    """Restart-to-seeds walk: mass concentrates near the seeds,
    unreachable nodes score zero, integer mode is replay-exact."""

    def _edges(self, spark_session):
        # two components: {1,2,3} a cycle, {10,11} a pair
        rows = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)]
        return spark_session.createDataFrame(
            rows, 'src long, dst long')

    def _seeds(self, spark_session, ids):
        return spark_session.createDataFrame(
            [(i,) for i in ids], 'node long')

    def test_unreachable_component_scores_zero(self, spark_session):
        from ons_utils_spark.operators.graph import (
            personalized_pagerank)
        got = {r['node']: r['rank'] for r in personalized_pagerank(
            self._edges(spark_session),
            self._seeds(spark_session, [1]),
            iterations=5, mode='integer').collect()}
        assert got[10] == 0 and got[11] == 0
        assert got[1] > got[2] > 0 and got[3] > 0

    def test_seed_gets_restart_mass(self, spark_session):
        from ons_utils_spark.operators.graph import (
            personalized_pagerank)
        got = {r['node']: r['rank'] for r in personalized_pagerank(
            self._edges(spark_session),
            self._seeds(spark_session, [1]),
            iterations=8, mode='float').collect()}
        # the seed outranks every non-seed in its component
        assert got[1] == max(got.values())
        assert abs(sum(got.values()) - 1.0) < 1e-6

    def test_integer_replay_matches_local_fold(self, spark_session):
        from fractions import Fraction

        from ons_utils_spark.operators.graph import (
            personalized_pagerank)
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)]
        seeds = {1, 10}
        got = {r['node']: r['rank'] for r in personalized_pagerank(
            self._edges(spark_session).unionByName(
                self._seeds(spark_session, []).selectExpr(
                    'node as src', 'node as dst')),
            self._seeds(spark_session, sorted(seeds)),
            iterations=4, mode='integer').collect()}
        # local replay: self-loops on every node, scale 1e12, 17/20
        scale = 10 ** 12
        nodes = sorted({x for e in edges for x in e})
        es = sorted(set(edges) | {(n, n) for n in nodes})
        od = {n: sum(1 for a, _ in es if a == n) for n in nodes}
        num, den = Fraction(0.85).limit_denominator(1000) \
            .numerator, Fraction(0.85).limit_denominator(1000) \
            .denominator
        base = (den - num) * scale // (den * len(seeds))
        r = {n: (scale // len(seeds) if n in seeds else 0)
             for n in nodes}
        for _ in range(4):
            inc = {n: 0 for n in nodes}
            for a, b in es:
                inc[b] += r[a] // od[a]
            r = {n: (base if n in seeds else 0)
                 + (num * inc[n]) // den for n in nodes}
        assert got == r

    def test_seed_validation(self, spark_session):
        from ons_utils_spark.operators.graph import (
            personalized_pagerank)
        import pytest as pt
        with pt.raises(ValueError, match='no seed'):
            personalized_pagerank(
                self._edges(spark_session),
                self._seeds(spark_session, [999]), iterations=2)
        with pt.raises(ValueError, match='mode'):
            personalized_pagerank(
                self._edges(spark_session),
                self._seeds(spark_session, [1]), mode='bad')


def test_broadcast_state_paths_agree(spark_session, monkeypatch):
    """r16: the size-adaptive state broadcast (BROADCAST_STATE_MAX_NODES)
    is a join-strategy choice only — the broadcast path (default at
    fixture scale) and the sort-merge fallback (threshold 0) must
    produce identical rows for every iterative operator."""
    import ons_utils_spark.operators.graph as G

    edges = spark_session.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)] + [(3, 3), (5, 9)],
        'src long, dst long')

    def sort_merge(run):
        with monkeypatch.context() as m:
            m.setattr(G, 'BROADCAST_STATE_MAX_NODES', 0)
            return run()

    for fn, kw in [
        (G.pagerank,
         dict(iterations=3, mode='integer', self_loops='all')),
        (G.pagerank,
         dict(iterations=3, mode='integer', self_loops='dangling')),
        (G.hits, dict(iterations=2, mode='integer')),
        (G.label_propagation, dict(iterations=3)),
        (G.harmonic_centrality, dict(max_hops=3)),
    ]:
        a = sorted(map(tuple, fn(edges, **kw).collect()))
        b = sorted(map(tuple, sort_merge(
            lambda: fn(edges, **kw).collect())))
        assert a == b and a, (fn.__name__, kw)

    seeds = spark_session.createDataFrame([(1,), (2,)], 'node long')
    a = sorted(map(tuple, G.personalized_pagerank(
        edges, seeds, iterations=3, mode='integer').collect()))
    b = sorted(map(tuple, sort_merge(lambda: G.personalized_pagerank(
        edges, seeds, iterations=3, mode='integer').collect())))
    assert a == b and a

    src = spark_session.createDataFrame([(0,), (1,)], 'node long')
    a = sorted(map(tuple, G.bfs_levels(
        edges, src, max_hops=3).collect()))
    b = sorted(map(tuple, sort_merge(lambda: G.bfs_levels(
        edges, src, max_hops=3).collect())))
    assert a == b and a
