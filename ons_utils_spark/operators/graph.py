"""Graph analytics: PageRank over DataFrame edge lists.

Companion to ``operators/clustering.py`` (connected components).
PageRank (Brin & Page 1998) ranks nodes by stationary visit
probability — in data-curation pipelines it scores domains/hosts by
link authority (the Common Crawl host-ranking step) and surfaces
hub records in entity graphs.  The reference engine
(``/root/reference/ons_utils``) has no graph tooling; this is part
of the extension surface.

Spark-first design: the rank vector and edge list stay DataFrames;
each iteration is one join + one aggregate, with a lineage cut
(:func:`lineage.cut`) per iteration to stop the plan from embedding
every previous round (driver analysis blow-up — same pattern as
``connected_components``).  The cuts are reliable checkpoints when
the session has a checkpoint directory, executor-local otherwise.
Every operator runs in its own :func:`lineage.scope`: it returns a
materialized result, and its edge frames, node sets and earlier
rounds are freed when the call returns.  At 100 TB scale the edge
list dominates: it is materialized ONCE, and while the node count
stays under ``BROADCAST_STATE_MAX_NODES`` the per-round join
broadcasts the O(nodes) rank state so the edge frame is scanned,
never exchanged; above the threshold the join falls back to
sort-merge (a billion-node rank vector must not be collected).
``BROADCAST_STATE_MAX_NODES`` is the one sizing setting: the
operators read it at call time, so a deployment sizes it on this
module, not per call.

Two arithmetic modes (same pattern as ``operators/classifier.py``):

* ``mode='float'`` (production): standard double math.  Sums are
  partition-order dependent in their low bits — fine for ranking,
  not for bit-exact cross-engine replay.
* ``mode='integer'`` (verification/replay): ranks are scaled 64-bit
  integers; the damping factor becomes an exact fraction and every
  step is integer multiply/floor-divide, so ANY engine reproduces
  the ranks bit-exactly (the DuckDB oracle replays 10 iterations in
  a recursive CTE).  Floor losses mean ranks no longer sum exactly
  to ``scale`` — documented, irrelevant for ordering/auditing.
"""
from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .lineage import cut, scope

__all__ = ['pagerank', 'personalized_pagerank', 'triangle_count',
           'bfs_levels', 'label_propagation', 'harmonic_centrality',
           'hyperball_centrality']

# Size-adaptive state broadcast for the iterative operators.  The
# per-round node-state frame (ranks / labels / frontier) is exactly
# node-sized, but it sits behind a lineage cut where AQE sees no
# statistics and the planner defaults every per-round join to
# sort-merge — both the edge frame AND the state are re-exchanged
# every round (the pre-checkpoint edge repartition does not survive
# the cut: OPTIMIZATION_r15.md §18).  The node count IS known
# exactly at build time, so when it is at most this many rows the
# state side is broadcast explicitly (guide §3.1: size estimates
# are unreliable after opaque boundaries — hint when you know):
# the edge frame is then only scanned, never exchanged, and each
# round's single exchange is the post-combine aggregate.  Above the
# threshold the sort-merge shape stands — broadcasting a
# billion-node rank vector would OOM the driver.  4M (node, value)
# rows ≈ 64 MB of data / a few hundred MB as a built hash relation,
# inside the guide's "a few hundred MB is usually fine" envelope;
# size it to your driver/executor memory on a real cluster.
BROADCAST_STATE_MAX_NODES = 4_000_000


def _edges(edges: SparkDF, src: str, dst: str, directed: bool) -> SparkDF:
    """The distinct ``(s, d)`` long edge frame, both directions when
    not ``directed``, repartitioned on ``s`` and eagerly cut."""
    e = edges.select(F.col(src).cast('long').alias('s'),
                     F.col(dst).cast('long').alias('d')).distinct()
    if not directed:
        e = e.unionByName(
            e.select(F.col('d').alias('s'), F.col('s').alias('d'))
        ).distinct()
    return e.repartition('s').transform(cut)


def label_propagation(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    iterations: int = 5,
) -> SparkDF:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007) → ``(node, label)``.

    Every node starts labeled with its own id; each round it adopts
    the most frequent label among its neighbors PLUS ITS OWN
    (self-vote), ties broken to the SMALLEST label.  The self-vote
    is the deterministic stabilizer: a bare min-tie rule degenerates
    into min-label flooding (bridged communities merge like
    connected components), while the own-label vote keeps an
    established community's label dominant across weak bridges —
    verified on bridged-clique fixtures.  The classic random-tie
    variant is irreproducible across partitionings, useless for
    auditing.  Fixed ``iterations`` synchronous rounds: per round
    one edge join + one per-node deterministic ``mode`` aggregation
    (most frequent label, ties to the smallest), state O(nodes),
    per-round lineage cuts.  While the node count is at most
    ``BROADCAST_STATE_MAX_NODES`` a round is ONE shuffle (the
    aggregation) plus a broadcast of the node-sized label state;
    above it the join falls back to sort-merge, which also shuffles
    the edge frame and the labels: THREE shuffles per round.  All
    integer arithmetic, so a recursive-CTE oracle replays every
    round exactly.  Isolated nodes (no edges) keep their own label.
    """
    # Per-round cuts are LAZY here (fixed-iteration loop, no
    # mid-loop actions): the result cut materializes the whole
    # round chain stage-by-stage in ONE job instead of one eager
    # scheduler job per round — same stages, fewer job round-trips
    # (the connected_components precedent; ops with limit/count
    # loop breaks stay eager, see OPTIMIZATION_r15.md).
    with scope() as s:
        e = edges.select(F.col(src).cast('long').alias('a'),
                         F.col(dst).cast('long').alias('b')) \
            .filter(F.col('a') != F.col('b'))
        # Materialize the symmetric edge frame FIRST and derive the node
        # set from the cut (see :func:`pagerank`): separate lineage cuts
        # each re-execute their upstream during plan compile, so cutting
        # before the derivations runs the caller's edge build ONCE.  The
        # pre-checkpoint repartition normalizes the checkpoint's block
        # parallelism only (it does not survive the cut as a physical
        # partitioning — OPTIMIZATION_r15.md §18).
        sym = e.unionByName(
            e.select(F.col('b').alias('a'), F.col('a').alias('b'))
        ).distinct().repartition('b').transform(cut, eager=False)
        nodes = sym.select(F.col('a').alias('node')).distinct() \
            .transform(cut, eager=False)
        # node count is exact and cheap here (one job over the
        # checkpointed node frame); under the threshold every round's
        # label join broadcasts the node-sized label state — the edge
        # frame is scanned, never exchanged (see
        # BROADCAST_STATE_MAX_NODES).
        bcast = 0 < nodes.count() <= BROADCAST_STATE_MAX_NODES
        labels = nodes.select('node', F.col('node').alias('label'))
        for _ in range(iterations):
            lb = F.broadcast(labels) if bcast else labels
            # the self-vote is the label frame itself, unioned BELOW the
            # aggregation: one (node, own-label) row per node is exactly
            # the vote the former (node, node) self-edge produced through
            # the join, without carrying n extra edges in `sym` or
            # re-deriving the node set during the `sym` build.
            votes = (
                sym.join(lb, sym['b'] == lb['node'])
                .select(sym['a'].alias('n'), 'label')
            )
            # deterministic mode = the most frequent label, ties to the
            # smallest: LPA's rule in ONE aggregation (one shuffle).  The
            # self-vote union guarantees every node appears (labels spans
            # all nodes by induction), so the result covers the full node
            # set — no nodes-frame left join per round.
            labels = (
                votes.unionByName(
                    labels.select(F.col('node').alias('n'), 'label'))
                .groupBy('n')
                .agg(F.mode('label', deterministic=True).alias('label'))
                .select(F.col('n').alias('node'), 'label')
                .transform(cut, eager=False)
            )
        return s.result(labels)


def _frontier(e: SparkDF, first: SparkDF, max_hops: int) -> list:
    """Frontier expansion from ``first`` over an :func:`_edges` frame
    → the frames newly reached at hops 1, 2, …, each eagerly cut; the
    list ends early at the first hop that reaches nothing.

    ``first`` is keyed by ``['n']`` or ``['root', 'n']``.  Each hop
    joins ONLY the newest frontier against the edge list and
    anti-joins the visited state, so per-hop work is O(frontier ×
    avg-degree) — never |V|×|E|.  The visited state is the UNION of
    the per-hop cut frames: each key is materialized once, at the hop
    that reached it, never re-written as part of a growing frame.
    The expand join and the anti-join broadcast their state side PER
    HOP while its exact count stays under
    ``BROADCAST_STATE_MAX_NODES`` — on a huge graph the early
    small-frontier hops broadcast and the bulk hops fall back to
    sort-merge, each hop choosing from its own measured size.
    """
    keys = first.columns
    frontier_n = visited_n = first.count()
    frontier = visited = first
    hops = []
    for _ in range(max_hops):
        f = F.broadcast(frontier) \
            if 0 < frontier_n <= BROADCAST_STATE_MAX_NODES else frontier
        v = F.broadcast(visited) \
            if 0 < visited_n <= BROADCAST_STATE_MAX_NODES else visited
        nxt = (
            f.join(e, f['n'] == e['s'])
            .select(*keys[:-1], F.col('d').alias('n')).distinct()
            .join(v, keys, 'left_anti')
            .transform(cut)
        )
        # count() doubles as the emptiness check AND the next hop's
        # broadcast-size measurement; it reads the just-cut blocks
        frontier_n = nxt.count()
        if frontier_n == 0:
            break
        hops.append(nxt)
        visited = visited.unionByName(nxt)
        visited_n += frontier_n
        frontier = nxt
    return hops


def bfs_levels(
    edges: SparkDF,
    sources: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    node: str = 'node',
    max_hops: int = 6,
    directed: bool = True,
) -> SparkDF:
    """Minimum hop distance from a source set → ``(node, hop)``.

    Frontier BFS: each round joins ONLY the newest frontier against
    the edge list and anti-joins already-visited nodes, so per-round
    work is O(frontier × avg-degree) — never |V|×|E|.  Visited
    state is lineage-cut per round, and the loop exits early when
    the frontier empties.  Unreached nodes are absent from the
    result (callers can left-join ``hop IS NULL``).  All integer —
    the DuckDB oracle replays it with a UNION (deduplicating)
    recursive CTE whose state is bounded by nodes × hops.

    The expansion is :func:`_frontier`: its joins broadcast their
    state side PER HOP, sized from each hop's measured count.
    """
    with scope() as s:
        e = _edges(edges, src, dst, directed)
        # hop 1 expands the cut sources: the caller's `sources` build
        # runs once, for the cut, not again for the broadcast
        first = sources.select(
            F.col(node).cast('long').alias('n')).distinct().transform(cut)
        levels = first.select('n', F.lit(0).cast('int').alias('hop'))
        for hop, nxt in enumerate(_frontier(e, first, max_hops), 1):
            levels = levels.unionByName(
                nxt.select('n', F.lit(hop).cast('int').alias('hop')))
        return s.result(levels.select(F.col('n').alias('node'), 'hop'))


def triangle_count(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
) -> SparkDF:
    """Count triangles in the undirected simple graph of ``edges``.

    Returns a one-row frame ``(n_edges, n_wedges, n_triangles)``.
    Uses the degree-ordered orientation (Chiba–Nishizeki / the
    standard MapReduce formulation): every undirected edge is
    directed from its lower-(degree, id) endpoint to the higher, so
    each triangle is counted exactly once at its minimum vertex and
    — the 100 TB point — wedge fan-out at hub nodes is bounded by
    orientation (out-degrees are bounded by graph arboricity, not by
    raw degree), keeping the wedge self-join from exploding on
    skewed graphs.  Pure joins/aggregates; all integer arithmetic,
    so the oracle replays it exactly.
    """
    with scope():
        e = (
            edges.select(F.col(src).cast('long').alias('u'),
                         F.col(dst).cast('long').alias('v'))
            .filter(F.col('u') != F.col('v'))
            .select(F.least('u', 'v').alias('a'),
                    F.greatest('u', 'v').alias('b'))
            .distinct()
        )
        deg = (
            e.select(F.col('a').alias('node'))
            .unionByName(e.select(F.col('b').alias('node')))
            .groupBy('node').agg(F.count(F.lit(1)).alias('d'))
        )
        da = deg.select(F.col('node').alias('a'), F.col('d').alias('da'))
        db = deg.select(F.col('node').alias('b'), F.col('d').alias('db'))
        ranked = e.join(da, 'a').join(db, 'b')
        lower_first = (
            F.struct(F.col('da'), F.col('a'))
            < F.struct(F.col('db'), F.col('b'))
        )
        oriented = ranked.select(
            F.when(lower_first, F.col('a')).otherwise(F.col('b'))
            .alias('s'),
            F.when(lower_first, F.col('b')).otherwise(F.col('a'))
            .alias('t'),
            F.when(lower_first, F.col('da')).otherwise(F.col('db'))
            .alias('ds'),
            F.when(lower_first, F.col('db')).otherwise(F.col('da'))
            .alias('dt'),
        ).transform(cut)
        e1, e2 = oriented.alias('e1'), oriented.alias('e2')
        # wedge (s → t1, s → t2) with t1 before t2 in orientation order
        wedges = e1.join(e2, on=[
            F.col('e1.s') == F.col('e2.s'),
            F.struct(F.col('e1.dt'), F.col('e1.t'))
            < F.struct(F.col('e2.dt'), F.col('e2.t')),
        ]).select(F.col('e1.t').alias('w1'), F.col('e2.t').alias('w2'))
        # ONE pass over the wedge join for both counts: `oriented` is
        # distinct, so the closing-edge key (w1, w2) is unique and a
        # left join preserves wedge multiplicity — count(*) is the wedge
        # count and the matched rows are the triangles.  (Previously the
        # wedge self-join was executed twice: once for the triangle
        # inner join, once for the bare wedge count.)
        closing = oriented.select(F.col('s').alias('w1'),
                                  F.col('t').alias('w2'),
                                  F.lit(1).alias('__hit'))
        stats = wedges.join(closing, on=['w1', 'w2'], how='left').agg(
            F.count(F.lit(1)).alias('n_wedges'),
            F.sum(F.coalesce(F.col('__hit'), F.lit(0))).alias('n_tri'),
        ).first()
        n_wedges = stats['n_wedges']
        n_tri = int(stats['n_tri'] or 0)
        n_edges = oriented.count()
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(n_edges, n_wedges, n_tri)],
            'n_edges long, n_wedges long, n_triangles long')


def _walk(
    e: SparkDF,
    nodes: SparkDF,
    spread,
    attach,
    n: int,
    targets: int,
    iterations: int,
    damping: float,
    mode: str,
    scale: int,
) -> SparkDF:
    """The rank walk of :func:`pagerank` and
    :func:`personalized_pagerank` → the last round's lazily cut
    ``(node, r)`` frame.

    Each round is ``r' = teleport + damp(Σ share(r, od))`` over the
    distinct ``(src, dst)`` edge frame ``e`` (self-loops included):
    ONE join + ONE aggregate, with a lazy cut per round.  ``mode``
    picks the arithmetic — integer: ``share = r DIV od``,
    ``damp(x) = (num * x) DIV den`` with ``damping`` snapped to
    ``num/den``, ranks cast to bigint; float: ``share = r / od``,
    ``damp(x) = damping * x``.  Rank mass starts on and teleports to
    ``targets`` nodes: ``spread(m)`` is the column giving a node its
    share ``m`` of it, over ``nodes`` for the start and over
    ``attach(agg)`` — the ``(node, __inc)`` aggregate with the nodes
    and columns ``spread`` needs — for each round.  While the node
    count ``n`` is at most ``BROADCAST_STATE_MAX_NODES`` the rank
    state is broadcast into the edge join.
    """
    # Per-round cuts are LAZY (fixed-iteration loop, no mid-loop
    # actions): the result cut materializes the whole round chain
    # stage-by-stage in ONE job instead of one eager scheduler job per
    # round — same stages, fewer job round-trips (the
    # connected_components precedent; ops with count loop breaks stay
    # eager, see OPTIMIZATION_r15.md).
    deg = e.groupBy('src').agg(F.count(F.lit(1)).alias('od'))
    # one edge frame carrying out-degree, materialized once; the
    # repartition normalizes the checkpoint's block parallelism (it
    # does not survive the cut as a physical partitioning —
    # OPTIMIZATION_r15.md §18); the loop's exchange elision comes from
    # broadcasting the rank state
    ed = e.join(deg, 'src').repartition('src').transform(cut, eager=False)
    if mode == 'integer':
        frac = Fraction(damping).limit_denominator(1000)
        num, den = frac.numerator, frac.denominator
        start, base = scale // targets, (den - num) * scale // (den * targets)
        share = F.expr('r DIV od')
        damped = F.expr(f'({num} * coalesce(__inc, 0)) DIV {den}')
        rtype = 'bigint'
    else:
        start, base = 1.0 / targets, (1.0 - damping) / targets
        share = F.col('r') / F.col('od')
        damped = damping * F.coalesce('__inc', F.lit(0.0))
        rtype = 'double'
    bcast = 0 < n <= BROADCAST_STATE_MAX_NODES
    ranks = nodes.select('node', spread(start).cast(rtype).alias('r'))
    for _ in range(iterations):
        r = F.broadcast(ranks) if bcast else ranks
        agg = (
            r.join(ed, r['node'] == ed['src'])
            .select(F.col('dst').alias('node'), share.alias('__c'))
            .groupBy('node').agg(F.sum('__c').alias('__inc'))
        )
        ranks = attach(agg).select(
            'node', (spread(base) + damped).cast(rtype).alias('r')
        ).transform(cut, eager=False)
    return ranks


def pagerank(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    iterations: int = 10,
    damping: float = 0.85,
    mode: str = 'float',
    scale: int = 10 ** 12,
    self_loops: str = 'dangling',
) -> SparkDF:
    """PageRank of a directed edge list → ``(node, rank)``.

    ``self_loops`` handles nodes without out-edges (their rank mass
    would otherwise leak): ``'dangling'`` adds a self-edge to each
    sink node (the usual patch), ``'all'`` adds one to EVERY node —
    a slightly smoothed variant whose one-pass update covers every
    node through the edge join alone, which is what lets a
    single-reference recursive CTE replay it (the oracle mode).
    Duplicate edges are collapsed; rank follows the distinct graph.

    ``mode='integer'`` (see module docstring) emits ``rank`` as a
    scaled long; ``damping`` is snapped to an exact fraction
    (0.85 → 17/20).  ``mode='float'`` emits a double summing ≈ 1.

    Lineage is cut every round.  While the graph has at most
    ``BROADCAST_STATE_MAX_NODES`` nodes the per-round join
    BROADCASTS the rank state: the edge frame is scanned, never
    exchanged, and each round's only shuffle is the post-combine
    aggregate.
    """
    if mode not in ('float', 'integer'):
        raise ValueError(f"mode must be 'float' or 'integer', got {mode!r}")
    if self_loops not in ('dangling', 'all', 'none'):
        raise ValueError(
            f"self_loops must be 'dangling', 'all' or 'none', "
            f'got {self_loops!r}')

    with scope() as s:
        # Materialize the distinct edge frame FIRST: `nodes` and `ed`
        # are separate lineage cuts, and each cut's plan-compile under
        # AQE executes its whole upstream — without this cut the
        # caller's edge build (typically the expensive part: fact-table
        # scans + join + distinct) ran once per derived frame (measured
        # r16: two full builds inside q_pagerank, three inside
        # q_personalized_pagerank).  Every derivation below reads the
        # materialized RDD instead.
        e = edges.select(F.col(src).cast('long').alias('src'),
                         F.col(dst).cast('long').alias('dst')) \
            .distinct().transform(cut, eager=False)
        nodes = (
            e.select(F.col('src').alias('node'))
            .unionByName(e.select(F.col('dst').alias('node')))
            .distinct()
            .transform(cut, eager=False)
        )
        if self_loops == 'all':
            # {e} ∪ {(n,n) ∀n} == {e: src≠dst} ∪ {(n,n) ∀n}: dropping
            # the existing self-edges first makes the union disjoint, so
            # the post-union distinct (a full exchange + dedup of the
            # edge set) is unnecessary (guide §2.4 — `e` is already
            # distinct and the self-loop frame is distinct by
            # construction from the distinct node set).
            e = e.filter(F.col('src') != F.col('dst')).unionByName(
                nodes.select(F.col('node').alias('src'),
                             F.col('node').alias('dst')))
        elif self_loops == 'dangling':
            sinks = nodes.join(
                e.select(F.col('src').alias('node')).distinct(),
                on='node', how='left_anti')
            e = e.unionByName(
                sinks.select(F.col('node').alias('src'),
                             F.col('node').alias('dst')))
        n = nodes.count()
        # With self_loops='all' EVERY node has a self-edge, so the
        # per-round aggregate already covers every node (each node is the
        # dst of its own self-edge and `ranks` spans all nodes by
        # induction from the init).  The nodes-frame left join is then a
        # no-op — skipping it removes one shuffle join per iteration
        # (guide §2.4: remove shuffles outright).  The other modes keep
        # the join: a node with no in-edges is absent from the aggregate.
        ranks = _walk(
            e, nodes, F.lit,
            lambda agg: agg if self_loops == 'all'
            else nodes.join(agg, 'node', 'left'),
            n, n, iterations, damping, mode, scale)
        return s.result(ranks).select('node', F.col('r').alias('rank'))


def hits(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    iterations: int = 3,
    mode: str = 'float',
) -> SparkDF:
    """HITS hubs and authorities (Kleinberg 1999) of a directed edge
    list → ``(node, hub, authority)`` — hubs point AT good content,
    authorities ARE it.  On a crawl's host graph the two sides
    separate directories/aggregators (hubs) from canonical sources
    (authorities), a complementary curation signal to
    :func:`pagerank`'s single score.

    Power iteration, one join + one aggregate per half-step
    (``a_t = Eᵀ·h_{t-1}`` then ``h_t = E·a_t``), lineage cut per
    round — identical scale shape to :func:`pagerank`, including the
    size-adaptive state broadcast (``BROADCAST_STATE_MAX_NODES``):
    under the threshold each half-step broadcasts the node-sized
    score vector and the edge frame is scanned, never exchanged.
    Duplicate edges collapse first.

    ``mode='float'`` (production): L2-normalize both vectors each
    round — the standard convergent form.  ``mode='integer'``
    (verification/replay): NO normalization; scores stay exact
    64-bit integers (``h_0 = 1``), so any engine replays them
    bit-exactly — a recursive CTE over the hub co-citation matrix
    ``E·Eᵀ`` reproduces ``h_k``, and ``a_k = Eᵀ·h_{k-1}`` is one
    final join.  Un-normalized scores grow like (mean co-degree)^k:
    keep ``iterations`` small (the default 3 is safe under int64
    for graphs up to ~1e4 mean degree product per round) — the
    ordering, which is what HITS is for, matches the normalized
    ordering exactly because normalization is a positive scalar.
    """
    if mode not in ('float', 'integer'):
        raise ValueError(f"mode must be 'float' or 'integer', got {mode!r}")
    if iterations < 1:
        raise ValueError('iterations must be >= 1')

    with scope() as s:
        e = edges.select(F.col(src).cast('long').alias('src'),
                         F.col(dst).cast('long').alias('dst')).distinct()
        # the checkpointed edge frame (the repartition normalizes the
        # checkpoint's block parallelism — it does NOT survive the cut
        # as a physical partitioning, OPTIMIZATION_r15.md §18)
        e_by_src = e.repartition('src').transform(cut)
        # node sets derive from the MATERIALIZED edge frame: every
        # downstream use (h init, the final outer join — which the
        # caller may scan more than once) then reads a checkpointed RDD
        # instead of re-running the caller's whole edge build per use
        # (observed: the upstream lineitem⋈orders build re-executed four
        # times in the final action's plan).
        srcs = e_by_src.select(F.col('src').alias('node')).distinct() \
            .transform(cut)
        dsts = e_by_src.select(F.col('dst').alias('node')).distinct() \
            .transform(cut)
        nodes = srcs.unionByName(dsts).distinct().transform(cut)
        bcast = 0 < nodes.count() <= BROADCAST_STATE_MAX_NODES
        # with the state broadcast the half-step joins never exchange
        # the edge frame, so ONE materialized copy serves both
        # orientations; the sort-merge fallback keeps a second copy
        # whose build reads the checkpointed frame, not the raw lineage
        e_by_dst = e_by_src if bcast \
            else e_by_src.repartition('dst').transform(cut)

        one = F.lit(1).cast('long') if mode == 'integer' else F.lit(1.0)
        h = srcs.select('node', one.alias('h'))
        a = None
        for _ in range(iterations):
            # checkpoint the PRE-norm aggregate and apply the norm as a
            # projection over the cut: the norm's own ``first()`` then
            # materializes the very frame the next half-step reads,
            # instead of executing the join+aggregate once for the norm
            # job and again for the (previously post-norm) checkpoint —
            # one join+aggregate per half-step, not two.  Values are
            # unchanged: the division happens on the same aggregate rows
            # either side of the cut.
            hh = F.broadcast(h) if bcast else h
            a = cut(
                e_by_src.join(hh, e_by_src['src'] == hh['node'])
                .groupBy(F.col('dst').alias('node'))
                .agg(F.sum('h').alias('a'))
            )
            if mode == 'float':
                norm = a.agg(
                    F.sqrt(F.sum(F.col('a') * F.col('a')))).first()[0]
                a = a.select('node', (F.col('a') / norm).alias('a'))
            aa = F.broadcast(a) if bcast else a
            h = cut(
                e_by_dst.join(aa, e_by_dst['dst'] == aa['node'])
                .groupBy(F.col('src').alias('node'))
                .agg(F.sum('a').alias('h'))
            )
            if mode == 'float':
                norm = h.agg(
                    F.sqrt(F.sum(F.col('h') * F.col('h')))).first()[0]
                h = h.select('node', (F.col('h') / norm).alias('h'))
        zero = F.lit(0).cast('long') if mode == 'integer' else F.lit(0.0)
        return s.result(
            nodes
            .join(F.broadcast(h) if bcast else h, 'node', 'left')
            .join(F.broadcast(a) if bcast else a, 'node', 'left')
            .select('node',
                    F.coalesce('h', zero).alias('hub'),
                    F.coalesce('a', zero).alias('authority'))
        )


def personalized_pagerank(
    edges: SparkDF,
    seeds: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    seed_col: str = 'node',
    iterations: int = 10,
    damping: float = 0.85,
    mode: str = 'float',
    scale: int = 10 ** 12,
) -> SparkDF:
    """Personalized PageRank (random walk with restart to a SEED
    set) → ``(node, rank)``: proximity to the seeds instead of
    global authority — the crawl-frontier prioritizer ("how close
    is this host to my trusted seeds", the seed-expansion step of
    quality-classifier bootstrapping) and the standard
    related-entity scorer.

    The same rank walk as :func:`pagerank` (ONE join + ONE
    aggregate on node ids, edge frame materialized once, node-sized
    rank state broadcast under ``BROADCAST_STATE_MAX_NODES``,
    lineage cut every round); only the teleport differs — restart
    mass ``(1-damping)`` returns to the seeds (uniformly), not to all
    nodes, and the walk starts ON the seeds.  Every node carries a
    self-edge (the :func:`pagerank` ``self_loops='all'`` variant),
    which keeps the one-pass update covering every node — the
    property that lets a single-reference recursive CTE replay it
    (``q_personalized_pagerank``).  Seeds not present in the edge
    list are ignored (inner-joined against the node set).

    ``mode='integer'`` emits bit-exact scaled-long ranks (damping
    snapped to an exact fraction); ``mode='float'`` is the
    production scorer.  Rank mass concentrates near the seeds:
    nodes unreachable from them score 0 (integer) / ~0 (float).
    """
    if mode not in ('float', 'integer'):
        raise ValueError(
            f"mode must be 'float' or 'integer', got {mode!r}")
    with scope() as held:
        # Materialize the distinct edge frame FIRST — see the identical
        # cut in :func:`pagerank`: the flagged-node and degree-edge
        # lineage cuts would otherwise each re-execute the caller's
        # whole edge build during their plan compile.
        e = edges.select(F.col(src).cast('long').alias('src'),
                         F.col(dst).cast('long').alias('dst')) \
            .distinct().transform(cut, eager=False)
        nodes = (
            e.select(F.col('src').alias('node'))
            .unionByName(e.select(F.col('dst').alias('node')))
            .distinct()
        )
        seed_nodes = (
            seeds.select(F.col(seed_col).cast('long').alias('node'))
            .distinct()
            .join(nodes, 'node', 'left_semi')
        )
        flagged = nodes.join(
            F.broadcast(seed_nodes.withColumn('__seed', F.lit(1))),
            'node', 'left').transform(cut, eager=False)
        # one materializing job returns BOTH counts (seed count for the
        # teleport mass, node count for the broadcast-state decision)
        row = flagged.agg(
            F.count(F.lit(1)).alias('__n'),
            F.count('__seed').alias('__s')).first()
        n, s = row['__n'], row['__s']
        if s == 0:
            raise ValueError('no seed appears in the edge list')
        # disjoint union — see the pagerank self_loops='all' note: `e`
        # is distinct and the self-loop frame is distinct, so filtering
        # existing self-edges first removes the post-union distinct (a
        # full exchange + dedup of the edge set).  Self-loops derive
        # from the CHECKPOINTED flagged frame (the node set + flag), not
        # the raw `nodes` lineage — the degree build then reads two
        # materialized RDDs and nothing else.
        e = e.filter(F.col('src') != F.col('dst')).unionByName(
            flagged.select(F.col('node').alias('src'),
                           F.col('node').alias('dst')))
        is_seed = F.col('__seed').isNotNull()
        # Every node carries a self-edge, so the per-round aggregate
        # covers every node (same argument as pagerank self_loops='all').
        # The per-round teleport only needs the seed FLAG, which the tiny
        # seed set provides via a broadcast join — replacing the shuffle
        # join against the full flagged node frame with a zero-shuffle
        # broadcast hash join (guide §3.1).  Derive the seed rows from
        # the CHECKPOINTED flagged frame: building them from the raw
        # seed lineage would re-run the whole edge scan inside every
        # round's broadcast build.
        seed_marks = F.broadcast(
            flagged.filter(is_seed).select('node', '__seed'))
        ranks = _walk(
            e, flagged, lambda m: F.when(is_seed, m).otherwise(0),
            lambda agg: agg.join(seed_marks, 'node', 'left'),
            n, s, iterations, damping, mode, scale)
        return held.result(ranks).select('node', F.col('r').alias('rank'))


def harmonic_centrality(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    max_hops: int = 4,
    directed: bool = True,
) -> SparkDF:
    """Harmonic centrality truncated at ``max_hops``:
    ``H(v) = Σ_{u ≠ v, d(u,v) ≤ max_hops} 1 / d(u,v)`` with distances
    measured ALONG edge direction INTO ``v`` — the centrality Common
    Crawl publishes for its host-level webgraph ranking (Boldi &
    Vigna 2014, "Axioms for Centrality": harmonic is the one
    geometric centrality that handles disconnected graphs, because
    unreachable pairs contribute 0 instead of poisoning the mean).

    Exact multi-source BFS: state is the ``(root, node, hop)``
    shortest-pair frontier, expanded by :func:`bfs_levels`' frontier
    loop (:func:`_frontier`) keyed by (root, node) — work is
    O(reached pairs × avg degree) per round, lineage is cut every
    round, and each round's joins broadcast their state side while
    its measured pair count stays under
    ``BROADCAST_STATE_MAX_NODES``.  Exact all-pairs state is O(V²)
    at full diameter: right for host/domain graphs (10⁵–10⁷ nodes
    after the host rollup, and ``max_hops`` truncates the frontier),
    NOT for the raw page graph — at that scale run HyperBall (Boldi &
    Vigna 2013): per-node HLL neighbourhood sketches unioned over
    in-neighbours per round, |ball(v,h)| differences weighted 1/h —
    the same per-round join shape with O(V · registers) state.

    Returns ``(node, n_reached, harmonic)`` for every node that
    appears in the edge list: ``n_reached`` counts nodes with a
    finite inbound distance ≤ ``max_hops``; ``harmonic`` is rounded
    to 6 places and — deliberately — evaluated as the fixed-order
    sum ``Σ_h count_h / h`` over the per-hop counts, so the float
    total is engine-exact (one division per hop level, never a
    row-order-dependent float sum).
    """
    with scope() as s:
        e = _edges(edges, src, dst, directed)
        nodes = (e.select(F.col('s').alias('node'))
                 .unionByName(e.select(F.col('d').alias('node')))
                 .distinct().transform(cut))
        # (root, node) pairs at minimum hop; roots walk FORWARD along
        # edges, so node v accumulates the roots that REACH it.
        hops = _frontier(e, nodes.select(F.col('node').alias('root'),
                                         F.col('node').alias('n')),
                         max_hops)
        if not hops:
            return s.result(nodes).select(
                'node', F.lit(0).cast('bigint').alias('n_reached'),
                F.lit(0.0).alias('harmonic'))
        per_hop = reached = harm = None
        for hop, nxt in enumerate(hops, 1):
            c = f'__c{hop}'
            counts = nxt.groupBy(F.col('n').alias('node')).agg(
                F.count(F.lit(1)).alias(c))
            per_hop = counts if per_hop is None else (
                per_hop.join(counts, 'node', 'outer'))
            cnt = F.coalesce(F.col(c), F.lit(0)).cast('bigint')
            reached = cnt if reached is None else reached + cnt
            term = cnt.cast('double') / F.lit(float(hop))
            harm = term if harm is None else harm + term
        return s.result(nodes.join(per_hop, 'node', 'left').select(
            'node', reached.alias('n_reached'),
            F.round(harm, 6).alias('harmonic')))


# bias-correction constants alpha_m for the HLL estimator, keyed by
# precision p (Flajolet et al. 2007); p >= 7 uses the asymptotic form
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def hyperball_centrality(
    edges: SparkDF,
    src: str = 'src',
    dst: str = 'dst',
    max_hops: int = 3,
    p: int = 6,
    directed: bool = True,
) -> SparkDF:
    """APPROXIMATE truncated harmonic centrality via HyperBall (Boldi
    & Vigna 2013, "In-Core Computation of Geometric Centralities
    with HyperBall") — the webgraph-scale companion to the exact
    :func:`harmonic_centrality`: instead of O(V²) (root, node) pair
    state, every node carries a ``2**p``-register HyperLogLog
    counter of its inbound ball, and each round unions every node's
    counter with its in-neighbours' counters — per-round cost is
    O(E · 2**p) register rows with map-side partial ``max`` combine,
    and total state is O(V · 2**p).  This is how harmonic centrality
    is actually computed on the full host webgraph (the Common Crawl
    ranking); the exact operator is the fixture-scale truth it is
    tested against.

    Registers live as ROWS ``(node, register, rank)`` rather than
    arrays: elementwise max across in-neighbours is then a plain
    ``groupBy(node, register).max(rank)`` — hub fan-in collapses in
    the map-side combiner instead of materializing per-neighbour
    arrays.  The element hash is a PORTABLE 60-bit integer from
    ``md5`` (the ``simhash`` convention): low ``p`` bits pick the
    register, the leading-zero rank of the remaining bits comes from
    ``length(bin(w))`` — every ingredient replays in ANSI SQL, so
    the DuckDB oracle reproduces the APPROXIMATION bit-for-bit
    (estimator error vs exact truth is pinned separately in unit
    tests: stderr ≈ 1.04/sqrt(2**p)).

    Returns ``(node, reached_approx, harmonic_approx)``: ball-size
    estimates use the standard HLL small-range correction, ball
    increments are clamped at 0 (estimates are not monotone), each
    increment is weighted 1/h, and both outputs round to 6 places.
    """
    if p < 4:
        raise ValueError(f'p must be >= 4, got {p!r}')
    with scope() as s:
        m = 1 << p
        alpha = _HLL_ALPHA.get(p, 0.7213 / (1 + 1.079 / m))
        e = _edges(edges, src, dst, directed)
        nodes = (e.select(F.col('s').alias('node'))
                 .unionByName(e.select(F.col('d').alias('node')))
                 .distinct())
        # portable 60-bit hash: first 15 hex chars of md5(node)
        h = F.conv(F.substring(F.md5(F.col('node').cast('string')),
                               1, 15), 16, 10).cast('long')
        idx = (h % m).cast('int')
        w = F.shiftrightunsigned(h, p)
        rank = F.when(w == 0, F.lit(60 - p + 1)).otherwise(
            F.lit(60 - p + 1) - F.length(F.bin(w))).cast('int')
        regs = (
            nodes.select('node', idx.alias('__idx'), rank.alias('__rk'))
            .select('node', '__idx', '__rk',
                    F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                    .alias('register'))
            .select('node', 'register',
                    F.when(F.col('register') == F.col('__idx'),
                           F.col('__rk')).otherwise(F.lit(0))
                    .alias('rank'))
            .transform(cut)
        )

        def estimate(r: SparkDF, out: str) -> SparkDF:
            per = r.groupBy('node').agg(
                F.sum(F.pow(F.lit(2.0), -F.col('rank'))).alias('__z'),
                F.sum(F.when(F.col('rank') == 0, 1).otherwise(0))
                .alias('__v'))
            raw = F.lit(alpha * m * m) / F.col('__z')
            small = (raw <= F.lit(2.5 * m)) & (F.col('__v') > 0)
            est = F.when(
                small, F.lit(float(m)) * F.log(F.lit(float(m))
                                               / F.col('__v'))
            ).otherwise(raw)
            return per.select('node', est.alias(out))

        balls = estimate(regs, 'e0')
        for hop in range(1, max_hops + 1):
            inbound = (
                e.join(regs, regs['node'] == e['s'])
                .select(F.col('d').alias('node'), 'register', 'rank')
            )
            regs = (
                regs.unionByName(inbound)
                .groupBy('node', 'register')
                .agg(F.max('rank').alias('rank'))
                .transform(cut)
            )
            balls = balls.join(estimate(regs, f'e{hop}'), 'node')
        reached = None
        harm = None
        for hop in range(1, max_hops + 1):
            inc = F.greatest(
                F.col(f'e{hop}') - F.col(f'e{hop - 1}'), F.lit(0.0))
            reached = inc if reached is None else reached + inc
            term = inc / F.lit(float(hop))
            harm = term if harm is None else harm + term
        return s.result(balls.select(
            'node',
            F.round(reached, 6).alias('reached_approx'),
            F.round(harm, 6).alias('harmonic_approx')))
