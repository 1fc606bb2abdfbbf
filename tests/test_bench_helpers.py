"""Pin bench.py's harness invariants: the budget and first-pass
estimate (r11 postmortem: the bench artifact collapsed to a
repeat=0 cold fallback because the first-pass estimate used the
warmup wall), and which file a run's record lands in, read from the
load it recorded.

These tests are pure-Python — no SparkSession; the routing tests
build their load from synthetic ``/proc`` snapshots."""
from __future__ import annotations

import ast
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def _queries_cached_by_ast() -> set:
    """Re-derive the artifact-cached query set from queries.py source:
    every registered query whose call graph (within the module)
    reaches `_artifact` / `_cached_*`."""
    src = open(os.path.join(
        ROOT, 'ons_utils_spark', 'plans', 'queries.py')).read()
    tree = ast.parse(src)
    funcs = {n.name: n for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef)}
    calls: dict = {}
    for name, node in funcs.items():
        cs = set()
        for c in ast.walk(node):
            if isinstance(c, ast.Call):
                f = c.func
                if isinstance(f, ast.Name):
                    cs.add(f.id)
                elif isinstance(f, ast.Attribute):
                    cs.add(f.attr)
        calls[name] = cs
    cache_fns = {'_artifact', '_cached_pq_books',
                 '_cached_ivf_centroids', '_cached_pq_codes'}

    def cached(fn: str, seen: set) -> bool:
        if fn in seen or fn not in calls:
            return False
        seen.add(fn)
        if calls[fn] & cache_fns:
            return True
        return any(cached(c, seen) for c in calls[fn] if c in funcs)

    from ons_utils_spark.plans.queries import QUERIES
    return {q for q in QUERIES if cached(q, set())}


def test_artifact_cached_list_matches_queries_source():
    assert set(bench._ARTIFACT_CACHED_QUERIES) == _queries_cached_by_ast()


def _committed():
    path = os.path.join(ROOT, 'BENCH_full.json')
    if not os.path.exists(path):
        pytest.skip('no committed BENCH_full.json')
    return json.load(open(path))


def test_prior_warm_suite_total_reads_committed_artifact():
    """At the committed record's scale factor, the first timed pass is
    sized from its warm suite total with a 1.3 load margin."""
    prev = _committed()
    est = bench._first_pass_estimate(prev, prev['sf'], 1.0)
    if prev.get('repeat', 0) >= 1:
        assert est == pytest.approx(float(prev['value']) * 1.3)
    else:
        assert est == 1.0


def test_prior_warm_suite_total_ignores_other_sf():
    """r12 ADVICE: a run at a DIFFERENT sf than the committed
    artifact must fall back to the warmup-wall estimate, not inherit
    the larger corpus's suite total (which would veto every timed
    pass and record the repeat=0 cold fallback)."""
    prev = _committed()
    other_sf = 0.01 if prev.get('sf') != 0.01 else 0.1
    assert bench._first_pass_estimate(prev, other_sf, 42.0) == 42.0
    assert bench._first_pass_estimate({}, prev['sf'], 42.0) == 42.0


def test_first_pass_estimate_is_not_warmup_wall_when_prior_exists():
    """The r11 failure shape: warmup 329s under load, estimate =
    warmup wall -> zero timed passes.  With a prior warm record the
    estimate comes from it instead, and at the r11 warmup it admits a
    first timed pass inside bench's default budget."""
    from ons_utils_spark.plans.queries import QUERIES

    prev = _committed()
    warmup_r11 = 328.8
    est = bench._first_pass_estimate(prev, prev['sf'], warmup_r11)
    assert est != warmup_r11
    assert warmup_r11 + est <= bench._default_budget(len(QUERIES)), (
        'estimate would veto the first timed pass at r11 load')


def test_default_budget_scales_with_suite_size():
    """The default budget fits the warmup and three timed passes at
    the r15 quiet per-query costs (0.8 s warmup, 1.15 s a pass), at
    the current suite size and at twice it, and never drops under
    560 s."""
    from ons_utils_spark.plans.queries import QUERIES

    for n in (len(QUERIES), 2 * len(QUERIES)):
        assert bench._default_budget(n) >= (0.8 + 3 * 1.15) * n
    assert bench._default_budget(10) == 560


# Synthetic passes: 60 s on 4 CPUs at 100 ticks/s, between two fake
# snapshots; the shares are of the pass's total ticks.
PASS_TICKS = 4 * 100 * 60


def _pass(own=0.9, steal=0.0, foreign=0.0):
    a = bench.Snapshot(busy=52_000, steal=900, total=400_000, own=1_500)
    b = bench.Snapshot(
        busy=a.busy + round((own + foreign) * PASS_TICKS),
        steal=a.steal + round(steal * PASS_TICKS),
        total=a.total + PASS_TICKS,
        own=a.own + round(own * PASS_TICKS))
    return bench._load(a, b)


# A quiet sf0.01 pass, as recorded.
QUIET = {'steal_share': 0.002, 'foreign_cpu_share': 0.0148}


def _full(load, queries=None, repeat=None, sf=0.1):
    return {'queries': queries or {'q1_ctrl': 1.0, 'q_heavy': 4.0},
            'load': load, 'sf': sf,
            'repeat': len(load) if repeat is None else repeat}


PREV = _full([QUIET] * 3)


def test_load_shares_from_two_snapshots():
    assert _pass(own=0.9) == {
        'steal_share': 0.0, 'foreign_cpu_share': 0.0}
    assert _pass(own=0.6, steal=0.16, foreign=0.2) == {
        'steal_share': 0.16, 'foreign_cpu_share': 0.2}
    # own-tree ticks a tick ahead of the machine's busy count
    a = bench.Snapshot(busy=10, steal=0, total=100, own=5)
    b = bench.Snapshot(busy=50, steal=0, total=500, own=47)
    assert bench._load(a, b)['foreign_cpu_share'] == 0.0


def test_snapshot_counters_do_not_decrease():
    """The real reader on this machine: every counter is monotonic,
    and CPU burnt by this process shows in its own-tree ticks."""
    s0 = bench._snapshot()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.2:
        pass
    s1 = bench._snapshot()
    assert all(b >= a for a, b in zip(s0, s1)), (s0, s1)
    assert s1.own > s0.own
    assert s1.total > s0.total >= s0.busy + s0.steal


def test_quiet_run_lands():
    load = [_pass(own=0.95, foreign=0.01) for _ in range(3)]
    assert bench._artifact_filename(_full(load), PREV) == \
        'BENCH_full.json'


def test_steal_heavy_run_goes_to_the_loaded_file():
    """The measured case: host steal averaging 16% slowed whole runs
    1.7x."""
    load = [_pass(own=0.8, steal=0.16) for _ in range(3)]
    assert bench._artifact_filename(_full(load), PREV) == \
        'BENCH_full_loaded.json'


def test_run_beside_a_cpu_hog_goes_to_the_loaded_file():
    """Another process spinning one of the four CPUs."""
    load = [_pass(own=0.75, foreign=0.25) for _ in range(3)]
    assert bench._artifact_filename(_full(load), PREV) == \
        'BENCH_full_loaded.json'


def test_load_limit_is_inclusive():
    at = {'steal_share': bench.LOAD_LIMIT / 2,
          'foreign_cpu_share': bench.LOAD_LIMIT / 2}
    over = dict(at, foreign_cpu_share=bench.LOAD_LIMIT / 2 + 0.001)
    assert bench._artifact_filename(_full([at] * 3), PREV) == \
        'BENCH_full.json'
    assert bench._artifact_filename(_full([at, over, at]), PREV) == \
        'BENCH_full_loaded.json'


def test_load_inflated_guard_lets_faster_run_land():
    faster = _full([QUIET] * 3, {'q1_ctrl': 0.5, 'q_heavy': 2.0})
    assert bench._artifact_filename(faster, PREV) == 'BENCH_full.json'


def test_load_inflated_guard_lets_quiet_regression_land():
    """A regression, small or large, recorded under quiet load lands:
    the record reflects the real steady state.  Times are never
    compared with the committed record's."""
    for slowdown in (1.03, 3.5):
        slower = _full([QUIET] * 3,
                       {'q1_ctrl': 1.0, 'q_heavy': 4.0 * slowdown})
        assert bench._artifact_filename(slower, PREV) == \
            'BENCH_full.json'


def test_load_inflated_guard_handles_missing_prior():
    assert bench._artifact_filename(_full([QUIET]), {}) == \
        'BENCH_full.json'
    loaded = _full([_pass(own=0.8, steal=0.16)])
    assert bench._artifact_filename(loaded, {}) == \
        'BENCH_full_loaded.json'


def test_load_inflated_guard_lets_broader_coverage_land():
    """r13 judge finding: a run covering MORE queries has a higher
    total by construction; a quiet one lands."""
    broader = _full([QUIET] * 3, dict(PREV['queries'], q_brand_new=15.0))
    assert bench._artifact_filename(broader, PREV) == 'BENCH_full.json'


def test_load_inflated_guard_refuses_bursty_median_inflation():
    """r15 steal postmortem: a burst that loads one pass of three is
    enough to divert, even when the run's mins beat the record."""
    load = [QUIET, _pass(own=0.7, steal=0.2), QUIET]
    bursty = _full(load, {'q1_ctrl': 0.9, 'q_heavy': 3.5})
    assert bench._artifact_filename(bursty, PREV) == \
        'BENCH_full_loaded.json'


def test_load_inflated_guard_lets_min_confirmed_regression_land():
    """A slowdown that reproduces in every pass (the run's mins as slow
    as its medians) under quiet load is a steady-state regression and
    lands."""
    slower = _full([QUIET] * 3, {'q1_ctrl': 1.0, 'q_heavy': 14.0})
    slower['queries_min'] = {
        k: v * 0.98 for k, v in slower['queries'].items()}
    assert bench._artifact_filename(slower, PREV) == 'BENCH_full.json'


def test_load_inflated_guard_min_baseline_catches_small_regressions():
    """A regression smaller than the median-over-min spread lands when
    quiet, whatever mins the committed record carries."""
    prev = dict(PREV, queries_min={
        k: v * 0.8 for k, v in PREV['queries'].items()})
    slower = _full([QUIET] * 3, {'q1_ctrl': 1.0, 'q_heavy': 4.4})
    slower['queries_min'] = {
        k: v * 0.9 for k, v in slower['queries'].items()}
    assert bench._artifact_filename(slower, prev) == 'BENCH_full.json'


def test_load_inflated_guard_bursty_against_committed_mins():
    """A burst diverts even when the run's mins match the committed
    record's own mins: the loaded pass alone decides."""
    prev = dict(PREV, queries_min=dict(PREV['queries']))
    load = [QUIET, QUIET, _pass(own=0.7, steal=0.2)]
    bursty = _full(load, {'q1_ctrl': 1.0, 'q_heavy': 23.0})
    bursty['queries_min'] = dict(bursty['queries'], q_heavy=3.5)
    assert bench._artifact_filename(bursty, prev) == \
        'BENCH_full_loaded.json'


def test_load_inflated_guard_still_refuses_inflation_with_growth():
    """Coverage growth must not become a laundering channel: a loaded
    run diverts however many new queries it adds."""
    load = [_pass(own=0.75, foreign=0.25)] * 3
    grown = _full(load, dict(PREV['queries'], q_brand_new=15.0))
    assert bench._artifact_filename(grown, PREV) == \
        'BENCH_full_loaded.json'


def test_artifact_filename_higher_repeat_cannot_launder_load():
    """r15 loophole: a HIGHER-repeat run under load must not displace
    the quiet record on its repeat count alone (observed: a repeat-5
    run under intermittent load promoted over the quiet repeat-3
    record)."""
    load = [QUIET, QUIET, _pass(own=0.8, steal=0.16), QUIET, QUIET]
    assert bench._artifact_filename(_full(load), PREV) == \
        'BENCH_full_loaded.json'


def test_artifact_filename_quiet_higher_repeat_lands():
    assert bench._artifact_filename(_full([QUIET] * 5), PREV) == \
        'BENCH_full.json'


def test_artifact_filename_lower_repeat_and_other_sf_side_files():
    """A lower repeat goes to the cold file and another scale factor
    to its own file, quiet or loaded, and neither compares times."""
    loaded = [_pass(own=0.8, steal=0.16)]
    for load in ([QUIET] * 2, loaded * 2):
        assert bench._artifact_filename(_full(load), PREV) == \
            'BENCH_full_cold.json'
    for load in ([QUIET] * 3, loaded * 3):
        assert bench._artifact_filename(_full(load, sf=0.01), PREV) \
            == 'BENCH_full_sf0.01.json'
    # a cold fallback (no timed pass) with no record to keep lands
    assert bench._artifact_filename(_full([]), {}) == 'BENCH_full.json'


def test_compact_line_stays_under_tail_capture():
    queries = {f'q_{i:03d}': 1.234 for i in range(200)}
    full = {
        'metric': 'suite_total', 'value': 246.8, 'unit': 'sec',
        'queries': queries, 'sf': 0.1, 'repeat': 3,
        'spread': {'suite_min': 1, 'suite_median': 2, 'suite_max': 3},
    }
    line = bench._compact_line(full)
    assert len(line) <= 1800
    doc = json.loads(line)
    assert doc['metric'] == 'suite_total'
