"""Self-tests of the benchmark: generator, output check, tracer.

    python3 -m pytest perfbench/tests -q -m 'not slow'   # no Spark
    python3 -m pytest perfbench/tests -q -m slow         # one traced run
"""
from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _digest(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), 'rb') as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _per_layer_names():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        return {m['name'] for m in json.load(fh)['per_layer']}


# ------------------------------------------------------------ generator

def test_same_seed_gives_identical_bytes(tmp_path):
    tables = ('orders', 'lineitem', 'events')
    for run in ('a', 'b'):
        gen.make_tables(str(tmp_path / run / 'tables'), 7, tables)
        docs, batches = gen.make_docs(7)
        gen.write_stream_source(str(tmp_path / run / 'stream'), docs, batches)
    for sub in ('tables', 'stream'):
        assert _digest(tmp_path / 'a' / sub) == _digest(tmp_path / 'b' / sub)


def test_other_seed_changes_order_only(tmp_path):
    import pyarrow.parquet as pq

    for seed in (1, 2):
        gen.make_tables(str(tmp_path / str(seed)), seed, ('orders',))
    a, b = (pq.read_table(str(tmp_path / str(s) / 'orders.parquet'))
            for s in (1, 2))
    assert a.num_rows == b.num_rows == pq.read_metadata(
        os.path.join(gen.DATA_DIR, 'orders.parquet')).num_rows
    assert a.column('o_orderkey').to_pylist() != b.column(
        'o_orderkey').to_pylist()
    assert a.sort_by('o_orderkey').equals(b.sort_by('o_orderkey'))


def test_other_seed_gives_same_oracle_results(tmp_path):
    from ons_utils_spark.plans.queries import ORACLES

    w = workloads.WORKLOADS['etl-graph-neardup']
    answers = []
    for seed in (1, 2):
        d = str(tmp_path / str(seed))
        gen.make_tables(d, seed, w.tables)
        con = check.duckdb_views(d, w.tables)
        answers.append({n: check.oracle(con, workloads.DIRECT[n][1]
                                        if n in workloads.DIRECT
                                        else ORACLES[n]) for n in w.names})
        con.close()
    for n in w.names:
        check.compare(*answers[0][n], *answers[1][n])


def test_other_seed_gives_same_ingest_answer():
    d1, b1 = gen.make_docs(1)
    d2, b2 = gen.make_docs(2)
    assert d1 == d2 and b1 != b2
    # one accepted doc per page, whatever the arrival order
    assert len(check.replay_dedup(d1, b1, 'page')) == len(
        {d['page'] for d in d1.values()})


# ---------------------------------------------------------------- check

def _rollup_like():
    cols = ['year', 'revenue']
    rows = [(1995, 241467855637.21), (1996, 1.5), (None, 241467855638.71)]
    return cols, rows


def test_compare_tolerates_summation_order():
    cols, rows = _rollup_like()
    # the last-digit difference a distributed double sum produces
    moved = [(y, v * (1 + 1e-14)) for y, v in rows]
    check.compare(cols, list(reversed(moved)), cols, rows)


@pytest.mark.parametrize('perturb', [
    lambda rows: [(rows[0][0], rows[0][1] * (1 + 10 * check.REL_TOL))]
    + rows[1:],
    lambda rows: rows[:-1],
    lambda rows: rows + [rows[0]],
    lambda rows: [(1997, rows[0][1])] + rows[1:],
])
def test_compare_rejects_perturbed_result(perturb):
    cols, rows = _rollup_like()
    with pytest.raises(check.CheckError):
        check.compare(cols, perturb(rows), cols, rows)


def test_compare_rejects_other_columns():
    cols, rows = _rollup_like()
    with pytest.raises(check.CheckError):
        check.compare(['year', 'revenue_usd'], rows, cols, rows)


def test_expect_ids_rejects_duplicates_and_gaps():
    check.expect_ids([3, 1, 2], {1, 2, 3}, 'ids')
    for got in ([1, 2], [1, 2, 3, 3], [1, 2, 3, 4]):
        with pytest.raises(check.CheckError):
            check.expect_ids(got, {1, 2, 3}, 'ids')


# --------------------------------------------------------------- tracer

class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, desc):
        self.props['spark.jobGroup.id'] = group
        self.props['spark.job.description'] = desc


class _FakeSpark:
    sparkContext = _FakeContext()


def _ts(t):
    import datetime

    return datetime.datetime.fromtimestamp(
        t, datetime.timezone.utc).strftime('%Y-%m-%dT%H:%M:%S.%f')[:-3] + 'GMT'


def test_pass_metrics_keys_and_wall_split():
    tracer = spans.Tracer(_FakeSpark())
    with tracer.span('pass', 'pass-1') as root:
        with tracer.span('plans', 'q.build'):
            with tracer.span('operators', 'graph.pagerank') as op:
                pass
        with tracer.span('plans', 'q.action'):
            pass
    root['t0'], root['t1'] = 1000.0, 1010.0
    tracer.jobs = [
        {'jobGroup': f'pb-{op["id"]}', 'stageIds': [0],
         'submissionTime': _ts(1001.0), 'completionTime': _ts(1003.0)},
        {'jobGroup': f'pb-{op["id"]}', 'stageIds': [1],
         'submissionTime': _ts(1002.0), 'completionTime': _ts(1004.5)},
    ]
    tracer.stages = {
        0: [{'status': 'COMPLETE', 'numCompleteTasks': 4,
             'executorRunTime': 4000, 'shuffleWriteBytes': 1 << 20,
             'taskMetricsDistributions': {'executorRunTime': [500, 2000]}}],
        1: [{'status': 'SKIPPED'}],
    }
    m = tracer.pass_metrics(root)
    run_level = {'pass_s', 'leaked_rdds', 'error_rate', 'write_amp',
                 'trace.pass_s', 'trace.overhead_s', 'streaming.batches',
                 'streaming.batch_p50_s', 'streaming.add_batch_s',
                 'streaming.rows_in'}
    assert set(m) == _per_layer_names() - run_level
    assert m['spark.jobs'] == 2 and m['spark.stages'] == 1
    assert m['spark.in_job_s'] == pytest.approx(3.5)
    assert m['spark.in_job_s'] + m['spark.driver_s'] == pytest.approx(10.0)
    assert m['spark.task_skew'] == pytest.approx(4.0)
    assert m['spark.shuffle_write_mb'] == pytest.approx(1.0)
    assert m['operators.graph.jobs'] == 2
    assert m['operators.clustering.jobs'] == 0


@pytest.mark.slow
def test_traced_run_reports_every_per_layer_metric():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, 'run.py'), '--workload',
         'etl-graph-neardup', '--seed', '1', '--seconds', '1', '--trace', '1'],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out['correct'] and out['failed'] == 0
    m = {k: v['value'] for k, v in out['metrics'].items()}
    assert set(m) == _per_layer_names()
    assert m['spark.in_job_s'] + m['spark.driver_s'] == pytest.approx(
        m['trace.pass_s'])
    assert m['spark.jobs'] > 0
    for layer in spans.OPERATOR_MODULES:
        assert m[f'operators.{layer}.call_s'] > 0, layer
