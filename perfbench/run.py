"""Closed-loop benchmark of ons_utils_spark, one workload per run.

    python3 perfbench/run.py --workload etl-graph-neardup --seed 1 --seconds 5 --trace 0

Run from the repository root.  One driver thread runs the workload's
operations in sequence on ``local[<half the cores>]``.  Set-up is done
``SETUP_REPEATS`` times (stop the session, start a new one with
``get_spark``, make the seeded inputs and their expected answers);
then one untimed warm-up pass whose outputs are checked against the
expected answers, then timed passes until ``--seconds`` have elapsed
(at least ``MIN_PASSES``).  An operation that raises in any pass, or
fails its check, counts as failed and the run goes on.  The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics:

* ``pass_cpu_s``: median CPU time (user and system, all processes,
  host steal excluded) of a timed pass.  Its wall time, ``pass_s``,
  is a per-layer metric: on a shared 4-vCPU VM, host CPU steal slowed
  whole runs by up to 1.7x, more than a minute-long run can average
  out;
* ``setup_s``: median time of one set-up;
* ``driver_mem_mb``: driver memory after the timed passes: JVM heap
  still in use after a full GC, plus this Python process's peak
  resident memory (``VmHWM``).  The driver JVM's own ``VmHWM`` follows
  its heap-sizing heuristics more than the work (it moved by a fifth
  between runs of the same code), so it is printed but not reported.

``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the median traced pass (see ``spans.py``),
together with ``leaked_rdds``, ``error_rate`` and, on the ingest
workload, ``write_amp`` and the ``streaming.*`` metrics;
``trace.overhead_s`` is the median traced minus the median untraced
pass.  The span tree goes to ``.perfbench_out/``.  Everything else the
run writes lives under ``.perfbench_work/`` and is removed at exit.
"""
from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
MIN_PASSES = 2
MB = float(1 << 20)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package."""
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    os.environ['TZ'] = 'UTC'
    time.tzset()
    os.environ['PYTHONPATH'] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get('PYTHONPATH', '').split(
            os.pathsep) if p])
    # read by the launcher JVM as well as the driver
    os.environ['JAVA_TOOL_OPTIONS'] = f'-XX:-UsePerfData -Djava.io.tmpdir={tmp} '
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str):
    from ons_utils_spark import get_spark

    # each task thread has a Python worker process beside it, and the
    # JIT and GC threads need cores too.  On a shared 4-vCPU VM with host
    # CPU steal, local[4] pass times spread 0.28-0.36 of their median
    # over ten seeds; local[2] spread less and ran no slower.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = get_spark(
        'perfbench', master=f'local[{cores}]', shuffle_partitions=cores,
        extra_confs={
            'spark.driver.memory': '2g',
            'spark.local.dir': os.path.join(work, 'local'),
            'spark.sql.warehouse.dir': os.path.join(work, 'warehouse'),
            'spark.ui.retainedJobs': '100000',
            'spark.ui.retainedStages': '100000',
        })
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def _cpu_s() -> float:
    """CPU time every process on the machine has used, steal excluded."""
    with open('/proc/stat') as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    # user, nice, system, irq, softirq; idle, iowait and steal left out
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf('SC_CLK_TCK')


def _hwm_mb(pid) -> float:
    with open(f'/proc/{pid}/status') as fh:
        return next(int(line.split()[1]) for line in fh
                    if line.startswith('VmHWM:')) / 1024.0


def _driver_mem_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    # the second collection frees what the first one's cleanups released
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / MB
    py = _hwm_mb('self')
    print(f'memory: jvm heap after gc {heap:.1f} MB, jvm peak '
          f'{_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()):.1f} MB, '
          f'python peak {py:.1f} MB', file=sys.stderr)
    return heap + py


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, 'proc', None)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


class Ctx:
    """What operations share: the session, the run's directory and seed,
    and the tracer while a traced pass runs."""

    def __init__(self, work, seed):
        self.work_dir, self.seed = work, seed
        self.spark = None
        self.tracer = None


def set_up(ctx, workload):
    """Repeat the set-up; return the time of each repetition.  The
    first one also pays for launching the JVM."""
    times, t0 = [], T_START
    for _ in range(SETUP_REPEATS):
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = _session(ctx.work_dir)
        sizes = workload.setup(ctx)
        times.append(time.time() - t0)
        t0 = time.time()
    print('setup seconds: ' + json.dumps([round(t, 3) for t in times])
          + '; inputs ' + json.dumps(sizes), file=sys.stderr, flush=True)
    return times


def run_pass(ctx, workload, ops, i, tally, check):
    """Run every op once and, with ``check``, check them afterwards;
    return ``(wall, cpu, pass span, workload extras)``.  Wall and CPU
    time cover only the operations."""
    state = workload.begin_pass(ctx, i)
    state['check'] = check
    results = []
    with (ctx.tracer.span('pass', f'pass-{i}') if ctx.tracer
          else contextlib.nullcontext()) as rec:
        if ctx.tracer:
            ctx.tracer.watch_dir = state.get('root')
        t0, cpu0 = time.time(), _cpu_s()
        for op in ops:
            t_op = time.time()
            try:
                results.append((op, op.run(ctx, state), None))
            except Exception as e:  # noqa: BLE001 - counted, pass goes on
                results.append((op, None, e))
            tally['op_s'].setdefault(op.name, []).append(time.time() - t_op)
        wall, cpu = time.time() - t0, _cpu_s() - cpu0
    for op, result, err in results:
        tally['attempted'] += 1
        if err is None and check:
            try:
                op.verify(ctx, state, result)
            except Exception as e:  # noqa: BLE001 - counted
                err = e
        if err is not None:
            tally['failed'] += 1
            print(f'FAILED {op.name} (pass {i}): {type(err).__name__}: '
                  f'{str(err)[:400]}', file=sys.stderr, flush=True)
    return wall, cpu, rec, workload.end_pass(ctx, state)


def measure(ctx, workload, ops, seconds, trace, tally):
    """Timed passes.  With ``trace`` they alternate untraced and traced,
    starting and ending untraced (at least untraced, traced, untraced),
    so the overhead estimate does not inherit a trend across passes."""
    from spans import Tracer

    tracer = Tracer(ctx.spark) if trace else None
    jsc = ctx.spark.sparkContext._jsc
    rdds0 = jsc.getPersistentRDDs().size()
    plain, traced = [], []
    t0 = time.time()
    i = 1
    # a traced run stops only after an untraced pass (before an even i)
    while (i <= (3 if trace else MIN_PASSES) or (trace and i % 2 == 1)
           or time.time() - t0 < seconds):
        if trace and i % 2 == 0:
            ctx.tracer = tracer
            tracer.instrument()
            try:
                traced.append(run_pass(ctx, workload, ops, i, tally, False))
            finally:
                tracer.restore()
                ctx.tracer = None
        else:
            plain.append(run_pass(ctx, workload, ops, i, tally, False))
        i += 1
    leaked = (jsc.getPersistentRDDs().size() - rdds0) / (i - 1)
    return tracer, plain, traced, leaked


def layer_metrics(tracer, plain, traced, leaked, tally):
    """Per-layer metrics of the median traced pass."""
    tracer.collect()
    _, _, rec, extras = sorted(traced, key=lambda p: p[0])[
        (len(traced) - 1) // 2]
    m = tracer.pass_metrics(rec)
    for key in ('streaming.batches', 'streaming.batch_p50_s',
                'streaming.add_batch_s', 'streaming.rows_in', 'write_amp'):
        m[key] = extras.get(key, 0)
    m['leaked_rdds'] = leaked
    m['error_rate'] = tally['failed'] / tally['attempted']
    m['pass_s'] = statistics.median(p[0] for p in plain)
    m['trace.pass_s'] = rec['t1'] - rec['t0']
    m['trace.overhead_s'] = (statistics.median(p[0] for p in traced)
                             - statistics.median(p[0] for p in plain))
    return m, rec


def unit_of(name: str) -> str:
    if name.endswith('_s'):
        return 's'
    if name.endswith('_mb'):
        return 'MB'
    if name in ('spark.task_skew', 'write_amp', 'error_rate'):
        return 'ratio'
    return 'count'


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, 'ons_utils_spark')):
        print('ons_utils_spark not found next to perfbench/; run from a '
              'checkout of the repository', file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f'unknown workload {args.workload!r}; one of '
              f'{sorted(WORKLOADS)}', file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    work = os.path.join(ROOT, '.perfbench_work',
                        f'{args.workload}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    ctx = Ctx(work, args.seed)
    try:
        setup_times = set_up(ctx, workload)
        ops = workload.ops()
        tally = {'attempted': 0, 'failed': 0, 'op_s': {}}
        run_pass(ctx, workload, ops, 0, tally, True)
        tracer, plain, traced, leaked = measure(
            ctx, workload, ops, args.seconds, args.trace, tally)
        if args.trace:
            metrics, rec = layer_metrics(tracer, plain, traced, leaked, tally)
            tracer.dump(
                os.path.join(ROOT, '.perfbench_out',
                             f'trace-{args.workload}-{args.seed}.json'),
                {'workload': args.workload, 'seed': args.seed,
                 'median_pass_span': rec['id'], 'metrics': metrics,
                 'untraced_walls': [p[0] for p in plain],
                 'traced_walls': [p[0] for p in traced]})
        else:
            print('pass walls: ' + json.dumps([round(p[0], 3) for p in plain]),
                  file=sys.stderr)
            metrics = {'pass_cpu_s': statistics.median(p[1] for p in plain),
                       'setup_s': statistics.median(setup_times),
                       'driver_mem_mb': _driver_mem_mb(ctx.spark)}
        out = {
            'correct': tally['failed'] == 0,
            'attempted': tally['attempted'],
            'failed': tally['failed'],
            'metrics': {k: {'value': v, 'unit': unit_of(k)}
                        for k, v in metrics.items()},
        }
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print('per-op seconds (warm-up pass first): ' + json.dumps(
        {k: [round(t, 3) for t in v] for k, v in tally['op_s'].items()}),
        file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == '__main__':
    sys.exit(main())
