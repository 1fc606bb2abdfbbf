"""Benchmark: run the declared query suite and print one JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Each query is fully materialized through the `noop` sink (executes the
whole plan, no driver collect). Each query runs ``--repeat N`` times
(default 3, env ``SPARK_GRAFT_REPEAT``) and reports the per-query
MEDIAN. Prints:
    {"metric": "suite_total", "value": <sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, "repeat": N}

The full record, written next to this file, also carries the load
each timed pass ran under, read from ``/proc``: ``load`` holds one
``{steal_share, foreign_cpu_share}`` per pass (host steal, and CPU
used outside this process tree, each as a share of the machine's CPU
time), and ``queries_cpu`` each query's median CPU seconds in this
process tree (driver, JVM and Python workers), next to the wall
``queries``.  The record lands in ``BENCH_full.json`` unless
:func:`_artifact_filename` sends it to a side file: another scale
factor, fewer passes than the committed record, or a pass whose
recorded load is over ``LOAD_LIMIT``.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import namedtuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ons_utils_spark import get_spark  # noqa: E402
from ons_utils_spark.plans.queries import QUERIES  # noqa: E402

# Threads of the concurrent warmup pass (see main).
WARMUP_WORKERS = 6

# A timed pass that lost more than this share of the machine's CPU
# time to host steal plus processes outside the bench is loaded, and
# one loaded pass sends the record to BENCH_full_loaded.json.  Why 5%,
# measured on a shared 4-vCPU VM: the idle machine lost 0.1% to steal
# and 0.7% to other processes, and three quiet sf0.01 passes recorded
# 0.1-0.2% steal and 1.5% foreign CPU, 1.7% at most together; host
# steal averaging up to 16%, in bursts, slowed whole perfbench runs
# 1.7x.  5% is three times the quiet level, so quiet passes land, and
# a third of that steal, so such a pass diverts.
LOAD_LIMIT = 0.05

Snapshot = namedtuple('Snapshot', 'busy steal total own')


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        '--repeat', type=int,
        default=int(os.environ.get('SPARK_GRAFT_REPEAT', '3')),
        help='passes per query; the reported time is the median')
    args = ap.parse_args()
    repeat = max(1, args.repeat)
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    cpus = os.environ.get('SPARK_GRAFT_CPUS', '32')
    sf = os.path.basename(sf_dir.rstrip('/')).replace('sf', '')
    sf = float(sf) if sf.replace('.', '').isdigit() else sf
    # The committed record: its scale factor and repeat route this
    # run's record; at the same scale factor it also sizes the first
    # timed pass and orders the warmup.
    try:
        with open(os.path.join(HERE, 'BENCH_full.json')) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):  # missing or corrupt
        prev = {}

    spark = get_spark(
        'bench',
        master=f'local[{cpus}]',
        shuffle_partitions=int(cpus),
        extra_confs={
            'spark.driver.memory': '8g',
            'spark.sql.warehouse.dir': '/tmp/ons-utils-spark-bench-wh',
            # FAIR pools for the CONCURRENT warmup below: the six
            # incremental dedup streams and the mjpeg stream are
            # latency-bound (many small driver-coordinated jobs per
            # micro-batch) and under FIFO their jobs queue behind
            # whole-cluster jobs from sibling warmup threads,
            # serializing the pool.  Each warmup thread runs in its
            # own FAIR pool (equal share, no allocation file needed);
            # the timed passes are sequential single-job so FAIR is a
            # no-op there.
            'spark.scheduler.mode': 'FAIR',
        },
    )
    spark.sparkContext.setLogLevel('ERROR')

    # Warm up the JVM/codegen path once (not timed).
    QUERIES['q5_segment_stats'](spark, sf_dir).write.mode(
        'overwrite'
    ).format('noop').save()
    # Also warm the createDataFrame + broadcast-local-relation path:
    # profiled r5, the FIRST broadcast join from a driver-local frame
    # pays ~3s of one-off JIT/exchange setup (q_lookup_join read
    # 2.2s driver-side in r4 for a 5-row lookup — ordering artifact,
    # not a plan defect; warm runs are 0.65s).
    from pyspark.sql import functions as _F
    _lk = spark.createDataFrame([(1, 'a')], 'k int, v string')
    spark.range(100).join(
        _F.broadcast(_lk), _F.col('id') == _F.col('k'), 'left'
    ).write.mode('overwrite').format('noop').save()

    # repeat passes per query, report the per-query median — robust
    # to the host's load spikes (observed ±40% on single shots)
    # without the min's systematic optimism.  A wall-clock budget
    # (SPARK_GRAFT_BENCH_BUDGET seconds) bounds the TOTAL run: as the
    # suite grows, later repeat passes are dropped rather than blowing
    # the harness timeout — one complete pass is always finished, and
    # `repeat` in the output records how many actually ran.  The
    # progressive result emission below (a flushed line after every
    # completed pass) makes a harness kill near the timeout lose at
    # most the in-flight pass, never the whole artifact.
    budget_s = float(os.environ.get('SPARK_GRAFT_BENCH_BUDGET')
                     or _default_budget(len(QUERIES)))
    bench_t0 = time.time()
    # Warmup pass, CONCURRENT: each query's first execution pays
    # whole-stage-codegen compilation + JIT (measured ~2x steady
    # state), but those costs don't need the whole cluster — running
    # the warmup through a small thread pool overlaps compilation
    # with execution and cut the 139-query warmup from ~380s
    # sequential to well under the budget (r5 failure mode: the
    # sequential warmup alone outgrew the 480s budget, so the driver
    # recorded a repeat=0 cold fallback).  Timed passes stay
    # sequential — only they are measured.  The warmup's own times
    # are kept as a LAST-RESORT cold fallback sample (contended +
    # cold ⇒ pessimistic; flagged in the output).
    from concurrent.futures import ThreadPoolExecutor

    cold: dict = {}

    def _warm(name: str) -> None:
        import threading

        # one FAIR pool per worker thread (streams started on this
        # thread inherit the pool via cloned local properties)
        spark.sparkContext.setLocalProperty(
            'spark.scheduler.pool', f'warm-{threading.get_ident()}')
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.mode('overwrite').format(
            'noop').save()
        cold[name] = time.time() - t0

    # Longest-job-first submission (LPT): the artifact-cached
    # streaming queries pay 30-70s one-off builds during warmup —
    # submitted first they overlap the rest of the suite instead of
    # extending the pool's tail (the r12 warmup spent ~140 of its
    # 189.5s on the three incremental streams scheduled by registry
    # order).  Expected costs come from the committed record's
    # cold_artifact_sec at the same scale factor; artifact-cached
    # queries without one are assumed heavy.
    prior_cold = ((prev.get('extras') or {}).get('cold_artifact_sec')
                  or {}) if prev.get('sf') == sf else {}
    warm_order = sorted(
        QUERIES,
        key=lambda n: -prior_cold.get(
            n, 60.0 if n in _ARTIFACT_CACHED_QUERIES else 0.0))
    failed = []
    with ThreadPoolExecutor(max_workers=WARMUP_WORKERS) as pool:
        futs = {pool.submit(_warm, name): name for name in warm_order}
        for fut, name in futs.items():
            try:
                fut.result()
            except Exception:  # noqa: BLE001 — e.g. temp-view races
                failed.append(name)
    for name in failed:  # retry stragglers sequentially
        _warm(name)
    warmup_time = time.time() - bench_t0
    samples: dict = {name: [] for name in QUERIES}
    cpu: dict = {name: [] for name in QUERIES}
    load: list = []
    last_pass = _first_pass_estimate(prev, sf, warmup_time)
    for p in range(repeat):
        if (time.time() - bench_t0) + last_pass > budget_s:
            break
        p_t0 = time.time()
        pass_start = snap = _snapshot()
        for name, fn in QUERIES.items():
            t0 = time.time()
            fn(spark, sf_dir).write.mode('overwrite').format(
                'noop'
            ).save()
            samples[name].append(time.time() - t0)
            before, snap = snap, _snapshot()
            cpu[name].append(
                (snap.own - before.own) / os.sysconf('SC_CLK_TCK'))
        load.append(_load(pass_start, snap))
        last_pass = time.time() - p_t0
        # Progressive emission: flush a complete result line after
        # EVERY pass, so a harness kill during a later pass still
        # leaves a parseable warm line in a 2000-char stdout tail
        # (only the LAST ~2000 chars survive, i.e. the freshest
        # completed pass).
        print(_compact_line(
            _record(samples, cpu, load, warmup_time, cold, sf, {})),
            flush=True)

    extras = _bucketed_join_comparison(spark, sf_dir)
    extras.update(_partition_pruning_comparison(spark, sf_dir))
    # Cold-cost accounting for ARTIFACT-CACHED queries: their
    # steady-state time hides a session-cached build (ANN codebooks /
    # centroids, incremental-dedup stores, the training-shard
    # layout) that only the warmup pass pays.  Record those first-
    # execution walls so the 2x-gate audit can see the real cold
    # cost.  Upper bound: measured under the 6-thread concurrent
    # warmup (contention + whole-stage-codegen compilation included).
    extras['cold_artifact_sec'] = {
        name: round(cold[name], 3)
        for name in _ARTIFACT_CACHED_QUERIES if name in cold
    }
    # Label the measurement conditions LOUDLY: these walls are
    # per-stream time measured while the warmup threads share the
    # executor (FAIR pools), so each INCLUDES contention wait — an
    # upper bound on per-stream cost, not sequential cost.  An unwary
    # reader comparing them to the sequential warm medians would
    # otherwise misread contention as per-query work.
    extras['cold_artifact_measurement'] = {
        'concurrent': True,
        'warmup_pool_workers': WARMUP_WORKERS,
        'scheduler': 'FAIR (one pool per warmup thread)',
    }

    full = _record(samples, cpu, load, warmup_time, cold, sf, extras)
    # Full detail goes to the record file; the stdout line below must
    # stay under a 2000-char tail capture or it gets truncated
    # mid-line and fails to parse (round 2).
    with open(os.path.join(HERE, _artifact_filename(full, prev)),
              'w') as fh:
        json.dump(full, fh, indent=1)
    print('extras:', json.dumps(extras), flush=True)
    print(_compact_line(full), flush=True)
    spark.stop()


# Queries whose runtime caches a build artifact in the session
# (plans/queries.py `_artifact` / `_cached_*`): steady-state medians
# exclude the build; the warmup's first execution is the honest cold
# cost.  Keep in sync with queries.py (tests/test_bench_helpers.py
# re-derives this list by AST walk and pins it).
_ARTIFACT_CACHED_QUERIES = (
    'q_ivf_topk', 'q_pq_topk', 'q_ivf_pq_topk', 'q_ivf_index_probe',
    'q_minhash_dedup', 'q_simhash_dedup',
    'q_incremental_embedding_dedup', 'q_incremental_winnow_dedup',
    'q_incremental_url_dedup', 'q_incremental_minhash_dedup',
    'q_incremental_simhash_dedup', 'q_mjpeg_stream_stats',
    'q_training_shards', 'q_shard_resume',
    'q_warc_records', 'q_warc_mime_stats',
    'q_orc_roundtrip', 'q_incremental_line_dedup',
)


def _default_budget(n_queries: int) -> float:
    """Wall-clock budget of a whole run of ``n_queries`` queries.

    It scales with the suite (r11 postmortem: a fixed 540s was
    outgrown by the 161-query warmup under host load and the run
    recorded a repeat=0 cold fallback).  Re-measured r15 at 200
    queries: quiet warmup ~0.8s/query, quiet pass ~1.15s/query, so
    150 + 3.5s/query left exactly 2 passes, a knife edge that silently
    demoted the artifact to repeat-2.  150 + 4.2s/query leaves room
    for the warmup and 3 timed passes at those costs."""
    return max(560, 150 + 4.2 * n_queries)


def _first_pass_estimate(prev: dict, sf, warmup_time: float) -> float:
    """Expected wall of the first timed pass, which decides whether it
    starts inside the budget; later passes use the previous pass.

    It must be evidence-based (r11 postmortem: using the warmup wall
    let a loaded-host 329s concurrent warmup veto every timed pass).
    The best evidence is the committed record's warm suite total at
    the SAME scale factor, with a 1.3 load margin: an sf0.01 run
    sized from an sf0.1 record would veto every pass (r12).  Lacking
    one, the concurrent warmup wall (which under-estimates a warm
    sequential pass ~2.2x on an idle host; acceptable, since a
    started pass always completes and is emitted)."""
    if prev.get('sf') == sf and prev.get('repeat', 0) >= 1 \
            and prev.get('value'):
        return float(prev['value']) * 1.3
    return warmup_time


def _snapshot() -> Snapshot:
    """CPU counters now, in clock ticks: the machine's busy, steal and
    total time from the first line of ``/proc/stat``, and ``own``, the
    CPU of this process and its live descendants (the JVM and its
    Python workers), utime + stime + cutime + cstime, found through
    the ppid field of ``/proc/<pid>/stat``."""
    with open('/proc/stat') as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    # busy is user, nice, system, irq and softirq, as perfbench/run.py
    # counts it; idle and iowait are the rest of the total
    busy, steal, total = f[0] + f[1] + f[2] + f[5] + f[6], f[7], sum(f)
    children: dict = {}
    stats: dict = {}
    for pid in filter(str.isdigit, os.listdir('/proc')):
        try:
            with open(f'/proc/{pid}/stat', 'rb') as fh:
                # fields after the parenthesized command name
                rest = fh.read().rsplit(b')', 1)[1].split()
        except OSError:  # exited since the listing
            continue
        children.setdefault(int(rest[1]), []).append(int(pid))
        stats[int(pid)] = rest
    own, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        own += sum(map(int, stats[pid][11:15])) if pid in stats else 0
        todo.extend(children.get(pid, ()))
    return Snapshot(busy, steal, total, own)


def _load(a: Snapshot, b: Snapshot) -> dict:
    """Shares of the machine's CPU time (total ticks, i.e. wall ×
    ncpu) between two snapshots lost to host steal and used outside
    this process tree."""
    total = max(b.total - a.total, 1)
    foreign = (b.busy - a.busy) - (b.own - a.own)
    return {'steal_share': round((b.steal - a.steal) / total, 4),
            'foreign_cpu_share': round(max(foreign, 0) / total, 4)}


def _record(samples: dict, cpu: dict, load: list, warmup_time: float,
            cold: dict, sf, extras: dict) -> dict:
    """The full record of a run: ``len(load)`` timed passes, or the
    warmup's cold walls when none ran (budget blown in warmup)."""
    repeat = len(load)
    if repeat == 0:
        samples = {name: [t] for name, t in cold.items()}
    timings = {name: round(statistics.median(ts), 3)
               for name, ts in samples.items()}
    return {
        'metric': 'suite_total',
        'value': round(sum(timings.values()), 3),
        'unit': 'sec',
        'queries': timings,
        # Per-query MIN across passes: the load-robust statistic of
        # the A/B methodology (a burst inflates the median, not the
        # min).
        'queries_min': {name: round(min(ts), 3)
                        for name, ts in samples.items()},
        'queries_cpu': {name: round(statistics.median(ts), 3)
                        for name, ts in cpu.items() if ts},
        'load': load,
        'sf': sf,
        'repeat': repeat,
        'cold_fallback': repeat == 0,
        # Host-variance error bars (VERDICT r4: ±12% same-code
        # spread): suite totals under the best / median / worst
        # per-query sample.
        'spread': {
            'suite_min': round(sum(min(ts) for ts in samples.values()), 3),
            'suite_median': round(sum(timings.values()), 3),
            'suite_max': round(sum(max(ts) for ts in samples.values()), 3),
        },
        'warmup_sec': round(warmup_time, 1),
        'extras': extras,
    }


def _artifact_filename(full: dict, prev: dict) -> str:
    """Which file this run's record ``full`` lands in, given the
    committed record ``prev`` (r5/r6 postmortems):

    * another scale factor (e.g. a quick sf0.01 smoke) never displaces
      the canonical record — ``BENCH_full_sf<sf>.json``;
    * a LOWER-repeat run never displaces a higher-repeat record —
      ``BENCH_full_cold.json``;
    * a run with a pass over ``LOAD_LIMIT`` of steal plus foreign CPU
      — ``BENCH_full_loaded.json``, at any repeat, so repeat count
      alone never buys displacement (the r15 loophole).  Only this
      run's own recorded load counts, never its times against
      ``prev``'s: a slower quiet run is a regression and lands;
    * anything else — ``BENCH_full.json``.
    """
    sf, prev_repeat = full['sf'], prev.get('repeat', 0)
    if prev_repeat >= 1 and prev.get('sf') not in (None, sf):
        return f'BENCH_full_sf{sf:g}.json' if isinstance(sf, float) \
            else f'BENCH_full_sf{sf}.json'
    if full['repeat'] < prev_repeat:
        return 'BENCH_full_cold.json'
    if any(p['steal_share'] + p['foreign_cpu_share'] > LOAD_LIMIT
           for p in full['load']):
        return 'BENCH_full_loaded.json'
    return 'BENCH_full.json'


def _compact_line(full: dict, budget: int = 1800) -> str:
    """One JSON line <= budget chars: all queries if they fit, else the
    slowest ones that do, plus an omitted count pointing at the file."""
    def render(queries: dict, omitted: int) -> str:
        doc = {
            'metric': full['metric'],
            'value': full['value'],
            'unit': full['unit'],
            'queries': queries,
            'sf': full['sf'],
            'repeat': full.get('repeat'),
            'spread': full.get('spread'),
        }
        if omitted:
            doc['omitted'] = omitted
            doc['full'] = 'BENCH_full.json'
        return json.dumps(doc, separators=(',', ':'))

    q2 = {k: round(v, 2) for k, v in full['queries'].items()}
    line = render(q2, 0)
    if len(line) <= budget:
        return line
    by_time = sorted(q2.items(), key=lambda kv: -kv[1])
    keep: dict = {}
    for k, v in by_time:
        keep[k] = v
        if len(render(keep, len(q2) - len(keep))) > budget:
            del keep[k]
            break
    return render(keep, len(q2) - len(keep))


def _bucketed_join_comparison(spark, sf_dir: str) -> dict:
    """Scale evidence: co-bucketed join vs shuffled join wall time."""
    from ons_utils_spark.sources.bucketing import write_bucketed
    from ons_utils_spark.sources.readers import read_parquet

    try:
        orders = read_parquet(
            spark, os.path.join(sf_dir, 'orders.parquet')
        ).withColumnRenamed('o_orderkey', 'key')
        lineitem = read_parquet(
            spark, os.path.join(sf_dir, 'lineitem.parquet')
        ).withColumnRenamed('l_orderkey', 'key')
        threshold = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')

        t0 = time.time()
        orders.join(lineitem, 'key').write.mode('overwrite').format(
            'noop'
        ).save()
        shuffled = round(time.time() - t0, 3)

        write_bucketed(orders, 'bench_orders_b', 'key', 8, 'key')
        write_bucketed(lineitem, 'bench_lineitem_b', 'key', 8, 'key')
        t0 = time.time()
        spark.table('bench_orders_b').join(
            spark.table('bench_lineitem_b'), 'key'
        ).write.mode('overwrite').format('noop').save()
        bucketed = round(time.time() - t0, 3)

        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', threshold)
        spark.sql('DROP TABLE IF EXISTS bench_orders_b')
        spark.sql('DROP TABLE IF EXISTS bench_lineitem_b')
        return {
            'join_shuffled_sec': shuffled,
            'join_cobucketed_sec': bucketed,
        }
    except Exception:  # noqa: BLE001 — extras must never fail bench
        return {}


def _partition_pruning_comparison(spark, sf_dir: str) -> dict:
    """Scale evidence: month-partitioned layout vs flat file for a
    single-month query. At 100 TB the pruned scan reads ~1/72 of the
    files; the flat layout reads (and row-filters) everything."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ons_utils_spark.sources.readers import read_parquet

    out_dir = tempfile.mkdtemp(prefix='bench-part-')
    try:
        lineitem = read_parquet(
            spark, os.path.join(sf_dir, 'lineitem.parquet')
        )
        part_path = os.path.join(out_dir, 'lineitem_by_month')
        lineitem.withColumn(
            'ship_month', F.date_format('l_shipdate', 'yyyy-MM')
        ).write.partitionBy('ship_month').mode('overwrite').parquet(
            part_path
        )

        def one_month(df, col):
            return df.filter(F.col(col) == '1995-03').agg(
                F.sum('l_extendedprice'), F.count('*')
            )

        t0 = time.time()
        one_month(
            lineitem.withColumn(
                'ship_month', F.date_format('l_shipdate', 'yyyy-MM')
            ),
            'ship_month',
        ).write.mode('overwrite').format('noop').save()
        flat = round(time.time() - t0, 3)

        pruned_df = one_month(spark.read.parquet(part_path), 'ship_month')
        t0 = time.time()
        pruned_df.write.mode('overwrite').format('noop').save()
        pruned = round(time.time() - t0, 3)

        # The scalable quantity is the scan fraction, not toy-SF wall
        # time (a single flat file wins on listing overhead at MB
        # scale; at 100 TB the pruned scan reads 1/72 of the bytes).
        total_parts = len([
            d for d in os.listdir(part_path)
            if d.startswith('ship_month=')
        ])
        import re

        plan = pruned_df._jdf.queryExecution().executedPlan().toString()
        pruning_in_plan = re.search(
            r'PartitionFilters: \[[^\]]*1995-03', plan
        ) is not None
        return {
            'scan_flat_sec': flat,
            'scan_partition_pruned_sec': pruned,
            'partitions_total': total_parts,
            'partitions_scanned': 1 if pruning_in_plan else total_parts,
        }
    except Exception:  # noqa: BLE001 — extras must never fail bench
        return {}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == '__main__':
    main()
