"""Span tracer for the per-layer run.

A span wraps one call the benchmark makes into a layer of the library.
Entering a span tags the Spark jobs it starts with a job group named
after the span (``sc.setJobGroup``); leaving it restores the caller's
group.  Spans stay in memory.  After the run the tracer reads every
job and stage once from the local UI REST API (``sc.uiWebUrl`` +
``/api/v1``) and folds them into per-pass layer metrics; the full span
tree, with self time (span minus its children), is written once by
:meth:`Tracer.dump`.

Public functions of operator and source modules are wrapped by
:meth:`Tracer.instrument`, which rebinds every reference to them in
the loaded ``ons_utils_spark`` modules; :meth:`Tracer.restore` undoes it.
"""
from __future__ import annotations

import contextlib
import datetime
import functools
import inspect
import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request

OPERATOR_MODULES = ('graph', 'clustering', 'dedup', 'similarity', 'text',
                    'concat', 'grouped', 'joins', 'reshape')
SOURCE_MODULES = ('readers', 'shards', 'compaction', 'layout', 'bucketing')
_WRITE_PREFIXES = ('write_', 'compact_')
MB = float(1 << 20)


def _dir_usage(path: str):
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files


def _epoch(ts: str) -> float:
    # REST timestamps look like 2024-01-01T12:00:00.123GMT
    return datetime.datetime.strptime(ts[:-3], '%Y-%m-%dT%H:%M:%S.%f').replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _union_length(intervals) -> float:
    total, end = 0.0, float('-inf')
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.aliases: dict = {}      # foreign job group -> span id
        self.watch_dir = None        # where source writes land
        self._local = threading.local()
        self._main_stack: list = []
        self._patched: list = []
        self.jobs: list = []
        self.stages: dict = {}

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, 'stack'):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # spans opened on a callback thread (foreachBatch) hang under
        # the span the main thread is in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {'id': len(self.spans), 'layer': layer, 'name': name,
               'parent': parent, 't0': time.time(), 't1': None}
        self.spans.append(rec)
        prev_group = self.sc.getLocalProperty('spark.jobGroup.id')
        prev_desc = self.sc.getLocalProperty('spark.job.description')
        self.sc.setJobGroup(f'pb-{rec["id"]}', f'{layer}:{name}')
        stack.append(rec['id'])
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty('spark.jobGroup.id', prev_group)
            self.sc.setLocalProperty('spark.job.description', prev_desc)
            rec['t1'] = time.time()

    def alias(self, group: str, span: dict) -> None:
        """Attribute jobs of a foreign job group (a streaming query's
        run id) to ``span``."""
        self.aliases[group] = span['id']

    # ---------------------------------------------------- instrumenting
    def _wrap(self, layer: str, label: str, fn):
        tracer = self
        is_write = layer == 'sources' and fn.__name__.startswith(
            _WRITE_PREFIXES)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, label) as rec:
                if not (is_write and tracer.watch_dir):
                    return fn(*args, **kwargs)
                before = _dir_usage(tracer.watch_dir)
                try:
                    return fn(*args, **kwargs)
                finally:
                    after = _dir_usage(tracer.watch_dir)
                    rec['written'] = (after[0] - before[0],
                                      after[1] - before[1])
        return traced

    def instrument(self) -> None:
        import importlib

        originals = {}
        for layer, pkg, names in (('operators', 'operators', OPERATOR_MODULES),
                                  ('sources', 'sources', SOURCE_MODULES)):
            for short in names:
                mod = importlib.import_module(f'ons_utils_spark.{pkg}.{short}')
                for attr, obj in vars(mod).items():
                    if (inspect.isfunction(obj) and not attr.startswith('_')
                            and obj.__module__ == mod.__name__):
                        originals[id(obj)] = (obj, self._wrap(
                            layer, f'{short}.{attr}', obj))
        for mod in list(sys.modules.values()):
            if not getattr(mod, '__name__', '').startswith('ons_utils_spark'):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))

    def restore(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()

    # ------------------------------------------------------- collection
    def _get(self, path: str):
        url = urllib.parse.urlparse(self.sc.uiWebUrl)
        base = (f'http://127.0.0.1:{url.port}/api/v1/applications/'
                f'{self.sc.applicationId}/')
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return json.load(resp)

    def collect(self, timeout: float = 30.0) -> None:
        """Read all jobs and stages once the listener has caught up."""
        deadline = time.time() + timeout
        last = -1
        while True:
            jobs = self._get('jobs')
            settled = all(j['status'] != 'RUNNING' for j in jobs)
            if (settled and len(jobs) == last) or time.time() > deadline:
                break
            last = len(jobs)
            time.sleep(0.5)
        self.jobs = jobs
        stages = self._get('stages?withSummaries=true&quantiles=0.5,1.0')
        self.stages = {}
        for s in stages:
            self.stages.setdefault(s['stageId'], []).append(s)

    # ---------------------------------------------------------- metrics
    def _ancestors(self, sid):
        while sid is not None:
            yield self.spans[sid]
            sid = self.spans[sid]['parent']

    def _job_span(self, job):
        group = job.get('jobGroup') or ''
        if group in self.aliases:
            return self.aliases[group]
        if group.startswith('pb-'):
            return int(group[3:])
        return None

    def pass_metrics(self, root: dict) -> dict:
        """Layer metrics of the pass under span ``root``."""
        t0, t1 = root['t0'], root['t1']
        in_pass = {s['id'] for s in self.spans
                   if any(a['id'] == root['id'] for a in self._ancestors(s['id']))}
        jobs = []
        for j in self.jobs:
            sid = self._job_span(j)
            if sid in in_pass or (sid is None and 'submissionTime' in j
                                  and t0 <= _epoch(j['submissionTime']) <= t1):
                jobs.append((j, sid))
        intervals = []
        for j, _ in jobs:
            a = _epoch(j['submissionTime'])
            b = _epoch(j['completionTime']) if 'completionTime' in j else t1
            intervals.append((max(a, t0), min(b, t1)))
        in_job = _union_length(i for i in intervals if i[1] > i[0])
        wall = t1 - t0

        stage_ids = sorted({sid for j, _ in jobs for sid in j['stageIds']})
        ran = [s for sid in stage_ids for s in self.stages.get(sid, ())
               if s['status'] not in ('SKIPPED', 'PENDING')]

        def total(key):
            return sum(s.get(key, 0) for s in ran)

        skew = 1.0
        for s in ran:
            dist = (s.get('taskMetricsDistributions') or {}).get(
                'executorRunTime')
            if s.get('numCompleteTasks', 0) >= 2 and dist and dist[0] > 0:
                skew = max(skew, dist[1] / dist[0])
        m = {
            'spark.jobs': len(jobs),
            'spark.stages': len(ran),
            'spark.tasks': total('numCompleteTasks') + total('numFailedTasks'),
            'spark.in_job_s': in_job,
            'spark.driver_s': wall - in_job,
            'spark.task_s': total('executorRunTime') / 1e3,
            'spark.cpu_s': total('executorCpuTime') / 1e9,
            'spark.gc_s': total('jvmGcTime') / 1e3,
            'spark.shuffle_read_mb': total('shuffleReadBytes') / MB,
            'spark.shuffle_write_mb': total('shuffleWriteBytes') / MB,
            'spark.spill_mb': total('diskBytesSpilled') / MB,
            'spark.input_mb': total('inputBytes') / MB,
            'spark.task_skew': skew,
            'spark.failed_tasks': total('numFailedTasks'),
        }

        spans = [self.spans[i] for i in sorted(in_pass)]

        def top(layer, pred):
            # spans of a kind with no ancestor of the same kind
            out = []
            for s in spans:
                if s['layer'] == layer and pred(s) and not any(
                        a['layer'] == layer and pred(a)
                        for a in self._ancestors(s['parent'])):
                    out.append(s)
            return out

        def wall_of(ss):
            return sum(s['t1'] - s['t0'] for s in ss)

        m['plans.build_s'] = wall_of(
            top('plans', lambda s: s['name'].endswith('.build')))
        m['plans.action_s'] = wall_of(
            top('plans', lambda s: s['name'].endswith('.action')))
        for mod in OPERATOR_MODULES:
            pred = (lambda s, p=f'{mod}.': s['name'].startswith(p))
            m[f'operators.{mod}.call_s'] = wall_of(top('operators', pred))
            m[f'operators.{mod}.jobs'] = sum(
                1 for _, sid in jobs if sid is not None and any(
                    a['layer'] == 'operators' and pred(a)
                    for a in self._ancestors(sid)))

        def is_write(s):
            return s['name'].split('.', 1)[1].startswith(_WRITE_PREFIXES)

        writes = top('sources', is_write)
        m['sources.read_s'] = wall_of(
            top('sources', lambda s: not is_write(s)))
        m['sources.write_s'] = wall_of(writes)
        m['sources.written_mb'] = sum(
            s.get('written', (0, 0))[0] for s in writes) / MB
        m['sources.files_written'] = sum(
            s.get('written', (0, 0))[1] for s in writes)
        return m

    # ------------------------------------------------------------- dump
    def dump(self, path: str, extra: dict) -> None:
        children: dict = {}
        for s in self.spans:
            if s['parent'] is not None and s['t1'] is not None:
                children.setdefault(s['parent'], []).append(s)
        counts: dict = {}
        for j in self.jobs:
            sid = self._job_span(j)
            counts[sid] = counts.get(sid, 0) + 1
        out = []
        for s in self.spans:
            if s['t1'] is None:
                continue
            wall = s['t1'] - s['t0']
            kids = sum(c['t1'] - c['t0'] for c in children.get(s['id'], ()))
            out.append({**s, 'wall_s': wall, 'self_s': wall - kids,
                        'jobs': counts.get(s['id'], 0)})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, 'w') as fh:
            json.dump({'spans': out, **extra}, fh, indent=1, default=str)

