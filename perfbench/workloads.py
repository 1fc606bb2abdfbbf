"""The benchmark workloads: fixed lists of operations run in sequence.

A batch workload runs registry queries (``plans.queries.QUERIES``) and
direct operator calls over seeded tables.  Each operation builds its
DataFrame (``plans`` build span) and runs it (``plans`` action span):
with a ``noop`` write, or, in the checked pass, with a collect whose
rows are compared with a DuckDB oracle over the same tables.  The ingest
workload drives the streaming dedup operators and the source writers
over a seeded micro-batch stream in fresh directories every pass, and
checks each result against a replay of the same arrival order.
"""
from __future__ import annotations

import contextlib
import json
import os
import shutil

import pyarrow.parquet as pq

import check
import gen


def _span(ctx, layer, name):
    return ctx.tracer.span(layer, name) if ctx.tracer else contextlib.nullcontext()


class Op:
    """One operation: ``run`` is timed, ``verify`` is not."""

    def __init__(self, name, run, verify):
        self.name, self.run, self.verify = name, run, verify


# ------------------------------------------------------- direct operators

FLAG_STATUS = ('A|F', 'A|O', 'N|F', 'N|O', 'R|F', 'R|O')


def reshape_roundtrip(spark, data_dir):
    """Quantity per supplier, return flag and line status, unstacked to
    one column per flag|status pair and stacked back
    (``operators.reshape``)."""
    from pyspark.sql import functions as F

    from ons_utils_spark.operators import reshape
    from ons_utils_spark.sources.readers import read_parquet

    lineitem = read_parquet(spark, os.path.join(data_dir, 'lineitem.parquet'))
    tidy = (lineitem.groupBy('l_suppkey', 'l_returnflag', 'l_linestatus')
            .agg(F.sum('l_quantity').alias('qty')))
    wide = reshape.unstack(tidy, ['l_returnflag', 'l_linestatus'], 'qty',
                           pivot_values=FLAG_STATUS)
    return (reshape.stack(wide, ['l_suppkey'], 'flag_status', 'qty',
                          FLAG_STATUS)
            .filter(F.col('qty').isNotNull()))


DIRECT = {
    'reshape_roundtrip': (
        reshape_roundtrip,
        "SELECT l_suppkey, l_returnflag || '|' || l_linestatus AS flag_status,"
        ' sum(l_quantity) AS qty FROM lineitem GROUP BY ALL'),
}


class BatchWorkload:
    def __init__(self, names, tables):
        self.names, self.tables = names, tables

    def setup(self, ctx) -> dict:
        from ons_utils_spark.plans.queries import ORACLES

        ctx.data_dir = os.path.join(ctx.work_dir, 'tables')
        sizes = gen.make_tables(ctx.data_dir, ctx.seed, self.tables)
        con = check.duckdb_views(ctx.data_dir, self.tables)
        ctx.expected = {
            n: check.oracle(con, DIRECT[n][1] if n in DIRECT else ORACLES[n])
            for n in self.names}
        con.close()
        return {t: {'rows': r, 'bytes': b} for t, (r, b) in sizes.items()}

    def ops(self):
        return [Op(n, self._runner(n), self._checker(n)) for n in self.names]

    @staticmethod
    def _runner(name):
        def run(ctx, state):
            from ons_utils_spark.plans.queries import QUERIES

            build = DIRECT[name][0] if name in DIRECT else QUERIES[name]
            with _span(ctx, 'plans', f'{name}.build'):
                df = build(ctx.spark, ctx.data_dir)
            with _span(ctx, 'plans', f'{name}.action'):
                if state['check']:
                    return df.columns, [tuple(r) for r in df.collect()]
                df.write.format('noop').mode('overwrite').save()
        return run

    @staticmethod
    def _checker(name):
        def verify(ctx, state, result):
            check.compare(*result, *ctx.expected[name])
        return verify

    def begin_pass(self, ctx, i):
        return {}

    def end_pass(self, ctx, state):
        return {}


# ---------------------------------------------------------------- ingest

SHARD_SIZE = 64


def _await_stream(q, timeout=120):
    try:
        if not q.awaitTermination(timeout):
            raise RuntimeError(f'stream {q.name or q.id} did not finish '
                               f'within {timeout}s')
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    finally:
        q.stop()


class IngestWorkload:
    """Streaming URL dedup over seeded micro-batches, then ordered
    training shards of the accepted docs, a read-back and a compaction
    of the accepted docs."""

    def setup(self, ctx) -> dict:
        ctx.docs, ctx.batches = gen.make_docs(ctx.seed)
        ctx.src_dir = os.path.join(ctx.work_dir, 'stream-src')
        shutil.rmtree(ctx.src_dir, ignore_errors=True)
        ctx.src_bytes = gen.write_stream_source(ctx.src_dir, ctx.docs,
                                                ctx.batches)
        ctx.want = check.replay_dedup(ctx.docs, ctx.batches, 'page')
        return {'stream': {'rows': len(ctx.docs), 'bytes': ctx.src_bytes,
                           'batches': [len(b) for b in ctx.batches]}}

    def ops(self):
        return [Op('url_dedup', self._url_dedup, self._check_url),
                Op('write_shards', self._write_shards, self._check_shards),
                Op('read_shards', self._read_shards, self._check_read),
                Op('compact', self._compact, self._check_compact)]

    def begin_pass(self, ctx, i):
        root = os.path.join(ctx.work_dir, f'pass-{i}')
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        return {'root': root, 'progress': []}

    def end_pass(self, ctx, state):
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(state['root']) for f in fs)
        shutil.rmtree(state['root'], ignore_errors=True)
        prog = [p for p in state['progress'] if p.get('numInputRows', 0) > 0]
        trig = sorted(p['durationMs'].get('triggerExecution', 0) for p in prog)
        return {
            'write_amp': written / ctx.src_bytes,
            'streaming.batches': len(prog),
            'streaming.batch_p50_s': (trig[(len(trig) - 1) // 2] / 1e3
                                      if trig else 0.0),
            'streaming.add_batch_s': sum(p['durationMs'].get('addBatch', 0)
                                         for p in prog) / 1e3,
            # counts every scan of a micro-batch: a foreachBatch sink that
            # reads its batch k times reports k times the batch's rows
            'streaming.rows_in': sum(p['numInputRows'] for p in prog),
        }

    # -- operations
    def _stream(self, ctx):
        return (ctx.spark.readStream
                .schema('doc_id long, url string, text string')
                .option('maxFilesPerTrigger', 1).json(ctx.src_dir))

    def _drive(self, ctx, state, name, start):
        with _span(ctx, 'streaming', name) as sp:
            q = start()
            if sp is not None:
                ctx.tracer.alias(str(q.runId), sp)
            _await_stream(q)
        state['progress'] += [json.loads(p.json) if hasattr(p, 'json') else p
                              for p in q.recentProgress]

    def _dirs(self, state, name):
        return {k: os.path.join(state['root'], f'{name}-{k}')
                for k in ('out', 'store', 'ckpt')}

    def _url_dedup(self, ctx, state):
        from ons_utils_spark.operators import web
        from ons_utils_spark.streaming.incremental import incremental_exact_dedup

        d = state['url'] = self._dirs(state, 'url')
        keyed = self._stream(ctx).select(
            'doc_id', 'text', web.canonicalize_url('url').alias('key'))
        self._drive(ctx, state, 'incremental_exact_dedup', lambda: (
            incremental_exact_dedup(keyed, out_dir=d['out'],
                                    store_dir=d['store'],
                                    checkpoint=d['ckpt'])))

    def _write_shards(self, ctx, state):
        from ons_utils_spark.operators.sampling import global_order_index
        from ons_utils_spark.sources.shards import write_training_shards

        state['shards'] = os.path.join(state['root'], 'shards')
        accepted = ctx.spark.read.parquet(state['url']['out'])
        ordered = global_order_index(accepted.select('doc_id', 'text'),
                                     'doc_id', salt=f'epoch{ctx.seed}')
        write_training_shards(ordered, state['shards'], shard_size=SHARD_SIZE)

    def _read_shards(self, ctx, state):
        from ons_utils_spark.sources.shards import read_training_shards

        df = read_training_shards(ctx.spark, state['shards'],
                                  shard_size=SHARD_SIZE)
        return [tuple(r) for r in df.select('doc_id', 'position',
                                            'shard').collect()]

    def _compact(self, ctx, state):
        from ons_utils_spark.sources.compaction import compact_table

        state['compacted'] = os.path.join(state['root'], 'compacted')
        compact_table(ctx.spark, state['url']['out'], state['compacted'],
                      target_bytes=1 << 20)

    # -- checks
    # read back with pyarrow, independently of the engine under test
    def _ids(self, path):
        return pq.read_table(path, columns=['doc_id']).column(0).to_pylist()

    def _check_url(self, ctx, state, _):
        table = pq.read_table(state['url']['out'], columns=['doc_id', 'key'])
        check.expect_ids(table.column(0).to_pylist(), ctx.want, 'url dedup')
        if len(set(table.column(1).to_pylist())) != table.num_rows:
            raise check.CheckError('url dedup: a canonical key repeats')

    def _check_shards(self, ctx, state, _):
        check.expect_ids(self._ids(state['shards']), ctx.want,
                         'training shards')

    def _check_read(self, ctx, state, rows):
        check.expect_ids([r[0] for r in rows], ctx.want, 'shard read')
        positions = sorted(r[1] for r in rows)
        if positions != list(range(len(rows))):
            raise check.CheckError('shard read: positions are not 0..n-1')
        if any(int(r[2]) != r[1] // SHARD_SIZE for r in rows):
            raise check.CheckError('shard read: row in the wrong shard')

    def _check_compact(self, ctx, state, _):
        check.expect_ids(self._ids(state['compacted']), ctx.want,
                         'compaction')


WORKLOADS = {
    # one operation per operator layer: scans, joins and shuffles with
    # the reference's own operators (concat, grouped, joins, reshape);
    # text, dedup-clustering and similarity operators; an iterative
    # graph operator (many small jobs, lineage cuts, driver time)
    'etl-graph-neardup': BatchWorkload(
        ['q_concat_extracts', 'q_grouped_demean', 'q_asof_user_purchase',
         'reshape_roundtrip', 'q_tfidf_top_terms', 'q_dedup_keep_best',
         'q_bitext_mine', 'q_label_prop'],
        ('lineitem', 'orders', 'customer', 'nation', 'region', 'part',
         'supplier', 'events', 'documents', 'embeddings')),
    'incremental-ingest': IngestWorkload(),
}
