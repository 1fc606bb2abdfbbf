"""SparkSession builder with scale-appropriate defaults.

The reference hardcoded a tiny production session
(config/validation.py:352-364: 1 GB × 1-core executors, 12 shuffle
partitions, Arrow pre-0.15 compat). This builder instead sets the
knobs that matter on a modern cluster and lets the deployment override
them: AQE on (runtime partition coalescing, broadcast conversion,
skew-join splitting), Arrow on for pandas interop, and a shuffle
partition count the caller sizes to the data.

It also sizes Spark's cache of compiled classes.  Every operator runs
as whole-stage generated Java, and the JVM keeps the compiled classes
in one LRU cache whose default of 100 entries is smaller than what
one pass of a typical pipeline generates.  A pipeline that runs
again (a second pass, the next micro-batch, the next query of a
suite) then finds none of its classes: it pays Janino compilation
and JIT warm-up for every stage, every time.  The cache size is a
static conf that the JVM reads once, at its first code generation,
so it can only be a default of the process's first session, never a
per-query setting.
"""
from __future__ import annotations

import logging
import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

CODEGEN_CACHE_CONF = 'spark.sql.codegen.cache.maxEntries'

DEFAULT_CONFS = {
    'spark.sql.adaptive.enabled': 'true',
    'spark.sql.adaptive.coalescePartitions.enabled': 'true',
    'spark.sql.adaptive.skewJoin.enabled': 'true',
    'spark.sql.execution.arrow.pyspark.enabled': 'true',
    'spark.sql.session.timeZone': 'UTC',
    # Parquet timestamps without isAdjustedToUTC load as LTZ instants
    # (not TIMESTAMP_NTZ) so epoch casts / unix_timestamp work and
    # results match zone-naive engines (DuckDB) under the UTC pin.
    'spark.sql.parquet.inferTimestampNTZ.enabled': 'false',
    'spark.ui.showConsoleProgress': 'false',
    # Runtime row-level pruning for large sort-merge joins: build a
    # bloom filter from the (filtered) build side and push it into the
    # probe-side scan. No-op on small/broadcast joins; at fact-fact
    # scale it cuts the shuffled probe rows before the exchange.
    # (Do NOT also enable runtimeFilter.semiJoinReduction — combined
    # with the bloom filter it deadlocks session startup on 4.1.)
    'spark.sql.optimizer.runtime.bloomFilter.enabled': 'true',
    # Compiled-class cache, JVM-wide, LRU; Spark's default is 100.
    # Entries one cold pass fills (CodegenMetrics compilations under a
    # large cache; an entry is one generated body per class loader, so
    # a stage compiled on the driver and again in tasks takes two):
    # perfbench etl-graph-neardup 231, incremental-ingest 95, one
    # sequential pass of the 221 bench.py queries at sf0.1 2863.  At
    # 100 a warm pass recompiled 264-266 (etl), 49-50 (ingest) and
    # 4297 (bench.py) classes; at 4096, 0, 0-2 and 26.  4096 holds the
    # largest set with ~40% to spare.  The held classes live in
    # metaspace: 230 MB in use after two bench.py passes against
    # 210 MB at 100; 168 MB after four etl passes against 173 MB at
    # 100, where recompiled classes pile up until a GC unloads them.
    CODEGEN_CACHE_CONF: '4096',
    # Name generated classes `GeneratedIterator` instead of
    # `GeneratedIteratorForCodegenStage<N>`.  The stage id stays in the
    # plan and the code's comments, but leaves the cache key: AQE
    # numbers stages in the order their inputs finish, so the same
    # pipeline got a new id, and a new class, whenever two concurrent
    # stages finished in the other order, and equal pipelines at
    # different stage positions compiled apart.
    'spark.sql.codegen.useIdInClassName': 'false',
}


def get_spark(
    app_name: str = 'ons-utils-spark',
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_confs: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[N]`` with N from the
    ``SPARK_GRAFT_CPUS`` env var (fallback: all cores) when no cluster
    manager is configured; on a real cluster pass ``master=None`` and
    submit via spark-submit.

    ``getOrCreate`` returns an already running session as it is, and
    static confs such as the compiled-class cache size
    (``CODEGEN_CACHE_CONF``) cannot change after it started.  When
    that session's cache is smaller than the one requested, this is
    logged as a warning on the ``ons_utils_spark.session`` logger.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and 'SPARK_MASTER' not in os.environ:
        cpus = os.environ.get('SPARK_GRAFT_CPUS', '*')
        master = f'local[{cpus}]'
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs['spark.sql.shuffle.partitions'] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    live = spark.conf.get(CODEGEN_CACHE_CONF)
    if int(live) < int(confs[CODEGEN_CACHE_CONF]):
        _log.warning(
            'the running Spark session caches %s compiled classes, '
            'fewer than the %s requested; %s is static, so pipelines '
            'that generate more classes recompile them on every run. '
            'Set it before the first session of the process starts.',
            live, confs[CODEGEN_CACHE_CONF], CODEGEN_CACHE_CONF)
    return spark
