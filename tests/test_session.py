"""Session defaults: the compiled-class cache and its warning."""
from __future__ import annotations

import logging
import random

from pyspark.sql import functions as F

from ons_utils_spark import session
from ons_utils_spark.session import CODEGEN_CACHE_CONF, get_spark

# Spark's own default for CODEGEN_CACHE_CONF
SPARK_DEFAULT_CACHE = 100


def _compiles(spark) -> int:
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def _pipeline(spark, salt: int, i: int):
    """Aggregate, re-project and sort; ``salt`` is a literal in every
    stage, so its generated classes are new to this JVM.  One chain of
    stages: AQE numbers them in the same order on every run."""
    v = F.col('id') * (i + 2) + salt
    return (spark.range(0, 256, 1, 2)
            .select((F.col('id') % (i + 3)).alias('k'), v.alias('v'))
            .groupBy('k')
            .agg(F.sum(F.col('v') - salt).alias('s'), F.max('v').alias('m'))
            .select('k', (F.col('s') + F.col('m') % (salt + i)).alias('x'))
            .orderBy(F.col('x') + salt))


def test_session_uses_library_cache_size(spark_session):
    assert spark_session.conf.get(CODEGEN_CACHE_CONF) \
        == session.DEFAULT_CONFS[CODEGEN_CACHE_CONF]
    assert int(session.DEFAULT_CONFS[CODEGEN_CACHE_CONF]) \
        > SPARK_DEFAULT_CACHE


def test_rerun_pipelines_compile_nothing(spark_session):
    """Pipelines that together generate more classes than Spark's
    default cache holds find all of them cached when they run again."""
    salt = random.randrange(1 << 20, 1 << 30)

    def run_all():
        before = _compiles(spark_session)
        for i in range(32):
            _pipeline(spark_session, salt, i).write.format('noop') \
                .mode('overwrite').save()
        return _compiles(spark_session) - before

    first = run_all()
    assert first > SPARK_DEFAULT_CACHE
    assert run_all() == 0


def _get_spark_logs(spark_session, monkeypatch, caplog, wanted: int):
    # only the static cache conf: the shared test session's runtime
    # confs stay as they are
    monkeypatch.setattr(session, 'DEFAULT_CONFS',
                        {CODEGEN_CACHE_CONF: str(wanted)})
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert get_spark() is spark_session
    return [r for r in caplog.records if r.name == session.__name__]


def test_logs_when_running_session_caches_fewer(
        spark_session, monkeypatch, caplog):
    live = int(spark_session.conf.get(CODEGEN_CACHE_CONF))
    records = _get_spark_logs(spark_session, monkeypatch, caplog,
                              live * 2)
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    msg = records[0].getMessage()
    assert CODEGEN_CACHE_CONF in msg
    assert f'caches {live} compiled classes' in msg
    assert f'the {live * 2} requested' in msg


def test_no_log_when_running_session_cache_suffices(
        spark_session, monkeypatch, caplog):
    live = int(spark_session.conf.get(CODEGEN_CACHE_CONF))
    assert _get_spark_logs(spark_session, monkeypatch, caplog, live) == []
