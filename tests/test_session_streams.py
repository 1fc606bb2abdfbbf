"""The staged-input and file-source stream queries of ``plans/queries.py``.

Each of these queries builds an on-disk artifact once per session through
``_session_dir`` (staged chunks, a written corpus, or a stream's store,
checkpoint and output) and reads it back.  The oracle tests run every one
of them twice at sf0.001 against its DuckDB oracle: the second call must
reuse the session artifact, leave no stream running and return the same
rows.  The unit tests pin the two helper rules no query exercises: one
directory per ``sf_dir``, and a stream that outlives its wait is stopped.
"""
from __future__ import annotations

import os
from types import SimpleNamespace

import duckdb
import pytest

from test_round2_queries import SF

from ons_utils_spark.operators import lineage
from ons_utils_spark.plans import queries
from ons_utils_spark.plans.queries import ORACLES, QUERIES
from tools.check_correctness import normalize, type_mismatches

STAGED_QUERIES = (
    'q_incremental_url_dedup', 'q_incremental_embedding_dedup',
    'q_incremental_winnow_dedup', 'q_incremental_minhash_dedup',
    'q_incremental_simhash_dedup', 'q_incremental_line_dedup',
    'q_mjpeg_stream_stats', 'q_training_shards', 'q_shard_resume',
    'q_warc_records', 'q_warc_mime_stats', 'q_orc_roundtrip')


@pytest.fixture(scope='module')
def oracle_db():
    con = duckdb.connect()
    for t in ('documents', 'embeddings'):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _run(spark, name):
    with lineage.scope():
        sdf = QUERIES[name](spark, SF)
        return sdf, [tuple(r) for r in sdf.collect()]


@pytest.mark.parametrize('name', STAGED_QUERIES)
def test_matches_oracle_and_reruns_from_the_session_artifact(
        spark_session, oracle_db, name):
    sdf, rows = _run(spark_session, name)
    rel = oracle_db.sql(ORACLES[name])
    assert type_mismatches(sdf, rel) == []
    assert normalize(rows, sdf.columns) == normalize(
        rel.fetchall(), [d[0] for d in rel.description])

    built = set(queries._ANN_ARTIFACTS)
    again, rerows = _run(spark_session, name)
    assert set(queries._ANN_ARTIFACTS) == built
    assert spark_session.streams.active == []
    assert normalize(rerows, again.columns) == normalize(
        rows, sdf.columns)


def _fake_session(app):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app))


def test_session_dir_keys_the_directory_like_the_artifact(monkeypatch):
    """Two data directories with one basename get two directories,
    and each is built once per session."""
    monkeypatch.setattr(queries, '_ANN_ARTIFACTS', {})
    built = []
    spark = _fake_session('app-1')
    paths = [queries._session_dir(spark, sf_dir, 'probe', built.append)
             for sf_dir in ('/data/a/sf0.01', '/data/b/sf0.01',
                            '/data/a/sf0.01')]
    assert paths[0] != paths[1]
    assert paths[2] == paths[0]
    assert built == paths[:2]
    assert all(os.path.basename(os.path.dirname(p)).startswith('sf0.01')
               for p in paths)
    other = queries._session_dir(
        _fake_session('app-2'), '/data/a/sf0.01', 'probe', built.append)
    assert other != paths[0]


class _StuckQuery:
    stopped = False

    def awaitTermination(self, timeout):
        self.timeout = timeout
        return False

    def stop(self):
        self.stopped = True


class _FakeReader:
    def __getattr__(self, name):
        return lambda *args, **kwargs: self


def test_run_stream_stops_a_stream_that_outlives_its_wait():
    stuck = _StuckQuery()
    spark = SimpleNamespace(readStream=_FakeReader())
    with pytest.raises(RuntimeError, match='q_probe_stream'):
        queries._run_stream(spark, 'q_probe_stream', '/src',
                            'id long', lambda stream: stuck)
    assert stuck.stopped
    assert stuck.timeout == 600
