"""Shared fixtures: Spark session, frame constructors, Case parametrization.

Modeled on the reference test harness (tests/conftest.py:28-201) —
session-scoped local session, tuple-data constructors, and the
``Case``/``parametrize_cases`` labeled-parametrization pattern.
"""
from __future__ import annotations

import logging
from typing import Any, Mapping, Optional

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from ons_utils_spark.session import CODEGEN_CACHE_CONF, DEFAULT_CONFS


def suppress_py4j_logging() -> None:
    logging.getLogger('py4j').setLevel(logging.WARN)


@pytest.fixture(scope='session')
def spark_session():
    """Session-scoped local Spark session sized for unit tests.

    The compiled-class cache is sized once per JVM, by the first
    session, so this one takes the library's size: the suite then
    runs with the cache every ``get_spark`` session has."""
    suppress_py4j_logging()
    spark = (
        SparkSession.builder
        .master('local[4]')
        .appName('ons-utils-spark-tests')
        .config('spark.sql.shuffle.partitions', '4')
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.session.timeZone', 'UTC')
        .config('spark.ui.enabled', 'false')
        .config('spark.ui.showConsoleProgress', 'false')
        .config(CODEGEN_CACHE_CONF, DEFAULT_CONFS[CODEGEN_CACHE_CONF])
        .config('spark.sql.warehouse.dir',
                '/tmp/ons-utils-spark-test-warehouse')
        .getOrCreate()
    )
    yield spark


@pytest.fixture
def session_checkpoint_dir(spark_session, tmp_path):
    """Give the session a reliable-checkpoint directory for one test,
    so every operator's lineage cuts become reliable checkpoints
    written under the yielded path, and clear it on teardown (Spark
    has no public unset) so the rest of the suite cuts locally."""
    sc = spark_session.sparkContext
    path = tmp_path / 'checkpoints'
    sc.setCheckpointDir(str(path))
    yield path
    getattr(sc._jsc.sc(), 'checkpointDir_$eq')(sc._jvm.scala.Option.empty())


@pytest.fixture
def create_spark_df(spark_session):
    """Create a Spark DataFrame from tuple data; first row is the DDL
    schema string (or column list)."""
    def _(data):
        return spark_session.createDataFrame(list(data[1:]), schema=data[0])
    return _


@pytest.fixture
def to_spark(spark_session):
    """Convert a pandas DataFrame to Spark."""
    def _(df: pd.DataFrame, *args, **kwargs):
        return spark_session.createDataFrame(df, *args, **kwargs)
    return _


class Case:
    """A labeled test case carrying kwargs for parametrized tests."""

    def __init__(self, label: Optional[str] = None, **kwargs: Any):
        self.label = label
        self.kwargs = kwargs

    def __repr__(self) -> str:  # pragma: no cover
        return f'Case({self.label!r}, **{self.kwargs!r})'


def parametrize_cases(*cases: Case):
    """Parametrize a test with :class:`Case` objects.

    All cases must use the same kwarg names (missing keys default to
    None). The test function receives each kwarg as a parameter.
    """
    all_keys: list[str] = []
    for case in cases:
        for k in case.kwargs:
            if k not in all_keys:
                all_keys.append(k)
    argvalues = [
        pytest.param(
            *[case.kwargs.get(k) for k in all_keys],
            id=case.label or f'case{i}',
        )
        for i, case in enumerate(cases)
    ]
    return pytest.mark.parametrize(','.join(all_keys), argvalues)


# Reference conftest conveniences (tests/conftest.py:61-201 there):
# small fixtures its tests lean on, re-expressed for this harness.

@pytest.fixture
def spark_column():
    """Wrap a flat value list as one-column row tuples — the shape
    ``createDataFrame`` accepts when a bare list of scalars (with
    None/NaN mixed into a numeric column) would be ambiguous."""
    def _(vals):
        return [(v,) for v in vals]
    return _


@pytest.fixture
def all_in_output():
    """``all_in_output(output, values)`` — every element of
    ``output`` appears in ``values``."""
    def _(output, values):
        return all(x in values for x in output)
    return _


@pytest.fixture(params=['str', 'pathlib.Path'])
def make_path_like(request):
    """Yield the same filepath as both accepted path types: each
    consuming test runs once with ``str`` and once with ``Path``."""
    from pathlib import Path

    def _(filepath: str):
        return filepath if request.param == 'str' else Path(filepath)
    return _


@pytest.fixture(scope='class')
def filename_to_pandas():
    """Read a CSV test file under ``dir`` into pandas."""
    from pathlib import Path

    def _(filename: str, dir: str, *args, **kwargs):
        return pd.read_csv(Path(dir) / filename, *args, **kwargs)
    return _


@pytest.fixture(scope='class')
def filename_to_spark(spark_session):
    """Read a CSV test file under ``dir`` into a Spark DataFrame."""
    from pathlib import Path

    def _(filename: str, dir: str, *args, **kwargs):
        return spark_session.createDataFrame(
            pd.read_csv(Path(dir) / filename, *args, **kwargs))
    return _


@pytest.fixture
def suppress_warnings():
    """Silence warnings for one test WITHOUT leaking the filter into
    the rest of the session (the reference version mutates the
    global filter list; this one restores it on teardown)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter('ignore')
        yield
