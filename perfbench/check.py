"""Output checks for the benchmark operations.

Batch queries are compared with their DuckDB oracle (``ORACLES`` in
``plans.queries``) run over the same generated tables.  Rows are
compared as multisets; floats match within a relative tolerance,
because a distributed double sum depends on summation order (on an
8x tiled sf0.1 input ``q_rollup_revenue`` differs from DuckDB in the
last digit).  Ingest results are compared with a replay of the same
arrival order.
"""
from __future__ import annotations

import datetime
import decimal
import math
import os

REL_TOL = 1e-9
ABS_TOL = 1e-9


class CheckError(AssertionError):
    """An operation's output disagrees with its reference."""


def duckdb_views(data_dir: str, tables):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f'{t}.parquet')
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle(con, sql: str):
    """``(columns, rows)`` of ``sql`` on DuckDB."""
    rel = con.sql(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    # numbers sort by value, everything else (None, NaN, text) by repr
    return tuple((0, v, '') if isinstance(v, (int, float))
                 and not isinstance(v, bool) and v == v
                 else (1, 0, repr(v)) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def normalize(columns, rows):
    """Columns sorted by name, values canonicalized, rows sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    return [columns[i] for i in idx], sorted(out, key=_sort_key)


def compare(got_cols, got_rows, want_cols, want_rows) -> None:
    """Raise :class:`CheckError` unless both results hold the same rows."""
    gc, gr = normalize(got_cols, got_rows)
    wc, wr = normalize(want_cols, want_rows)
    if gc != wc:
        raise CheckError(f'columns {gc} != {wc}')
    if len(gr) != len(wr):
        raise CheckError(f'{len(gr)} rows != {len(wr)}')
    for a, b in zip(gr, wr):
        if not _same(a, b):
            raise CheckError(f'row {a} != {b}')


# ---------------------------------------------------------------- ingest

def replay_dedup(docs: dict, batches, key: str):
    """Accepted doc ids of a streaming dedup on ``docs[id][key]``:
    in each micro-batch the lowest id per key wins, and a key accepted
    by an earlier batch drops every later arrival."""
    accepted, seen = set(), set()
    for batch in batches:
        best: dict = {}
        for doc_id in batch:
            k = docs[doc_id][key]
            if k not in seen and (k not in best or doc_id < best[k]):
                best[k] = doc_id
        accepted.update(best.values())
        seen.update(best)
    return accepted


def expect_ids(got, want, what: str) -> None:
    got_list = list(got)
    if len(got_list) != len(set(got_list)):
        raise CheckError(f'{what}: duplicate ids')
    missing, extra = set(want) - set(got_list), set(got_list) - set(want)
    if missing or extra:
        raise CheckError(f'{what}: missing {sorted(missing)[:5]}, '
                         f'extra {sorted(extra)[:5]}')
