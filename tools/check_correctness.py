"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given SF, compares row count, column names, and
order-insensitive values. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""
from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from ons_utils_spark import get_spark  # noqa: E402
from ons_utils_spark.operators import lineage  # noqa: E402


def normalize(rows, columns):
    """Sort columns by name, canonicalize values, sort rows."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = 'NaN'
                else:
                    v = round(v, 9)
            elif hasattr(v, 'isoformat'):
                v = v.isoformat()
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out), [columns[i] for i in idx]


def _spark_kind(dtype: str) -> str:
    """Collapse a Spark dtype string to a cross-engine kind."""
    d = dtype.lower()
    if d in ('tinyint', 'smallint', 'int', 'bigint', 'long', 'integer'):
        return 'int'
    if d in ('float', 'double'):
        return 'float'
    if d.startswith('decimal'):
        return 'decimal'
    if d in ('string', 'varchar'):
        return 'str'
    if d == 'date':
        return 'date'
    if d.startswith('timestamp'):
        return 'ts'
    if d == 'boolean':
        return 'bool'
    return d


def _duck_kind(dtype: str) -> str:
    """Collapse a DuckDB type string to a cross-engine kind.

    128-bit integer types get their own kind on purpose: the driver's
    canonical hash distinguishes them from BIGINT (TODO.md pitfall #3 —
    an uncast ``sum()`` over integers returns HUGEINT), so the mirror
    must fail any oracle that emits one even though the Python values
    compare equal.
    """
    d = dtype.upper()
    if d in ('TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT',
             'UTINYINT', 'USMALLINT', 'UINTEGER'):
        return 'int'
    if d in ('HUGEINT', 'UHUGEINT', 'UBIGINT'):
        return 'int128'  # never matches — cast to BIGINT in the oracle
    if d in ('FLOAT', 'DOUBLE', 'REAL'):
        return 'float'
    if d.startswith('DECIMAL'):
        return 'decimal'
    if d in ('VARCHAR', 'STRING', 'TEXT'):
        return 'str'
    if d == 'DATE':
        return 'date'
    if d.startswith('TIMESTAMP'):
        return 'ts'
    if d == 'BOOLEAN':
        return 'bool'
    return d.lower()


def type_mismatches(sdf, rel):
    """Return [(col, spark_kind, duck_kind)] for kind-incompatible cols.

    Mirrors the driver canon's type sensitivity: matching values with
    mismatched storage kinds (e.g. BIGINT vs HUGEINT) still hash-fail
    on the driver, so they must fail here too.
    """
    skinds = {c: _spark_kind(t) for c, t in sdf.dtypes}
    out = []
    for d, t in zip(rel.description, rel.types):
        col = d[0]
        dk = _duck_kind(str(t))
        sk = skinds.get(col)
        if sk is not None and sk != dk:
            out.append((col, sk, dk))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    only = set(sys.argv[2:])
    unknown = only - set(entry_mod.queries())
    if unknown:
        # a typo'd name must FAIL loudly — an empty selection prints
        # "all queries match" vacuously (bit us in r9)
        raise SystemExit(
            f'unknown queries: {sorted(unknown)} — not in the'
            ' registry')

    spark = get_spark('correctness', master='local[8]',
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel('ERROR')

    con = duckdb.connect()
    for t in ('region nation customer supplier part orders lineitem'
              ' events documents embeddings').split():
        path = os.path.join(sf_dir, f'{t}.parquet')
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{path}'"
            )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # one release scope per query: every frame its operators
            # cut or keep is freed when the query's rows are in hand
            with lineage.scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f'FAIL  {name}: spark error: {e}')
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f'rows  {name}: {len(srows)} rows (rows-only check)'
                  f' [{dt:.1f}s]')
            if len(srows) == 0:
                print(f'WARN  {name}: zero rows')
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f'FAIL  {name}: duckdb error: {e}')
            failures.append(name)
            continue
        bad_types = type_mismatches(sdf, rel)
        s_norm, s_cols = normalize(srows, scols)
        o_norm, o_cols = normalize(orows, ocols)
        if bad_types:
            print(f'FAIL  {name}: type-kind mismatch {bad_types}'
                  ' (driver canon is type-sensitive; cast the oracle)')
            failures.append(name)
        elif s_cols != o_cols:
            print(f'FAIL  {name}: columns {s_cols} != {o_cols}')
            failures.append(name)
        elif len(s_norm) != len(o_norm):
            print(f'FAIL  {name}: rows {len(s_norm)} != {len(o_norm)}')
            failures.append(name)
        elif s_norm != o_norm:
            bad = [
                (a, b) for a, b in zip(s_norm, o_norm) if a != b
            ][:3]
            print(f'FAIL  {name}: value mismatch, e.g. {bad}')
            failures.append(name)
        else:
            print(f'OK    {name}: {len(s_norm)} rows match [{dt:.1f}s]')

    print()
    if failures:
        print(f'{len(failures)} FAILURES: {failures}')
        return 1
    print('all queries match')
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
