"""Local mimic of the driver's correctness check: run every queries() entry
and its oracle_sql() on the same sf dir, compare row count, schema, and
order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from geostructures_spark.plans.session import get_session


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind='mergesort').reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f'SCHEMA MISMATCH: spark={list(a.columns)} duck={list(b.columns)}'
    if len(a) != len(b):
        return f'ROWCOUNT MISMATCH: spark={len(a)} duck={len(b)}'
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            both_nan = np.isnan(av) & np.isnan(bv)
            if not np.all(both_nan | (av == bv)):
                bad = np.where(~(both_nan | (av == bv)))[0][:3]
                return (f'VALUE MISMATCH col={c} rows={bad.tolist()} '
                        f'spark={av[bad].tolist()} duck={bv[bad].tolist()}')
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                bad = np.where(av.astype(str) != bv.astype(str))[0][:3]
                return (f'VALUE MISMATCH col={c} rows={bad.tolist()} '
                        f'spark={av[bad].tolist()} duck={bv[bad].tolist()}')
    return 'OK'


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.001'
    only = set(sys.argv[2:])
    spark = get_session()
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(sf_dir, f'{t}.parquet')
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f'SPARK ERROR: {type(e).__name__}: {str(e)[:300]}'
            print(f'{name:35s} {results[name]}')
            continue
        if name not in oracles:
            results[name] = f'rows-only: {len(sdf)} rows'
            print(f'{name:35s} {results[name]} ({time.time()-t0:.1f}s)')
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f'DUCK ERROR: {type(e).__name__}: {str(e)[:300]}'
            print(f'{name:35s} {results[name]}')
            continue
        results[name] = compare(name, sdf, ddf)
        print(f'{name:35s} {results[name]} ({len(sdf)} rows, {time.time()-t0:.1f}s)')

    n_ok = sum(1 for v in results.values() if v == 'OK' or v.startswith('rows-only'))
    print(f'\n{n_ok}/{len(results)} OK')
    spark.stop()
    return 0 if n_ok == len(results) else 1


if __name__ == '__main__':
    sys.exit(main())
