"""Pin the ``query_mix`` references: run each headline query's DuckDB
``oracle_sql()`` over the checked-in tables and write the digests of their
rows to ``perfbench/query_digests.json``.

    python3 perfbench/pin_digests.py

Run from the repository root whenever the tables or an oracle change.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

import duckdb  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from bench import HEADLINE  # noqa: E402
from perfbench.workloads import DATA_DIR, DIGESTS, digest  # noqa: E402


def main() -> None:
    oracles = em.oracle_sql()
    con = duckdb.connect()
    for name in sorted(os.listdir(DATA_DIR)):
        table = name.removesuffix('.parquet')
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA_DIR, name)}')")
    out = {}
    for name in HEADLINE:
        cur = con.execute(oracles[name])
        out[name] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    with open(DIGESTS, 'w') as f:
        json.dump(out, f, indent=2)
        f.write('\n')
    print(f'{len(out)} digests -> {os.path.relpath(DIGESTS)}')


if __name__ == '__main__':
    main()
