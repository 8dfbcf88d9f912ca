"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf, compare
row count, column names, and order-insensitive value hashes.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents", "events"]


def value_hash(rows, cols):
    cols_sorted = sorted(cols)
    idx = [cols.index(c) for c in cols_sorted]
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in idx) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from yaii_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: no oracle_sql() entry")
            continue
        try:
            ddf = con.sql(oracles[name])
            d_cols = [c for c in ddf.columns]
            d_rows = ddf.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_count = len(s_rows) == len(d_rows)
        ok_hash = ok_cols and value_hash(s_rows, s_cols) == value_hash(d_rows, d_cols)
        status = "PASS" if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status} {name}: rows {len(s_rows)}/{len(d_rows)} cols={'ok' if ok_cols else (s_cols, d_cols)} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} [{time.time()-t0:.1f}s]"
        )
        if status == "FAIL" and ok_cols:
            sset = {tuple(map(_norm_cell, r)) for r in s_rows}
            dset = {tuple(map(_norm_cell, r)) for r in d_rows}
            print(f"   spark-only: {list(sset - dset)[:3]}")
            print(f"   duck-only:  {list(dset - sset)[:3]}")
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
