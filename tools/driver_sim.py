"""Local simulator of the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare to ``oracle_sql()`` via
DuckDB — row count, column names/types, order-insensitive value hash
(columns sorted by name, rows sorted, values normalized).

Usage: python tools/driver_sim.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in, not whichever one is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents".split()
SF_DIR = "/root/testdata/sf0.01"


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = norm_frame(df)
    h = hashlib.md5()
    for c in df.columns:
        for v in df[c]:
            if isinstance(v, float):
                v = repr(round(v, 9))
            h.update(str(v).encode())
            h.update(b"\x1f")
    return h.hexdigest()


def main(names=None):
    import __spark_entry__ as e
    from pignlproc_spark.session import get_session

    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = e.queries()
    oracles = e.oracle_sql()
    names = names or list(qs)
    results = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as ex:
            results[name] = f"SPARK-ERROR {type(ex).__name__}: {str(ex)[:300]}"
            continue
        if name not in oracles:
            results[name] = f"rows-only rows={len(sdf)} ({time.time()-t0:.1f}s)"
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            results[name] = f"ORACLE-ERROR {type(ex).__name__}: {str(ex)[:300]}"
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash MISMATCH")
            a, b = norm_frame(sdf), norm_frame(odf)
            try:
                diff = a.compare(b)
                problems.append(f"first diffs:\n{diff.head(5)}")
            except Exception:
                problems.append(f"spark head:\n{a.head(3)}\noracle head:\n{b.head(3)}")
        results[name] = ("OK" if not problems else "FAIL: " + "; ".join(problems)) + f" rows={len(sdf)} ({time.time()-t0:.1f}s)"

    width = max(len(n) for n in results)
    fails = 0
    for name, r in results.items():
        print(f"{name:<{width}}  {r}")
        if r.startswith(("FAIL", "SPARK-ERROR", "ORACLE-ERROR")):
            fails += 1
    print(f"\n{len(results) - fails}/{len(results)} passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
