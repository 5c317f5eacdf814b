"""Local mirror of the driver's correctness gate.

Runs every queries() entry at a given sf dir through Spark AND its
oracle_sql() through DuckDB, canonicalizes (column-name sort, %.4f on
floats, ISO timestamps, row sort), and diffs. Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from shotit_worker_spark.session import get_spark


def canon_value(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # pandas renders SQL NULL in float columns as NaN; the driver
            # hash-matched q07's NULL lags in r1, so NaN must canon as NULL.
            return "NULL"
        return f"{v:.4f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(canon_value(x) for x in v.tolist()) + "]"
        if isinstance(v, np.floating):
            return canon_value(float(v))
        if isinstance(v, np.integer):
            return str(int(v))
    except ImportError:
        pass
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append("|".join(canon_value(vals[i]) for i in order))
    return sorted(out)


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_views(sf_dir):
    """A DuckDB connection with one view per fixture table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_rows(con, sql):
    """(columns, rows) of an oracle query, fetched the driver's way."""
    # Fetch through pandas — the driver's harness does, and DuckDB
    # HUGEINT (e.g. sum(BIGINT)) becomes float64 there ("3549.0"),
    # which fetchall() (Python ints) would silently mask (r1 bug:
    # q45/q46/q47/q60 passed here but failed the driver).
    ddf = con.sql(sql).df()
    return ([str(c) for c in ddf.columns],
            [tuple(r) for r in ddf.itertuples(index=False, name=None)])


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            dcols, drows = oracle_rows(con, oracles[name])
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:400]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: columns differ spark={sorted(scols)} "
                  f"duck={sorted(dcols)}")
            continue
        s = canon_rows(scols, srows)
        d = canon_rows(dcols, drows)
        if len(s) != len(d):
            failures.append(name)
            print(f"FAIL {name}: row counts differ spark={len(s)} duck={len(d)}")
            print("  spark sample:", s[:2])
            print("  duck  sample:", d[:2])
            continue
        bad = [(a, b) for a, b in zip(s, d) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)}/{len(s)} canonical rows differ; first:")
            for a, b in bad[:3]:
                print(f"  spark: {a[:200]}")
                print(f"  duck : {b[:200]}")
            continue
        print(f"PASS {name} ({len(s)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
