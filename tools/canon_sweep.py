"""Canon-fragility sweep over the FULL declared surface (r11 VERDICT
next-round #4).

The r10 q113 driver flake: a raw ``sum(double)`` at >= ~1e7 magnitude
has 2-3 legal ``%.4f`` canonicalizations one ulp apart depending on
Spark's partial-aggregation tree, so the driver's value hash can flip
run-to-run even though the values are right. r11 swept only the 50
recorded queries (hits: q01/q02/q113, fixed with exact-cents long
sums); this sweeps ALL 120 — the 70 displaced rows hash against
DuckDB in pytest under the same %.4f canon and were never swept.

For every query at the driver's gate SF it reports each float-typed
output column's max |value|; columns at or above the 1e7 fragility
threshold are flagged for the cents treatment (and for membership in
tests/test_canon_invariance.py's SWEPT list).

Usage: python tools/canon_sweep.py [sf_dir] [threshold]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 1e7

    import __spark_entry__ as entrymod
    from pyspark.sql import types as T

    from shotit_worker_spark.session import get_spark

    spark = get_spark(app_name="canon-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    flagged = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            float_cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            ]
            if not float_cols:
                print(f"{name}: no float columns")
                continue
            rows = df.select(float_cols).collect()
            for c in float_cols:
                vals = [
                    abs(r[c]) for r in rows
                    if r[c] is not None and not math.isnan(r[c])
                    and not math.isinf(r[c])
                ]
                mx = max(vals) if vals else 0.0
                mark = " <-- FRAGILE" if mx >= threshold else ""
                print(f"{name}.{c}: max|v| = {mx:.6g}{mark}")
                if mx >= threshold:
                    flagged.append((name, c, mx))
        except Exception as e:  # keep sweeping; report at the end
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            flagged.append((name, "<error>", float("nan")))
    print("\n=== flagged (max|v| >= %g) ===" % threshold)
    for name, c, mx in flagged:
        print(f"  {name}.{c}: {mx:.6g}")
    if not flagged:
        print("  (none)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
