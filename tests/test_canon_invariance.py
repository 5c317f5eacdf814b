"""Canonicalization-stability pins for the money-sum gates.

The r10 driver flake (q113): a raw ``sum(double)`` at ~1e9+ magnitude
has 2-3 legal ``%.4f`` canonicalizations one ulp apart depending on
the aggregation order, so the driver hash could flip even though the
values were right.  r11 rewrote every hash-sensitive money aggregate
in the recorded window (q01, q02, q113) to sum EXACT CENTS (long,
order-independent) and divide once.

These tests pin the fix the way the r10 VERDICT asked: the canonical
string of each swept query must be invariant under
``spark.sql.shuffle.partitions`` in {2, 200} (different partial-agg
trees) AND equal to the DuckDB oracle's canonical string, at the
driver's gate scale (sf0.01).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import canon_rows, duckdb_views, oracle_rows  # noqa: E402

SF_GATE = "/root/testdata/sf0.01"

SWEPT = ["q01_pricing_summary", "q02_revenue_by_nation",
         "q113_bucketed_join",
         # r12: the full-surface sweep (tools/canon_sweep.py over all
         # 120 at sf0.01) flagged these displaced money-sum rows at
         # >= 1e7 magnitude (q19 3.8e9, q26 2.6e8, q16 4.1e7); q03 and
         # q18 are the same shape at smaller magnitude today and were
         # named by the r11 VERDICT — all five now sum exact cents
         "q03_top_revenue_orders", "q16_avg_quantity_filter",
         "q18_promo_revenue", "q19_cube", "q26_pivot"]


def _canon(spark, name):
    sdf = entrymod.queries()[name](spark, SF_GATE)
    return canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])


@pytest.mark.parametrize("name", SWEPT)
def test_canon_invariant_under_shuffle_partitions(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        low = _canon(spark, name)
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        high = _canon(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert low == high, name


@pytest.mark.parametrize("name", SWEPT)
def test_canon_matches_oracle_at_gate_scale(spark, name):
    con = duckdb_views(SF_GATE)
    try:
        dcols, drows = oracle_rows(con, entrymod.oracle_sql()[name])
    finally:
        con.close()
    s = _canon(spark, name)
    d = canon_rows(dcols, drows)
    assert s == d, (name, [x for x in zip(s, d) if x[0] != x[1]][:3])
