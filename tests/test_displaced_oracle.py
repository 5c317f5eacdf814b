"""Driver-equivalent oracle verification for the declared queries that
sit PAST the driver's 50-row CORRECTNESS recording cap (positions
51+ of ``queries()``).

The r5 ADVICE asked that rotated-out queries keep independent
verification ("rotate displaced queries back in across rounds or add
equivalent oracle checks in tests"); this is the second branch, and it
is stronger than rotation: every displaced query is replayed through
the EXACT compare the driver runs — same DuckDB views, same canonical
value form (column-name sort, %.4f floats, NaN→NULL), same row-sort +
equality — on every pytest run, not once per round.

The displaced set is derived from ``queries()`` order at runtime, so
future rotations are covered automatically without editing this file.
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

SF_DIR = "/root/testdata/sf0.001"
DRIVER_CAP = 50

DISPLACED = list(entrymod.queries().keys())[DRIVER_CAP:]


@pytest.fixture(scope="module")
def duck():
    con = duckdb_views(SF_DIR)
    yield con
    con.close()


def test_displaced_set_is_the_expected_rotation():
    # pin the r8 rotation so an accidental reorder of queries() that
    # silently drops a NEW gate past the cap fails loudly here
    # (r8: q80_zorder took q22's recorded slot; q22 displaced;
    # q81_heavy_hitters registers past the cap by design)
    assert len(entrymod.queries()) == 122
    assert set(DISPLACED) == {
        "q03_top_revenue_orders", "q05_anti_join", "q06_window_topk",
        "q07_window_lag", "q08_set_ops", "q11_distinct_agg",
        "q12_rollup", "q14_left_join", "q15_approx_distinct",
        "q16_avg_quantity_filter", "q17_running_sum",
        "q18_promo_revenue", "q19_cube", "q22_knn_join",
        "q47_sequence_pack", "q60_json_extract", "q61_windows",
        "q78_animated_frames", "q79_bloom_dedup",
        "q81_heavy_hitters", "q82_quantile_sketch",
        "q83_theta_set_ops", "q84_pagerank", "q85_funnel",
        "q86_stratified_sample", "q87_count_min",
        "q88_phash", "q89_audio_match", "q90_cohort_retention",
        "q91_scene_cuts", "q92_exif", "q93_resample",
        "q94_jaccard_join", "q95_components", "q96_shards",
        "q97_salted_join", "q98_eval_metrics",
        # r9 gate wave (promoted r8 pytest-only operators; r10
        # rotation moved q105/q106 INTO the recorded window)
        "q99_cdc_chunks", "q100_merge_cdc", "q101_captions_align",
        "q102_pca", "q103_grouped_topterms", "q104_mfcc_embed",
        "q107_grouped_distinct", "q108_grouped_quantiles",
        # r9 wave 2 (r10 rotation moved q109/q111-q115 INTO the
        # recorded window; r11 moved q116/q121/q123 in too)
        "q110_stream_cohort",
        "q117_correlation", "q118_drift",
        "q119_ab_test", "q120_mutual_info",
        "q122_filtered_ann",
        "q124_key_skew",
        # r10: displaced for the q105/q106/q109/q111-q115 rotation
        "q26_pivot", "q27_percentiles", "q35_session",
        "q40_doc_stats", "q41_top_terms", "q46_hash_split",
        "q51_ngram_jaccard", "q55_repetition",
        # r11: displaced for the q116/q121/q123/q125-q127 rotation
        "q04_semi_join", "q25_srp_near_dup", "q54_simhash_pairs",
        "q63_ngram_lm", "q69_learned_rerank", "q70_url_canonical",
        # r12: displaced for the q128-q131 rotation (the whole r11
        # wave is now recorded)
        "q20_vector_norms", "q28_range_join", "q43_fingerprint",
        "q52_simhash",
        # r12 wave: past-the-cap by design (displaced replay +
        # check_oracle enforce them like q78+)
        "q132_index_family", "q133_stream_index",
    }
    # and every displaced query still has its oracle declared
    oracles = entrymod.oracle_sql()
    assert all(name in oracles for name in DISPLACED)


@pytest.mark.parametrize("name", DISPLACED)
def test_displaced_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    dcols, drows = oracle_rows(duck, sql)
    assert sorted(scols) == sorted(dcols), name
    s = canon_rows(scols, srows)
    d = canon_rows(dcols, drows)
    assert len(s) == len(d), name
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, (name, mismatches[:3])
