"""Golden tests for the vector/scalar kernels (SURVEY §5.2.2).

Each kernel is checked against a pure-Python reimplementation of the
reference loop (/root/reference/loader.js:110-143, searcher.js:40-60),
with goldens derivable by hand.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.functions import scalar as SC
from shotit_worker_spark.functions import vector as V


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


# -- P9 hex decode ----------------------------------------------------------


def test_hex_tokens_to_floats(spark):
    out = _one(spark, V.hex_tokens_to_floats(F.lit("ff 0 a 10")))
    assert out == [255.0, 0.0, 10.0, 16.0]


def test_hex_tokens_blank_tokens_dropped(spark):
    out = _one(spark, V.hex_tokens_to_floats(F.lit("  1f  2  ")))
    assert out == [31.0, 2.0]


# -- P10 pad/truncate -------------------------------------------------------


@pytest.mark.parametrize(
    "tokens,dim,expect",
    [
        ([1.0, 2.0], 4, [1.0, 2.0, 0.0, 0.0]),
        ([1.0, 2.0, 3.0, 4.0, 5.0], 3, [1.0, 2.0, 3.0]),
        ([], 2, [0.0, 0.0]),
    ],
)
def test_pad_vector(spark, tokens, dim, expect):
    arr = F.array(*[F.lit(t) for t in tokens]).cast("array<double>")
    assert _one(spark, V.pad_vector(arr, dim)) == expect


# -- P11 L2 normalize -------------------------------------------------------


def test_l2_normalize_matches_reference_formula(spark):
    # loader.js:120-128: norm = sqrt(sum x^2); out = x / norm
    xs = [3.0, 4.0]
    out = _one(spark, V.l2_normalize(F.array(F.lit(3.0), F.lit(4.0))))
    norm = math.sqrt(sum(x * x for x in xs))
    for got, x in zip(out, xs):
        assert abs(got - x / norm) < 1e-6


def test_l2_normalize_zero_vector_passthrough(spark):
    out = _one(spark, V.l2_normalize(F.array(F.lit(0.0), F.lit(0.0))))
    assert out == [0.0, 0.0]


def test_l2_norm_unit_after_normalize(spark):
    v = F.array(*[F.lit(float(i)) for i in range(1, 11)])
    norm = _one(spark, V.l2_norm(V.l2_normalize(v)))
    assert abs(norm - 1.0) < 1e-9


# -- P12 charcode sum -------------------------------------------------------


def test_charcode_sum(spark):
    # loader.js:131-143: sum of char codes
    s = "abc"
    assert _one(spark, V.charcode_sum(F.lit(s))) == sum(ord(c) for c in s)


def test_charcode_sum_empty(spark):
    assert _one(spark, V.charcode_sum(F.lit(""))) == 0


# -- P8 hash_id -------------------------------------------------------------


def test_hash_id_two_decimals_no_separators(spark):
    # loader.js:241: `${file}/${time.toFixed(2)}`
    out = _one(spark, V.hash_id(F.lit("tt123/ep1.mp4"), F.lit(1234.5)))
    assert out == "tt123/ep1.mp4/1234.50"


# -- dot / cosine -----------------------------------------------------------


def test_dot_literal(spark):
    v = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))
    assert _one(spark, V.dot_literal(v, [4.0, 5.0, 6.0])) == pytest.approx(32.0)


def _bits(x):
    import struct

    return "nan" if math.isnan(x) else struct.pack("<d", x)


_EDGE_QUERY = [
    1.0, -2.5, 0.0, -0.0, 5e-324, -2.2250738585072014e-308, 1e-310,
    1.7976931348623157e308, -1e300, 0.1, 1 / 3, 123456789.123e-7,
]


@pytest.mark.parametrize("special", [[], [math.nan], [math.inf],
                                     [-math.inf]])
def test_dot_literal_sql_form_is_bit_identical(spark, special):
    # the one-call SQL-string array must score exactly like the
    # former F.array(F.lit(...)) build: negatives, subnormals, signed
    # zero, extremes; NaN and the infinities encode as values, never
    # as a bad SQL token
    import numpy as np

    query = _EDGE_QUERY + special
    rng = np.random.default_rng(3)
    rows = [
        ([float(x) for x in rng.normal(size=len(query)) * 10 ** e],)
        for e in (-310, -3, 0, 3, 300)
    ] + [([0.0] * len(query),), ([-0.0] * len(query),)]
    df = spark.createDataFrame(rows, "v array<double>")
    old_arr = F.array(*[F.lit(float(q)) for q in query])
    old = F.aggregate(
        F.zip_with(F.col("v"), old_arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    got = df.select(
        V.dot_literal("v", query).alias("new"), old.alias("old"),
        V.double_array(query).alias("arr"),
    ).collect()
    for r in got:
        assert _bits(r["new"]) == _bits(r["old"])
        assert [_bits(x) for x in r["arr"]] == [_bits(q) for q in query]


def test_cosine_similarity_parallel_vectors(spark):
    a = F.array(F.lit(1.0), F.lit(2.0))
    b = F.array(F.lit(2.0), F.lit(4.0))
    assert _one(spark, V.cosine_similarity(a, b)) == pytest.approx(1.0)


def test_cosine_zero_norm_is_zero(spark):
    a = F.array(F.lit(0.0), F.lit(0.0))
    b = F.array(F.lit(1.0), F.lit(1.0))
    assert _one(spark, V.cosine_similarity(a, b)) == 0.0


# -- full write-side kernel -------------------------------------------------


def test_decoded_padded_normalized_pipeline(spark):
    # "ff 80" → [255, 128, 0, 0] → /sqrt(255²+128²)
    out = _one(spark, V.decoded_padded_normalized(F.lit("ff 80"), 4))
    norm = math.sqrt(255.0**2 + 128.0**2)
    assert out == pytest.approx([255.0 / norm, 128.0 / norm, 0.0, 0.0], abs=1e-9)


# -- scalar kernels (P1-P5, P13-P14) ---------------------------------------


def test_path_projections(spark):
    p = F.lit("tt0112178/ep01.mp4")
    assert _one(spark, SC.path_imdb_id(p)) == "tt0112178"
    assert _one(spark, SC.path_file_name(p)) == "ep01.mp4"
    assert _one(spark, SC.path_depth(p)) == 2


def test_extension_predicate(spark):
    assert _one(spark, SC.has_extension(F.lit("a/b.MP4"), "mp4")) is True
    assert _one(spark, SC.has_extension(F.lit("a/b.mkv"), "mp4")) is False


def test_extract_pts_times(spark):
    log = F.lit("n: 0 pts_time:0.0417 pos: 12\nn: 1 pts_time:0.125 pos: 99")
    assert _one(spark, SC.extract_pts_times(log)) == [0.0417, 0.125]


def test_sniff_image_type(spark):
    png = F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D])).cast("binary")
    jpg = F.lit(bytes([0xFF, 0xD8, 0xFF, 0xE0, 0x00])).cast("binary")
    assert _one(spark, SC.sniff_image_type(png)) == "png"
    assert _one(spark, SC.sniff_image_type(jpg)) == "jpg"
