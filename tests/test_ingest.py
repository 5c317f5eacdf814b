"""Loader-transform pipeline tests (SURVEY §3.3): hash rows → index rows,
checked against hand-computed reference semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.operators import similarity as S
from shotit_worker_spark.plans import ingest, search


def _hash_rows():
    # two files; f1 has a dup frame inside 2 s (dropped by D1)
    return [
        ("a/f1.mp4", 0.00, "hiA", "ff 00"),
        ("a/f1.mp4", 0.50, "hiA", "ff 00"),   # D1 dup (same hi, <2 s)
        ("a/f1.mp4", 1.00, "hiB", "80 40"),
        ("a/f1.mp4", 3.00, "hiA", "ff 00"),   # re-appears after 2 s → kept, but D2 pk-dup
        ("b/f2.mp4", 0.00, "hiC", "10"),
    ]


@pytest.fixture(scope="module")
def index_rows(spark):
    hashes = spark.createDataFrame(
        _hash_rows(), "file string, time double, hi string, ha string"
    )
    return ingest.loader_transform(hashes, dim=4).cache()


def test_d1_then_d2_dedup(index_rows):
    # D1 drops (f1, 0.5); D2 keeps one row per primary_key per... pk is
    # charcode_sum(hi), so f1's re-appearing hiA at t=3.0 collides with
    # t=0.0 and the earliest wins. f2's hiC survives (different pk? no —
    # pk is content-derived and collision-tolerated; hiC≠hiA sum differs)
    got = {(r["file"], r["time"]) for r in index_rows.collect()}
    assert got == {("a/f1.mp4", 0.0), ("a/f1.mp4", 1.0), ("b/f2.mp4", 0.0)}


def test_vector_normalized(index_rows):
    row = index_rows.filter(
        (F.col("file") == "a/f1.mp4") & (F.col("time") == 0.0)
    ).first()
    norm = math.sqrt(255.0**2)
    assert row["vector"] == pytest.approx([1.0, 0.0, 0.0, 0.0], abs=1e-9)
    assert row["hash_id"] == "a/f1.mp4/0.00"
    assert row["primary_key"] == sum(ord(c) for c in "hiA")


def test_duration_is_pre_dedup_max_time(index_rows):
    # duration = max(time) per file over the FULL hash list — the
    # reference computes it from the sorted list (loader.js:200) before
    # the dedup pass (loader.js:202-212)
    durs = {r["file"]: r["duration"] for r in index_rows.collect()}
    assert durs["a/f1.mp4"] == pytest.approx(3.0)
    assert durs["b/f2.mp4"] == pytest.approx(0.0)


def test_query_vector_from_ha_roundtrip():
    v = search.query_vector_from_ha("ff 00", 4)
    assert v == pytest.approx([1.0, 0.0, 0.0, 0.0])
    # all-zero stays zero (no NaN)
    z = search.query_vector_from_ha("0 0", 4)
    assert list(z) == [0.0, 0.0, 0.0, 0.0]


def test_search_exact_self_hit(spark, index_rows):
    q = search.query_vector_from_ha("80 40", 4)
    hits = S.exact_topk(index_rows, list(q), k=1).collect()
    assert hits[0]["hash_id"] == "a/f1.mp4/1.00"
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-9)
