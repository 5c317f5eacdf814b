"""spread(): the scan-parallelism repair and its exchange guard."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from shotit_worker_spark.spread import spread


def test_guard_logs_when_it_skips_an_explicit_by(spark, caplog):
    agg = (
        spark.range(40)
        .withColumn("k", F.col("id") % 4)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    with caplog.at_level(logging.DEBUG, logger="shotit_worker_spark.spread"):
        out = spread(agg, by="k")
    assert out is agg
    records = [r for r in caplog.records if r.name == "shotit_worker_spark.spread"]
    assert len(records) == 1
    assert records[0].levelno == logging.DEBUG
    assert "by='k'" in records[0].getMessage()


def test_guard_is_silent_without_by(spark, caplog):
    agg = spark.range(40).groupBy((F.col("id") % 4).alias("k")).count()
    with caplog.at_level(logging.DEBUG, logger="shotit_worker_spark.spread"):
        assert spread(agg) is agg
    assert not [r for r in caplog.records if r.name == "shotit_worker_spark.spread"]


def test_scan_rooted_frame_is_widened_on_its_key(spark, caplog):
    narrow = spark.range(0, 40, 1, numPartitions=1).withColumn("k", F.col("id") % 4)
    target = spark.sparkContext.defaultParallelism
    with caplog.at_level(logging.DEBUG, logger="shotit_worker_spark.spread"):
        out = spread(narrow, by="k")
    assert not [r for r in caplog.records if r.name == "shotit_worker_spark.spread"]
    if target > 2:  # min_factor=2 leaves 1 of 2 partitions alone
        assert out.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in out.collect()) == list(range(40))
