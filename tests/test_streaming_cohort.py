"""Streaming cohort fold (streaming/cohortfold): ARBITRARILY-batched
file replay (hash-split chunks, no time ordering — min/set-union state
is commutative) must produce exactly the batch retention matrix; late
anchors retroactively re-cohort; replaying a batch is a no-op."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest

from shotit_worker_spark.operators.cohort import cohort_retention
from shotit_worker_spark.streaming import ingest as SI
from shotit_worker_spark.streaming.cohortfold import CohortFolder


def _events(spark, n=1500, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    types = ["signup", "view", "click"]
    rows = [
        (
            int(rng.integers(0, 80)),
            base + dt.timedelta(seconds=int(rng.integers(0, 90 * 86400))),
            types[int(rng.integers(0, 3))],
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def _key(rows):
    return sorted(
        (r["cohort_period"], r["period_offset"], r["n_users"],
         r["cohort_size"], round(r["retention"], 10))
        for r in rows
    )


def test_stream_fold_equals_batch_any_order(spark, tmp_root):
    import pyspark.sql.functions as F

    df = _events(spark)
    src = tmp_root / "cohort_stream"
    src.mkdir()
    # hash-split chunks: events of one user scatter across chunks in
    # NO particular time order — the commutative-state claim
    for i in range(3):
        p = str(src / f"chunk{i}")
        df.where(F.abs(F.hash("ts")) % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        t = time.time() - 300 + i * 60
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    folder = CohortFolder(
        spark, str(tmp_root / "cohort_state"), anchor_type="signup",
        period_days=7,
    )
    stream = SI.stream_parquet_source(
        spark, str(src), schema=df.schema,
        max_files_per_trigger=1, glob="*.parquet", recursive=True,
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(folder.writer())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = cohort_retention(df, anchor_type="signup", period_days=7)
    assert _key(folder.matrix().collect()) == _key(want.collect())
    # max_offset plumbs through identically
    assert _key(folder.matrix(max_offset=3).collect()) == _key(
        cohort_retention(df, anchor_type="signup", period_days=7,
                         max_offset=3).collect()
    )


def test_late_anchor_and_replay_idempotent(spark, tmp_root):
    folder = CohortFolder(
        spark, str(tmp_root / "cohort_state2"), anchor_type="signup",
        period_days=7,
    )
    # batch 1: activity only — user has no cohort yet
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 20), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    folder.foreach_batch(b1, 0)
    assert folder.matrix().count() == 0
    # batch 2: the anchor arrives LATE and EARLIER in event time —
    # the week-3 view must now count at its true offset
    b2 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "signup")],
        "user_id long, ts timestamp, event_type string",
    )
    folder.foreach_batch(b2, 1)
    m = {(r["cohort_period"], r["period_offset"]): r["n_users"]
         for r in folder.matrix().collect()}
    both = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 20), "view"),
         (1, dt.datetime(2024, 1, 1), "signup")],
        "user_id long, ts timestamp, event_type string",
    )
    want = {(r["cohort_period"], r["period_offset"]): r["n_users"]
            for r in cohort_retention(
                both, anchor_type="signup", period_days=7).collect()}
    assert m == want and len(m) == 2  # offsets 0 (signup) and ~2-3
    # replaying batch 2 changes nothing (min/union idempotent)
    folder.foreach_batch(b2, 1)
    m2 = {(r["cohort_period"], r["period_offset"]): r["n_users"]
          for r in folder.matrix().collect()}
    assert m2 == m


def test_cohortfold_guard(spark, tmp_root):
    with pytest.raises(ValueError, match="period_days"):
        CohortFolder(spark, str(tmp_root / "x"), period_days=0)


def _bucket_files(root):
    out = {}
    for d in sorted(os.listdir(root)):
        if not d.startswith("bucket="):
            continue
        p = os.path.join(root, d)
        out[d] = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
    return out


def test_bucketed_fold_equals_batch(spark, tmp_root):
    import pyspark.sql.functions as F

    df = _events(spark, n=1200, seed=23)
    folder = CohortFolder(
        spark, str(tmp_root / "cohort_state_b"), anchor_type="signup",
        period_days=7, n_buckets=8,
    )
    # arbitrary hash-split batches (the commutative-state claim holds
    # under buckets too)
    for i in range(3):
        folder.foreach_batch(
            df.where(F.abs(F.hash("ts")) % 3 == i), i
        )
    want = cohort_retention(df, anchor_type="signup", period_days=7)
    assert _key(folder.matrix().collect()) == _key(want.collect())
    dirs = _bucket_files(str(tmp_root / "cohort_state_b"))
    assert dirs and all(d.startswith("bucket=") for d in dirs)


def test_bucketed_untouched_buckets_not_rewritten(spark, tmp_root):
    root = str(tmp_root / "cohort_state_b2")
    folder = CohortFolder(
        spark, root, anchor_type="signup", period_days=7, n_buckets=16,
    )
    folder.foreach_batch(_events(spark, n=900, seed=29), 0)
    before = _bucket_files(root)
    assert len(before) > 2
    one = spark.createDataFrame(
        [(7, dt.datetime(2024, 2, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    import pyspark.sql.functions as F

    bid = spark.range(1).select(
        folder.state.bucket(F.lit(7).cast("long")).alias("b")
    ).collect()[0][0]
    folder.foreach_batch(one, 1)
    after = _bucket_files(root)
    for d, files in before.items():
        if d == f"bucket={bid}":
            assert after[d] != files
        else:
            assert after[d] == files, d
    # replay of the same batch is a no-op under buckets too
    m1 = _key(folder.matrix().collect())
    folder.foreach_batch(one, 1)
    assert _key(folder.matrix().collect()) == m1
    with pytest.raises(ValueError, match="n_buckets"):
        CohortFolder(spark, root, n_buckets=0)
