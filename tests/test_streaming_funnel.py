"""Streaming funnel fold (streaming/funnelfold): a time-ordered
chunked file replay folded through foreachBatch must produce EXACTLY
the batch funnel's conversion table (the ordering contract the module
documents), per-user state stays O(steps) rows, crash-replay of a
batch is idempotent, and the guards refuse bad step lists."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest

from shotit_worker_spark.operators.funnel import funnel_counts
from shotit_worker_spark.streaming import ingest as SI
from shotit_worker_spark.streaming.funnelfold import FunnelFolder

STEPS = ["signup", "view", "click", "purchase"]


def _events(spark, n_users=120, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    rows = []
    t = 0
    for _ in range(n_users * 12):
        t += int(rng.integers(1, 50))  # strictly increasing: no ties
        rows.append(
            (
                int(rng.integers(0, n_users)),
                base + dt.timedelta(seconds=t),
                STEPS[int(rng.integers(0, 4))]
                if rng.random() > 0.2
                else "noise",
            )
        )
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def _replay(spark, df, src, folder, chunks=4):
    import pyspark.sql.functions as F

    # time-ordered chunks (the module's ordering contract): ntile
    # over ts puts every event of chunk i before chunk i+1
    from pyspark.sql import Window

    w = Window.orderBy("ts")
    parts = df.withColumn("__c", F.ntile(chunks).over(w))
    src.mkdir()
    for i in range(1, chunks + 1):
        p = str(src / f"chunk{i}")
        parts.where(F.col("__c") == i).drop("__c").coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        t = time.time() - 300 + i * 60
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    stream = SI.stream_parquet_source(
        spark, str(src), schema=df.drop("__c").schema,
        max_files_per_trigger=1, glob="*.parquet", recursive=True,
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(folder.writer())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_fold_equals_batch(spark, tmp_root):
    df = _events(spark)
    folder = FunnelFolder(
        spark, str(tmp_root / "funnel_state"), STEPS,
        max_span_sec=3600.0,
    )
    _replay(spark, df, tmp_root / "funnel_stream", folder)
    got = {(r["step_no"], r["step"]): r["users"]
           for r in folder.counts().collect()}
    want = {
        (r["step_no"], r["step"]): r["users"]
        for r in funnel_counts(df, STEPS, max_span_sec=3600.0).collect()
    }
    assert got == want
    assert got[(1, "signup")] > got[(4, "purchase")] >= 0
    assert got[(1, "signup")] > 0
    # state is O(steps) per user: one row per user who started,
    # 2 + len(ts) columns
    state = spark.read.parquet(str(tmp_root / "funnel_state"))
    assert state.columns == ["user", "i", "ts"]
    assert state.count() == want[(1, "signup")]
    assert state.agg({"i": "max"}).collect()[0][0] <= len(STEPS)


def test_batch_replay_idempotent_and_empty_counts(spark, tmp_root):
    df = _events(spark, n_users=30, seed=9)
    folder = FunnelFolder(
        spark, str(tmp_root / "funnel_state2"), STEPS
    )
    # empty counts before any batch
    pre = {r["step"]: r["users"] for r in folder.counts().collect()}
    assert set(pre.values()) == {0}
    folder.foreach_batch(df, 0)
    once = sorted(folder.counts().collect())
    # crash-replay: folding the SAME batch again must not double-
    # count (greedy walk can't advance on events at or before the
    # last matched time, and the state swap is atomic)
    folder.foreach_batch(df, 0)
    assert sorted(folder.counts().collect()) == once
    batch = sorted(funnel_counts(df, STEPS).collect())
    assert once == batch


def test_funnelfold_guards(spark, tmp_root):
    with pytest.raises(ValueError, match="non-empty"):
        FunnelFolder(spark, str(tmp_root / "x"), [])
    with pytest.raises(ValueError, match="repeated"):
        FunnelFolder(spark, str(tmp_root / "x"), ["a", "a"])


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
    df = _events(spark, n_users=80, seed=11)
    folder = FunnelFolder(
        spark, str(tmp_root / "funnel_state_b"), STEPS,
        max_span_sec=3600.0, n_buckets=8,
    )
    _replay(spark, df, tmp_root / "funnel_stream_b", folder)
    got = sorted(
        (r["step_no"], r["step"], r["users"])
        for r in folder.counts().collect()
    )
    want = sorted(
        (r["step_no"], r["step"], r["users"])
        for r in funnel_counts(
            df, STEPS, max_span_sec=3600.0
        ).collect()
    )
    assert got == want
    # state is physically partitioned by bucket
    dirs = _bucket_files(str(tmp_root / "funnel_state_b"))
    assert dirs and all(d.startswith("bucket=") for d in dirs)


def test_bucketed_untouched_buckets_not_rewritten(spark, tmp_root):
    import pyspark.sql.functions as F

    root = str(tmp_root / "funnel_state_b2")
    folder = FunnelFolder(
        spark, root, STEPS, n_buckets=16
    )
    df = _events(spark, n_users=60, seed=13)
    folder.foreach_batch(df, 0)
    before = _bucket_files(root)
    assert len(before) > 2
    # a second batch touching ONE user must rewrite only that
    # user's bucket directory
    one = spark.createDataFrame(
        [(7, dt.datetime(2024, 2, 1), "signup")],
        "user_id long, ts timestamp, event_type string",
    )
    the_bucket = folder.state.bucket(F.lit(7).cast("long"))
    bid = spark.range(1).select(the_bucket.alias("b")).collect()[0][0]
    folder.foreach_batch(one, 1)
    after = _bucket_files(root)
    for d, files in before.items():
        if d == f"bucket={bid}":
            assert after[d] != files
        else:
            assert after[d] == files, d
    # replay of the same batch is still idempotent under buckets
    once = sorted(folder.counts().collect())
    folder.foreach_batch(one, 1)
    assert sorted(folder.counts().collect()) == once
    with pytest.raises(ValueError, match="n_buckets"):
        FunnelFolder(spark, root, STEPS, n_buckets=0)


def _counts_key(folder):
    return sorted(
        (r["step_no"], r["step"], r["users"])
        for r in folder.counts().collect()
    )


def _batch_key(df, **kw):
    return sorted(
        (r["step_no"], r["step"], r["users"])
        for r in funnel_counts(df, STEPS, **kw).collect()
    )


def test_lateness_shuffled_chunks_equal_batch(spark, tmp_root):
    import pyspark.sql.functions as F

    # hash-split chunks: NO time ordering whatsoever — exactly what
    # the lateness_sec=None contract does NOT guarantee. A lateness
    # horizon covering the full spread must still match batch,
    # because unsealed events fold (sorted) at read time.
    df = _events(spark, n_users=70, seed=31)
    folder = FunnelFolder(
        spark, str(tmp_root / "fl_state1"), STEPS,
        max_span_sec=3600.0, lateness_sec=10 * 86400.0,
    )
    for i in range(4):
        folder.foreach_batch(
            df.where(F.abs(F.hash("ts")) % 4 == i), i
        )
    assert _counts_key(folder) == _batch_key(df, max_span_sec=3600.0)


def test_lateness_bounded_disorder_seals_and_matches(spark, tmp_root):
    import numpy as np
    import pyspark.sql.functions as F

    # arrival order = event time + bounded jitter (±30 s), chunked
    # consecutively in that perturbed order; lateness 60 s covers the
    # spread, so sealing is ACTIVE (state accumulates matched steps)
    # and the result still equals batch exactly
    df = _events(spark, n_users=60, seed=37)
    rng = np.random.default_rng(41)
    rows = df.collect()
    keyed = sorted(
        rows,
        key=lambda r: r["ts"].timestamp() + rng.uniform(-30, 30),
    )
    folder = FunnelFolder(
        spark, str(tmp_root / "fl_state2"), STEPS,
        lateness_sec=60.0,
    )
    k = len(keyed) // 5 + 1
    for i in range(5):
        chunk = keyed[i * k:(i + 1) * k]
        if not chunk:
            continue
        folder.foreach_batch(
            spark.createDataFrame(chunk, df.schema), i
        )
    assert _counts_key(folder) == _batch_key(df)
    # sealing really happened: stored accumulators advanced past
    # step 0 without read-time folding
    st = spark.read.parquet(str(tmp_root / "fl_state2"))
    assert st.where(F.col("i") >= 1).count() > 0
    # and the pending buffer holds only the unsealed tail, not the
    # whole history
    total_pend = st.agg(F.sum(F.size("pend"))).collect()[0][0] or 0
    assert total_pend < len(rows) / 2


def test_lateness_replay_idempotent_and_bucketed(spark, tmp_root):
    import pyspark.sql.functions as F

    df = _events(spark, n_users=50, seed=43)
    folder = FunnelFolder(
        spark, str(tmp_root / "fl_state3"), STEPS,
        lateness_sec=3600.0, n_buckets=8,
    )
    chunks = [
        df.where(F.abs(F.hash("user_id")) % 3 == i) for i in range(3)
    ]
    for i, c in enumerate(chunks):
        folder.foreach_batch(c, i)
    once = _counts_key(folder)
    assert once == _batch_key(df)
    # crash-replay of the last batch: array_distinct collapses the
    # duplicate buffer rows, counts unchanged
    folder.foreach_batch(chunks[-1], 2)
    assert _counts_key(folder) == once
    # state stays bucket-partitioned
    dirs = _bucket_files(str(tmp_root / "fl_state3"))
    assert dirs and all(d.startswith("bucket=") for d in dirs)
    with pytest.raises(ValueError, match="lateness_sec"):
        FunnelFolder(spark, "x", STEPS, lateness_sec=-1.0)


def test_lateness_boundary_event_exactly_at_horizon(spark, tmp_root):
    # r10 ADVICE (low): sealing at t <= horizon walks an event at
    # exactly the lateness bound too early — an in-contract event can
    # still arrive with ts == batch_max - lateness == horizon, and by
    # the (t, y) sort it may belong BEFORE the one already there.
    # lateness=20: batch 0 has "view"@80 and noise@100 (horizon 80);
    # batch 1 delivers "signup"@80, which sorts before "view"@80 —
    # the funnel must still convert through step 1.
    t0 = dt.datetime(2024, 1, 1)

    def _df(rows):
        return spark.createDataFrame(
            [(1, t0 + dt.timedelta(seconds=s), y) for s, y in rows],
            "user_id long, ts timestamp, event_type string",
        )

    folder = FunnelFolder(
        spark, str(tmp_root / "fl_boundary"), STEPS,
        lateness_sec=20.0,
    )
    folder.foreach_batch(_df([(80, "view"), (100, "noise")]), 0)
    folder.foreach_batch(_df([(80, "signup")]), 1)
    both = _df([(80, "view"), (100, "noise"), (80, "signup")])
    assert _counts_key(folder) == _batch_key(both)
