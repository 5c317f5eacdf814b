"""Stream-batch equivalence for the stateful D1 dedup: the
applyInPandasWithState operator over a chunked replay (per-file
time-ascending arrival, dup pairs spanning micro-batches) must keep
exactly the rows the batch operator keeps."""

from __future__ import annotations

import os
import time

import pytest

from shotit_worker_spark.operators import dedup as D
from shotit_worker_spark.streaming import ingest as SI
from shotit_worker_spark.streaming import stateful as ST

# two files, dups within and ACROSS time chunks; chunk boundary at t=1.0
# and t=2.5 so the cross-chunk dup (0.9 "a" → 1.1 "a") and the
# cross-chunk non-dup (0.0 "a" → 2.6 "a", ≥2 s apart) both exercise state
ROWS = [
    ("f1", 0.0, "a"),
    ("f1", 0.2, "a"),   # dup of 0.0 (same chunk)
    ("f1", 0.9, "b"),
    ("f1", 1.1, "a"),   # dup of 0.0 across chunk boundary (1.1-0.0 < 2)
    ("f1", 2.2, "b"),   # dup of 0.9 across boundary
    ("f1", 2.6, "a"),   # NOT a dup: last kept "a" was 0.0, 2.6-0.0 >= 2
    ("f2", 0.5, "x"),
    ("f2", 1.2, "x"),   # dup across boundary
    ("f2", 2.8, "x"),   # not a dup of 0.5; 1.2 was dropped so tail has only 0.5
]
CHUNKS = [(0.0, 1.0), (1.0, 2.5), (2.5, 99.0)]


def test_stateful_dedup_stream_matches_batch(spark, tmp_root):
    df = spark.createDataFrame(ROWS, "file string, time double, hi string")
    batch = sorted(tuple(r) for r in D.sequential_dedup(df).collect())

    src_dir = tmp_root / "d1_stream"
    src_dir.mkdir()
    for i, (lo, hi) in enumerate(CHUNKS):
        chunk = df.filter(f"time >= {lo} AND time < {hi}").coalesce(1)
        p = str(src_dir / f"chunk{i}")
        chunk.write.mode("overwrite").parquet(p)
        # file source orders by modification time — pin ascending mtimes
        # so micro-batches replay in chunk order
        t = time.time() - 300 + i * 60
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = SI.stream_parquet_source(
        spark,
        str(src_dir),
        schema=df.schema,
        max_files_per_trigger=1,
        glob="*.parquet",
        recursive=True,
    )
    deduped = ST.streaming_sequential_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("d1_stateful")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_root / "ckpt_d1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM d1_stateful").collect()
    )
    assert got == batch
    # sanity: the dedup actually dropped the duplicate rows
    assert len(got) < len(ROWS)


def test_tws_dedup_stream_matches_batch(spark, tmp_root):
    """Same chunked replay through the transformWithStateInPandas
    variant (Spark 4.x arbitrary-state API, RocksDB provider): kept set
    must equal the batch operator's and the applyInPandasWithState
    path's. Skips where google.protobuf (the transformWithState state
    client's wire format) isn't installed — the operator itself raises a
    guided ImportError there, asserted below."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState python client needs protobuf",
    )
    df = spark.createDataFrame(ROWS, "file string, time double, hi string")
    batch = sorted(tuple(r) for r in D.sequential_dedup(df).collect())

    src_dir = tmp_root / "d1_tws_stream"
    src_dir.mkdir()
    for i, (lo, hi) in enumerate(CHUNKS):
        chunk = df.filter(f"time >= {lo} AND time < {hi}").coalesce(1)
        p = str(src_dir / f"chunk{i}")
        chunk.write.mode("overwrite").parquet(p)
        t = time.time() - 300 + i * 60
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = SI.stream_parquet_source(
            spark,
            str(src_dir),
            schema=df.schema,
            max_files_per_trigger=1,
            glob="*.parquet",
            recursive=True,
        )
        deduped = ST.streaming_sequential_dedup_tws(stream)
        q = (
            deduped.writeStream.format("memory")
            .queryName("d1_tws")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_root / "ckpt_d1_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM d1_tws").collect())
    assert got == batch
    assert len(got) < len(ROWS)


def test_tws_dedup_guided_error_without_protobuf(spark):
    """Where protobuf is absent the operator must fail fast at plan time
    with a message pointing at the dependency-free API, not crash the
    streaming python runner mid-query."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf installed — guard not reachable")
    except ImportError:
        pass
    df = spark.createDataFrame(ROWS, "file string, time double, hi string")
    with pytest.raises(ImportError, match="streaming_sequential_dedup"):
        ST.streaming_sequential_dedup_tws(df)


def test_stateful_dedup_with_ttl_still_matches_batch(spark, tmp_root):
    """With a generous TTL (no expiry within the run) results must be
    identical to batch; exercises the ProcessingTimeTimeout wiring
    (setTimeoutDuration + hasTimedOut branch)."""
    df = spark.createDataFrame(ROWS, "file string, time double, hi string")
    batch = sorted(tuple(r) for r in D.sequential_dedup(df).collect())

    src_dir = tmp_root / "d1_ttl_stream"
    src_dir.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "chunk0"))

    stream = SI.stream_parquet_source(
        spark, str(src_dir), schema=df.schema, glob="*.parquet", recursive=True
    )
    deduped = ST.streaming_sequential_dedup(stream, state_ttl_secs=3600.0)
    q = (
        deduped.writeStream.format("memory")
        .queryName("d1_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_root / "ckpt_d1_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    # the TTL's processing-time timeout keeps scheduling no-data
    # batches, so this availableNow query never ends by itself and
    # processAllAvailable() never returns: wait for the data batch
    try:
        deadline = time.monotonic() + 120
        while q.isActive and not any(
            p["numInputRows"] for p in q.recentProgress
        ):
            assert time.monotonic() < deadline, "no data batch in 120 s"
            time.sleep(0.1)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM d1_ttl").collect())
    assert got == batch
