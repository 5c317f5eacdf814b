"""Streaming sessionization fold (streaming/sessionfold): a
time-ordered chunked replay folded through foreachBatch must produce
EXACTLY the batch session_stats table (sessions that straddle trigger
boundaries merge through the open-session state), replay of a batch
is idempotent, bucketed state rewrites only touched buckets, and the
guards refuse bad parameters."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from shotit_worker_spark.operators.sessions import session_stats
from shotit_worker_spark.streaming.sessionfold import SessionFolder


def _events(spark, n_users=40, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    rows = []
    t = 0
    for _ in range(n_users * 15):
        t += int(rng.integers(1, 2400))  # gaps straddle 1800 s
        rows.append(
            (
                int(rng.integers(0, n_users)),
                base + dt.timedelta(seconds=t),
            )
        )
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def _time_chunks(df, k=4):
    import pyspark.sql.functions as F

    d = df.withColumn("__us", F.unix_micros(F.col("ts")))
    cuts = d.approxQuantile("__us", [i / k for i in range(1, k)], 0.0)
    chunks, lo = [], None
    for hi in cuts + [None]:
        c = d
        if lo is not None:
            c = c.where(F.col("__us") > lo)
        if hi is not None:
            c = c.where(F.col("__us") <= hi)
        chunks.append(c.drop("__us"))
        lo = hi
    return chunks


def _key(rows):
    return sorted(
        (
            r["user"],
            r["session_no"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            round(r["duration_sec"], 9),
        )
        for r in rows
    )


def test_stream_fold_equals_batch(spark, tmp_root):
    df = _events(spark)
    folder = SessionFolder(
        spark, str(tmp_root / "sess_state"), gap_sec=1800.0
    )
    for i, c in enumerate(_time_chunks(df)):
        folder.foreach_batch(c, i)
    want = session_stats(df, gap_sec=1800.0)
    assert _key(folder.stats().collect()) == _key(want.collect())


def test_cross_boundary_merge_and_replay_idempotent(spark, tmp_root):
    # a single user's session split across THREE triggers must come
    # back as ONE session (the open-state merge), and replaying the
    # last trigger must not double-count
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 10, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 20, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # exactly gap: extends
        (1, dt.datetime(2024, 1, 1, 2, 0, 0)),  # new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    folder = SessionFolder(
        spark, str(tmp_root / "sess_state2"), gap_sec=600.0
    )
    batches = [df.limit(0), df.where("ts <= '2024-01-01 00:10:00'"),
               df.where("ts > '2024-01-01 00:10:00' and"
                        " ts <= '2024-01-01 00:30:00'"),
               df.where("ts > '2024-01-01 00:30:00'")]
    for i, b in enumerate(batches):
        folder.foreach_batch(b, i)
    got = _key(folder.stats().collect())
    want = _key(session_stats(df, gap_sec=600.0).collect())
    assert got == want
    assert len(got) == 2 and got[0][4] == 4  # one 4-event session
    folder.foreach_batch(batches[-1], 3)  # crash-replay of trigger 3
    assert _key(folder.stats().collect()) == want


def test_bucketed_equals_batch_and_untouched_stable(spark, tmp_root):
    import pyspark.sql.functions as F

    root = str(tmp_root / "sess_state_b")
    df = _events(spark, n_users=30, seed=13)
    folder = SessionFolder(spark, root, gap_sec=1800.0, n_buckets=16)
    chunks = _time_chunks(df, 3)
    for i, c in enumerate(chunks):
        folder.foreach_batch(c, i)
    want = session_stats(df, gap_sec=1800.0)
    assert _key(folder.stats().collect()) == _key(want.collect())

    def bucket_files():
        out = {}
        op = os.path.join(root, "open")
        for d in sorted(os.listdir(op)):
            if d.startswith("bucket="):
                out[d] = sorted(os.listdir(os.path.join(op, d)))
        return out

    before = bucket_files()
    assert len(before) > 2
    one = spark.createDataFrame(
        [(5, dt.datetime(2025, 1, 1))], "user_id long, ts timestamp"
    )
    bid = spark.range(1).select(
        folder.open_state.bucket(F.lit(5).cast("long")).alias("b")
    ).collect()[0][0]
    folder.foreach_batch(one, 9)
    after = bucket_files()
    for d, files in before.items():
        if d == f"bucket={bid}":
            assert after[d] != files
        else:
            assert after[d] == files, d


def test_guards(spark, tmp_root):
    with pytest.raises(ValueError, match="gap_sec"):
        SessionFolder(spark, "x", gap_sec=0)
    with pytest.raises(ValueError, match="n_buckets"):
        SessionFolder(spark, "x", n_buckets=0)


def test_lateness_shuffled_chunks_equal_batch(spark, tmp_root):
    import pyspark.sql.functions as F

    # hash-split chunks, NO time order; lateness covers the spread
    df = _events(spark, n_users=25, seed=31)
    folder = SessionFolder(
        spark, str(tmp_root / "sessl1"), gap_sec=1800.0,
        lateness_sec=120 * 86400.0,
    )
    for i in range(4):
        folder.foreach_batch(
            df.where(F.abs(F.hash("ts")) % 4 == i), i
        )
    want = session_stats(df, gap_sec=1800.0)
    assert _key(folder.stats().collect()) == _key(want.collect())


def test_lateness_bridges_sessions(spark, tmp_root):
    # the case the ordered mode cannot do: a late mid-gap event
    # BRIDGES two sessions that an earlier trigger saw as separate
    t0 = dt.datetime(2024, 1, 1)
    early = spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(seconds=100))],
        "user_id long, ts timestamp",
    )
    late = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=50)),
         (1, t0 + dt.timedelta(seconds=400))],
        "user_id long, ts timestamp",
    )
    folder = SessionFolder(
        spark, str(tmp_root / "sessl2"), gap_sec=60.0,
        lateness_sec=500.0,
    )
    folder.foreach_batch(early, 0)
    # before the bridge: two 1-event pending sessions
    assert folder.stats().count() == 2
    folder.foreach_batch(late, 1)
    both = early.unionByName(late)
    want = _key(session_stats(both, gap_sec=60.0).collect())
    got = _key(folder.stats().collect())
    assert got == want
    # 0,50,100 merged into ONE 3-event session; 400 separate
    assert len(got) == 2 and got[0][4] == 3


def test_lateness_seals_replays_and_buckets(spark, tmp_root):
    import numpy as np
    import pyspark.sql.functions as F

    root = str(tmp_root / "sessl3")
    df = _events(spark, n_users=20, seed=37)
    rng = np.random.default_rng(41)
    rows = sorted(
        df.collect(),
        key=lambda r: r["ts"].timestamp() + rng.uniform(-30, 30),
    )
    folder = SessionFolder(
        spark, root, gap_sec=600.0, lateness_sec=60.0, n_buckets=8,
    )
    k = len(rows) // 4 + 1
    chunks = [rows[i * k:(i + 1) * k] for i in range(4)]
    for i, c in enumerate(chunks):
        if c:
            folder.foreach_batch(
                spark.createDataFrame(c, df.schema), i
            )
    want = _key(session_stats(df, gap_sec=600.0).collect())
    assert _key(folder.stats().collect()) == want
    # sealing is ACTIVE: closed table holds finalized sessions and
    # the pending tails are a small fraction of history
    closed = spark.read.parquet(os.path.join(root, "closed"))
    assert closed.count() > 0
    st = spark.read.parquet(os.path.join(root, "open"))
    total_pend = st.agg(F.sum(F.size("pend"))).collect()[0][0] or 0
    assert total_pend < len(rows) / 2
    # crash-replay of the final batch is a no-op (bid skip)
    folder.foreach_batch(
        spark.createDataFrame(chunks[-1], df.schema), 3
    )
    assert _key(folder.stats().collect()) == want
    with pytest.raises(ValueError, match="lateness_sec"):
        SessionFolder(spark, root, lateness_sec=-1)


def test_compact_closed(spark, tmp_root):
    df = _events(spark, n_users=20, seed=41)
    chunks = _time_chunks(df, 4)
    for n_buckets in (None, 4):
        root = str(tmp_root / f"sess_compact_{n_buckets}")
        closed = os.path.join(root, "closed")
        folder = SessionFolder(
            spark, root, gap_sec=1800.0, n_buckets=n_buckets
        )
        for i, c in enumerate(chunks):
            folder.foreach_batch(c, i)
        before = _key(folder.stats().collect())
        n_below = spark.read.parquet(closed).where("batch_id < 3").count()
        n_at = spark.read.parquet(closed).where("batch_id = 3").count()
        # archive everything below the (simulated) checkpoint floor
        out = folder.compact_closed(below_batch_id=3)
        assert out["archived_rows"] == n_below > 0
        assert out["partitions_after"] < out["partitions_before"]
        dirs = sorted(
            d for d in os.listdir(closed) if d.startswith("batch_id=")
        )
        assert "batch_id=-1" in dirs
        assert not any(d in dirs for d in
                       ("batch_id=0", "batch_id=1", "batch_id=2"))
        if n_buckets is not None:
            assert any(
                d.startswith("bucket=")
                for d in os.listdir(os.path.join(closed, "batch_id=-1"))
            )
        # stats unchanged by compaction
        assert _key(folder.stats().collect()) == before
        # a trigger AT the floor still replays idempotently (its
        # partition was not archived)
        folder.foreach_batch(chunks[3], 3)
        assert _key(folder.stats().collect()) == before
        # a second compaction counts only the rows it newly archives,
        # not those already in the archive
        out = folder.compact_closed(below_batch_id=4)
        assert out["archived_rows"] == n_at > 0
        assert _key(folder.stats().collect()) == before


def test_lateness_partial_replay_global_horizon(spark, tmp_root):
    """r12 ADVICE #4: on a PARTIALLY-replayed bucketed lateness
    trigger the seal horizon is the batch GLOBAL max (including
    already-done buckets' events) — the r12 probe fusion's documented
    drift from the old not-yet-done-bucket max. Pin the safety
    argument: simulate the real crash window (the dynamic-overwrite
    open write landing for only SOME touched buckets), replay, and
    assert the state tables match the no-crash run bit-for-bit (the
    pre-crash trigger sealed with the same global-max horizon)."""
    import shutil

    import numpy as np
    import pyspark.sql.functions as F

    root = str(tmp_root / "sessl_partial")
    snap = str(tmp_root / "sessl_partial_snap")
    df = _events(spark, n_users=20, seed=53)
    rng = np.random.default_rng(7)
    rows = sorted(
        df.collect(),
        key=lambda r: r["ts"].timestamp() + rng.uniform(-30, 30),
    )
    k = len(rows) // 3 + 1
    chunks = [rows[i * k:(i + 1) * k] for i in range(3)]
    folder = SessionFolder(
        spark, root, gap_sec=600.0, lateness_sec=60.0, n_buckets=8,
    )
    for i, c in enumerate(chunks[:2]):
        folder.foreach_batch(spark.createDataFrame(c, df.schema), i)
    shutil.copytree(root, snap)  # state as of the end of trigger 1
    last = spark.createDataFrame(chunks[2], df.schema)
    folder.foreach_batch(last, 2)  # the no-crash run
    want_stats = _key(folder.stats().collect())

    def table_key(sub):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(root, sub)
            ).collect()
        )

    want_closed = table_key("closed")
    want_open = table_key("open")
    touched = sorted(
        r[0]
        for r in last.select(
            folder.open_state.bucket(F.col("user_id")).alias("__b")
        ).distinct().collect()
    )
    assert len(touched) >= 2  # a partial replay needs >= 2 buckets
    undone = touched[: max(1, len(touched) // 2)]
    # crash simulation: those buckets' open-state rename never landed
    # (closed landed first and fully — the fold's write order)
    for b in undone:
        cur = os.path.join(root, "open", f"bucket={b}")
        old = os.path.join(snap, "open", f"bucket={b}")
        shutil.rmtree(cur, ignore_errors=True)
        if os.path.isdir(old):
            shutil.copytree(old, cur)
    folder.foreach_batch(last, 2)  # replay: done skip, undone redo
    assert _key(folder.stats().collect()) == want_stats
    assert table_key("closed") == want_closed
    assert table_key("open") == want_open


def test_lateness_boundary_event_exactly_at_horizon(spark, tmp_root):
    # r10 ADVICE (low): with horizon = batch_max - lateness, an
    # in-contract event can still arrive with ts == horizon exactly;
    # when end + gap == horizon that event EXTENDS the session under
    # the <=-gap rule, so finality must be STRICT (end + gap <
    # horizon).  gap=10, lateness=20: batch 0 max is t=100 ->
    # horizon 80; session [60,70] has end+gap == 80 and must stay
    # pending, because batch 1 delivers the tying event at ts=80.
    t0 = dt.datetime(2024, 1, 1)

    def _df(secs):
        return spark.createDataFrame(
            [(1, t0 + dt.timedelta(seconds=s)) for s in secs],
            "user_id long, ts timestamp",
        )

    folder = SessionFolder(
        spark, str(tmp_root / "sessl_boundary"), gap_sec=10.0,
        lateness_sec=20.0,
    )
    folder.foreach_batch(_df([60, 70, 100]), 0)
    folder.foreach_batch(_df([80]), 1)
    both = _df([60, 70, 80, 100])
    want = _key(session_stats(both, gap_sec=10.0).collect())
    got = _key(folder.stats().collect())
    assert got == want
    # [60,70,80] one 3-event session; [100] separate
    assert len(got) == 2 and got[0][4] == 3


def test_lateness_pending_state_bounded_for_gapless_user(
    spark, tmp_root
):
    import pyspark.sql.functions as F

    # r10 VERDICT #3: a user who never idles longer than gap never
    # finalizes a session, so an uncompacted pending set grows with
    # history. The compacted fold must hold O(lateness x rate) state
    # — here ~1 collapsed partial + the raw tail inside the 10 s
    # lateness window — while stats() still equals batch exactly.
    t0 = dt.datetime(2024, 1, 1)

    def _df(lo, hi):
        return spark.createDataFrame(
            [(1, t0 + dt.timedelta(seconds=s)) for s in range(lo, hi)],
            "user_id long, ts timestamp",
        )

    root = str(tmp_root / "sessl_gapless")
    folder = SessionFolder(
        spark, root, gap_sec=5.0, lateness_sec=10.0,
    )
    sizes = []
    for i in range(4):
        folder.foreach_batch(_df(i * 250, (i + 1) * 250), i)
        st = spark.read.parquet(os.path.join(root, "open"))
        sizes.append(st.agg(
            F.max(F.size("pend"))).collect()[0][0])
    # flat, small, and far below per-trigger event volume
    assert max(sizes) <= 16, sizes
    assert sizes[-1] <= sizes[0] + 2, sizes
    # and the result is still exactly the batch table
    both = _df(0, 1000)
    want = _key(session_stats(both, gap_sec=5.0).collect())
    got = _key(folder.stats().collect())
    assert got == want
    # one continuous session, 1000 events
    assert len(got) == 1 and got[0][4] == 1000
