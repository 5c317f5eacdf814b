"""Error paths of the streaming folds release what they cached: a
trigger whose state write raises leaves none of the frames the fold
persisted in the session's cache manager."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from shotit_worker_spark.streaming.scd2fold import Scd2Folder
from shotit_worker_spark.streaming.sessionfold import SessionFolder


def _events(spark):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, base + dt.timedelta(seconds=700 * i)) for i, u in
         enumerate([1, 2, 1, 3, 2, 1])],
        "user_id long, ts timestamp",
    )


def _changes(spark):
    return spark.createDataFrame(
        [(1, "a", 1, "upsert"), (2, "b", 1, "upsert"), (1, None, 2, "delete")],
        "k long, a string, seq long, op string",
    )


CASES = {
    "session": (lambda s, p: SessionFolder(s, p, n_buckets=4), _events),
    "session_lateness": (
        lambda s, p: SessionFolder(s, p, lateness_sec=600.0), _events,
    ),
    "scd2": (
        lambda s, p: Scd2Folder(s, p, keys=["k"], attr_cols=["a"],
                                op_col="op"),
        _changes,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_failed_write_releases_cached_frames(spark, tmp_root, monkeypatch,
                                             case):
    make, rows = CASES[case]
    folder = make(spark, str(tmp_root / f"release_{case}"))
    batch = rows(spark)
    # the session's concrete DataFrame class (not the pyspark.sql
    # interface class, whose persist the classic one overrides)
    frame_cls = type(batch)
    persisted = []
    real_persist = frame_cls.persist

    def persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def failing_write(self, *args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(frame_cls, "persist", persist)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        folder.foreach_batch(batch, 0)
    assert persisted
    for df in persisted:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk or level.useOffHeap)
