"""Per-trigger Spark job budgets of the bucketed streaming folds.

Each case folds three ordered triggers into a folder with
``n_buckets=8`` and counts the jobs of every steady trigger (one that
probes, prunes and rewrites existing state) under its own job group.
The budgets of the folds that share one state-table implementation
(``streaming/foldstate``) are the counts measured before they shared
it, so a change to the shared probe, pruned read or commit that adds a
job to any fold fails here."""

from __future__ import annotations

import datetime as dt

import pytest

from shotit_worker_spark.streaming.cohortfold import CohortFolder
from shotit_worker_spark.streaming.funnelfold import FunnelFolder
from shotit_worker_spark.streaming.lshfold import LshDedupFolder
from shotit_worker_spark.streaming.scd2fold import Scd2Folder
from shotit_worker_spark.streaming.sessionfold import SessionFolder
from tests.test_streaming_lsh import _corpus

STEPS = ["signup", "view", "click", "purchase"]
N_TRIGGERS = 3


def _event_chunks(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    base = dt.datetime(2024, 1, 1)
    rows, t = [], 0
    for _ in range(360):
        t += int(rng.integers(1, 900))
        rows.append((int(rng.integers(0, 60)), base + dt.timedelta(seconds=t),
                     STEPS[int(rng.integers(0, 4))]))
    k = len(rows) // N_TRIGGERS
    return [
        spark.createDataFrame(
            rows[i * k:(i + 1) * k],
            "user_id long, ts timestamp, event_type string",
        )
        for i in range(N_TRIGGERS)
    ]


def _cdc_chunks(spark):
    # every trigger re-touches a slice of the keys with a later seq, so
    # steady triggers reconstruct, rebuild and rewrite existing history
    out = []
    for i in range(N_TRIGGERS):
        rows = [
            (k, f"v{i}-{k}", float(i * 100 + k), i + 1,
             "delete" if (k + i) % 7 == 0 else "upsert")
            for k in range(i * 5, i * 5 + 30)
        ]
        out.append(spark.createDataFrame(
            rows, "k long, a string, p double, seq long, op string"
        ))
    return out


def _lsh_chunks(spark):
    # trigger 0 seeds the manifest, 1 probes it, 2 also drops the
    # corpus's verbatim copies against it
    import pyspark.sql.functions as F

    df = _corpus(spark, seed=53)
    return [
        df.where(F.col("doc_id") < 40),
        df.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 100000)),
        df.where(F.col("doc_id") >= 100000),
    ]


# jobs per steady trigger (triggers 1 and 2) with
# spark.sql.shuffle.partitions=4; the FoldState folds' budgets were
# measured before they shared FoldState, the same at local[4] and
# local[16]
CASES = {
    "funnel": (
        lambda s, p: FunnelFolder(s, p, STEPS, n_buckets=8), _event_chunks,
    ),
    "funnel_lateness": (
        lambda s, p: FunnelFolder(s, p, STEPS, n_buckets=8,
                                  lateness_sec=600.0),
        _event_chunks,
    ),
    "cohort": (
        lambda s, p: CohortFolder(s, p, period_days=1, n_buckets=8),
        _event_chunks,
    ),
    "session": (
        lambda s, p: SessionFolder(s, p, gap_sec=1800.0, n_buckets=8),
        _event_chunks,
    ),
    "session_lateness": (
        lambda s, p: SessionFolder(s, p, gap_sec=1800.0, n_buckets=8,
                                   lateness_sec=600.0),
        _event_chunks,
    ),
    "scd2": (
        lambda s, p: Scd2Folder(s, p, keys=["k"], attr_cols=["a", "p"],
                                op_col="op", n_buckets=8),
        _cdc_chunks,
    ),
    "lsh": (lambda s, p: LshDedupFolder(s, p, n_buckets=8), _lsh_chunks),
}
JOB_BUDGET = {
    "funnel": 7,
    "funnel_lateness": 7,
    "cohort": 7,
    "session": 10,
    "session_lateness": 10,
    "scd2": 31,
    # 10-12 at local[4] and local[16] with the one-collect resolution
    # and declared state reads, 19 at local[4] with the former
    # edge-collect tiers; the budget leaves one job of headroom
    "lsh": 13,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_steady_trigger_job_budget(spark, tmp_root, case):
    make, chunks = CASES[case]
    folder = make(spark, str(tmp_root / f"job_budget_{case}"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    counts = []
    try:
        for i, part in enumerate(chunks(spark)):
            part = part.persist()
            part.count()
            group = f"fold-job-budget-{case}-{i}"
            sc.setJobGroup(group, f"{case} trigger")
            folder.foreach_batch(part, i)
            sc.setLocalProperty("spark.jobGroup.id", None)
            part.unpersist()
            # the status store is fed asynchronously
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            counts.append(len(tracker.getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert max(counts[1:]) <= JOB_BUDGET[case], counts
