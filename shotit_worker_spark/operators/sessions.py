"""Batch sessionization: gap-based session assignment over events.

The streaming side already has ``session_window`` (streaming/windows
— Spark's built-in merging session operator); batch jobs over an
event HISTORY want the same grouping as a deterministic column, so
downstream aggregates, funnels, and exports can key on it. The
classic gaps-and-islands shape, kept to ONE shuffle:

1. hash-partition by user (the window's partitionBy — the only
   exchange in the plan),
2. ``lag(ts)`` per user ordered by event time; a row opens a new
   session when its gap from the previous event exceeds
   ``gap_sec`` (strictly greater, matching Spark's session_window
   semantics where an event exactly at the gap boundary still
   EXTENDS the session),
3. a running sum of the new-session flags numbers sessions 1..n per
   user — both windows share the same partitioning, so Catalyst
   plans them in one Window stage with no second exchange.

Session ids are (user, session_no) pairs — engine-portable integers
a SQL oracle reproduces exactly (lag + cumulative sum is ANSI), and
stable under re-runs (no monotonically_increasing_id, which would
renumber with the partition layout).

Skew: a single user's events land in one task, like every per-user
walk in this repo (funnel, cohort). A user is bounded by their own
event rate — the power-law mega-user in SCALE_NOTES.md Round 9
holds 0.5% of a 10M-row table and sessionizes fine; a truly
pathological key (one user = the whole corpus) would need the
fallback of pre-splitting by (user, day) and stitching boundary
sessions, which this module deliberately omits until a real corpus
needs it.

Equal timestamps: ordered by (ts, tiebreak) when a tiebreak column
is given, else (ts) alone — Spark's sort is then stable within a
task but ties across rows with identical ts are gap-0 and always
share a session, so session MEMBERSHIP is deterministic either way;
only intra-session event order can permute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sessionize", "session_stats"]


def _with_session_no(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    gap_sec: float,
    tiebreak_col: str | None,
) -> DataFrame:
    if gap_sec <= 0:
        raise ValueError(f"gap_sec must be positive, got {gap_sec}")
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(user_col).orderBy(*order)
    tsm = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(tsm).over(w)
    gap_us = F.lit(int(round(gap_sec * 1_000_000)))
    new_sess = F.when(
        prev.isNull() | (tsm - prev > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_no",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: float = 1800.0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """All input columns plus ``session_no`` (1..n per user): a new
    session opens when the gap from the user's previous event
    EXCEEDS ``gap_sec``. One hash exchange on ``user_col``; both
    windows reuse it."""
    out = _with_session_no(
        events.where(F.col(ts_col).isNotNull()),
        user_col, ts_col, gap_sec, tiebreak_col,
    )
    return out


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: float = 1800.0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(user, session_no, session_start, session_end, n_events,
    duration_sec): one row per session. The groupBy keys on the
    window's own partitioning columns, so AQE keeps the agg on the
    sessionized exchange — still one wide shuffle end-to-end."""
    sess = sessionize(events, user_col, ts_col, gap_sec, tiebreak_col)
    tsm = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        sess.groupBy(
            F.col(user_col).alias("user"), F.col("session_no")
        )
        .agg(
            F.min(tsm).alias("__lo"),
            F.max(tsm).alias("__hi"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user",
            "session_no",
            F.timestamp_micros(F.col("__lo")).alias("session_start"),
            F.timestamp_micros(F.col("__hi")).alias("session_end"),
            "n_events",
            ((F.col("__hi") - F.col("__lo")) / 1e6)
            .alias("duration_sec"),
        )
    )
