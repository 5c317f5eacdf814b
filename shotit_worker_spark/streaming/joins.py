"""Stream-stream interval joins (Structured Streaming).

Attribution-style enrichment — "join each click to the impression
that preceded it by at most N minutes" — is the canonical
stream-stream join. Spark supports it natively when BOTH sides carry
watermarks and the join condition bounds event time on both sides;
the watermark + interval bound is what lets the engine drop buffered
state, so an unbounded stream joins in bounded memory (the 100-TB
posture: per-key state is the interval's worth of rows, never the
stream's history).

The builder works identically on batch DataFrames (``withWatermark``
is a no-op there), which is how the tests pin stream == batch
equivalence through a file-replay run.

Column naming: output carries every left column prefixed ``l_`` and
every right column prefixed ``r_`` (the two sides usually share
names like ``ts``/``user_id``; prefixing keeps the result
join-order-unambiguous and oracle-friendly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["interval_join"]


def _ts_norm(df: DataFrame, ts_col: str) -> DataFrame:
    # TIMESTAMP_NTZ -> TIMESTAMP (session tz pinned UTC engine-wide;
    # withWatermark rejects NTZ)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_sec: int = 0,
    upper_sec: int = 3600,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join rows with equal ``key`` where ``right_ts`` falls in
    ``[left_ts + lower_sec, left_ts + upper_sec]``.

    Both inputs may be streaming (both get ``withWatermark``) or
    batch (watermarks are hints only). ``how`` supports ``inner``
    and ``leftOuter`` (outer emission requires the watermark to pass
    the row's bound, so trailing unmatched rows of a finite replay
    flush only when later data advances the watermark — standard
    Structured Streaming semantics).

    Plan shape: STREAMING inputs keep the raw equality+range
    condition — Structured Streaming needs it verbatim to bound and
    clean the join state. BATCH inner joins instead route through the
    bucketed rewrite (operators/relational.range_join): the raw
    condition compiles to a sort-merge join on the key with the range
    as a post-filter, which is QUADRATIC inside each key group — a
    power-law key (one user holding 0.5% of 10M events) turned the
    raw plan into a 194 s straggler where the bucketed plan takes
    seconds (SCALE_NOTES.md, Round 9). Results are identical; only
    the join strategy changes."""
    if upper_sec < lower_sec:
        raise ValueError("upper_sec must be >= lower_sec")
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    lw = _ts_norm(left, left_ts).withWatermark(left_ts, watermark)
    rw = _ts_norm(right, right_ts).withWatermark(right_ts, watermark)
    lp = lw.select(
        [F.col(c).alias(f"l_{c}") for c in lw.columns])
    rp = rw.select(
        [F.col(c).alias(f"r_{c}") for c in rw.columns])
    if how == "inner" and not left.isStreaming and not right.isStreaming:
        from ..operators.relational import range_join

        lt = lp.withColumn("__k", F.col(f"l_{key}"))
        rt = rp.withColumn("__k", F.col(f"r_{key}"))
        return range_join(
            lt, rt,
            left_ts=f"l_{left_ts}", right_ts=f"r_{right_ts}",
            lower_sec=float(lower_sec), upper_sec=float(upper_sec),
            keys=["__k"],
        ).drop("__k")
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}")
           >= F.col(f"l_{left_ts}")
           + F.expr(f"INTERVAL {int(lower_sec)} SECOND"))
        & (F.col(f"r_{right_ts}")
           <= F.col(f"l_{left_ts}")
           + F.expr(f"INTERVAL {int(upper_sec)} SECOND"))
    )
    return lp.join(rp, cond, how)
