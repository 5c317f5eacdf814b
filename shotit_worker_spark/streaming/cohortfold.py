"""Incremental cohort retention over a stream (foreachBatch).

Unlike the funnel fold, cohort state needs NO cross-batch ordering
contract: the per-user accumulator is (min anchor period, distinct
activity-period set) and both min and set-union are commutative and
idempotent, so ANY batching of the same events converges to the same
state — including late anchors that retroactively re-cohort a user
(the matrix filters activity >= cohort at READ time, so periods seen
before the anchor arrived are never lost). Per-user state is bounded
by timeline/period (52 rows' worth per year at weekly periods), held
in a DISTRIBUTED parquet state table, never on the driver.

Each micro-batch: one groupBy(user) over the batch, a full-outer
merge with the state (least for the anchor, array_distinct-concat for
the periods), and an atomic swap write — a replayed batch is a
no-op, so checkpoint-replayed triggers stay correct.

With ``n_buckets`` set the state is bucketed by user
(streaming/foldstate); the merge is idempotent, so replay needs no
all-bucket atomic swap.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..smallframe import arrow_rows as _arrow_rows

from ..operators.cohort import _MICROS_PER_DAY, _matrix_from_per_user
from .foldstate import FoldState

__all__ = ["CohortFolder"]


class CohortFolder:
    """Streaming cohort retention with parquet-backed per-user state.
    Use :meth:`foreach_batch` as the ``foreachBatch`` function; read
    the retention matrix with :meth:`matrix` (same shape and, over
    the same events, same values as operators/cohort.cohort_retention
    — pinned by the stream==batch test)."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        anchor_type: str | None = None,
        activity_type: str | None = None,
        period_days: int = 7,
        n_buckets: int | None = None,
    ):
        if period_days <= 0:
            raise ValueError("period_days must be positive")
        self.state = FoldState(spark, state_path, n_buckets)
        self.spark = spark
        self.state_path = state_path
        self.user_col = user_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.anchor_type = anchor_type
        self.activity_type = activity_type
        self.period_days = period_days

    def _per_batch(self, batch_df: DataFrame) -> DataFrame:
        micros = self.period_days * _MICROS_PER_DAY
        ev = batch_df.select(
            F.col(self.user_col).alias("user"),
            F.expr(
                f"unix_micros(CAST({self.ts_col} AS TIMESTAMP)) "
                f"DIV {micros}"
            ).alias("__p"),
            F.col(self.type_col).alias("__y"),
        ).where(F.col(self.ts_col).isNotNull())
        anchor_p = (
            F.when(F.col("__y") == F.lit(self.anchor_type),
                   F.col("__p"))
            if self.anchor_type is not None else F.col("__p")
        )
        activity_p = (
            F.when(F.col("__y") == F.lit(self.activity_type),
                   F.col("__p"))
            if self.activity_type is not None else F.col("__p")
        )
        # unlike the batch path, users WITHOUT an anchor yet are
        # kept (cohort NULL): a later batch may anchor them, and
        # their already-seen activity must not be lost
        return ev.groupBy("user").agg(
            F.min(anchor_p).alias("cohort"),
            F.array_sort(F.collect_set(activity_p)).alias("periods"),
        )

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch = self._per_batch(batch_df)
        state = self.state.read()
        # probe the RAW batch, not the per-user aggregation, which then
        # runs once, inside the write job (same user set: _per_batch
        # keeps every non-NULL-ts user)
        probe = self.state.probe(
            batch_df.where(F.col(self.ts_col).isNotNull()),
            self.user_col, state=state,
        )
        state = self.state.prune(state, probe)
        if state is None:
            new_state = batch
        else:
            s = state.select(
                "user",
                F.col("cohort").alias("__sc"),
                F.col("periods").alias("__sp"),
            )
            new_state = (
                batch.join(s, on="user", how="full_outer")
                .select(
                    "user",
                    # least skips NULLs: min over everything seen
                    F.least("cohort", "__sc").alias("cohort"),
                    F.array_sort(
                        F.array_distinct(
                            F.concat(
                                F.coalesce(
                                    "periods",
                                    F.array().cast("array<long>"),
                                ),
                                F.coalesce(
                                    "__sp",
                                    F.array().cast("array<long>"),
                                ),
                            )
                        )
                    ).alias("periods"),
                )
            )
        # every state user of a touched bucket survives the merge
        self.state.commit(new_state, "user")

    def writer(self) -> Callable[[DataFrame, int], None]:
        return self.foreach_batch

    def matrix(self, max_offset: int | None = None) -> DataFrame:
        """(cohort_period, period_offset, n_users, cohort_size,
        retention) over everything folded so far."""
        state = self.state.read()
        if state is None:
            return _arrow_rows(self.spark, 
                [],
                "cohort_period long, period_offset int, n_users long,"
                " cohort_size long, retention double",
            )
        per_user = state.where(F.col("cohort").isNotNull()).select(
            F.col("cohort").alias("__cohort"),
            F.col("periods").alias("__periods"),
        )
        return _matrix_from_per_user(per_user, max_offset)
