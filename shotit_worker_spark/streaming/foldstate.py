"""Parquet state tables of the streaming folds: layout, probe, read, commit.

Every stateful fold (funnel, cohort, session, scd2, lsh, index) keeps
its state as parquet tables and owns one :class:`FoldState` per
table. The folds keep only their per-key fold expressions; the layout
of a table, which of its files a trigger reads and how a trigger's
output replaces them live here.

Bucket layout. With ``n_buckets`` set, a table carries an int
``bucket`` partition column, ``pmod(xxhash64(key...), n_buckets)``
over the fold's key (user, SCD2 keys, LSH band hash), so equal keys
always land in the same bucket directory. Per-key state tables are
partitioned by ``bucket`` alone. Append-shaped tables are partitioned
by their batch columns plus ``bucket`` where the fold puts it
(``partitions``: session ``closed`` is ``(batch_id, bucket)``, LSH
``bands`` is ``(bucket, batch_id)``); without ``n_buckets`` the
``bucket`` entry is dropped.

Pruning. :meth:`FoldState.probe` is ONE bounded collect (at most one
row per bucket, plus one per already-applied bucket) over the batch's
own rows: the touched buckets, optionally the batch max of a column
(the lateness folds' seal horizon) and optionally the buckets whose
state rows already carry ``bid == batch_id``. :meth:`FoldState.prune`
then restricts the state scan to the touched buckets (partition
pruning), so a trigger reads and rewrites O(touched buckets), not
O(state). With no state yet, or no buckets, nothing is pruned and the
probe collects only what the fold still needs (the batch max, the
unbucketed done check).

Commit paths.

- Bucketed per-key table (:meth:`FoldState.commit`): dynamic partition
  overwrite of the bucket directories present in the output. Every
  fold keeps each state row of a touched bucket (the merges never drop
  a prior key), so a touched bucket that held state always reappears
  and untouched buckets are never read or rewritten. The per-bucket
  overwrites are not jointly atomic.
- Unbucketed per-key table: the first write goes straight to the path;
  later writes swap the whole table in atomically (``_swap_write``).
- Append-shaped table (:meth:`FoldState.append`): dynamic partition
  overwrite of the trigger's own batch partitions.

Crash replay. A checkpoint-replayed trigger must leave the state as one
clean run would:

- Idempotent merges (funnel walk, cohort min/set-union, SCD2 rebuild
  from the reconstructed log, LSH/index batch partitions recomputed
  from ``batch_id < N``): re-folding the batch into a partly or fully
  rewritten state gives the same state, so a crash between two bucket
  overwrites, or between two tables, needs no recovery.
- Non-idempotent merges (session counts add): each state row stores
  the ``bid`` of the trigger that wrote it and the probe reports those
  buckets as done. Bucketed, the replay skips the done buckets and
  folds only the rest; unbucketed, the swap is all-or-nothing, so a
  table whose max ``bid`` is the batch means the whole batch is
  applied. The append-shaped side is written FIRST, from the old
  state, so a crash before the state write replays into the same
  batch partitions.

Compaction (:meth:`FoldState.archive_below`) folds the batch
partitions below the stream's committed checkpoint floor into the
``batch_id=-1`` archive (plans/maintenance.archive_partitions_below).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.maintenance import (
    archive_partitions_below,
    path_exists,
    read_state_parquet,
)
from ..plans.merge import _swap_write

__all__ = ["FoldState", "Probe"]


class Probe(NamedTuple):
    """What one trigger touches. ``touched`` is the bucket list to read
    and rewrite (None: no pruning); ``bmax`` the batch max of the
    probe's ``max_of`` column; ``skip`` means the whole batch is
    already applied; ``partial`` that some touched buckets were, so
    the fold must drop their batch rows (:meth:`FoldState.keep`)."""

    touched: list | None
    bmax: object = None
    skip: bool = False
    partial: bool = False


class FoldState:
    """One parquet state table of a streaming fold (module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        partitions: Sequence[str] = ("bucket",),
    ):
        if n_buckets is not None and n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.partitions = [
            c for c in partitions if c != "bucket" or self.bucketed
        ]

    @property
    def bucketed(self) -> bool:
        return self.n_buckets is not None

    def bucket(self, *cols) -> Column:
        """The bucket of a row: ``pmod(xxhash64(cols...), n_buckets)``."""
        n = F.lit(self.n_buckets)
        return ((F.xxhash64(*cols) % n + n) % n).cast("int")

    def read(self, schema=None) -> DataFrame | None:
        return read_state_parquet(self.spark, self.path, schema)

    def probe(
        self,
        rows: DataFrame,
        *cols,
        state: DataFrame | None = None,
        max_of: str | None = None,
        done_bid: int | None = None,
    ) -> Probe:
        """The trigger's touched buckets of ``rows`` (keyed by
        ``cols``) against ``state`` (the unpruned read), with the
        batch max of the bigint column ``max_of`` and, given
        ``done_bid``, the replay check on ``state``'s ``bid``."""
        mx, no_m = [], []
        if max_of is not None:
            mx = [F.max(max_of).alias("__m")]
            no_m = [F.lit(None).cast("long").alias("__m")]
        if state is None or not self.bucketed:
            if state is not None and done_bid is not None:
                last = state.agg(F.max("bid")).collect()[0][0]
                if last is not None and int(last) == int(done_bid):
                    return Probe(None, skip=True)
            bmax = rows.agg(*mx).collect()[0][0] if mx else None
            return Probe(None, bmax)
        b = self.bucket(*cols).alias("__b")
        side = rows.groupBy(b).agg(*mx) if mx else rows.select(b).distinct()
        if done_bid is not None:
            # the already-applied buckets ride the same job: every state
            # file stores bid as a per-trigger literal, so the pushed
            # bid filter prunes the rest at the row-group-stats level
            side = side.withColumn("__done", F.lit(False)).unionByName(
                state.where(F.col("bid") == F.lit(int(done_bid)))
                .select(F.col("bucket").alias("__b"))
                .distinct()
                .select("__b", *no_m, F.lit(True).alias("__done"))
            )
        got = side.collect()
        done = {r["__b"] for r in got if done_bid is not None and r["__done"]}
        batch = [r for r in got if done_bid is None or not r["__done"]]
        bmax = max(
            (r["__m"] for r in batch if r["__m"] is not None), default=None
        ) if mx else None
        touched = [r["__b"] for r in batch]
        done &= set(touched)
        if done:
            touched = [t for t in touched if t not in done]
        return Probe(touched, bmax, bool(done) and not touched, bool(done))

    def prune(self, df: DataFrame | None, probe: Probe) -> DataFrame | None:
        """``df`` (this table's read) restricted to the touched buckets."""
        if df is None or probe.touched is None:
            return df
        return df.where(F.col("bucket").isin(probe.touched))

    def keep(self, rows: DataFrame, probe: Probe, *cols) -> DataFrame:
        """Batch ``rows`` minus those of already-applied buckets."""
        if not probe.partial:
            return rows
        return rows.where(self.bucket(*cols).isin(probe.touched))

    def commit(self, df: DataFrame, *cols) -> None:
        """Replace the per-key state with ``df`` (bucketed by ``cols``)."""
        if self.bucketed:
            self._overwrite(
                df.withColumn("bucket", self.bucket(*cols))
                .repartition("bucket")
            )
        elif not path_exists(self.spark, self.path):
            df.write.mode("overwrite").parquet(self.path)
        else:
            _swap_write(df, self.path)

    def append(self, df: DataFrame, *cols, salt_by: str | None = None):
        """Write ``df``, which carries the non-bucket partition columns,
        over its own batch partitions. ``salt_by`` widens a bucketed
        write past ``n_buckets`` tasks: repartitioning on the bucket
        alone caps it at n_buckets, so a deterministic per-row salt
        spreads it over ~defaultParallelism tasks at <= salt files per
        partition (compaction folds them away below the floor)."""
        if self.bucketed:
            df = df.withColumn("bucket", self.bucket(*cols))
            if salt_by is not None:
                salt = max(
                    1,
                    self.spark.sparkContext.defaultParallelism
                    // self.n_buckets,
                )
                df = df.repartition(
                    self.n_buckets * salt,
                    F.col("bucket"),
                    F.pmod(F.xxhash64(salt_by), F.lit(salt)),
                ) if salt > 1 else df.repartition("bucket")
        self._overwrite(df)

    def _overwrite(self, df: DataFrame) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partitions)
            .parquet(self.path)
        )

    def archive_below(self, below_batch_id: int) -> dict:
        """Fold batch partitions below the committed checkpoint floor
        into ``batch_id=-1``; never pass a bound a replayable trigger
        could still rewrite. Returns {archived_rows (newly archived
        only), partitions_before, partitions_after}."""
        return archive_partitions_below(
            self.spark, self.path, self.partitions, below_batch_id
        )
