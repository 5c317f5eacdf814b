"""Incremental SCD2 maintenance over a CDC stream (foreachBatch).

plans/scd2.build_scd2 builds the full type-2 history from a complete
change log; a CDC stream must not re-scan the whole log every
trigger. The fold here keeps the HISTORY TABLE ITSELF as the state —
which is what makes it contract-free per key: a type-2 history is
invertible back into its (collapsed) change log, so each micro-batch

1. splits the table into keys the batch touches and keys it does not
   (one semi/anti join pair — the batch's distinct keys are the
   small side, Catalyst broadcasts them),
2. RECONSTRUCTS the touched keys' change log from their history rows
   (each version row is an upsert at ``valid_from``; a closed
   interval whose ``valid_to`` is not the next version's
   ``valid_from`` was closed by a DELETE, re-synthesized at
   ``valid_to`` — one lead() window over the touched slice),
3. unions the new CDC rows, de-duplicates (key, seq) — which is what
   keeps a checkpoint-replayed trigger idempotent: replayed changes
   collide with their own reconstruction — and REBUILDS just those
   keys with build_scd2 (correct by construction: same collapse and
   delete-barrier semantics, any seq arrival order, late rows
   included),
4. swap-writes rebuilt ∪ untouched (plans/merge discipline).

One history row type is NOT invertible: a delete whose version has
not arrived yet (build_scd2 emits nothing for it, so a later
out-of-order version would reopen an interval the delete should
close). Those DANGLING deletes persist in a small TOMBSTONE side
table (``tomb/`` next to ``hist/``) and are re-fed into every
rebuild of their key; once a version absorbs one (its valid_to now
records the delete) the tombstone is dropped — and a stale tombstone
is harmless anyway, because re-applying a delete the history already
encodes is a rebuild no-op (deletes are idempotent in build_scd2).

No ordering contract: out-of-order and late CDC rows land in their
correct interval because touched keys are rebuilt from the full
reconstructed log. The determinism contract is build_scd2's own —
at most one change per (key, seq).

With ``n_buckets`` set both tables are bucketed by the keys
(streaming/foldstate); rows of untouched keys inside a touched bucket
ride through the rebuild unchanged.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scd2 import build_scd2, collapse_history
from .foldstate import FoldState

__all__ = ["Scd2Folder"]


class Scd2Folder:
    """Streaming SCD2 apply with the parquet history table as state.
    Use :meth:`foreach_batch` as the ``foreachBatch`` function; read
    the history with :meth:`table` (identical values to build_scd2
    over the union of all folded change batches — pinned by the
    stream==batch test)."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        keys: Sequence[str],
        attr_cols: Sequence[str],
        seq_col: str = "seq",
        op_col: str | None = None,
        delete_op: str = "delete",
        n_buckets: int | None = None,
    ):
        if not keys:
            raise ValueError("keys must be non-empty")
        if not attr_cols:
            raise ValueError("attr_cols must be non-empty")
        self.hist_state = FoldState(
            spark, os.path.join(table_path, "hist"), n_buckets
        )
        self.tomb_state = FoldState(
            spark, os.path.join(table_path, "tomb"), n_buckets
        )
        self.spark = spark
        self.table_path = table_path
        self.keys = list(keys)
        self.attr_cols = list(attr_cols)
        self.seq_col = seq_col
        self.op_col = op_col
        self.delete_op = delete_op

    def _as_log(self, changes: DataFrame) -> DataFrame:
        """Normalize a CDC batch to (keys..., attrs..., __seq, __op)."""
        op = (
            F.when(
                F.col(self.op_col) == F.lit(self.delete_op),
                F.lit("delete"),
            ).otherwise(F.lit("upsert"))
            if self.op_col is not None
            else F.lit("upsert")
        )
        return changes.select(
            *self.keys,
            *self.attr_cols,
            F.col(self.seq_col).alias("__seq"),
            op.alias("__op"),
        )

    def _reconstruct(self, hist: DataFrame) -> DataFrame:
        """Invert history rows back into their collapsed change log
        (same columns as _as_log's output)."""
        w = Window.partitionBy(*self.keys).orderBy("valid_from")
        rec = hist.withColumn(
            "__lead", F.lead("valid_from").over(w)
        )
        ups = rec.select(
            *self.keys,
            *self.attr_cols,
            F.col("valid_from").alias("__seq"),
            F.lit("upsert").alias("__op"),
        )
        # a closed interval not continued by the next version's
        # valid_from was closed by a delete at valid_to
        dels = rec.where(
            F.col("valid_to").isNotNull()
            & (
                F.col("__lead").isNull()
                | (F.col("valid_to") < F.col("__lead"))
            )
        ).select(
            *self.keys,
            *self.attr_cols,
            F.col("valid_to").alias("__seq"),
            F.lit("delete").alias("__op"),
        )
        return ups.unionByName(dels)

    def _tomb_as_log(
        self, tomb: DataFrame, template: DataFrame
    ) -> DataFrame:
        # typed NULL attrs (delete attrs are ignored by build_scd2,
        # but the union needs matching column types)
        dt = dict(template.dtypes)
        return tomb.select(
            *self.keys,
            *[
                F.lit(None).cast(dt[c]).alias(c)
                for c in self.attr_cols
            ],
            "__seq",
            F.lit("delete").alias("__op"),
        )

    def _rebuild(self, log: DataFrame) -> DataFrame:
        # collapse_noops=False: the STORED history must stay a true
        # inverse of the change log.  A collapsed store loses no-op
        # re-emits (upsert@1(A), upsert@2(A) -> one row), and a later
        # out-of-order change at seq 1.5 then rebuilds to
        # A[1,1.5), C[1.5,null) instead of the correct
        # A[1,1.5), C[1.5,2), A[2,null) — the @2 re-emit is no longer
        # a no-op once C sits between them.  table() collapses
        # adjacent identical versions at READ time instead.
        return build_scd2(
            log,
            keys=self.keys,
            attr_cols=self.attr_cols,
            seq_col="__seq",
            op_col="__op",
            collapse_noops=False,
        )

    def foreach_batch(self, changes: DataFrame, batch_id: int) -> None:
        log = self._as_log(changes).persist()
        cached = [log]
        try:
            self._fold(log, cached)
        finally:
            for df in cached:
                df.unpersist(blocking=False)

    def _fold(self, log: DataFrame, cached: list) -> None:
        hist = self.hist_state.read()
        tomb = self.tomb_state.read()
        bkeys = log.select(*self.keys).distinct()
        # one probe straight off the batch log (partial aggregation
        # collapses it map-side) prunes both tables, which share the
        # bucket expression; it runs once either table holds state
        probe = self.hist_state.probe(
            log, *self.keys, state=hist if hist is not None else tomb
        )
        hist = self.hist_state.prune(hist, probe)
        tomb = self.tomb_state.prune(tomb, probe)
        recon = log.limit(0)
        pass_hist = None
        pass_tomb = None
        if hist is not None:
            touched_hist = hist.join(bkeys, on=self.keys, how="left_semi")
            pass_hist = hist.join(bkeys, on=self.keys, how="left_anti")
            recon = recon.unionByName(
                self._reconstruct(
                    touched_hist.select(
                        *self.keys, *self.attr_cols,
                        "valid_from", "valid_to",
                    )
                )
            )
        if tomb is not None:
            touched_tomb = tomb.join(bkeys, on=self.keys, how="left_semi")
            pass_tomb = tomb.join(bkeys, on=self.keys, how="left_anti")
            recon = recon.unionByName(
                self._tomb_as_log(touched_tomb, log)
            )
        merged_log = recon.unionByName(log)
        # replayed changes collide with their own reconstruction; one
        # change per (key, seq) is the module contract, so which
        # duplicate survives is immaterial. Dedup with a lag() over
        # the SAME hash(keys) window partitioning build_scd2 needs —
        # a dropDuplicates(keys+seq) here cost one extra full
        # exchange of the merged log per trigger for the same result
        # (hash(keys) co-locates equal (key, seq) rows; among
        # equal-seq duplicates lag sees an arbitrary order, exactly
        # like dropDuplicates' arbitrary survivor). DEDUPED is what
        # persists (r13): both the hist rebuild and the tombstone
        # extraction read it, and the cached relation keeps the
        # hash(keys) partitioning and (keys, __seq) sort order, so
        # the tomb job below re-exchanges NOTHING where it used to
        # re-aggregate the delete slice and anti-join the rebuilt
        # history.
        wd = Window.partitionBy(*self.keys).orderBy("__seq")
        deduped = (
            merged_log.withColumn(
                "__pseq", F.lag("__seq").over(wd)
            )
            .where(
                F.col("__pseq").isNull()
                | (F.col("__pseq") != F.col("__seq"))
            )
            .drop("__pseq")
        ).persist()
        cached.append(deduped)
        rebuilt = self._rebuild(deduped)
        # dangling deletes, from the SAME (keys, __seq) window pass
        # (r12 VERDICT #3): build_scd2(collapse_noops=False) sets a
        # version's valid_to = lead(__seq) over ALL surviving rows,
        # so a delete's seq appears as some valid_to iff its
        # immediate predecessor in the deduped key order is an
        # upsert (the version it closes). A delete therefore dangles
        # iff it is first in its key or follows another delete —
        # exactly the rows the former formulation kept by
        # anti-joining the rebuilt history's closed_at set, without
        # re-scanning the rebuild: one lag() on the cached
        # partitioning replaces dropDuplicates(keys+seq) over the
        # delete slice + the left_anti join (equivalence pinned by
        # test_streaming_scd2 and the q126/q112 oracle).
        new_tomb = (
            deduped.withColumn("__pop", F.lag("__op").over(wd))
            .where(
                (F.col("__op") == "delete")
                & (
                    F.col("__pop").isNull()
                    | (F.col("__pop") == F.lit("delete"))
                )
            )
            .select(*self.keys, "__seq")
        )
        out_hist = rebuilt
        if pass_hist is not None:
            out_hist = out_hist.unionByName(
                pass_hist.select(*rebuilt.columns)
            )
        out_tomb = new_tomb
        if pass_tomb is not None:
            out_tomb = out_tomb.unionByName(
                pass_tomb.select(*new_tomb.columns)
            )
        # hist FIRST, tomb second. The asymmetry matters: a stale
        # tombstone is a rebuild no-op (the delete it re-adds is
        # already encoded or deduped), but a LOST one is not — if a
        # batch's version absorbs a tombstone, new_tomb drops it, and
        # writing tomb before hist would leave a crash window where
        # neither the tombstone nor the interval that encodes the
        # delete is on disk (the replay would then resurrect the
        # deleted version as open). With hist first, the crash
        # window's worst case is hist_new + tomb_old: the replay
        # re-adds an already-encoded delete, which dedup absorbs.
        self.hist_state.commit(out_hist, *self.keys)
        self.tomb_state.commit(out_tomb, *self.keys)

    def writer(self) -> Callable[[DataFrame, int], None]:
        return self.foreach_batch

    def table(self) -> DataFrame:
        """The maintained SCD2 history (keys..., attrs...,
        valid_from, valid_to, is_current) — identical to
        ``build_scd2`` (collapse_noops=True) over the union of all
        folded change batches.  The store is uncollapsed (see
        _rebuild); contiguous identical versions merge here."""
        t = self.hist_state.read()
        if t is None:
            raise ValueError("no batches folded yet")
        return collapse_history(
            t.select(
                *self.keys, *self.attr_cols,
                "valid_from", "valid_to", "is_current",
            ),
            keys=self.keys,
            attr_cols=self.attr_cols,
        )
