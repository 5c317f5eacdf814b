"""Incremental sessionization over a stream (foreachBatch).

The batch operator (operators/sessions) numbers gap-based sessions
with one lag + running-sum exchange over the event HISTORY; a stream
must not re-walk history every trigger. The fold here keeps exactly
ONE open session per user — (start, last event, count), O(1) rows —
as a DISTRIBUTED parquet state table, and appends each session the
moment the gap rule closes it to a batch_id-partitioned CLOSED table
(facts, not state: the closed side only ever grows by finished
sessions, the append-only shape any warehouse sink has). Each
micro-batch:

1. sessionizes its OWN events in one keyed exchange (groupBy(user)
   gathers sorted event times; the ``_segment`` fold applies the
   batch operator's exact <=-gap rule — micro-batch sized),
2. full-outer-joins the open-session state on user,
3. merges the user's sorted partial sessions into the open session
   with an ``F.aggregate`` chain fold — extend while the gap from
   the open session's end is <= gap (the batch operator's EXACT
   boundary rule: an event at precisely gap_sec still extends; we
   deliberately do NOT use ``F.session_window`` here, whose window-
   overlap merge is strict-< at the boundary and would split where
   the pinned batch/oracle semantics merge),
4. writes newly closed sessions to ``closed/batch_id=N`` (dynamic
   partition overwrite), then swap-writes the open state.

Unlike the funnel/cohort folds, the session merge is NOT naturally
idempotent (event counts add), so every open-state row carries the
``bid`` of the batch that wrote it and a checkpoint-replayed trigger
is detected and SKIPPED: a crash can only happen before the open
write (closed is written first, and recomputes deterministically
from the old state) or after it (``bid`` equals the replayed
batch_id, so the whole batch — or, under buckets, exactly the
already-written buckets — is a no-op; the closed table is
partitioned by (batch_id, bucket) there so undone buckets' rewrites
never clobber done ones).

``stats()`` unions closed + open and numbers each user's sessions by
start time — identical shape and, under the ordering contract,
identical values to operators/sessions.session_stats over everything
folded (pinned by the stream==batch test).

Correctness contract: batches arrive in event-time order ACROSS
triggers with equal-timestamp events inside one trigger (the
FunnelFolder default contract; file replay / log-compaction order).

With ``lateness_sec`` set the contract drops to the watermark one
(the FunnelFolder lateness treatment): state holds each user's
PENDING set as session PARTIALS (struct<s,e,n>; a raw event is the
(t,t,1) partial); every trigger re-segments pending ∪ batch and
finalizes only sessions with ``end + gap < batch_max − lateness``
(finality is a prefix of the time-ordered session list, so pending
shrinks to the tail), and :meth:`stats` segments the pending tail at
read time. A late event within the horizon can therefore extend or
even BRIDGE two previously separate sessions, exactly like the batch
operator — pinned by the shuffled-replay and bridge tests. Duplicate
(user, ts) events collapse while raw. Pending state is BOUNDED: the
sub-horizon prefix (provably confined to the first pending session)
compacts into one partial each trigger, so a never-idle user holds
O(lateness × rate) state, not O(history) — see
_fold_with_lateness's docstring for the argument.

With ``n_buckets`` set both tables are bucketed by user
(streaming/foldstate); open sessions never disappear without new
events, so touched buckets always reappear in the open write.

Maintenance: a long-running stream accrues one ``batch_id=N``
partition per trigger on the closed side. :meth:`compact_closed`
folds them into the archive partition — but only partitions BELOW the
stream's committed checkpoint floor: a batch at-or-above it could
still be replayed and would dynamic-overwrite its partition,
duplicating whatever a premature compaction had already absorbed.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..smallframe import arrow_rows as _arrow_rows

from .foldstate import FoldState

__all__ = ["SessionFolder"]

_SESS_T = "struct<s:bigint,e:bigint,n:bigint>"
_ACC_T = f"struct<cur:{_SESS_T},closed:array<{_SESS_T}>>"


class SessionFolder:
    """Streaming gap sessionization with parquet-backed open-session
    state and an append-shaped closed-session table. Use
    :meth:`foreach_batch` as the ``foreachBatch`` function; read the
    numbered session table with :meth:`stats`."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        user_col: str = "user_id",
        ts_col: str = "ts",
        gap_sec: float = 1800.0,
        n_buckets: int | None = None,
        lateness_sec: float | None = None,
    ):
        if gap_sec <= 0:
            raise ValueError(f"gap_sec must be positive, got {gap_sec}")
        self.open_state = FoldState(
            spark, os.path.join(state_path, "open"), n_buckets
        )
        self.closed_state = FoldState(
            spark, os.path.join(state_path, "closed"), n_buckets,
            partitions=("batch_id", "bucket"),
        )
        if lateness_sec is not None and lateness_sec < 0:
            raise ValueError("lateness_sec must be >= 0")
        self.spark = spark
        self.state_path = state_path
        self.user_col = user_col
        self.ts_col = ts_col
        self.gap_sec = gap_sec
        # bounded-lateness mode: see the module docstring
        self.lateness_sec = lateness_sec

    def _partials(self, ev: DataFrame) -> DataFrame:
        """(user, __ps sorted array<struct<s,e,n>>) — the batch's own
        sessions, collapsed per user in ONE keyed exchange:
        groupBy(user) gathers the sorted event times and
        :meth:`_segment` folds them with the batch operator's exact
        <=-gap rule (the same kernel the lateness path uses — pinned
        equal to operators/sessions.sessionize by the stream==batch
        tests). The former formulation went through sessionize's
        window (lag + cumsum sorts) plus TWO follow-up aggregations;
        all three hash to the same user partitioning, but each added
        a sort/agg phase to the trigger's write job for identical
        output. Per-user arrays are micro-batch sized — the fold's
        standing state contract."""
        return ev.groupBy("user").agg(
            F.sort_array(F.collect_list("__t")).alias("__tt")
        ).select("user", self._segment(F.col("__tt")).alias("__ps"))

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        lateness = self.lateness_sec is not None
        ev = batch_df.where(F.col(self.ts_col).isNotNull()).select(
            F.col(self.user_col).alias("user"),
            F.unix_micros(F.col(self.ts_col).cast("timestamp")).alias("__t"),
        )
        openst = self.open_state.read()
        # ONE probe job: touched buckets, the already-applied ones
        # (bid == this batch: closed lands before open, so such a
        # bucket is fully applied) and, under lateness, the seal
        # horizon's batch max. On a partially replayed trigger that
        # max still covers the done buckets' events: any horizon <=
        # the batch max respects the lateness contract.
        probe = self.open_state.probe(
            ev, "user", state=openst, done_bid=bid,
            max_of="__t" if lateness else None,
        )
        if probe.skip:
            return
        openst = self.open_state.prune(openst, probe)
        ev = self.open_state.keep(ev, probe, "user")
        if lateness:
            folded, closed, keep, open_cols = self._fold_with_lateness(
                ev, openst, probe.bmax
            )
        else:
            folded, closed, keep, open_cols = self._fold_on_time(
                ev, openst
            )
        folded = folded.persist()
        try:
            # closed first, open second: a crash between the two
            # replays against the OLD open state and deterministically
            # rewrites the same batch partitions
            self.closed_state.append(
                folded.select("user", F.explode(closed).alias("__c"))
                .select(
                    "user",
                    F.col("__c")["s"].alias("s"),
                    F.col("__c")["e"].alias("e"),
                    F.col("__c")["n"].alias("n"),
                    F.lit(bid).alias("batch_id"),
                ),
                "user",
            )
            self.open_state.commit(
                folded.where(keep).select(
                    "user", *open_cols, F.lit(bid).alias("bid")
                ),
                "user",
            )
        finally:
            folded.unpersist(blocking=False)

    def _fold_on_time(self, ev: DataFrame, openst: DataFrame | None):
        """The ordered-contract fold: the batch's own sessions chained
        onto each user's open session."""
        parts = self._partials(ev)
        if openst is not None:
            joined = parts.join(
                openst.select(
                    "user",
                    F.struct("s", "e", "n").alias("__open"),
                ),
                on="user",
                how="full_outer",
            )
        else:
            joined = parts.withColumn(
                "__open", F.lit(None).cast(_SESS_T)
            )
        gap_us = self._gap_us()

        def visit(acc, p):
            extend = (
                acc["cur"].isNotNull()
                & (p["s"] - acc["cur"]["e"] <= gap_us)
            )
            return (
                F.when(
                    extend,
                    F.struct(
                        F.struct(
                            acc["cur"]["s"].alias("s"),
                            F.greatest(acc["cur"]["e"], p["e"]).alias("e"),
                            (acc["cur"]["n"] + p["n"]).alias("n"),
                        ).alias("cur"),
                        acc["closed"].alias("closed"),
                    ),
                )
                .when(
                    acc["cur"].isNull(),
                    F.struct(
                        p.alias("cur"), acc["closed"].alias("closed")
                    ),
                )
                .otherwise(
                    F.struct(
                        p.alias("cur"),
                        F.concat(
                            acc["closed"], F.array(acc["cur"])
                        ).alias("closed"),
                    )
                )
            )

        init = F.struct(
            F.col("__open").alias("cur"),
            F.array().cast(f"array<{_SESS_T}>").alias("closed"),
        )
        folded = joined.select(
            "user",
            F.aggregate(
                F.coalesce("__ps", F.array().cast(f"array<{_SESS_T}>")),
                init.cast(_ACC_T),
                visit,
            ).alias("__a"),
        )
        cur = F.col("__a")["cur"]
        return (
            folded,
            F.col("__a")["closed"],
            cur.isNotNull(),
            [cur["s"].alias("s"), cur["e"].alias("e"), cur["n"].alias("n")],
        )

    def _gap_us(self):
        return F.lit(int(round(self.gap_sec * 1_000_000)))

    def _segment(self, times_col):
        """array<long> of sorted event micros -> array<struct<s,e,n>>
        of gap sessions (the batch operator's <=-gap rule)."""
        gap_us = self._gap_us()
        empty = F.array().cast(f"array<{_SESS_T}>")

        def seg(acc, t):
            last = F.element_at(acc, -1)
            ext = (F.size(acc) > 0) & ((t - last["e"]) <= gap_us)
            newlast = F.struct(
                last["s"].alias("s"), t.alias("e"),
                (last["n"] + 1).alias("n"),
            )
            head = F.when(
                F.size(acc) > 1,
                F.slice(acc, F.lit(1), F.size(acc) - 1),
            ).otherwise(empty)
            fresh = F.struct(
                t.alias("s"), t.alias("e"),
                F.lit(1).cast("bigint").alias("n"),
            )
            return F.when(
                ext, F.concat(head, F.array(newlast))
            ).otherwise(F.concat(acc, F.array(fresh)))

        return F.aggregate(times_col, empty, seg)

    def _segment_partials(self, parts_col):
        """Sorted array<struct<s,e,n>> of non-overlapping session
        PARTIALS -> array<struct<s,e,n>> of gap sessions: merge a
        partial into the last session when its start is within gap of
        that session's end (the same <=-gap rule; a raw event is the
        (t,t,1) partial, so this generalizes _segment)."""
        gap_us = self._gap_us()
        empty = F.array().cast(f"array<{_SESS_T}>")

        def seg(acc, p):
            last = F.element_at(acc, -1)
            ext = (F.size(acc) > 0) & (
                (p["s"] - last["e"]) <= gap_us
            )
            newlast = F.struct(
                last["s"].alias("s"),
                F.greatest(last["e"], p["e"]).alias("e"),
                (last["n"] + p["n"]).alias("n"),
            )
            head = F.when(
                F.size(acc) > 1,
                F.slice(acc, F.lit(1), F.size(acc) - 1),
            ).otherwise(empty)
            return F.when(
                ext, F.concat(head, F.array(newlast))
            ).otherwise(F.concat(acc, F.array(p)))

        return F.aggregate(parts_col, empty, seg)

    def _fold_with_lateness(
        self, ev: DataFrame, openst: DataFrame | None, bmax
    ):
        """Contract-free mode: per-user PENDING SET in state as
        session PARTIALS (struct<s,e,n>; a raw event is (t,t,1)); a
        session finalizes (moves to closed) only once
        ``end + gap < batch_max − lateness`` — no in-contract future
        event can extend or bridge it (finality is a prefix of the
        time-ordered session list, so pending shrinks to partials
        after the last final session's end). Late events within the
        horizon re-segment the pending set, so they can extend or
        even BRIDGE previously separate sessions, exactly like the
        batch operator. Duplicate (user, ts) events collapse while
        still raw (identical (t,t,1) partials dedup in the sorted
        merge) — keep a tiebreak-distinct timestamp if duplicate
        events must count separately. The bid skip guards replay:
        re-segmenting the pending set is idempotent, but a replayed
        batch after the state write would re-finalize sessions whose
        older partials were already dropped from pending.

        BOUNDED STATE (r10 VERDICT #3): a user who never idles longer
        than gap never finalizes, so a raw pending set would grow
        with history (a gapless bot at 100 TB = one monster row).
        After finalization, every pending partial with e < horizon
        provably belongs to the FIRST pending session — an earlier
        session with e + gap < horizon was finalized, and the next
        session starts > e + gap >= horizon — and a session's members
        can never be re-segmented apart (adding events only merges or
        extends sessions), so that sub-horizon prefix collapses into
        ONE (s,e,n) partial. Pending is then O(lateness x event rate)
        raw partials + 1 collapsed partial per user, independent of
        history. The one semantic narrowing: a duplicate re-delivered
        BELOW the compaction cutoff (i.e. out of the lateness
        contract anyway) lands next to the collapsed partial instead
        of deduping into it and inflates that session's n."""
        one = F.lit(1).cast("bigint")
        arr = ev.groupBy("user").agg(
            F.array_sort(
                F.array_distinct(F.collect_list("__t"))
            ).alias("__tt"),
        ).select(
            "user",
            F.transform(
                "__tt",
                lambda t: F.struct(
                    t.alias("s"), t.alias("e"), one.alias("n")
                ),
            ).alias("__ev"),
        )
        horizon = (
            None
            if bmax is None
            else int(bmax)
            - int(round(self.lateness_sec * 1_000_000))
        )
        if openst is not None:
            joined = arr.join(
                openst.select("user", F.col("pend").alias("__pp")),
                on="user",
                how="full_outer",
            )
        else:
            joined = arr.select(
                "user", "__ev",
                F.lit(None).cast(f"array<{_SESS_T}>").alias("__pp"),
            )
        empty_p = F.array().cast(f"array<{_SESS_T}>")
        # sort ONCE then collapse exact duplicates with an indexed
        # prefix compare (the FunnelFolder discipline — array_distinct
        # on struct elements is quadratic per array): a replayed raw
        # event collides with its own (t,t,1) partial
        sorted_all = joined.select(
            "user",
            F.col("__pp").isNotNull().alias("__had"),
            F.array_sort(
                F.concat(
                    F.coalesce("__pp", empty_p),
                    F.coalesce("__ev", empty_p),
                )
            ).alias("__all"),
        )
        deduped = sorted_all.select(
            "user",
            "__had",
            F.filter(
                "__all",
                lambda x, i: (i == F.lit(0))
                | (x != F.element_at(F.col("__all"), i)),
            ).alias("__m"),
        )
        gap_us = self._gap_us()
        staged = deduped.withColumn(
            "__sess", self._segment_partials(F.col("__m"))
        )
        if horizon is None:
            staged = staged.withColumn("__fin", empty_p)
        else:
            # STRICT <: an in-contract event can still arrive with
            # ts == batch_max - lateness == horizon exactly, and when
            # end + gap == horizon that event extends the session
            # under the <=-gap rule — finalizing at <= would diverge
            # from the batch operator at the boundary (r10 ADVICE)
            staged = staged.withColumn(
                "__fin",
                F.filter(
                    F.col("__sess"),
                    lambda s: s["e"] + gap_us < F.lit(horizon),
                ),
            )
        staged = staged.withColumn(
            "__kept",
            F.when(
                F.size("__fin") > 0,
                F.filter(
                    F.col("__m"),
                    lambda p: p["s"]
                    > F.element_at(
                        F.col("__fin"), F.size("__fin")
                    )["e"],
                ),
            ).otherwise(F.col("__m")),
        )
        if horizon is None:
            pend2 = F.col("__kept")
        else:
            # compact the sub-horizon prefix (all provably members of
            # the first pending session — see the docstring) into one
            # (s,e,n) partial; the raw tail stays within the lateness
            # window, so state is O(lateness x rate) per user
            cut = F.lit(horizon)
            prefix = F.filter(
                F.col("__kept"), lambda p: p["e"] < cut
            )
            tail = F.filter(
                F.col("__kept"), lambda p: p["e"] >= cut
            )
            collapsed = F.when(
                F.size(prefix) >= 2,
                F.array(
                    F.struct(
                        F.element_at(prefix, 1)["s"].alias("s"),
                        F.element_at(prefix, -1)["e"].alias("e"),
                        F.aggregate(
                            prefix,
                            F.lit(0).cast("bigint"),
                            lambda a, p: a + p["n"],
                        ).alias("n"),
                    )
                ),
            ).otherwise(prefix)
            # re-sort: a batch of only-older events REGRESSES the
            # horizon, and then a collapsed partial (small s, e >= new
            # cut) lands in `tail` while later-starting raw partials
            # with e < cut land in `prefix` — concat order alone would
            # persist pend out of s-order, and stats()/_segment_partials
            # require sorted input (r12 ADVICE)
            pend2 = F.array_sort(F.concat(collapsed, tail))
        folded = staged.select(
            "user", F.col("__fin"), pend2.alias("pend"), "__had"
        )
        # state rows are always kept (empty pend included) so a
        # touched bucket never silently retains stale rows
        keep = (F.size("pend") > 0) | F.col("__had")
        return folded, F.col("__fin"), keep, ["pend"]

    def writer(self) -> Callable[[DataFrame, int], None]:
        return self.foreach_batch

    def compact_closed(self, below_batch_id: int) -> dict:
        """Fold closed partitions with ``0 <= batch_id <
        below_batch_id`` into the archive partition ``batch_id=-1``
        (one atomic swap of the closed table — plans/maintenance.
        archive_partitions_below, as LshDedupFolder.compact_below). ONLY
        pass a bound at or below the stream's committed checkpoint
        floor: a trigger at-or-above it can still be replayed and
        would rewrite its partition, duplicating whatever the archive
        absorbed. Returns {archived_rows, partitions_before,
        partitions_after}; archived_rows counts only rows NEWLY
        archived by this call."""
        return self.closed_state.archive_below(below_batch_id)

    def stats(self) -> DataFrame:
        """(user, session_no, session_start, session_end, n_events,
        duration_sec) over everything folded — closed sessions plus
        each user's still-open one, numbered by start time; the
        session_stats shape."""
        pieces = []
        closed = self.closed_state.read()
        if closed is not None:
            pieces.append(closed.select("user", "s", "e", "n"))
        openst = self.open_state.read()
        if openst is not None:
            if self.lateness_sec is not None:
                # segment the still-pending partial tail at read time
                pieces.append(
                    openst.select(
                        "user",
                        F.explode(
                            self._segment_partials(F.col("pend"))
                        ).alias("__c"),
                    ).select(
                        "user",
                        F.col("__c")["s"].alias("s"),
                        F.col("__c")["e"].alias("e"),
                        F.col("__c")["n"].alias("n"),
                    )
                )
            else:
                pieces.append(openst.select("user", "s", "e", "n"))
        if not pieces:
            return _arrow_rows(self.spark, 
                [],
                "user long, session_no int, session_start timestamp,"
                " session_end timestamp, n_events long,"
                " duration_sec double",
            )
        allses = pieces[0]
        for p in pieces[1:]:
            allses = allses.unionByName(p)
        w = Window.partitionBy("user").orderBy("s")
        return allses.select(
            "user",
            F.row_number().over(w).alias("session_no"),
            F.timestamp_micros(F.col("s")).alias("session_start"),
            F.timestamp_micros(F.col("e")).alias("session_end"),
            F.col("n").alias("n_events"),
            ((F.col("e") - F.col("s")) / 1e6).alias("duration_sec"),
        )
