"""``live`` workload: keep the index fresh while new episodes stream in.

A Structured Streaming query reads seeded parquet micro-batches of
``(vec_id, ha)`` frame rows, one file per trigger, through
``foreachBatch``: ``LshDedupFolder`` (with ``n_buckets``) drops
near-duplicates, the kept rows are decoded with
``decoded_padded_normalized`` and folded into ``IndexFolder``. Set-up
starts the query, folds the first batch, which bootstraps the index, and
runs ``WARM_TRIGGERS`` untimed operations.
One operation publishes the next batch file, waits until the stream has
committed it, then looks up a few of its rows with
``IndexFolder.search``: the time until new frames are found.

Every trigger adds to the fold state, and a larger state can make
later triggers and lookups slower, so a run times a fixed number of
operations, whatever its ``--seconds``: the medians of two commits then
cover the same states.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

import inputs

ROWS_PER_TRIGGER = 1000
# trigger time keeps falling over the first triggers as the JIT settles
# (the JVM still compiles several seconds of code per trigger at the
# eighth), so the first operations after the bootstrap are untimed
WARM_TRIGGERS = 3
TIMED_TRIGGERS = 4  # operations per run
FRESH_QUERIES = 2
N_BUCKETS = 8
K = 15
NPROBE = 10
COMMIT_TIMEOUT_S = 120.0


class Live:
    item = "input rows"
    guard = "lsh_kept_ratio"  # must not move
    op_name = "live.trigger"
    min_ops = max_ops = TIMED_TRIGGERS

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.query = None

    def setup(self) -> None:
        from shotit_worker_spark.streaming.indexfold import IndexFolder
        from shotit_worker_spark.streaming.lshfold import LshDedupFolder

        root = os.path.join(self.work, "live")
        self.stage = os.path.join(root, "stage")
        self.src = os.path.join(root, "src")
        os.makedirs(self.stage)
        os.makedirs(self.src)
        self.batches = inputs.live_batches(
            self.seed, 1 + WARM_TRIGGERS + TIMED_TRIGGERS, ROWS_PER_TRIGGER
        )
        for b, (ids, ha) in enumerate(self.batches):
            pd.DataFrame({"vec_id": ids, "ha": ha}).to_parquet(self._file(self.stage, b))
        self.lsh_root = os.path.join(root, "lsh")
        self.ix_root = os.path.join(root, "ix")
        self.lsh = LshDedupFolder(
            self.spark, self.lsh_root, text_col="ha", id_col="vec_id", n_buckets=N_BUCKETS
        )
        self.ix = IndexFolder(self.spark, self.ix_root)
        self.next_batch = 0
        self.fresh: list[tuple[int, str]] = []  # (vec_id, ha) looked up
        self.search_ms: list[float] = []
        self.query = (
            self.spark.readStream.schema("vec_id long, ha string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
            .writeStream.foreachBatch(self.fold)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )
        with self.tr.span("streaming.bootstrap"):
            self._publish()
        for _ in range(WARM_TRIGGERS):
            self.run_op()
        self.search_ms.clear()
        self.first_measured = self.next_batch

    @staticmethod
    def _file(d: str, b: int) -> str:
        return os.path.join(d, f"batch-{b:04d}.parquet")

    def fold(self, batch_df, batch_id: int) -> None:
        """The foreachBatch function: LSH dedup, decode, index fold."""
        from pyspark.sql import functions as F

        from shotit_worker_spark.functions import vector as V

        tr = self.tr
        tr.join_group(self.spark.sparkContext)
        bid = int(batch_id)
        df = batch_df.persist()
        with tr.span("streaming.LshDedupFolder.foreach_batch"):
            self.lsh.foreach_batch(df, bid)
        with tr.span("functions.decoded_padded_normalized"):
            kept = self.lsh.kept().where(F.col("batch_id") == bid)
            rows = df.join(kept, "vec_id", "left_semi").select(
                "vec_id", V.decoded_padded_normalized("ha", 100).alias("vector")
            )
            if tr.recording:  # materialize so the span holds its own work
                rows = rows.persist()
                rows.count()
        with tr.span("streaming.IndexFolder.foreach_batch"):
            self.ix.foreach_batch(rows, bid)
        rows.unpersist()
        df.unpersist()

    def _publish(self) -> None:
        b = self.next_batch
        os.rename(self._file(self.stage, b), self._file(self.src, b))
        self.query.processAllAvailable()
        # processAllAvailable also returns after a trigger that listed the
        # source before the rename found nothing: wait for the batch's
        # progress report, which the stream posts once it is committed
        deadline = time.perf_counter() + COMMIT_TIMEOUT_S
        while b not in self._progress():
            if time.perf_counter() > deadline:
                raise RuntimeError(f"batch {b} not committed in {COMMIT_TIMEOUT_S:.0f} s")
            time.sleep(0.01)
        self.next_batch += 1

    def run_op(self) -> int:
        """Publish one batch, wait until it is committed, look up a few of
        its rows; returns the number of input rows."""
        b = self.next_batch
        self._publish()
        ids, ha = self.batches[b]
        for j in range(FRESH_QUERIES):
            t0 = time.perf_counter()
            with self.tr.span("streaming.IndexFolder.search"):
                self.ix.search(inputs.ha_unit_vector(ha[j]), k=K, nprobe=NPROBE).collect()
            self.search_ms.append(1e3 * (time.perf_counter() - t0))
            self.fresh.append((int(ids[j]), ha[j]))
        return len(ids)

    def _progress(self) -> dict[int, dict]:
        return {
            p["batchId"]: p["durationMs"]
            for p in self.query.recentProgress
            if p["numInputRows"] > 0
        }

    def _measured(self) -> list[dict]:
        prog = self._progress() if self.query is not None else self.progress
        return [prog[b] for b in range(self.first_measured, self.next_batch) if b in prog]

    def items_per_s(self, items: int, busy: float) -> float:
        """Input rows over the stream's own time for them: the summed
        ``triggerExecution`` of the timed triggers, lookups left out."""
        measured = self._measured()
        ms = sum(d["triggerExecution"] for d in measured)
        return 1e3 * ROWS_PER_TRIGGER * len(measured) / ms if ms else 0.0

    def details(self) -> dict:
        measured = self._measured()

        def med(key):
            vals = [d.get(key, 0) for d in measured]
            return statistics.median(vals) if vals else None

        files = sum(
            len(fs) for d in (self.lsh_root, self.ix_root) for _, _, fs in os.walk(d)
        )
        return {
            "triggers_measured": len(measured),
            "trigger_p50_ms": med("triggerExecution"),
            "trigger_ms": [d.get("triggerExecution") for d in measured],
            "query_planning_p50_ms": med("queryPlanning"),
            "wal_commit_p50_ms": med("walCommit"),
            "fresh_search_p50_ms": statistics.median(self.search_ms) if self.search_ms else None,
            "fresh_search_ms": self.search_ms,
            "fresh_searches": len(self.search_ms),
            "lsh_kept_ratio": getattr(self, "kept_ratio", None),
            "state_files": files,
        }

    def check(self) -> list[str]:
        """Redelivery of a finished trigger changes nothing; the stream's
        kept set equals one LshDedupFolder run over all rows in a single
        batch; every kept fresh row finds itself at full probe."""
        from shotit_worker_spark.streaming.lshfold import LshDedupFolder

        problems = []
        self.progress = self._progress()
        self.query.stop()
        self.query = None
        last = self.next_batch - 1

        def kept_ids():
            return sorted(r["vec_id"] for r in self.lsh.kept().collect())

        kept, count = kept_ids(), self.ix.table().count()
        self.fold(self.spark.read.parquet(self._file(self.src, last)), last)
        if kept_ids() != kept or self.ix.table().count() != count:
            problems.append(f"redelivering batch {last} changed the folded state")

        files = [self._file(self.src, b) for b in range(self.next_batch)]
        single = LshDedupFolder(
            self.spark, os.path.join(self.work, "lsh-single"), text_col="ha",
            id_col="vec_id", n_buckets=N_BUCKETS,
        )
        single.foreach_batch(self.spark.read.parquet(*files), 0)
        if sorted(r["vec_id"] for r in single.kept().collect()) != kept:
            problems.append("stream kept set differs from the single-batch fold")
        self.kept_ratio = len(kept) / (self.next_batch * ROWS_PER_TRIGGER)

        # one batch search over the folded view answers every lookup
        view = self.ix.view()
        kept_set = set(kept)
        queries = [
            (vid, inputs.ha_unit_vector(ha)) for vid, ha in self.fresh if vid in kept_set
        ]
        hits = view.search_batch(
            self.spark, queries, k=1, nprobe=len(view.centroids),
            id_col="vec_id", tie_col=None,
        ).collect() if queries else []
        top = {r["query_id"]: r["vec_id"] for r in hits}
        for vid, _ in queries:
            if top.get(vid) != vid:
                problems.append(f"fresh row {vid} is not its own top hit at full probe")
        return problems

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
