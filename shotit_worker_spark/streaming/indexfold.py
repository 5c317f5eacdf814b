"""Streaming vector-index ingestion (foreachBatch) — K3/K5 as a FOLD.

The reference streams 2000-row batches into a LIVE Milvus collection
(`insert` + `flush`, /root/reference/loader.js:267-288) and rebuilds
the collection when the index degrades. The batch analogs exist here
(IVFIndex.add, plans/maintenance.rebuild_if_drifted); this fold makes
ingestion REPLAY-SAFE and maintenance epoch-atomic for a real stream:

- BOOTSTRAP (first trigger): the index family is CHOSEN by the r12
  measured rule (index/family.plan_index_family under the configured
  byte budget) and trained on the first micro-batch — the
  FAISS/Milvus segment-sample training shape. Meta is written after
  data, so a crash mid-build leaves no sidecar and the replayed
  trigger rebuilds from scratch; a bootstrap that DID complete
  records its batch_id and replays no-op.
- INGEST (later triggers): rows assign to the EXISTING centroids and
  quantize with the EXISTING params (IVFIndex._encode_new_rows — no
  refit), but land in ``adds/epoch=E/batch_id=N/centroid_id=*`` via
  dynamic partition overwrite instead of append: a checkpoint-
  replayed trigger rewrites its own partitions idempotently, the
  property bare ``add()``'s append mode cannot give. Searches prune
  on centroid_id exactly as on the base layout.
- REBUILD (drift): :meth:`rebuild_if_drifted` measures drift over
  base ∪ adds with the standard maintenance rule, and on trigger
  rebuilds from the UNION through the family chooser into a fresh
  base whose meta carries ``fold_epoch + 1``. Stale adds (prior
  epoch) are ignored by every read — their rows are already in the
  new base — so the two-directory update needs no cross-directory
  atomicity: crash before the base swap changes nothing; crash after
  it leaves a complete new epoch. (Old-epoch add directories are
  garbage, removable any time via :meth:`vacuum_stale_adds`.)
- COMPACTION: one parquet partition per trigger accrues under adds;
  :meth:`compact_adds` folds batch_id partitions below the stream's
  committed checkpoint floor into the ``batch_id=-1`` archive (one
  atomic swap of the adds directory — the LshDedupFolder.
  compact_below discipline; same floor warning).

Scale posture: every step is one assignment pass over the micro-batch
(broadcast centroid matrix + codebooks), state is partitioned parquet
pruned on (epoch, centroid_id), and nothing driver-side grows with
the corpus — the sidecar holds the O(nlist x dim) centroids (+ PQ
codebooks) only. ALL four chooser families fold: flat and SQ8 encode
through IVFIndex._encode_new_rows, PQ (± SQ8 refine) through
IVFPQIndex._encode_new_rows — the same assign+encode kernels their
batch add() uses.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..index.family import open_index, plan_index_family
from ..index.ivf import _meta_jpath, _read_meta, _write_meta
from ..plans.maintenance import path_exists, read_state_parquet, swap_into

__all__ = ["IndexFolder"]


class IndexFolder:
    """Streaming IVF ingestion with a replay-idempotent adds layout
    and epoch-guarded drift rebuild. Use :meth:`foreach_batch` as the
    ``foreachBatch`` function; search with :meth:`search`."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        vec_col: str = "vector",
        byte_budget_per_vec: float | None = None,
        near_dup_dense: bool = False,
    ):
        self.spark = spark
        self.state_path = state_path
        self.base_path = os.path.join(state_path, "base")
        self.adds_path = os.path.join(state_path, "adds")
        self.vec_col = vec_col
        self.byte_budget_per_vec = byte_budget_per_vec
        self.near_dup_dense = near_dup_dense

    # -- state probes ---------------------------------------------------

    def _index(self):
        """The base index (IVFIndex or IVFPQIndex), or None before a
        COMPLETE bootstrap. 'No base yet' is decided by LISTING (the
        meta sidecar lands after data, so a crash mid-build lists as
        absent and the replayed trigger re-bootstraps); a real read
        failure PROPAGATES — swallowing it would make a transient
        store hiccup indistinguishable from cold start and send the
        fold off to re-bootstrap over live state (the r10 state-read
        honesty rule, plans/maintenance.read_state_parquet)."""
        if not path_exists(self.spark, self.base_path):
            return None
        fs, p = _meta_jpath(self.spark, self.base_path)
        if not fs.exists(p):
            return None  # data without sidecar: incomplete bootstrap
        meta = _read_meta(self.spark, self.base_path)
        idx = open_index(self.spark, self.base_path, meta)
        idx._fold_meta = meta  # bootstrap_bid / fold_epoch
        return idx

    def _epoch(self, index) -> int:
        return int(index._fold_meta.get("fold_epoch", 0))

    def _base_schema(self, index):
        """The base table's read schema: recorded in the sidecar, or
        inferred for sidecars written before it was recorded."""
        if index.table_schema is not None:
            return index.table_schema
        return index.load(self.spark).schema

    # -- the fold -------------------------------------------------------

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        index = self._index()
        if index is None:
            rows = batch_df.persist()
            try:
                # ONE probe job for count AND dim (the former
                # count() + first() pair paid two executions over the
                # same persisted batch — r13, guide §1.2; any row's
                # vector length works, the dim is fixed per stream)
                probe = rows.agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.first(F.size(F.col(self.vec_col))).alias("__d"),
                ).collect()[0]
                n = int(probe["__n"])
                if n == 0:
                    return  # nothing to train on yet
                dim = int(probe["__d"])
                plan = plan_index_family(
                    dim, n,
                    byte_budget_per_vec=self.byte_budget_per_vec,
                    near_dup_dense=self.near_dup_dense,
                )
                from ..index.family import build_planned
                from ..plans.maintenance import record_ivf_baseline

                # build into a sibling tmp and finalize EVERYTHING
                # there (fold meta, drift baseline), then one atomic
                # rename publishes the base — a crash anywhere before
                # it leaves no base and the replayed trigger
                # re-bootstraps; a crash after it replays as the
                # bootstrap_bid no-op. Without this, a crash between
                # the build and the meta finalize would leave a base
                # whose replay re-ingests the bootstrap batch as adds.
                tmp = f"{self.base_path}.boot-{uuid.uuid4().hex[:8]}"
                built = build_planned(
                    rows, tmp, plan, vec_col=self.vec_col
                )
                meta = _read_meta(self.spark, tmp)
                meta["bootstrap_bid"] = bid
                meta["fold_epoch"] = 0
                meta["plan"] = {
                    k: v for k, v in plan.items() if k != "notes"
                }
                _write_meta(self.spark, tmp, meta)
                record_ivf_baseline(self.spark, built)
                os.rename(tmp, self.base_path)
            finally:
                rows.unpersist(blocking=False)
            return
        if int(index._fold_meta.get("bootstrap_bid", -1)) == bid:
            return  # replayed bootstrap trigger: already the base
        base = self._base_schema(index)
        encoded = index._encode_new_rows(batch_df, base.fieldNames())
        (
            # cast to the base's types (a no-op when they already
            # match): _adds() reads the adds table with this schema
            encoded.select(
                *[F.col(f.name).cast(f.dataType) for f in base.fields]
            )
            .withColumn("epoch", F.lit(self._epoch(index)))
            .withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "batch_id", "centroid_id")
            .parquet(self.adds_path)
        )

    def writer(self) -> Callable[[DataFrame, int], None]:
        return self.foreach_batch

    # -- reads ----------------------------------------------------------

    def _adds(self, index) -> DataFrame | None:
        # declared schema (no footer-inference job): the base's data
        # columns as foreach_batch writes them, then the partitions
        base = self._base_schema(index)
        schema = StructType(
            [f for f in base.fields if f.name != "centroid_id"]
            + [StructField(c, IntegerType())
               for c in ("epoch", "batch_id", "centroid_id")]
        )
        t = read_state_parquet(self.spark, self.adds_path, schema)
        if t is None:
            return None
        return t.where(F.col("epoch") == F.lit(self._epoch(index)))

    def table(self) -> DataFrame:
        """base ∪ current-epoch adds, base columns only (the folded
        index table a batch job would scan)."""
        index = self._index()
        if index is None:
            raise ValueError("no batches folded yet")
        base = index.load(self.spark)
        adds = self._adds(index)
        if adds is None:
            return base
        return base.unionByName(adds.select(*base.columns))

    def view(self):
        """An index-shaped object whose load() is the folded union —
        every index API (search_batch, plans/serve.ResidentSearcher)
        and every maintenance helper (residual stats, drift) works
        through it unchanged, whatever the family (the view
        subclasses the base's own class). Reads resolve the adds
        epoch at call time, so a view taken before a rebuild keeps
        working after it (it re-reads the CURRENT meta's epoch only
        through fresh views — take a new view after rebuilds)."""
        import copy

        folder = self
        index = self._index()
        if index is None:
            raise ValueError("no batches folded yet")
        base_cls = type(index)

        class _FoldedView(base_cls):
            def load(self, spark):  # noqa: D401 - delegation
                base = base_cls.load(self, spark)
                adds = folder._adds(index)
                if adds is None:
                    return base
                return base.unionByName(adds.select(*base.columns))

        v = copy.copy(index)
        v.__class__ = _FoldedView
        return v

    def search(
        self,
        query: np.ndarray,
        k: int = 15,
        nprobe: int = 10,
        id_col: str = "vec_id",
        tie_col: str | None = None,
    ) -> DataFrame:
        """Top-k over base ∪ adds — centroid partition pruning applies
        to BOTH layouts (adds is sub-partitioned by centroid_id).
        ONE index open per call (the view carries the parsed
        sidecar); hold a ResidentSearcher over :meth:`view` for a
        serving loop that should not re-open at all."""
        view = self.view()
        probes = view.probe_ids(query, nprobe)
        df = view.load(self.spark).filter(
            F.col("centroid_id").isin(probes)
        )
        cols = [id_col] + (
            [tie_col] if tie_col and tie_col != id_col else []
        )
        scored = view._scored(df, query, cols)
        order = [F.col("score").desc()] + (
            [F.col(tie_col).asc()] if tie_col else []
        )
        return scored.orderBy(*order).limit(k)

    # -- maintenance ----------------------------------------------------

    def rebuild_if_drifted(
        self,
        residual_ratio: float = 1.5,
        max_imbalance: float = 8.0,
        floor_batch_id: int | None = None,
        **chooser_kwargs,
    ) -> dict:
        """Drift check over base ∪ adds; past threshold, rebuild
        through the family chooser into a fresh base at
        ``fold_epoch + 1`` (tmp build + atomic base swap; stale adds
        are excluded by their epoch). Returns the drift report
        (+ ``rebuilt``/``plan``).

        ``floor_batch_id`` is the stream's committed checkpoint
        floor, the SAME discipline compact_adds documents: add
        batches at-or-above it can still be REPLAYED, so folding
        them into the new base would double their rows when the
        replay re-ingests them under the new epoch (and a batch
        written concurrently with the rebuild would be silently
        dropped as stale). With the floor set, only adds with
        ``batch_id < floor`` (plus the archive) fold into the base;
        adds at-or-above the floor are CARRIED — re-encoded against
        the NEW index into the new epoch's partitions BEFORE the
        swap, so a later replay of those triggers lands as a
        dynamic-overwrite no-op. ``floor_batch_id=None`` asserts the
        stream is QUIESCED (no uncommitted or in-flight trigger) and
        folds everything — fine for operator-driven maintenance
        windows, wrong for a live stream."""
        from ..plans.maintenance import (
            ivf_drift,
            record_ivf_baseline,
        )

        view = self.view()
        report = ivf_drift(
            self.spark, view, residual_ratio, max_imbalance
        )
        if not report["needs_rebuild"]:
            return report
        from ..index.family import build_planned

        index = self._index()
        base = index.load(self.spark)
        adds = self._adds(index)
        carry = None
        if adds is not None and floor_batch_id is not None:
            fb = F.lit(int(floor_batch_id))
            carry = adds.where(F.col("batch_id") >= fb)
            adds = adds.where(F.col("batch_id") < fb)
        folded = base if adds is None else base.unionByName(
            adds.select(*base.columns)
        )
        rows = folded.localCheckpoint(eager=True)
        carry_rows = (
            None if carry is None
            else carry.localCheckpoint(eager=True)
        )
        # with no floor, folded is exactly the view the drift stats
        # just aggregated — reuse their row count instead of paying a
        # count job over the checkpoint (r13, guide §1.2); the floor
        # path excludes carried adds, so it still counts
        n = (
            int(report["stats"]["rows"])
            if carry is None
            else int(rows.count())
        )
        dim = int(view.centroids.shape[1])
        plan = plan_index_family(
            dim, n,
            byte_budget_per_vec=chooser_kwargs.pop(
                "byte_budget_per_vec", self.byte_budget_per_vec
            ),
            near_dup_dense=chooser_kwargs.pop(
                "near_dup_dense", self.near_dup_dense
            ),
            **chooser_kwargs,
        )

        def _proxy(df):
            src = df
            if view.vec_col not in df.columns:
                # quantized rows (SQ8 or PQ codes ± refine): the best
                # available float proxy, the maintenance rebuild's
                # established rule
                from ..plans.maintenance import _ivf_float_vec

                src, vcol = _ivf_float_vec(self.spark, view, df)
                if vcol != view.vec_col:
                    src = src.withColumnRenamed(vcol, view.vec_col)
            return src.drop("centroid_id", "sq8_code", "pq_code")

        src = _proxy(rows).drop("epoch", "batch_id")
        tmp = f"{self.base_path}.rebuild-{uuid.uuid4().hex[:8]}"
        new_index = build_planned(src, tmp, plan, vec_col=self.vec_col)
        old_meta = view._fold_meta
        new_epoch = int(old_meta.get("fold_epoch", 0)) + 1
        # finalize meta (epoch bump, baseline) in the TMP dir, THEN
        # swap: the epoch and the data publish in the same atomic
        # rename, so no crash window can pair the new base with the
        # old epoch (which would resurrect stale adds as duplicates)
        meta = _read_meta(self.spark, tmp)
        meta["fold_epoch"] = new_epoch
        meta["bootstrap_bid"] = old_meta.get("bootstrap_bid", -1)
        meta["plan"] = {k: v for k, v in plan.items() if k != "notes"}
        _write_meta(self.spark, tmp, meta)
        record_ivf_baseline(self.spark, new_index)
        # carry the above-floor adds into the NEW epoch before the
        # swap: clear the target epoch dir first (a previous crashed
        # rebuild with a DIFFERENT floor may have left carry
        # partitions there that this rebuild folds into the base —
        # they would surface as duplicates after the swap), then
        # re-encode each carried batch against the new index into its
        # own (epoch, batch_id) partitions so a later checkpoint
        # replay of those triggers overwrites them idempotently
        self._delete_dir(
            os.path.join(self.adds_path, f"epoch={new_epoch}")
        )
        if carry_rows is not None and carry_rows.limit(1).count() > 0:
            base_cols = new_index.load(self.spark).columns
            enc = new_index._encode_new_rows(
                _proxy(carry_rows).drop("epoch"), base_cols
            )
            (
                enc.select(*base_cols, "batch_id")
                .withColumn("epoch", F.lit(new_epoch))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch", "batch_id", "centroid_id")
                .parquet(self.adds_path)
            )
        swap_into(self.base_path, tmp)
        report["rebuilt"] = True
        report["plan"] = plan
        if carry_rows is not None:
            report["carried_rows"] = int(carry_rows.count())
        return report

    def _delete_dir(self, path: str) -> bool:
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        if fs.exists(hpath):
            fs.delete(hpath, True)
            return True
        return False

    def compact_adds(self, below_batch_id: int) -> dict:
        """Fold current-epoch ``batch_id`` partitions below the
        stream's committed checkpoint floor into ``batch_id=-1`` (one
        atomic swap of the adds directory — the shared
        plans/maintenance.archive_partitions_below). Same floor
        warning as LshDedupFolder.compact_below: never pass a bound a
        replayable trigger could still rewrite."""
        from ..plans.maintenance import archive_partitions_below

        return archive_partitions_below(
            self.spark, self.adds_path,
            ["epoch", "batch_id", "centroid_id"], below_batch_id,
        )

    def vacuum_stale_adds(self) -> int:
        """Drop add partitions from epochs BELOW the current one
        (their rows live in the rebuilt base) AND crash-orphaned
        build/compact temp directories (``base.boot-*``,
        ``base.rebuild-*``, ``adds.compact-*`` — a crashed bootstrap
        or rebuild retries under a fresh uuid, so its abandoned tmp
        is garbage at full-index size). Returns directories removed.
        Stale epochs are safe to drop any time (no read selects
        them); call the vacuum only when no bootstrap/rebuild/compact
        is IN FLIGHT — the same single-maintainer discipline the
        floor arguments assume."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        removed = 0
        index = self._index()
        if index is not None:
            cur = self._epoch(index)
            hpath = jvm.org.apache.hadoop.fs.Path(self.adds_path)
            fs = hpath.getFileSystem(conf)
            if fs.exists(hpath):
                for st in fs.listStatus(hpath):
                    name = st.getPath().getName()
                    if name.startswith("epoch=") and int(
                        name.split("=", 1)[1]
                    ) < cur:
                        fs.delete(st.getPath(), True)
                        removed += 1
        root = jvm.org.apache.hadoop.fs.Path(self.state_path)
        fs = root.getFileSystem(conf)
        if fs.exists(root):
            orphan_prefixes = (
                "base.boot-", "base.rebuild-", "adds.compact-",
            )
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if any(name.startswith(p) for p in orphan_prefixes):
                    fs.delete(st.getPath(), True)
                    removed += 1
        return removed
