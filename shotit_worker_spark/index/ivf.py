"""IVF-style ANN index as a Spark-native table layout (SURVEY §4.3).

Replaces Milvus IVF_SQ8 (/root/reference/loader.js:329-335, nlist=128,
metric=IP) + nprobe search (/root/reference/searcher.js:105, nprobe=10)
with tables + plans — no Catalyst extension needed, partition pruning
does the work:

  build:  KMeans(k=nlist, fixed seed) on the L2-normalized vectors
          → `centroids` (nlist × dim, driver-held, tiny)
          → assign centroid_id = argmax IP(centroid, v)
          → index table written partitionBy(centroid_id)
  search: score query against nlist centroids driver-side (nlist ≤ a few
          hundred → microseconds) → take nprobe best → WHERE centroid_id
          IN (...) (static partition pruning: only nprobe/nlist of the
          data is read) → flat dot-product → ORDER BY score DESC LIMIT k.

At 100 TB the index table is ~nlist directories of parquet; a query
touches nprobe of them — the same pruning Milvus does, expressed as
storage layout. Centroid assignment is a vectorized pandas UDF (numpy
matmul over Arrow batches) because a 128-way argmax in pure column
expressions would materialize 128 dot products as separate columns.

:class:`IVFCore` is this coarse layer — layout, sidecar, load, probe,
add and the search shells — shared by both index families:
:class:`IVFIndex` (flat vectors or SQ8 codes, index/sq8.py) here and
``index/pq.IVFPQIndex``.
"""

from __future__ import annotations

import copy
import json

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..smallframe import arrow_rows as _arrow_rows
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

from ..functions import vector as V
from .sq8 import SQ8

DEFAULT_NLIST = 128  # loader.js:334
DEFAULT_NPROBE = 10  # searcher.js:105
DEFAULT_TOPK = 15  # searcher.js:103
KMEANS_SEED = 42
# auto codebook-fit switchover: below this the driver-side Lloyd loop wins
# (no job-per-iteration overhead); above it the work is real FLOPs and the
# distributed path wins — this interpreter's numpy has no threaded BLAS,
# so driver-side matmuls run single-core (measured: 100 k×64, k=128,
# 20 iters ≈ 3 min driver-side vs well under a minute in MLlib)
# auto-fit sample ceiling: large enough to honor plan_ivf's
# train_sample (50 points/centroid up to nlist=4000) while keeping
# the driver-side Lloyd array bounded (200k x 128d doubles = 200 MB)
NUMPY_FIT_CAP = 200_000


# _hash_sample: expected on-disk bytes of survivors per scan; the
# driver holds the decoded rows, so this also bounds driver memory
# (~2-3x cap rows for dense float vectors)
SAMPLE_TARGET_BYTES = 256 << 20


def _hash_sample(sel, cap: int, seed: int,
                 target_bytes: int = SAMPLE_TARGET_BYTES) -> list:
    """The ``cap`` rows of ``sel`` (single column ``v``) with the
    smallest ``pmod(xxhash64(v, seed), 2^30)`` — a seed-pinned sample
    that does not depend on partition layout, scan order, or the
    Bernoulli threshold (any threshold that retains >= cap survivors
    retains the global cap-smallest, and the driver truncates to
    exactly those).

    ONE corpus scan in the common case: the Bernoulli rate comes from
    the optimizer's sizeInBytes statistic (metadata, no job) so no
    dedicated count() pass runs (r10 VERDICT #5 — the old path's
    count() was a full corpus scan whose only output was the
    threshold). Only when the estimate starves the sample (fewer than
    cap survivors at a sub-1.0 rate — e.g. a tiny corpus behind a fat
    size estimate) does it escalate the rate 16x and rescan; at
    rate >= 1.0 the scan is exhaustive, so a corpus within the cap is
    sampled exactly.
    """
    h = (
        (F.xxhash64(F.col("v"), F.lit(int(seed))) % (1 << 30))
        + (1 << 30)
    ) % (1 << 30)
    try:
        raw = (
            sel._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()
        )
        # py4j hands scala.math.BigInt back as a plain Python int;
        # only fall back to toString() for boxed returns (the old
        # unconditional .toString() threw AttributeError on every
        # call, so the estimate was never actually read and the
        # fallback collected exhaustively — found by the r12 ADVICE
        # fix's test fallout)
        size = int(raw) if isinstance(raw, int) else int(raw.toString())
    except Exception:
        size = None
    if size is None or size <= 0:
        # stats unavailable: rate=1.0 here would collect() the ENTIRE
        # corpus — an OOM at exactly the scale this sampling path
        # exists for (r12 ADVICE). Start conservative and let the 16x
        # escalation loop converge (<= 8 rescans to exhaustive even
        # from 1/2^30; tiny corpora just pay a few cheap extra scans).
        rate = 1.0 / 1024.0
    else:
        rate = min(1.0, float(target_bytes) / max(size, 1))
    hcol = sel.withColumn("__h", h)
    while True:
        if rate >= 1.0:
            rows = hcol.collect()
            break
        rows = hcol.where(
            F.col("__h") < F.lit(int(rate * (1 << 30)))
        ).collect()
        if len(rows) >= cap:
            break
        rate = min(1.0, rate * 16.0)
    rows.sort(key=lambda r: (r["__h"], r["v"]))
    return rows[:cap]


def _fit_centroids(
    index_rows: DataFrame,
    vec_col: str,
    nlist: int,
    seed: int,
    sample_cap: int,
    method: str = "auto",
) -> np.ndarray:
    """KMeans centroids, seed-pinned either way (SURVEY §5.2.3).

    method='mllib': distributed MLlib KMeans over the FULL corpus —
    use when you explicitly want every Lloyd iteration to be a
    distributed pass (each one reads the whole corpus; at 1M x
    k=1000 that is already ~20 full scans of JVM distance math).
    method='numpy'/'auto': Lloyd iterations on a driver-side SAMPLE
    bounded by `sample_cap` — an IVF codebook trained on a bounded
    sample is standard practice (FAISS trains on ~39-256 points per
    centroid; Milvus trains on a segment sample), and it is the only
    build shape that survives 100 TB: codebook cost must not scale
    with the corpus. The sample is the `cap` rows with the SMALLEST
    xxhash64(vector, seed) — deterministic, order- and
    layout-independent — selected by _hash_sample in ONE corpus scan
    in the common case (no dedicated count() job; r10 VERDICT #5);
    when the corpus is within the cap the "sample" is exact. The r10
    1M-vector validation is what retired the old auto→mllib switch:
    full-corpus MLlib at nlist=1000 ran 10+ minutes where the
    50k-sample numpy fit takes seconds at equal measured recall
    (SCALE_NOTES Round 10).
    """
    rows = None
    if method in ("auto", "numpy"):
        cap = min(sample_cap, NUMPY_FIT_CAP) if method == "auto" else sample_cap
        sel = index_rows.select(
            F.col(vec_col).cast("array<double>").alias("v")
        )
        rows = _hash_sample(sel, cap, seed)
        method = "numpy"
    if method == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = index_rows.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=min(nlist, max(1, feats.count())), seed=seed, maxIter=20).fit(
            feats
        )
        # clusterCenters() yields numpy arrays on recent PySpark, Vectors
        # on older — normalize either way
        return np.array([np.asarray(c) for c in model.clusterCenters()])

    x = np.array([r["v"] for r in rows])
    if len(x) == 0:
        raise ValueError(
            "build_ivf: input DataFrame has no rows — cannot fit centroids"
        )
    k = min(nlist, max(1, len(x)))
    rng = np.random.RandomState(seed)
    # k-means++ init (Arthur & Vassilvitskii, SODA'07), deterministic
    # under the pinned rng: each next center drawn proportionally to
    # the squared distance from the nearest chosen one — for
    # normalized vectors dist^2 = 2 - 2*ip, so maximize via min-ip.
    # Plain uniform init could seat two centers in one cluster and
    # leave another cluster split across probes.
    centroids = np.empty((k, x.shape[1]))
    centroids[0] = x[rng.randint(len(x))]
    best_ip = x @ centroids[0]
    for c in range(1, k):
        d2 = np.maximum(0.0, 2.0 - 2.0 * best_ip)
        tot = d2.sum()
        if tot <= 0:
            centroids[c] = x[rng.randint(len(x))]
        else:
            centroids[c] = x[
                int(rng.choice(len(x), p=d2 / tot))
            ]
        best_ip = np.maximum(best_ip, x @ centroids[c])
    for _ in range(20):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def assign_centroids(
    index_rows: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    n_assign: int = 1,
) -> DataFrame:
    """Add centroid_id = argmax_c IP(centroid_c, vector).

    Vectorized pandas UDF: each Arrow batch becomes one numpy matmul
    (batch × dim) @ (dim × nlist) — executor-side, no shuffle.

    `n_assign > 1` replicates each row into its top-n_assign lists
    (multi-assignment / spilled IVF): storage grows ×n_assign, but a
    neighbor near a Voronoi boundary is now reachable from either side,
    which is the standard recall lever when the data gives KMeans little
    cluster structure. Search dedups the copies (see IVFIndex.search).
    """
    c_t = centroids.T.copy()

    if n_assign <= 1:

        @F.pandas_udf(IntegerType())
        def _assign(vecs: pd.Series) -> pd.Series:
            x = np.array(vecs.tolist(), dtype=np.float64)
            if x.size == 0:
                return pd.Series([], dtype="int32")
            return pd.Series(np.argmax(x @ c_t, axis=1).astype(np.int32))

        return index_rows.withColumn("centroid_id", _assign(F.col(vec_col)))

    a = min(n_assign, c_t.shape[1])

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign_multi(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype="object")
        scores = x @ c_t
        # top-a lists per row; order within the a doesn't matter for layout
        top = np.argpartition(-scores, a - 1, axis=1)[:, :a].astype(np.int32)
        return pd.Series(list(top))

    return index_rows.withColumn(
        "centroid_id", F.explode(_assign_multi(F.col(vec_col)))
    )


META_FILE = "_ivf_meta.json"  # underscore prefix: hidden from Spark's file index


def _meta_jpath(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + META_FILE)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist index parameters as a sidecar under the table path via the
    Hadoop FileSystem API — works on any scheme the cluster can write
    (local, HDFS, S3A), and the leading underscore keeps parquet readers
    from treating it as data."""
    fs, p = _meta_jpath(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def _read_meta(spark: SparkSession, path: str) -> dict:
    fs, p = _meta_jpath(spark, path)
    stream = fs.open(p)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        chunks = []
        line = reader.readLine()
        while line is not None:
            chunks.append(line)
            line = reader.readLine()
    finally:
        stream.close()
    return json.loads("\n".join(chunks))


def _nullable(dt: DataType) -> DataType:
    """``dt`` as a parquet file read returns it: every field, array
    element and map value nullable (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def scan_schema(written: DataFrame,
                partition_cols: tuple[str, ...] = ("centroid_id",)
                ) -> StructType:
    """The schema ``spark.read.parquet`` infers for ``written`` once
    it is written ``partitionBy(*partition_cols)``: the data columns,
    nullable, then the partition columns as discovered (int — they
    hold small integers). Recorded in the meta sidecar at build so
    :meth:`IVFIndex.load` declares it instead of running Spark's
    one-task footer-inference job on every open."""
    data = [
        StructField(f.name, _nullable(f.dataType))
        for f in written.schema.fields if f.name not in partition_cols
    ]
    return StructType(
        data + [StructField(c, IntegerType()) for c in partition_cols]
    )


def read_table(spark: SparkSession, path: str,
               schema: StructType | None) -> DataFrame:
    """Read an index table, declaring ``schema`` when the sidecar
    recorded one; sidecars written before schemas were recorded fall
    back to inference."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _sidecar_schema(meta: dict) -> StructType | None:
    js = meta.get("table_schema")
    return None if js is None else StructType.fromJson(js)


def _keys(id_col: str, tie_col: str | None) -> tuple[list[str], list]:
    """A search's projected key columns and its tie rule: score
    descending, then ``tie_col`` ascending."""
    cols = [id_col, *([tie_col] if tie_col and tie_col != id_col else [])]
    order = [F.col("score").desc()] + (
        [F.col(tie_col).asc()] if tie_col else []
    )
    return cols, order


def _first(scored: DataFrame, order: list, k: int) -> DataFrame:
    """The one-query top-k of ``scored`` under the tie rule ``order``."""
    return scored.drop("query_id").orderBy(*order).limit(k)


class IVFCore:
    """The coarse layer both index families share: a parquet table
    partitioned by ``centroid_id`` plus the driver-held (nlist × dim)
    centroids, its sidecar, ``load``/``probe_ids``/``add``, and the
    nprobe search shells with their tie rule.

    A family (``IVFIndex``, ``index/pq.IVFPQIndex``) is a dataclass
    with ``path``, ``centroids``, ``vec_col``, ``n_assign`` and
    ``table_schema`` that supplies:

    - ``_encode(assigned)``: its stored columns for centroid-assigned
      rows;
    - ``_scored(df, queries, probes, cols, order, rerank_pool)``:
      ``(query_id, *cols, score)`` for the probed rows ``df``, where
      ``queries`` is ``[(query_id, vector)]`` and ``probes`` maps each
      query to its lists;
    - ``_decode(df)``: ``df`` with float vectors decoded from its codes
      into ``vec_col``, for drift stats and rebuilds;
    - ``_meta()`` / ``_from_meta(meta, path)``: its own sidecar fields;
    - ``_rebuild(rows, path, **overrides)``: a build of ``rows`` with
      its current layout.
    """

    # a table to search instead of the index directory (see _over)
    _source: Callable[[SparkSession], DataFrame] | None = None

    def save_meta(self, spark: SparkSession) -> None:
        """Write centroids, layout and codec parameters as a sidecar
        under the index path, so a FRESH session can ``open()`` and
        search without refitting (VERDICT r3 #2)."""
        meta = {
            "format_version": 1,
            "vec_col": self.vec_col,
            "nlist": int(len(self.centroids)),
            "dim": int(self.centroids.shape[1]),
            "centroids": self.centroids.tolist(),
            **self._meta(),
        }
        if self.table_schema is not None:
            meta["table_schema"] = self.table_schema.jsonValue()
        _write_meta(spark, self.path, meta)

    @classmethod
    def open(cls, spark: SparkSession, path: str, meta: dict | None = None):
        """Reopen a built index from its sidecar — no refit, no data
        scan; the driver holds only what the build held. Pass ``meta``
        when the caller already read the sidecar."""
        if meta is None:
            meta = _read_meta(spark, path)
        return cls(
            path=path,
            centroids=np.asarray(meta["centroids"], dtype=np.float64),
            vec_col=meta["vec_col"],
            table_schema=_sidecar_schema(meta),
            **cls._from_meta(meta, path),
        )

    def load(self, spark: SparkSession) -> DataFrame:
        if self._source is not None:
            return self._source(spark)
        return read_table(spark, self.path, self.table_schema)

    def _over(self, source: Callable[[SparkSession], DataFrame]):
        """This index over another table: a copy whose ``load`` returns
        ``source(spark)``. The streaming fold's base ∪ adds view and the
        resident cache search through it with the index's own code."""
        view = copy.copy(self)
        view._source = source
        return view

    def _publish(self, coded: DataFrame):
        """Write a fresh build: the table, then the sidecar that makes
        it openable."""
        coded.write.mode("overwrite").partitionBy("centroid_id").parquet(
            self.path
        )
        self.table_schema = scan_schema(coded)
        self.save_meta(coded.sparkSession)
        return self

    def probe_ids(self, query: np.ndarray, nprobe: int = DEFAULT_NPROBE) -> list[int]:
        scores = self.centroids @ np.asarray(query, dtype=np.float64)
        order = np.argsort(-scores, kind="stable")
        return [int(i) for i in order[: min(nprobe, len(order))]]

    def add(self, new_rows: DataFrame) -> None:
        """Incremental insert — K3 parity: the reference loader streams
        2000-row batches into the LIVE collection with the index already
        built (/root/reference/loader.js:267-288); Milvus assigns them to
        existing IVF lists without refitting. Same here: assign to the
        EXISTING centroids, encode with the EXISTING codec parameters,
        and append into the partitioned layout (no rebuild, no refit —
        one assignment pass over just the new rows).

        Values outside the fitted SQ8 range CLAMP to the code range;
        heavy drift therefore degrades recall rather than corrupting
        codes — rebuild (plans/maintenance.rebuild_if_drifted) when
        drift warrants, like re-indexing a Milvus collection. Works on
        indexes reopened with ``open`` in a fresh session."""
        existing_cols = self.load(new_rows.sparkSession).columns
        coded = self._encode_new_rows(new_rows, existing_cols)
        coded.select(*existing_cols).write.mode("append").partitionBy(
            "centroid_id"
        ).parquet(self.path)

    def _encode_new_rows(
        self, new_rows: DataFrame, existing_cols: list[str]
    ) -> DataFrame:
        """Assign to the EXISTING centroids and encode with the EXISTING
        parameters (add()'s encode step, factored out so streaming
        ingestion can write the same rows into its own replay-idempotent
        layout instead of append mode)."""
        assigned = assign_centroids(
            new_rows, self.centroids, self.vec_col, n_assign=self.n_assign
        ).repartition(F.col("centroid_id"))
        coded = self._encode(assigned)
        if self.vec_col not in existing_cols:
            coded = coded.drop(self.vec_col)
        return coded

    def _with_vectors(self, df: DataFrame) -> DataFrame:
        """``df`` with a float vector per row in ``vec_col``, for drift
        stats and rebuilds: the stored vectors when present, else the
        family's decode of its codes (the best proxy left)."""
        return df if self.vec_col in df.columns else self._decode(df)

    def _top(self, spark, queries, k, nprobe, id_col, tie_col,
             rerank_factor=None, where=None, batch=False) -> DataFrame:
        """The nprobe search behind ``search`` and ``search_batch``.

        Each query probes its own ``nprobe`` lists; the scan reads the
        union of them (static partition pruning), pre-filtered by
        ``where``, and the family's scorer scores each row only for
        the queries that probe its list. Top-k under the tie rule:
        one query is ``orderBy(...).limit(k)`` without its query_id,
        a batch a per-query window."""
        queries = [(int(qid), np.asarray(q, dtype=np.float64))
                   for qid, q in queries]
        probes = {qid: self.probe_ids(q, nprobe) for qid, q in queries}
        lists = list(dict.fromkeys(c for ps in probes.values() for c in ps))
        df = self.load(spark).filter(F.col("centroid_id").isin(lists))
        if where is not None:
            df = df.where(where)
        cols, order = _keys(id_col, tie_col)
        scored = self._scored(df, queries, probes, cols, order,
                              rerank_factor * k if rerank_factor else None)
        if not batch:
            return _first(scored, order, k)
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            scored.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= k)
            .drop("__rank")
        )


@dataclass
class IVFIndex(IVFCore):
    """A built IVF index: partitioned parquet table + driver-held centroids.

    With `mins`/`scales` set the table stores 8-bit codes (`sq8_code`,
    index/sq8.py) instead of float vectors — the SQ8 of the reference's
    IVF_SQ8 (reference loader.js:333): 4× less scan IO/memory for
    a small, recall-tested accuracy loss; search scores the codes
    in-plan. Shapes: (dim,) for global quantization, (nlist, dim) for
    per-centroid. `n_assign > 1` marks a multi-assignment layout (rows
    replicated into their top-n lists); search folds the copies back to
    one row per id.
    """

    path: str
    centroids: np.ndarray  # (nlist, dim)
    vec_col: str = "vector"
    mins: np.ndarray | None = None  # set iff SQ8-quantized
    scales: np.ndarray | None = None
    n_assign: int = 1
    # the table's read schema (scan_schema), None for sidecars written
    # before it was recorded: load() then infers it
    table_schema: StructType | None = None

    @property
    def sq8_per_centroid(self) -> bool:
        return self.mins is not None and self.mins.ndim == 2

    @property
    def _sq8(self) -> SQ8 | None:
        return None if self.mins is None else SQ8(self.mins, self.scales)

    def _meta(self) -> dict:
        return {
            "n_assign": int(self.n_assign),
            "mins": None if self.mins is None else self.mins.tolist(),
            "scales": None if self.scales is None else self.scales.tolist(),
        }

    @staticmethod
    def _from_meta(meta: dict, path: str) -> dict:
        return {
            "mins": None if meta["mins"] is None else np.asarray(meta["mins"]),
            "scales": (
                None if meta["scales"] is None else np.asarray(meta["scales"])
            ),
            "n_assign": int(meta["n_assign"]),
        }

    def _encode(self, assigned: DataFrame) -> DataFrame:
        sq8 = self._sq8
        return assigned if sq8 is None else sq8.encode(assigned, self.vec_col)

    def _decode(self, df: DataFrame) -> DataFrame:
        if self.mins is None or "sq8_code" not in df.columns:
            raise ValueError(
                f"index at {self.path} has neither {self.vec_col!r} nor "
                "sq8_code columns"
            )
        return self._sq8.decode(df, self.vec_col)

    def _rebuild(self, rows: DataFrame, path: str, **overrides) -> "IVFIndex":
        quantize = self.mins is not None
        return build_ivf(rows, path, **{
            "nlist": len(self.centroids),
            "n_assign": self.n_assign,
            "quantize": quantize,
            "sq8_mode": "per_centroid" if self.sq8_per_centroid else "global",
            "keep_vectors": quantize
            and self.vec_col in self.load(rows.sparkSession).columns,
            "vec_col": self.vec_col,
            **overrides,
        })

    def _scored(self, df, queries, probes, cols, order, rerank_pool=None):
        """Float dot products, or SQ8's query-folded score over the
        codes. One query binds its vector as literals; a batch (and
        per-centroid SQ8, whose constants differ per list) broadcast-
        joins a (query_id, centroid_id, ...) probe table, so the corpus
        is read once and never shuffled except for the top-k.
        Multi-assignment copies of a row fold to their best score (a
        groupBy over the probed subset only)."""
        sq8 = self._sq8
        if len(queries) == 1 and not self.sq8_per_centroid:
            (qid, q), = queries
            if sq8 is None:
                score = V.dot_literal(self.vec_col, list(q))
            else:
                const, qs = sq8.fold(q)
                score = SQ8.score(F.lit(const), V.double_array(qs))
            scored = df.select(F.lit(qid).cast("long").alias("query_id"),
                               *cols, score.alias("score"))
        else:
            if sq8 is None:
                schema = "__q array<double>"
                score = V.dot(self.vec_col, "__q")

                def fold(q, c):
                    return ([float(x) for x in q],)
            else:
                schema = "__const double, __qs array<double>"
                score = SQ8.score(F.col("__const"), F.col("__qs"))
                fold = sq8.fold
            probe_df = _arrow_rows(
                df.sparkSession,
                [(qid, c, *fold(q, c))
                 for qid, q in queries for c in probes[qid]],
                "query_id long, centroid_id int, " + schema,
            )
            scored = df.join(F.broadcast(probe_df), "centroid_id").select(
                "query_id", *cols, score.alias("score")
            )
        if self.n_assign > 1:
            scored = scored.groupBy("query_id", *cols).agg(
                F.max("score").alias("score")
            )
        if not rerank_pool:
            return scored
        if sq8 is None:
            raise ValueError("rerank_factor only applies to SQ8 indexes")
        if self.vec_col not in df.columns:
            raise ValueError(
                "rerank needs the float vectors stored — build with "
                "keep_vectors=True"
            )
        # coarse-then-refine: the code scores pick the pool, the stored
        # float vectors of just that pool rank it exactly
        (qid, q), = queries
        pool = _first(scored, order, rerank_pool).select(*cols)
        refine = df.select(*cols, self.vec_col)
        if self.n_assign > 1:
            refine = refine.dropDuplicates(cols)
        return F.broadcast(pool).join(refine, cols).select(
            F.lit(qid).cast("long").alias("query_id"), *cols,
            V.dot_literal(self.vec_col, list(q)).alias("score"),
        )

    def search(
        self,
        spark: SparkSession,
        query: np.ndarray,
        k: int = DEFAULT_TOPK,
        nprobe: int = DEFAULT_NPROBE,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
        rerank_factor: int | None = None,
        where=None,
    ) -> DataFrame:
        """nprobe search: partition-pruned scan → flat IP score → top-k.

        ``where`` (a Column or SQL string over the index's payload
        columns — build_ivf stores every input column beside the
        vectors) makes this a FILTERED search: the predicate applies
        to the probed scan BEFORE scoring, i.e. true PRE-filtering.
        Dedicated vector engines need over-fetch heuristics here
        because their index scan can't evaluate predicates; a parquet
        scan can — the filter pushes down beside the partition
        pruning, and the result is the exact top-k of the filtered
        subset within the probed lists (recall gated in test_ivf).

        `rerank_factor` (SQ8 + keep_vectors builds only): the quantized
        scan ranks a candidate pool of k×factor, then the stored float
        vectors of just that pool are fetched and scored exactly — the
        classic coarse-then-refine split. Parquet column pruning makes
        this nearly free: the coarse pass reads only `sq8_code`, the
        refine pass reads `vector` for a broadcast-joined handful of
        rows. Final ordering is exact-over-pool, so any SQ8 ordering
        error inside the pool is corrected."""
        return self._top(spark, [(0, query)], k, nprobe, id_col, tie_col,
                         rerank_factor=rerank_factor, where=where)

    def search_batch(
        self,
        spark: SparkSession,
        queries: list[tuple[int, np.ndarray]],
        k: int = DEFAULT_TOPK,
        nprobe: int = DEFAULT_NPROBE,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
        where=None,
    ) -> DataFrame:
        """Batch nprobe search — ONE job for all queries: the corpus is
        read once for the whole batch, partition-pruned to the union of
        probed lists. The ANN analogue of operators.similarity.knn_join,
        on the IVF layout instead of the full corpus. ``where``
        pre-filters the probed scan exactly as in :meth:`search` (one
        shared predicate per batch). Returns (query_id, id_col,
        [tie_col,] score) rows, top-k per query."""
        return self._top(spark, queries, k, nprobe, id_col, tie_col,
                         where=where, batch=True)


def build_ivf(
    index_rows: DataFrame,
    path: str,
    nlist: int = DEFAULT_NLIST,
    seed: int = KMEANS_SEED,
    vec_col: str = "vector",
    sample_cap: int = 200_000,
    quantize: bool = False,
    fit_method: str = "auto",
    n_assign: int = 1,
    sq8_mode: str = "global",
    keep_vectors: bool = False,
) -> IVFIndex:
    """Build the IVF layout: fit centroids, assign, write partitioned.

    Replaces K5 (`createIndex IVF_SQ8 nlist=128`, loader.js:329-335).
    `quantize=True` adds the SQ8 half: store 8-bit codes instead of the
    float vectors — the scan reads ~4× fewer bytes per probe at a recall
    cost gated in tests/test_ivf.py. `sq8_mode='per_centroid'` fits the
    (min, scale) grid per list instead of globally (finer codes, same
    byte budget). `n_assign > 1` replicates rows into their top-n lists
    for recall (see assign_centroids). `keep_vectors=True` stores the
    float vectors BESIDE the codes: parquet column pruning keeps the
    coarse scan reading only `sq8_code`, while `search(rerank_factor=…)`
    fetches vectors for just its candidate pool (coarse-then-refine).
    """
    if quantize and sq8_mode not in ("global", "per_centroid"):
        raise ValueError(f"unknown sq8_mode {sq8_mode!r}")
    centroids = _fit_centroids(
        index_rows, vec_col, nlist, seed, sample_cap, method=fit_method
    )
    # cluster rows by their output partition before the write: one
    # shuffle buys one file per centroid directory instead of
    # (tasks × nlist) small files — at 100 TB small-file explosion is
    # the classic partitioned-write failure mode
    assigned = assign_centroids(
        index_rows, centroids, vec_col, n_assign=n_assign
    ).repartition(F.col("centroid_id"))
    index = IVFIndex(
        path=path, centroids=centroids, vec_col=vec_col, n_assign=n_assign
    )
    if not quantize:
        return index._publish(assigned)
    per_centroid = sq8_mode == "per_centroid"
    if per_centroid:
        # the fit and the encode both read the assignment — cache it so
        # the pandas-UDF assign runs once, and release it after the write
        assigned = assigned.cache()
    try:
        sq8 = SQ8.fit(assigned, vec_col, centroids.shape[1],
                      nlist=len(centroids) if per_centroid else None)
        index.mins, index.scales = sq8.mins, sq8.scales
        coded = index._encode(assigned)
        return index._publish(coded if keep_vectors else coded.drop(vec_col))
    finally:
        if per_centroid:
            assigned.unpersist()


def recall_at_k(approx: list, exact: list) -> float:
    """|approx ∩ exact| / |exact| on id lists (the §5.2.3 recall gate)."""
    if not exact:
        return 1.0
    return len(set(approx) & set(exact)) / len(exact)


def plan_ivf(
    n: int,
    min_points_per_list: int = 39,
    scan_budget_frac: float = 0.01,
) -> dict:
    """Size an IVF layout for an ``n``-vector corpus — driver
    arithmetic only, no Spark job.

    ``nlist=128`` is reference parity (loader.js:334) and fine at
    reference scale, but wrong at 100x: per-probe scan cost is
    ~n/nlist rows and the centroid argmin costs nlist, so the two
    balance at nlist ~ sqrt(n) — the published coarse-quantizer
    guidance (FAISS wiki "Guidelines to choose an index"; IVFADC,
    Jegou et al., TPAMI 2011). Returns:

    - ``nlist``: round(sqrt(n)) clamped to
      [1, n // min_points_per_list] — k-means wants a minimum number
      of training points per centroid (the public FAISS floor is 39)
      or the fit is noise;
    - ``nprobe0``: the probe count whose expected scan is
      ``scan_budget_frac`` of the corpus (>= 1) — a STARTING point,
      not a promise: recall-vs-nprobe depends on the data, so hold a
      recall floor with :func:`calibrate_nprobe`, which measures
      instead of modeling;
    - ``rows_per_probe``: expected n / nlist;
    - ``train_sample``: max(10_000, 50 * nlist) capped at n — the
      sample_cap to pass to :func:`build_ivf`.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_points_per_list < 1:
        raise ValueError("min_points_per_list must be >= 1")
    if not 0.0 < scan_budget_frac <= 1.0:
        raise ValueError("scan_budget_frac must be in (0, 1]")
    nlist = int(round(n ** 0.5))
    nlist = max(1, min(nlist, n // min_points_per_list or 1))
    nprobe0 = max(1, min(nlist, int(-(-scan_budget_frac * nlist // 1))))
    return {
        "nlist": nlist,
        "nprobe0": nprobe0,
        "rows_per_probe": n / nlist,
        "train_sample": min(n, max(10_000, 50 * nlist)),
    }


def calibrate_nprobe(
    spark: SparkSession,
    index: IVFIndex,
    queries: list,
    exact: dict,
    k: int = DEFAULT_TOPK,
    target_recall: float = 0.9,
    start_nprobe: int = 1,
    id_col: str = "hash_id",
    tie_col: str | None = "primary_key",
) -> dict:
    """Smallest nprobe (doubling search from ``start_nprobe``) whose
    MEASURED mean recall@k over the sample ``queries`` meets
    ``target_recall``; terminates at nprobe = nlist, where the probe
    set is every partition and recall vs the exact top-k is 1.0 by
    construction. O(log nlist) batch-search jobs, each reading only
    its probed partitions; ground truth (``exact``: query_id -> set
    of ids, e.g. from operators.similarity.knn_join) is computed by
    the caller ONCE, not per step.

    Returns {"nprobe", "recall", "curve": [(nprobe, recall), ...]}.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    nlist = len(index.centroids)
    nprobe = max(1, min(start_nprobe, nlist))
    curve = []
    while True:
        got = index.search_batch(
            spark, queries, k=k, nprobe=nprobe,
            id_col=id_col, tie_col=tie_col,
        ).collect()
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r[id_col])
        recall = sum(
            recall_at_k(by_q.get(qid, []), sorted(exact[qid]))
            for qid, _ in queries
        ) / len(queries)
        curve.append((nprobe, recall))
        if recall >= target_recall or nprobe >= nlist:
            return {"nprobe": nprobe, "recall": recall, "curve": curve}
        nprobe = min(nlist, nprobe * 2)
