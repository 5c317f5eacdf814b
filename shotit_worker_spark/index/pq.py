"""IVF_PQ: product-quantized IVF index (the third Milvus index family
beside IVF_FLAT / IVF_SQ8 — the reference deploys IVF_SQ8,
/root/reference/loader.js:333; PQ is what the same deployments move to
when the vector table outgrows SQ8's 1 byte/dim).

Product quantization (Jégou et al., 2011): split each D-dim vector
into `m` subvectors, KMeans each subspace into 256 centroids, store
one byte per subspace — m bytes/vector total (dim-64 → 8 bytes at m=8,
32× under float32, 8× under SQ8). Search scores codes WITHOUT
reconstruction via asymmetric distance computation (ADC): per query,
precompute LUT[j][k] = <q_j, codebook_j[k]> (an (m, 256) table),
then every row's inner product with the query is m table lookups.

Spark shapes, mirroring index/ivf.py:
  - codebooks fit on a driver-side sample (numpy Lloyd per subspace —
    codebook training is sample-based in FAISS/Milvus too);
  - encoding is a vectorized Arrow UDF (m small matmuls per batch);
  - the layout is the same centroid-partitioned parquet, so partition
    pruning, `open()` sidecar persistence, and incremental `add()`
    carry over;
  - ADC scoring is a mapInPandas kernel over the probed partitions —
    one numpy gather per batch, the corpus never shuffles; the final
    top-k is TakeOrderedAndProject / a per-query window.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .ivf import (
    DEFAULT_NLIST,
    DEFAULT_NPROBE,
    DEFAULT_TOPK,
    KMEANS_SEED,
    _fit_centroids,
    _hash_sample,
    _read_meta,
    _sidecar_schema,
    _write_meta,
    assign_centroids,
    read_table,
    scan_schema,
)


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Plain L2 Lloyd on a numpy sample (codebook training).

    Distances via argmax(2<x,c> − ||c||²) — an (n, k) matmul, never the
    (n, k, d) broadcast difference (which is hundreds of GB at the
    200 k-sample cap)."""
    k = min(k, len(x))
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(2.0 * (x @ cents.T) - (cents**2).sum(axis=1), axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def fit_pq_codebooks(
    sample: np.ndarray, m: int, seed: int = KMEANS_SEED, ksub: int = 256
) -> np.ndarray:
    """(m, ksub, D/m) codebooks from a (n, D) sample."""
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [
            _lloyd(
                np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub]),
                ksub,
                seed + j,
            )
            for j in range(m)
        ]
    )


def _encode_codes_udf(
    codebooks: np.ndarray, vec_col: str,
    centroids: np.ndarray | None = None,
):
    """array<double> vector → array<tinyint>[m] PQ codes (Arrow UDF;
    per-subspace nearest centroid via ||x-c||² = ||x||² - 2<x,c> + ||c||²,
    one (batch, dsub) @ (dsub, ksub) product per subspace).

    With ``centroids`` the row's coarse centroid is subtracted first —
    RESIDUAL encoding (the IVFADC construction, Jégou et al., TPAMI
    2011): residuals concentrate near the origin so the 256 codes per
    subspace quantize a far smaller cell than raw vectors spread
    across the whole sphere, which is most of PQ's recall at equal
    bytes (measured in SCALE_NOTES.md Round 11)."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)
    cb_norm = (cb**2).sum(axis=2)  # (m, ksub)

    def _codes(x: np.ndarray) -> pd.Series:
        out = np.empty((len(x), m), dtype=np.int64)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            # argmin distance == argmax (2<x,c> - ||c||²)
            out[:, j] = np.argmax(2.0 * (sub @ cb[j].T) - cb_norm[j], axis=1)
        return pd.Series([(row - 128).astype(np.int8).tolist() for row in out])

    if centroids is None:

        def _enc(s: pd.Series) -> pd.Series:
            return _codes(np.array(s.tolist(), dtype=np.float64))

        _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return F.pandas_udf(_enc, "array<tinyint>")(F.col(vec_col))

    cents = centroids.astype(np.float64)

    def _enc_res(s: pd.Series, cid: pd.Series) -> pd.Series:
        x = np.array(s.tolist(), dtype=np.float64)
        x -= cents[cid.to_numpy(dtype=np.int64)]
        return _codes(x)

    _enc_res.__annotations__ = {
        "s": pd.Series, "cid": pd.Series, "return": pd.Series
    }
    return F.pandas_udf(_enc_res, "array<tinyint>")(
        F.col(vec_col), F.col("centroid_id")
    )


def _encode_sq8_udf(mins: np.ndarray, scales: np.ndarray, vec_col: str):
    """array<double> vector → array<tinyint> global-SQ8 codes (the
    refine payload: 1 byte/dim, decoded only for ADC's top candidates)."""
    mn = mins.astype(np.float64)
    sc = scales.astype(np.float64)

    def _enc(s: pd.Series) -> pd.Series:
        x = np.array(s.tolist(), dtype=np.float64)
        codes = np.clip(np.round((x - mn) / sc), 0, 255).astype(np.int64)
        return pd.Series([(row - 128).astype(np.int8).tolist() for row in codes])

    _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_enc, "array<tinyint>")(F.col(vec_col))


@dataclass
class IVFPQIndex:
    """Built IVF_PQ index: centroid-partitioned parquet of `pq_code`
    columns + driver-held coarse centroids and codebooks."""

    path: str
    centroids: np.ndarray  # (nlist, D)
    codebooks: np.ndarray  # (m, 256, D/m)
    vec_col: str = "vector"
    n_assign: int = 1  # interface parity with IVFIndex (no multi-assign)
    # residual=True: codes quantize (x - coarse centroid) and ADC adds
    # <q, centroid> back per probed list (IVFADC); False = raw-vector
    # codes (pre-r11 sidecars, preserved for open() compatibility)
    residual: bool = True
    # SQ8 refine payload (build_ivfpq(refine="sq8")): per-dim global
    # (min, scale) used to re-score ADC's top candidates exactly-ish
    # inside the same kernel — the FAISS IVFPQ+refine shape with the
    # refinement codes stored IN the row (no join, no second scan)
    sq8_mins: np.ndarray | None = None
    sq8_scales: np.ndarray | None = None
    # the table's read schema (ivf.scan_schema); None = infer on load
    table_schema: StructType | None = None

    @property
    def refine(self) -> bool:
        return self.sq8_mins is not None

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    def save_meta(self, spark: SparkSession) -> None:
        _write_meta(
            spark,
            self.path,
            {
                "format_version": 1,
                "kind": "ivf_pq",
                "vec_col": self.vec_col,
                "nlist": int(len(self.centroids)),
                "dim": int(self.centroids.shape[1]),
                "m": int(self.m),
                "residual": bool(self.residual),
                "centroids": self.centroids.tolist(),
                "codebooks": self.codebooks.tolist(),
                **(
                    {
                        "sq8_mins": self.sq8_mins.tolist(),
                        "sq8_scales": self.sq8_scales.tolist(),
                    }
                    if self.refine
                    else {}
                ),
                **(
                    {"table_schema": self.table_schema.jsonValue()}
                    if self.table_schema is not None
                    else {}
                ),
            },
        )

    @classmethod
    def open(cls, spark: SparkSession, path: str,
             meta: dict | None = None) -> "IVFPQIndex":
        if meta is None:
            meta = _read_meta(spark, path)
        if meta.get("kind") != "ivf_pq":
            raise ValueError(f"not an IVF_PQ index sidecar at {path}")
        return cls(
            path=path,
            centroids=np.asarray(meta["centroids"], dtype=np.float64),
            codebooks=np.asarray(meta["codebooks"], dtype=np.float64),
            vec_col=meta["vec_col"],
            # pre-r11 sidecars predate residual encoding
            residual=bool(meta.get("residual", False)),
            sq8_mins=(
                np.asarray(meta["sq8_mins"], dtype=np.float64)
                if "sq8_mins" in meta else None
            ),
            sq8_scales=(
                np.asarray(meta["sq8_scales"], dtype=np.float64)
                if "sq8_scales" in meta else None
            ),
            table_schema=_sidecar_schema(meta),
        )

    def load(self, spark: SparkSession) -> DataFrame:
        return read_table(spark, self.path, self.table_schema)

    def probe_ids(self, query: np.ndarray, nprobe: int) -> list[int]:
        scores = self.centroids @ np.asarray(query, dtype=np.float64)
        order = np.argsort(-scores, kind="stable")
        return [int(i) for i in order[: min(nprobe, len(order))]]

    def _lut(self, query: np.ndarray) -> np.ndarray:
        """(m, 256) ADC table: LUT[j][k] = <q_j, codebook_j[k]>."""
        q = np.asarray(query, dtype=np.float64)
        m, ksub, dsub = self.codebooks.shape
        return np.einsum(
            "jd,jkd->jk", q.reshape(m, dsub), self.codebooks
        )

    def _adc_scored(
        self, df: DataFrame, luts: dict[int, np.ndarray], probes: dict[int, list[int]],
        cols: list[str], qvecs: dict[int, np.ndarray] | None = None,
        rerank_pool: int | None = None,
    ) -> DataFrame:
        """mapInPandas ADC kernel: for each row, score against every
        query whose probe set includes the row's centroid. `luts` maps
        query_id → (m, 256); `probes` maps query_id → centroid ids.
        For a residual index the score is <q, centroid> + ADC(residual)
        — `qvecs` supplies the query vectors for the offset term.

        With ``rerank_pool`` (refine="sq8" builds only): per Arrow
        batch and query, only the ADC top-``rerank_pool`` rows are
        emitted, RE-SCORED against the row's decoded SQ8 vector — the
        FAISS IVFPQ+refine shape. The global ADC top-pool is a subset
        of the per-batch pools' union, so coverage only grows; the
        refine decode touches pool-sized slices, never the batch."""
        spark = df.sparkSession
        m = self.m
        # centroid → [query_id] inverted once, broadcast with the LUT stack
        qids = sorted(luts)
        lut_stack = np.stack([luts[q] for q in qids])  # (Q, m, 256)
        cent_to_q: dict[int, list[int]] = {}
        for qi, qid in enumerate(qids):
            for c in probes[qid]:
                cent_to_q.setdefault(int(c), []).append(qi)
        off_stack = None
        if self.residual:
            if qvecs is None:
                raise ValueError(
                    "residual index scoring needs the query vectors"
                )
            off_stack = np.stack(
                [
                    self.centroids @ np.asarray(qvecs[q], dtype=np.float64)
                    for q in qids
                ]
            )  # (Q, nlist)
        rr_data = None
        if rerank_pool is not None:
            if not self.refine:
                raise ValueError(
                    "rerank needs a refine=\'sq8\' build (no sq8_code"
                    " stored in this index)"
                )
            if qvecs is None:
                raise ValueError("rerank needs the query vectors")
            rr_data = (
                int(rerank_pool),
                self.sq8_mins,
                self.sq8_scales,
                np.stack(
                    [np.asarray(qvecs[q], dtype=np.float64) for q in qids]
                ),
            )
        b_lut = spark.sparkContext.broadcast(lut_stack)
        b_off = spark.sparkContext.broadcast(off_stack)
        b_map = spark.sparkContext.broadcast(cent_to_q)
        b_qids = spark.sparkContext.broadcast(qids)
        b_rr = spark.sparkContext.broadcast(rr_data)

        extra = ["sq8_code"] if rr_data is not None else []
        src = df.select(*cols, "pq_code", "centroid_id", *extra)
        id_fields = ", ".join(
            f"{c} {dict(df.dtypes)[c]}" for c in cols
        )

        def _score(batches):
            lut, cmap, qlist = b_lut.value, b_map.value, b_qids.value
            off = b_off.value
            rr = b_rr.value
            rng_m = np.arange(m)
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.array(pdf["pq_code"].tolist(), dtype=np.int64) + 128
                cents = pdf["centroid_id"].to_numpy()
                sqcodes = None
                if rr is not None:
                    sqcodes = np.array(
                        pdf["sq8_code"].tolist(), dtype=np.int64
                    ) + 128
                out_cols: dict[str, list] = {"query_id": [], "score": []}
                for c in cols:
                    out_cols[c] = []
                for cent in np.unique(cents):
                    hits = cmap.get(int(cent))
                    if not hits:
                        continue
                    mask = cents == cent
                    sub = codes[mask]  # (n, m)
                    for qi in hits:
                        s = lut[qi][rng_m, sub].sum(axis=1)  # (n,)
                        if off is not None:
                            s = s + off[qi, int(cent)]
                        if rr is None:
                            keep = np.arange(len(s))
                        else:
                            pool, mn, sc, qstack = rr
                            if pool < len(s):
                                keep = np.argpartition(-s, pool - 1)[
                                    :pool
                                ]
                            else:
                                keep = np.arange(len(s))
                            xhat = mn + sc * sqcodes[mask][keep]
                            s = xhat @ qstack[qi]
                        out_cols["query_id"].extend(
                            [qlist[qi]] * len(keep)
                        )
                        out_cols["score"].extend(s[keep] if rr is None
                                                 else s)
                        for c in cols:
                            out_cols[c].extend(
                                pdf[c].to_numpy()[mask][keep]
                            )
                yield pd.DataFrame(out_cols)

        return src.mapInPandas(
            _score, schema=f"query_id long, score double, {id_fields}"
        )

    def _scored(self, df: DataFrame, query: np.ndarray, cols: list[str]) -> DataFrame:
        """IVFIndex-interface scoring hook (plans/serve.ResidentSearcher
        calls this on its pre-filtered cached table): ADC against every
        centroid — the df's own filter decides what actually scores."""
        all_probes = list(range(len(self.centroids)))
        return self._adc_scored(
            df, {0: self._lut(query)}, {0: all_probes}, cols,
            qvecs={0: np.asarray(query, dtype=np.float64)},
        ).drop("query_id")

    def search(
        self,
        spark: SparkSession,
        query: np.ndarray,
        k: int = DEFAULT_TOPK,
        nprobe: int = DEFAULT_NPROBE,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
        rerank_factor: int | None = None,
    ) -> DataFrame:
        """`rerank_factor` (refine="sq8" builds only): re-score ADC's
        per-batch top rerank_factor*k rows against their decoded SQ8
        vectors — PQ's candidate-narrowing speed with near-SQ8 final
        ordering (measured at 1M in SCALE_NOTES.md Round 11)."""
        probes = self.probe_ids(query, nprobe)
        df = self.load(spark).filter(F.col("centroid_id").isin(probes))
        cols = [id_col, *([tie_col] if tie_col and tie_col != id_col else [])]
        scored = self._adc_scored(
            df, {0: self._lut(query)}, {0: probes}, cols,
            qvecs={0: np.asarray(query, dtype=np.float64)},
            rerank_pool=(
                rerank_factor * k if rerank_factor else None
            ),
        ).drop("query_id")
        order = [F.col("score").desc()] + ([F.col(tie_col).asc()] if tie_col else [])
        return scored.select(*cols, "score").orderBy(*order).limit(k)

    def search_batch(
        self,
        spark: SparkSession,
        queries: list[tuple[int, np.ndarray]],
        k: int = DEFAULT_TOPK,
        nprobe: int = DEFAULT_NPROBE,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
        rerank_factor: int | None = None,
    ) -> DataFrame:
        luts = {int(qid): self._lut(q) for qid, q in queries}
        probes = {int(qid): self.probe_ids(q, nprobe) for qid, q in queries}
        union = sorted({c for ps in probes.values() for c in ps})
        df = self.load(spark).filter(F.col("centroid_id").isin(union))
        cols = [id_col, *([tie_col] if tie_col and tie_col != id_col else [])]
        scored = self._adc_scored(
            df, luts, probes, cols,
            qvecs={int(qid): np.asarray(q, dtype=np.float64)
                   for qid, q in queries},
            rerank_pool=(
                rerank_factor * k if rerank_factor else None
            ),
        )
        order = [F.col("score").desc()] + ([F.col(tie_col).asc()] if tie_col else [])
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            scored.select("query_id", *cols, "score")
            .withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= k)
            .drop("__rank")
        )

    def add(self, new_rows: DataFrame) -> None:
        """Incremental insert with the EXISTING coarse centroids and
        codebooks — same contract as IVFIndex.add."""
        spark = new_rows.sparkSession
        existing_cols = self.load(spark).columns
        coded = self._encode_new_rows(new_rows, existing_cols)
        coded.select(*existing_cols).write.mode("append").partitionBy(
            "centroid_id"
        ).parquet(self.path)

    def _encode_new_rows(
        self, new_rows: DataFrame, existing_cols: list[str]
    ) -> DataFrame:
        """Assign + PQ-encode (+SQ8 refine) against the EXISTING
        layout — add()'s encode step, factored out like
        IVFIndex._encode_new_rows so streaming ingestion can write
        the same rows into its replay-idempotent adds layout."""
        assigned = assign_centroids(
            new_rows, self.centroids, self.vec_col
        ).repartition(F.col("centroid_id"))
        coded = assigned.withColumn(
            "pq_code",
            _encode_codes_udf(
                self.codebooks, self.vec_col,
                centroids=self.centroids if self.residual else None,
            ),
        )
        if self.refine:
            coded = coded.withColumn(
                "sq8_code",
                _encode_sq8_udf(
                    self.sq8_mins, self.sq8_scales, self.vec_col
                ),
            )
        if self.vec_col not in existing_cols:
            coded = coded.drop(self.vec_col)
        return coded


def plan_pq(dim: int, n: int | None = None) -> dict:
    """Size a PQ layout for ``dim``-dimensional vectors — driver
    arithmetic only, the plan_ivf companion.

    - ``m``: subspace count at ~4 dims per subspace (the fine end of
      the published FAISS guidance of 4-8; the r11 1M validation
      measured within-cluster ranking collapsing at 8 dims/subspace
      on near-duplicate-heavy corpora, so default fine);
      largest divisor of dim not exceeding dim/4, floor 1.
    - ``refine``: "sq8" — store a 1 byte/dim refinement payload and
      search with ``rerank_factor``; at 1M vectors raw ADC ranking of
      near-duplicates was measured at a fraction of SQ8's recall, and
      the in-kernel SQ8 re-score recovers it for +dim bytes/vector
      with no extra scan (SCALE_NOTES.md Round 11).
    - ``rerank_factor0``: starting rerank pool multiplier (per Arrow
      batch and query, ADC keeps rerank_factor*k candidates); like
      plan_ivf's nprobe0 this is a starting point — hold a recall
      floor by measuring, not modeling.
    - ``code_bytes``: PQ payload per vector (m); ``refine_bytes``:
      SQ8 payload (dim).
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    m = max(1, dim // 4)
    while dim % m:
        m -= 1
    return {
        "m": m,
        "dsub": dim // m,
        "code_bytes": m,
        "refine": "sq8",
        "refine_bytes": dim,
        "rerank_factor0": 8,
    }


def build_ivfpq(
    index_rows: DataFrame,
    path: str,
    nlist: int = DEFAULT_NLIST,
    m: int = 8,
    seed: int = KMEANS_SEED,
    vec_col: str = "vector",
    sample_cap: int = 200_000,
    fit_method: str = "auto",
    residual: bool = True,
    refine: str | None = None,
) -> IVFPQIndex:
    """Fit coarse centroids + PQ codebooks, encode, write partitioned.

    Codebooks train on the same driver-side sample regime as the coarse
    quantizer (`sample_cap`); at 100 TB both fits see a sample while
    encoding/layout run distributed — the FAISS/Milvus training shape.

    ``residual=True`` (default) is the IVFADC construction: codebooks
    fit and codes encode (x − coarse centroid), and ADC adds
    <q, centroid> back per probed list — same bytes, far better recall
    on clustered data (measured at 1M vectors in
    SCALE_NOTES.md Round 11). ``residual=False`` keeps the raw-vector
    encoding for comparison and for pre-r11 sidecar parity.

    ``refine="sq8"`` additionally stores a global-SQ8 code per row
    (1 byte/dim next to PQ's m bytes): search(rerank_factor=R)
    re-scores ADC's top candidates against the decoded SQ8 vector in
    the same kernel — no join, no second scan, near-SQ8 ordering at
    PQ candidate-narrowing cost.
    """
    if refine not in (None, "sq8"):
        raise ValueError(f"unknown refine mode {refine!r}")
    centroids = _fit_centroids(
        index_rows, vec_col, nlist, seed, sample_cap, method=fit_method
    )
    # same seed-pinned one-scan sample regime as the coarse fit (the
    # old limit(cap) kept whichever partitions scanned first)
    sample = np.array(
        [
            r["v"]
            for r in _hash_sample(
                index_rows.select(
                    F.col(vec_col).cast("array<double>").alias("v")
                ),
                sample_cap,
                seed,
            )
        ]
    )
    if sample.size == 0:
        raise ValueError("build_ivfpq: input DataFrame has no rows")
    if residual:
        # driver-side coarse assign of the sample, fit on residuals
        assign = np.argmax(sample @ centroids.T, axis=1)
        codebooks = fit_pq_codebooks(sample - centroids[assign], m, seed)
    else:
        codebooks = fit_pq_codebooks(sample, m, seed)
    assigned = assign_centroids(index_rows, centroids, vec_col).repartition(
        F.col("centroid_id")
    )
    coded = assigned.withColumn(
        "pq_code",
        _encode_codes_udf(
            codebooks, vec_col,
            centroids=centroids if residual else None,
        ),
    )
    sq8_mins = sq8_scales = None
    if refine == "sq8":
        # per-dim range from the SAME training sample (no extra scan)
        sq8_mins = sample.min(axis=0)
        span = sample.max(axis=0) - sq8_mins
        sq8_scales = np.where(span > 0, span / 255.0, 1.0)
        coded = coded.withColumn(
            "sq8_code", _encode_sq8_udf(sq8_mins, sq8_scales, vec_col)
        )
    coded = coded.drop(vec_col)
    coded.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    index = IVFPQIndex(
        path=path, centroids=centroids, codebooks=codebooks,
        vec_col=vec_col, residual=residual,
        sq8_mins=sq8_mins, sq8_scales=sq8_scales,
        table_schema=scan_schema(coded),
    )
    index.save_meta(index_rows.sparkSession)
    return index
