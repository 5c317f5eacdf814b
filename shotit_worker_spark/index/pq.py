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

Spark shapes:
  - codebooks fit on a driver-side sample (numpy Lloyd per subspace —
    codebook training is sample-based in FAISS/Milvus too);
  - encoding is a vectorized Arrow UDF (m small matmuls per batch);
  - the layout, `open()` sidecar persistence, incremental `add()` and
    the nprobe search shells are the shared core (index/ivf.IVFCore);
    this family supplies the encoder, the scorer and the decoder;
  - ADC scoring is a mapInPandas kernel over the probed partitions —
    one numpy gather per batch, the corpus never shuffles; the final
    top-k is TakeOrderedAndProject / a per-query window;
  - the SQ8 refine payload uses the shared codec (index/sq8.SQ8).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .ivf import (
    DEFAULT_NLIST,
    DEFAULT_NPROBE,
    DEFAULT_TOPK,
    KMEANS_SEED,
    IVFCore,
    _fit_centroids,
    _hash_sample,
    assign_centroids,
)
from .sq8 import SQ8, pack, unpack


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
        return pack(out)

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


@dataclass
class IVFPQIndex(IVFCore):
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

    @property
    def _sq8(self) -> SQ8 | None:
        return SQ8(self.sq8_mins, self.sq8_scales) if self.refine else None

    def _meta(self) -> dict:
        meta = {
            "kind": "ivf_pq",
            "m": int(self.m),
            "residual": bool(self.residual),
            "codebooks": self.codebooks.tolist(),
        }
        if self.refine:
            meta["sq8_mins"] = self.sq8_mins.tolist()
            meta["sq8_scales"] = self.sq8_scales.tolist()
        return meta

    @staticmethod
    def _from_meta(meta: dict, path: str) -> dict:
        if meta.get("kind") != "ivf_pq":
            raise ValueError(f"not an IVF_PQ index sidecar at {path}")
        return {
            "codebooks": np.asarray(meta["codebooks"], dtype=np.float64),
            # pre-r11 sidecars predate residual encoding
            "residual": bool(meta.get("residual", False)),
            **{
                k: np.asarray(meta[k], dtype=np.float64)
                for k in ("sq8_mins", "sq8_scales") if k in meta
            },
        }

    def _encode(self, assigned: DataFrame) -> DataFrame:
        """PQ codes (residual or raw), plus the SQ8 refine payload."""
        coded = assigned.withColumn(
            "pq_code",
            _encode_codes_udf(
                self.codebooks, self.vec_col,
                centroids=self.centroids if self.residual else None,
            ),
        )
        if self.refine:
            coded = coded.withColumn(
                "sq8_code", self._sq8.encode_udf(self.vec_col)
            )
        return coded

    def _decode(self, df: DataFrame) -> DataFrame:
        """The refine payload (a full SQ8 copy of the vector) when
        stored, else the PQ reconstruction from the codebooks (the ADC
        centroids, plus the coarse centroid for residual codes)."""
        if self.refine and "sq8_code" in df.columns:
            return self._sq8.decode(df, self.vec_col)
        cb, m = self.codebooks, self.m
        cents = self.centroids if self.residual else None

        def _recon(s: pd.Series, cid: pd.Series) -> pd.Series:
            codes = unpack(s)  # (n, m)
            x = np.concatenate([cb[j][codes[:, j]] for j in range(m)], axis=1)
            if cents is not None:
                x = x + cents[cid.to_numpy(dtype=np.int64)]
            return pd.Series([row.tolist() for row in x])

        _recon.__annotations__ = {
            "s": pd.Series, "cid": pd.Series, "return": pd.Series
        }
        udf = F.pandas_udf(_recon, "array<double>")
        return df.withColumn(
            self.vec_col, udf(F.col("pq_code"), F.col("centroid_id"))
        )

    def _rebuild(self, rows: DataFrame, path: str,
                 **overrides) -> "IVFPQIndex":
        return build_ivfpq(rows, path, **{
            "nlist": len(self.centroids),
            "m": self.m,
            "vec_col": self.vec_col,
            "residual": self.residual,
            "refine": "sq8" if self.refine else None,
            **overrides,
        })

    def _lut(self, query: np.ndarray) -> np.ndarray:
        """(m, 256) ADC table: LUT[j][k] = <q_j, codebook_j[k]>."""
        m, ksub, dsub = self.codebooks.shape
        return np.einsum("jd,jkd->jk", query.reshape(m, dsub), self.codebooks)

    def _scored(self, df, queries, probes, cols, order, rerank_pool=None):
        """mapInPandas ADC kernel: each row scores against every query
        whose probe set includes the row's centroid — one numpy gather
        per batch, the corpus never shuffles. For a residual index the
        score is <q, centroid> + ADC(residual).

        With ``rerank_pool`` (refine="sq8" builds only): per Arrow
        batch and query, only the ADC top-``rerank_pool`` rows are
        emitted, RE-SCORED against the row's decoded SQ8 vector — the
        FAISS IVFPQ+refine shape. The global ADC top-pool is a subset
        of the per-batch pools' union, so coverage only grows; the
        refine decode touches pool-sized slices, never the batch."""
        spark = df.sparkSession
        m = self.m
        queries = sorted(queries, key=lambda t: t[0])
        qids = [qid for qid, _ in queries]
        qstack = np.stack([q for _, q in queries])  # (Q, D)
        lut_stack = np.stack([self._lut(q) for q in qstack])  # (Q, m, 256)
        # centroid → [query index] inverted once, broadcast with the LUTs
        cent_to_q: dict[int, list[int]] = {}
        for qi, qid in enumerate(qids):
            for c in probes[qid]:
                cent_to_q.setdefault(int(c), []).append(qi)
        off_stack = (
            np.stack([self.centroids @ q for q in qstack])  # (Q, nlist)
            if self.residual else None
        )
        rr_data = None
        if rerank_pool is not None:
            if not self.refine:
                raise ValueError(
                    "rerank needs a refine='sq8' build (no sq8_code"
                    " stored in this index)"
                )
            rr_data = (int(rerank_pool), self._sq8, qstack)
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
                codes = unpack(pdf["pq_code"])
                cents = pdf["centroid_id"].to_numpy()
                sqcodes = None if rr is None else unpack(pdf["sq8_code"])
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
                            pool, codec, rq = rr
                            if pool < len(s):
                                keep = np.argpartition(-s, pool - 1)[
                                    :pool
                                ]
                            else:
                                keep = np.arange(len(s))
                            xhat = codec.dequantize(sqcodes[mask][keep])
                            s = xhat @ rq[qi]
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
        ).select("query_id", *cols, "score")

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
        return self._top(spark, [(0, query)], k, nprobe, id_col, tie_col,
                         rerank_factor=rerank_factor)

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
        return self._top(spark, queries, k, nprobe, id_col, tie_col,
                         rerank_factor=rerank_factor, batch=True)


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
    index = IVFPQIndex(
        path=path, centroids=centroids, codebooks=codebooks,
        vec_col=vec_col, residual=residual,
    )
    if refine == "sq8":
        # per-dim range from the SAME training sample (no extra scan)
        sq8 = SQ8.fit_sample(sample)
        index.sq8_mins, index.sq8_scales = sq8.mins, sq8.scales
    assigned = assign_centroids(index_rows, centroids, vec_col).repartition(
        F.col("centroid_id")
    )
    return index._publish(index._encode(assigned).drop(vec_col))
