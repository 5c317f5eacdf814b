"""Vector and ANN gates: norms, exact top-k, kNN joins, the IVF, IVF_PQ
and filtered-ANN searches, PCA and the index-family chooser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gates import _normalized_embeddings, _query_vec, _t, _values_oracle, gate
from shotit_worker_spark.functions import vector as V
from shotit_worker_spark.operators import similarity as S
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


@gate("""
            WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
                  FROM t),
            m AS (SELECT vec_id, norm,
                         CASE WHEN norm = 0 THEN v
                              ELSE list_transform(v, x -> x / norm) END AS nv
                  FROM n)
            SELECT vec_id, norm,
                   list_sum(nv) AS sum_nv,
                   list_min(nv) AS vmin,
                   list_max(nv) AS vmax
            FROM m ORDER BY vec_id
        """)
def q20_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 L2-normalize: per-vector norm + stats of the normalized vector.

    `nv` is computed once behind a multi-referenced alias boundary —
    inlining it into sum/min/max would evaluate the normalize pipeline
    three times per row."""
    emb = _t(spark, sf_dir, "embeddings")
    v = V.to_double_array("embedding")
    staged = emb.select(
        "vec_id", V.l2_norm(v).alias("norm"), V.l2_normalize(v).alias("nv")
    )
    return staged.select(
        "vec_id",
        "norm",
        F.aggregate(F.col("nv"), F.lit(0.0), lambda s, x: s + x).alias("sum_nv"),
        F.array_min("nv").alias("vmin"),
        F.array_max("nv").alias("vmax"),
    ).orderBy("vec_id")


@gate("""
            WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            n AS (SELECT vec_id,
                         list_transform(v, x -> x / sqrt(list_sum(
                             list_transform(v, y -> y * y)))) AS nv
                  FROM t),
            q AS (SELECT nv AS qv FROM n WHERE vec_id = 0)
            SELECT n.vec_id, list_dot_product(n.nv, q.qv) AS score
            FROM n, q
            ORDER BY score DESC, vec_id ASC
            LIMIT 15
        """)
def q21_topk_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 exact top-k: 15 nearest neighbors of vec_id=0 by inner product
    over L2-normalized vectors; declared tie-break (score DESC, vec_id ASC)."""
    nemb = _normalized_embeddings(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    return S.exact_topk(
        nemb, qv, k=15, vec_col="nv", id_col="vec_id", tie_col=None
    ).orderBy(F.col("score").desc(), F.col("vec_id").asc())


@gate("""
            WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            n AS (SELECT vec_id,
                         list_transform(v, x -> x / sqrt(list_sum(
                             list_transform(v, y -> y * y)))) AS nv
                  FROM t),
            q AS (SELECT vec_id AS query_id, nv AS qv FROM n
                  WHERE vec_id IN (1, 2, 3)),
            scored AS (
                SELECT q.query_id, n.vec_id,
                       list_dot_product(n.nv, q.qv) AS score,
                       row_number() OVER (PARTITION BY q.query_id
                                          ORDER BY list_dot_product(n.nv, q.qv) DESC,
                                                   n.vec_id ASC) AS rnk
                FROM q, n)
            SELECT query_id, vec_id, score FROM scored WHERE rnk <= 3
            ORDER BY query_id, score DESC, vec_id
        """)
def q22_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query top-k (SURVEY §4.3 step 5): 3 queries × k=3."""
    nemb = _normalized_embeddings(spark, sf_dir)
    queries = nemb.filter(F.col("vec_id").isin([1, 2, 3])).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("query_vec")
    )
    index = nemb.select(F.col("vec_id"), F.col("nv").alias("vector"))
    return S.knn_join(
        queries, index, k=3, id_col="vec_id", tie_col="vec_id"
    ).orderBy("query_id", F.col("score").desc(), "vec_id")


_IVF_CACHE: dict[str, object] = {}


def _shared_ivf_index(spark: SparkSession, sf_dir: str):
    """One IVF index per sf_dir, built on first use and reused by every
    query in the process (q24, q49) — build-once/query-many is the
    real serving shape (plans/serve.ResidentSearcher), and rebuilding
    an identical index per query would only re-measure KMeans."""
    idx = _IVF_CACHE.get(sf_dir)
    if idx is None:
        import tempfile

        from shotit_worker_spark.index import ivf

        nemb = _normalized_embeddings(spark, sf_dir).select(
            "vec_id", F.col("nv").alias("vector")
        )
        path = tempfile.mkdtemp(prefix="ivfshared_") + "/index"
        idx = ivf.build_ivf(nemb, path, nlist=16)
        _IVF_CACHE[sf_dir] = idx
    return idx


@gate("""
            SELECT * FROM (VALUES
                ('recall_floor', true),
                ('scores_exact', true),
                ('self_top1', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q24_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe search (SURVEY §4.3) as a driver-enforced constants
    gate (the q49 floor_met pattern — VERDICT r3 #1): probe 4/16
    centroid partitions for vec_id=0's vector and check three
    deterministic invariants as booleans:

    - self_top1: the query IS corpus row 0's vector, its own list is
      always the first probe, and IP(v, v) = 1.0 beats every other
      normalized row — so rank-1 must be vec_id 0 at both nprobe
      settings;
    - scores_exact: every score the pruned-partition scan returns
      equals an independently computed exact dot product against the
      original embeddings table (|Δ| ≤ 1e-9) — a correctness gate on
      the scoring kernel + storage layout;
    - recall_floor: |nprobe4 ∩ full16| / k ≥ 0.40, the same floor q49
      pins (random fixture embeddings scatter neighbors; observed ≈0.5).
    """
    import numpy as np

    k = 15
    index = _shared_ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    q = np.array(qv)
    sub = index.search(
        spark, q, k=k, nprobe=4, id_col="vec_id", tie_col="vec_id"
    ).collect()
    full = index.search(
        spark, q, k=k, nprobe=16, id_col="vec_id", tie_col="vec_id"
    ).collect()
    sub_ids = [int(r["vec_id"]) for r in sub]
    full_ids = [int(r["vec_id"]) for r in full]
    exact = {
        int(r["vec_id"]): float(r["score"])
        for r in _normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id").isin(sub_ids + full_ids))
        .select("vec_id", V.dot_literal("nv", qv).alias("score"))
        .collect()
    }
    scores_exact = all(
        abs(float(r["score"]) - exact[int(r["vec_id"])]) <= 1e-9
        for r in sub + full
    )
    rows = [
        ("recall_floor", len(set(sub_ids) & set(full_ids)) / k >= 0.40),
        ("scores_exact", scores_exact),
        ("self_top1", sub_ids[0] == 0 and full_ids[0] == 0),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")


@gate("""
            SELECT * FROM (VALUES
                ('full16', CAST(10 AS BIGINT), true),
                ('nprobe4', CAST(10 AS BIGINT), true)
            ) AS t(probe_mode, n_queries, floor_met)
            ORDER BY probe_mode
        """)
def q49_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ANN quality gate (SURVEY §5.2.3): recall of the
    IVF nprobe path vs the EXACT top-k, computed by two independent
    kernels — index.search_batch (declarative HOF-dot over the pruned
    partition scan) against operators.similarity.knn_join (broadcast
    matmul). Two checks in one result:

    - full probe (nprobe = nlist): every partition scanned, so recall
      vs exact must be EXACTLY 1.0 — a correctness gate on the IVF
      scoring/layout itself, not just quality;
    - nprobe=4 of 16: recall floor 0.40 (random fixture embeddings
      scatter true neighbors across lists; observed ≈ 0.5 — see
      tests/test_ivf.py). floor_met booleans are sf-independent, so the
      oracle is a constants table: any regression flips a row to false
      → driver-red."""
    import numpy as np

    n_queries, k = 10, 15
    nemb = _normalized_embeddings(spark, sf_dir).select(
        "vec_id", F.col("nv").alias("vector")
    )
    index = _shared_ivf_index(spark, sf_dir)
    qrows = (
        nemb.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    )
    queries = [(int(r["vec_id"]), np.asarray(r["vector"])) for r in qrows]

    # Tie tolerance: the two kernels sum floats in different orders
    # (numpy matmul vs Catalyst zip_with fold), so distinct corpus rows
    # whose scores agree to rounding at the rank-k boundary may order
    # differently. The exact set therefore includes every row whose
    # score is within 1e-9 of the k-th exact score (fetched as top k+5
    # — >5-way boundary ties don't happen on random float embeddings),
    # keeping the full-probe == 1.0 gate deterministic across BLAS.
    exact_kp = S.knn_join(
        _arrow_rows(spark, 
            [(qid, [float(x) for x in q]) for qid, q in queries],
            "query_id long, query_vec array<double>",
        ),
        nemb,
        k=k + 5,
        vec_col="vector",
        id_col="vec_id",
        tie_col="vec_id",
    ).select("query_id", "vec_id", "score")
    from pyspark.sql import Window as W

    rank_w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    exact_kp = exact_kp.withColumn("rank", F.row_number().over(rank_w))
    kth = exact_kp.filter(F.col("rank") == k).select(
        "query_id", F.col("score").alias("kth_score")
    )
    exact = (
        exact_kp.join(kth, "query_id")
        .filter(F.col("score") >= F.col("kth_score") - F.lit(1e-9))
        .select("query_id", "vec_id")
    )

    def mean_recall(nprobe: int) -> float:
        approx = index.search_batch(
            spark, queries, k=k, nprobe=nprobe, id_col="vec_id", tie_col="vec_id"
        ).select("query_id", "vec_id")
        hits = approx.join(exact, ["query_id", "vec_id"]).count()
        return hits / (len(queries) * k)

    rows = [
        ("full16", len(queries), mean_recall(16) == 1.0),
        ("nprobe4", len(queries), mean_recall(4) >= 0.40),
    ]
    return _arrow_rows(spark, 
        rows, "probe_mode string, n_queries long, floor_met boolean"
    ).orderBy("probe_mode")


_Q106_CACHE: dict = {}


# q106: IVF sizing-rule invariants (non-default sqrt(n) nlist
# obeys the clamp; full probe exact; measured calibration
# reaches the floor) — TRUE by construction
@gate("""
            SELECT * FROM (VALUES
                ('1_plan_nondefault', TRUE),
                ('2_fullprobe_exact', TRUE),
                ('3_calibrated_floor', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q106_ivf_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF sizing rule (index/ivf.plan_ivf + calibrate_nprobe)
    constants gate. nlist=128 is reference parity (loader.js:334) but
    wrong at 100x — IVF wants nlist ~ sqrt(n) with nprobe calibrated
    to a recall floor (VERDICT r8 #5). The gate builds a SECOND index
    at the planned NON-default nlist and pins:

    - 1_plan_nondefault: the plan obeys the min-points clamp and
      differs from both the reference default (128) and the fixture
      index's nlist (16);
    - 2_fullprobe_exact: recall vs the exact top-k at nprobe = nlist
      is EXACTLY 1.0 — layout + scoring stay correct at the planned
      geometry, not just at reference parity;
    - 3_calibrated_floor: the measured doubling search reaches the
      0.9 recall floor at some nprobe <= nlist (calibrate_nprobe
      measures, never models)."""
    import tempfile

    import numpy as np

    from shotit_worker_spark.index import ivf

    n_queries, k = 10, 15
    nemb = _normalized_embeddings(spark, sf_dir).select(
        "vec_id", F.col("nv").alias("vector")
    )
    # build-once/query-many (the q24/q49 _shared_ivf_index
    # precedent): the planned index is cached per sf_dir; the exact
    # ground truth + the measured calibration recompute per call
    cached = _Q106_CACHE.get(sf_dir)
    if cached is None:
        n = nemb.count()
        plan = ivf.plan_ivf(n)
        d = tempfile.mkdtemp(prefix="q106ivf_")
        index = ivf.build_ivf(
            nemb, d + "/index", nlist=plan["nlist"],
            sample_cap=plan["train_sample"],
        )
        cached = _Q106_CACHE[sf_dir] = (index, plan, n)
    index, plan, n = cached
    nlist = plan["nlist"]
    qrows = (
        nemb.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id").collect()
    )
    queries = [(int(r["vec_id"]), np.asarray(r["vector"]))
               for r in qrows]
    # tie-tolerant exact top-k (the q49 boundary rule: include every
    # row within 1e-9 of the k-th score, fetched as top k+5)
    exact_kp = S.knn_join(
        _arrow_rows(spark, 
            [(qid, [float(x) for x in q]) for qid, q in queries],
            "query_id long, query_vec array<double>",
        ),
        nemb, k=k + 5, vec_col="vector", id_col="vec_id",
        tie_col="vec_id",
    ).select("query_id", "vec_id", "score")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    exact_kp = exact_kp.withColumn(
        "rank", F.row_number().over(rank_w))
    kth = exact_kp.filter(F.col("rank") == k).select(
        "query_id", F.col("score").alias("kth_score"))
    exact_df = (
        exact_kp.join(kth, "query_id")
        .filter(F.col("score") >= F.col("kth_score") - F.lit(1e-9))
        .select("query_id", "vec_id")
    )
    exact = {}
    for r in exact_df.collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    full = index.search_batch(
        spark, queries, k=k, nprobe=nlist, id_col="vec_id",
        tie_col="vec_id",
    ).select("query_id", "vec_id")
    full_hits = full.join(exact_df, ["query_id", "vec_id"]).count()
    cal = ivf.calibrate_nprobe(
        spark, index, queries, exact, k=k, target_recall=0.9,
        start_nprobe=plan["nprobe0"], id_col="vec_id",
        tie_col="vec_id",
    )
    rows = [
        ("1_plan_nondefault",
         nlist not in (16, 128)
         and 1 <= nlist <= max(1, n // 39)),
        ("2_fullprobe_exact",
         full_hits == len(queries) * k),
        ("3_calibrated_floor",
         cal["recall"] >= 0.9 and cal["nprobe"] <= nlist),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")


# planted PCA construction (q102): orthonormal dyadic basis H
# (scaled Hadamard-4, entries exactly +-0.5), latent coordinates
# a_j * (+-1 balanced patterns) with variances 16/4/1/0.25 — the
# sample covariance is EXACTLY H diag(a^2) H^T (all arithmetic is
# dyadic), so the sign-pinned principal axes are the H columns and
# the explained variances are a_j^2, in closed form
_PCA_H = [
    [0.5, 0.5, 0.5, 0.5],
    [0.5, -0.5, 0.5, -0.5],
    [0.5, 0.5, -0.5, -0.5],
    [0.5, -0.5, -0.5, 0.5],
]
_PCA_A = [4.0, 2.0, 1.0, 0.5]
_PCA_OUT_DIM = 2


def _pca_case_rows() -> list:
    import numpy as np

    h2 = np.array([[1, 1], [1, -1]])
    h8 = np.kron(np.kron(h2, h2), h2)
    pats = h8[[1, 2, 4, 7]]  # orthogonal, zero-mean +-1 patterns
    H = np.array(_PCA_H)
    rows = []
    for i in range(800):
        z = np.array([a * pats[j][i % 8]
                      for j, a in enumerate(_PCA_A)])
        x = H @ z
        rows.append((i, [float(v) for v in x]))
    return rows


def _pca_oracle_rows() -> list:
    return [
        (j, i, _PCA_H[i][j], _PCA_A[j] * _PCA_A[j])
        for j in range(_PCA_OUT_DIM)
        for i in range(4)
    ]


# q102: FULL-VALUE PCA on a planted dyadic construction whose
# principal axes/variances are known in closed form (loadings
# +-0.5 exactly); sign-pinned eigh must reproduce them
@gate(lambda: _values_oracle(
    _pca_oracle_rows(), "component, dim, loading, eigval"))
def q102_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA compressor (operators/embedding.train_pca_compressor)
    FULL-VALUE gate: the one-pass (count, sum, gram) partials +
    driver eigh fit on the planted dyadic construction must
    reproduce the closed-form principal axes (loadings exactly
    +-0.5 after sign pinning) and explained variances (16, 4). Any
    error in the partials algebra, the covariance assembly, the
    eigen-ordering, or the sign pin shifts a loading or an
    eigenvalue."""
    from shotit_worker_spark.operators.embedding import (
        train_pca_compressor,
    )

    df = _arrow_rows(spark, 
        _pca_case_rows(), "row_id long, embedding array<double>"
    )
    pca = train_pca_compressor(df, out_dim=_PCA_OUT_DIM,
                               vec_col="embedding")
    rows = [
        (j, i, float(pca.components[i][j]), float(pca.eigvals[j]))
        for j in range(_PCA_OUT_DIM)
        for i in range(4)
    ]
    return _arrow_rows(spark, 
        rows, "component int, dim int, loading double, eigval double"
    ).orderBy("component", "dim")


@gate("""
    WITH t AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_sum(
                     list_transform(v, y -> y * y)))) AS nv
          FROM t),
    q AS (SELECT nv AS qv FROM n WHERE vec_id = 0)
    SELECT n.vec_id, list_dot_product(n.nv, q.qv) AS score
    FROM n, q
    WHERE n.vec_id % 3 = 0
    ORDER BY score DESC, n.vec_id ASC
    LIMIT 10
""")
def q122_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (index/ivf.IVFIndex.search(where=…))
    FULL-VALUE gate: full-probe search constrained to vec_id%3==0
    must return the exact filtered top-10 with exact scores — the
    predicate applies to the probed scan BEFORE scoring (true
    pre-filtering; parquet evaluates predicates, so no over-fetch
    heuristics), and at nprobe=nlist the result is the exact top-k
    of the filtered corpus, which the oracle recomputes from the raw
    embeddings. Pushdown itself is plan-pinned in test_ivf."""
    import numpy as np

    index = _shared_ivf_index(spark, sf_dir)
    q = np.array(_query_vec(spark, sf_dir, 0))
    return index.search(
        spark, q, k=10, nprobe=16, id_col="vec_id",
        tie_col="vec_id", where=F.col("vec_id") % 3 == 0,
    ).select("vec_id", "score")


_Q130_CACHE: dict = {}


# q130: IVF_PQ invariants (code bytes / self-retrieval with
# rerank / rerank recall floor) — TRUE by construction,
# checked through the real build + ADC + refine path
@gate("""
            SELECT * FROM (VALUES
                ('1_code_bytes_planned', TRUE),
                ('2_selfretrieval_rerank', TRUE),
                ('3_rerank_recall_floor', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q130_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF_PQ (index/pq) invariants gate, q106's constants style:
    residual-encoded product quantization with the SQ8 refine payload
    over the embeddings table at plan_pq sizing, pinned through the
    REAL build + ADC search path:

    - 1_code_bytes_planned: every stored row carries exactly
      plan_pq(dim)['m'] PQ bytes and dim SQ8-refine bytes (the
      m + dim bytes/vector the plan promises);
    - 2_selfretrieval_rerank: each of 8 corpus vectors retrieves
      ITSELF top-1 at full probe with rerank (the SQ8 decode of the
      row is the nearest candidate by construction — a codebook,
      offset, or LUT bug breaks this first);
    - 3_rerank_recall_floor: recall@10 vs the exact float kernel
      (tie-tolerant, the q49/q106 boundary rule) with rerank_factor=4
      at full probe >= 0.9 — near-SQ8 ordering over the ADC pool.
    """
    import tempfile

    import numpy as np

    from shotit_worker_spark.index import pq as PQ

    k = 10
    nemb = _normalized_embeddings(spark, sf_dir).select(
        "vec_id", F.col("nv").alias("vector")
    )
    cached = _Q130_CACHE.get(sf_dir)
    if cached is None:
        dim = len(nemb.select("vector").first()["vector"])
        plan = PQ.plan_pq(dim)
        d = tempfile.mkdtemp(prefix="q130pq_")
        index = PQ.build_ivfpq(
            nemb, d + "/index", nlist=8, m=plan["m"], refine="sq8"
        )
        cached = _Q130_CACHE[sf_dir] = (index, plan, dim)
    index, plan, dim = cached
    row0 = index.load(spark).select("pq_code", "sq8_code").first()
    bytes_ok = (
        len(row0["pq_code"]) == plan["m"]
        and len(row0["sq8_code"]) == dim
    )
    qrows = (
        nemb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    )
    queries = [(int(r["vec_id"]), np.asarray(r["vector"]))
               for r in qrows]
    top1 = index.search_batch(
        spark, queries, k=1, nprobe=8, id_col="vec_id",
        tie_col="vec_id", rerank_factor=4,
    ).collect()
    self_ok = (
        len(top1) == len(queries)
        and all(r["vec_id"] == r["query_id"] for r in top1)
    )
    # tie-tolerant exact top-k (q106's boundary rule)
    exact_kp = S.knn_join(
        _arrow_rows(spark, 
            [(qid, [float(x) for x in q]) for qid, q in queries],
            "query_id long, query_vec array<double>",
        ),
        nemb, k=k + 5, vec_col="vector", id_col="vec_id",
        tie_col="vec_id",
    ).select("query_id", "vec_id", "score")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    exact_kp = exact_kp.withColumn(
        "rank", F.row_number().over(rank_w))
    kth = exact_kp.filter(F.col("rank") == k).select(
        "query_id", F.col("score").alias("kth_score"))
    exact_df = (
        exact_kp.join(kth, "query_id")
        .filter(F.col("score") >= F.col("kth_score") - F.lit(1e-9))
        .select("query_id", "vec_id")
    )
    rr = index.search_batch(
        spark, queries, k=k, nprobe=8, id_col="vec_id",
        tie_col="vec_id", rerank_factor=4,
    ).select("query_id", "vec_id")
    hits = rr.join(exact_df, ["query_id", "vec_id"]).count()
    recall_ok = hits >= 0.9 * len(queries) * k
    rows = [
        ("1_code_bytes_planned", bool(bytes_ok)),
        ("2_selfretrieval_rerank", bool(self_ok)),
        ("3_rerank_recall_floor", bool(recall_ok)),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")


_Q132_CACHE: dict = {}


# q132: the index-family chooser's measured decision rule +
# family-dispatched build/open/serve, end-to-end on the
# corpus embeddings (invariants gate like q106)
@gate("""
            SELECT * FROM (VALUES
                ('1_flat_unconstrained', TRUE),
                ('2_sq8_at_byte_per_dim', TRUE),
                ('3_refine_loses_on_bytes', TRUE),
                ('4_pq_subbyte_warns', TRUE),
                ('5_dispatch_sq8_serves', TRUE)
            ) AS t(invariant, ok) ORDER BY invariant
        """)
def q132_index_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-family chooser gate (index/family.plan_index_family +
    build_planned/open_index + the plans/serve dispatch). The
    reference delegates the family choice to Milvus and pins IVF_SQ8
    (loader.js:329-335); this engine has three families, and the r11
    1M measurements fixed the rule (SCALE_NOTES Round 11: SQ8 0.933
    recall at 1 byte/dim BEATS PQ+SQ8-refine's 0.842 at m+dim bytes;
    PQ-alone is the sub-byte/dim point and collapses on
    near-duplicate-dense data). Invariants, end-to-end on the corpus
    embeddings:

    - 1_flat_unconstrained: no budget -> raw vectors (4 bytes/dim);
    - 2_sq8_at_byte_per_dim: budget = dim -> SQ8, sized by plan_ivf;
    - 3_refine_loses_on_bytes: an ADC-narrowing request whose m+dim
      payload busts the budget falls back to SQ8 (the measured rule:
      refine stores MORE and ranks worse);
    - 4_pq_subbyte_warns: a sub-byte/dim budget picks PQ-alone with
      m within budget and dividing dim, and the near-dup-dense
      warning fires exactly there;
    - 5_dispatch_sq8_serves: the chosen SQ8 plan BUILDS via
      build_planned, REOPENS family-dispatched (open_index), and
      SERVES through ResidentSearcher.open — self-retrieval of a
      normalized corpus vector at full probe returns itself with
      score 1.0 within SQ8 quantization error."""
    import tempfile

    import numpy as np

    from shotit_worker_spark.index.family import (
        build_planned,
        open_index,
        plan_index_family,
    )
    from shotit_worker_spark.plans.serve import ResidentSearcher

    nemb = _normalized_embeddings(spark, sf_dir).select(
        "vec_id", F.col("nv").alias("vector")
    )
    cached = _Q132_CACHE.get(sf_dir)
    if cached is None:
        n = nemb.count()
        dim = len(nemb.select("vector").first()["vector"])
        plan = plan_index_family(dim, n, byte_budget_per_vec=dim)
        d = tempfile.mkdtemp(prefix="q132fam_")
        build_planned(nemb, d + "/index", plan, vec_col="vector")
        cached = _Q132_CACHE[sf_dir] = (d + "/index", plan, n, dim)
    path, plan, n, dim = cached
    reopened = open_index(spark, path)
    srv = ResidentSearcher.open(
        spark, path, id_col="vec_id", tie_col="vec_id"
    )
    try:
        q0 = np.asarray(
            nemb.filter(F.col("vec_id") == 0).first()["vector"]
        )
        top = srv.search(q0, k=1, nprobe=plan["nlist"]).first()
    finally:
        srv.close()
    p_flat = plan_index_family(dim, n)
    p_refine = plan_index_family(
        dim, n, byte_budget_per_vec=dim + 1, want_adc_narrowing=True
    )
    sub = max(1, dim // 8)
    p_pq = plan_index_family(
        dim, n, byte_budget_per_vec=sub, near_dup_dense=True
    )
    from shotit_worker_spark.index.ivf import plan_ivf as _plan_ivf

    rows = [
        ("1_flat_unconstrained",
         p_flat["family"] == "ivf_flat"
         and p_flat["bytes_per_vec"] == 8 * dim
         and p_flat["warning"] is None),
        ("2_sq8_at_byte_per_dim",
         plan["family"] == "ivf_sq8"
         and plan["bytes_per_vec"] == dim
         and plan["nlist"] == _plan_ivf(n)["nlist"]),
        ("3_refine_loses_on_bytes", p_refine["family"] == "ivf_sq8"),
        ("4_pq_subbyte_warns",
         p_pq["family"] == "ivf_pq"
         and p_pq["m"] <= sub
         and dim % p_pq["m"] == 0
         and bool(p_pq["warning"])),
        ("5_dispatch_sq8_serves",
         reopened.mins is not None
         and top is not None
         and int(top["vec_id"]) == 0
         and float(top["score"]) > 0.98),
    ]
    return _arrow_rows(spark, 
        rows, "invariant string, ok boolean"
    ).orderBy("invariant")
