"""IVF index tests: build determinism, recall gate vs the exact oracle,
self-retrieval (SURVEY §5.2.3-4)."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.functions import vector as V
from shotit_worker_spark.index import ivf
from shotit_worker_spark.index import pq as PQ
from shotit_worker_spark.operators import similarity as S

NLIST = 16
NPROBE = 4


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        V.l2_normalize(V.to_double_array("embedding")).alias("vector"),
    ).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_root):
    return ivf.build_ivf(corpus, str(tmp_root / "ivf"), nlist=NLIST)


def test_centroids_shape_and_determinism(spark, corpus, index, tmp_root):
    assert index.centroids.shape[0] <= NLIST
    again = ivf.build_ivf(corpus, str(tmp_root / "ivf2"), nlist=NLIST)
    assert np.allclose(index.centroids, again.centroids)


def test_mllib_fit_path_works(spark, corpus, tmp_root):
    """The distributed (100-TB) KMeans path, forced at fixture scale so
    it stays exercised."""
    idx = ivf.build_ivf(
        corpus, str(tmp_root / "ivf_mllib"), nlist=NLIST, fit_method="mllib"
    )
    assert idx.centroids.shape[0] <= NLIST
    q = np.array(corpus.filter(F.col("vec_id") == 11).first()["vector"])
    top = idx.search(spark, q, k=1, nprobe=NLIST, id_col="vec_id",
                     tie_col=None).first()
    assert top["vec_id"] == 11


def test_partitioned_layout(spark, index):
    df = index.load(spark)
    assert "centroid_id" in df.columns
    n_parts = df.select("centroid_id").distinct().count()
    assert 1 < n_parts <= NLIST


def test_self_retrieval_top1(spark, corpus, index):
    for vid in [0, 7, 123]:
        q = np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        top = index.search(spark, q, k=1, nprobe=NPROBE, id_col="vec_id",
                           tie_col=None).first()
        assert top["vec_id"] == vid
        assert top["score"] == pytest.approx(1.0, abs=1e-9)


def test_recall_at_15_floor(spark, corpus, index):
    """nprobe=4/nlist=16 = 25% of lists scanned; recall@15 averaged over
    queries must clear the pinned floor (reference offers none; we pin
    empirically per SURVEY §5.2.3 and freeze the KMeans seed). The
    fixture embeddings are near-uniform random, the hardest case for IVF
    (true neighbors scatter across lists); observed recall is 0.48, so
    the regression floor is pinned just below at 0.45."""
    recalls = []
    for vid in [1, 42, 99, 250, 400]:
        q = np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        approx = [
            r["vec_id"]
            for r in index.search(spark, q, k=15, nprobe=NPROBE,
                                  id_col="vec_id", tie_col=None).collect()
        ]
        exact = [
            r["vec_id"]
            for r in S.exact_topk(corpus, list(q), k=15, vec_col="vector",
                                  id_col="vec_id", tie_col=None).collect()
        ]
        recalls.append(ivf.recall_at_k(approx, exact))
    assert sum(recalls) / len(recalls) >= 0.45


def test_sq8_index_smaller_and_recall_close(spark, corpus, index, tmp_root):
    """SQ8 build: codes stored as tinyint (no float vector column) and
    full-probe SQ8 top-15 stays close to the float-path top-15."""
    sq8 = ivf.build_ivf(corpus, str(tmp_root / "ivf_sq8"), nlist=NLIST,
                        quantize=True)
    table = sq8.load(spark)
    assert "sq8_code" in table.columns and "vector" not in table.columns
    assert dict(table.dtypes)["sq8_code"] == "array<tinyint>"

    q = np.array(corpus.filter(F.col("vec_id") == 42).first()["vector"])
    sq8_ids = [
        r["vec_id"]
        for r in sq8.search(spark, q, k=15, nprobe=NLIST, id_col="vec_id",
                            tie_col=None).collect()
    ]
    float_ids = [
        r["vec_id"]
        for r in index.search(spark, q, k=15, nprobe=NLIST, id_col="vec_id",
                              tie_col=None).collect()
    ]
    assert ivf.recall_at_k(sq8_ids, float_ids) >= 0.8
    assert sq8_ids[0] == 42  # self-retrieval survives quantization


def test_sq8_per_centroid_at_least_as_accurate(spark, corpus, index, tmp_root):
    """Per-centroid (min, scale) grids quantize over narrower ranges than
    one global grid, so the SQ8 ordering should track the float ordering
    at least as well — compared at full probe so only quantization (not
    pruning) differs."""
    g = ivf.build_ivf(corpus, str(tmp_root / "ivf_sq8g"), nlist=NLIST,
                      quantize=True, sq8_mode="global")
    p = ivf.build_ivf(corpus, str(tmp_root / "ivf_sq8p"), nlist=NLIST,
                      quantize=True, sq8_mode="per_centroid")
    assert p.sq8_per_centroid and not g.sq8_per_centroid
    g_err, p_err, p_rec = [], [], []
    for vid in [7, 42, 311]:
        q = np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        truth = {
            r["vec_id"]: r["score"]
            for r in index.search(spark, q, k=15, nprobe=NLIST,
                                  id_col="vec_id", tie_col=None).collect()
        }
        for idx, errs in ((g, g_err), (p, p_err)):
            got = {
                r["vec_id"]: r["score"]
                for r in idx.search(spark, q, k=200, nprobe=NLIST,
                                    id_col="vec_id", tie_col=None).collect()
            }
            errs += [abs(got[v] - s) for v, s in truth.items() if v in got]
        ids = [
            r["vec_id"]
            for r in p.search(spark, q, k=15, nprobe=NLIST,
                              id_col="vec_id", tie_col=None).collect()
        ]
        assert ids[0] == vid
        p_rec.append(ivf.recall_at_k(ids, list(truth)))
    # narrower per-list ranges → smaller quantization steps → the SQ8
    # scores sit closer to the float scores
    assert sum(p_err) / len(p_err) < sum(g_err) / len(g_err)
    assert sum(p_rec) / len(p_rec) >= 0.9


def test_multi_assign_improves_recall(spark, corpus, index, tmp_root):
    """n_assign=2 at the same nprobe must lift recall@15 (boundary
    neighbors become reachable) and must not emit duplicate ids."""
    multi = ivf.build_ivf(corpus, str(tmp_root / "ivf_ma"), nlist=NLIST,
                          n_assign=2)
    # layout really is replicated: ~2× rows
    n_base = index.load(spark).count()
    n_multi = multi.load(spark).count()
    assert n_multi > int(1.5 * n_base)

    single, multi_r = [], []
    for vid in [1, 42, 99, 250, 400]:
        q = np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        exact = [
            r["vec_id"]
            for r in S.exact_topk(corpus, list(q), k=15, vec_col="vector",
                                  id_col="vec_id", tie_col=None).collect()
        ]
        m_ids = [
            r["vec_id"]
            for r in multi.search(spark, q, k=15, nprobe=NPROBE,
                                  id_col="vec_id", tie_col=None).collect()
        ]
        assert len(m_ids) == len(set(m_ids)), "copies must be folded"
        s_ids = [
            r["vec_id"]
            for r in index.search(spark, q, k=15, nprobe=NPROBE,
                                  id_col="vec_id", tie_col=None).collect()
        ]
        single.append(ivf.recall_at_k(s_ids, exact))
        multi_r.append(ivf.recall_at_k(m_ids, exact))
    assert sum(multi_r) > sum(single)


def test_full_probe_equals_exact(spark, corpus, index):
    """nprobe = nlist must reproduce the exact oracle identically."""
    q = np.array(corpus.filter(F.col("vec_id") == 9).first()["vector"])
    approx = [
        r["vec_id"]
        for r in index.search(spark, q, k=15, nprobe=NLIST,
                              id_col="vec_id", tie_col=None).collect()
    ]
    exact = [
        r["vec_id"]
        for r in S.exact_topk(corpus, list(q), k=15, vec_col="vector",
                              id_col="vec_id", tie_col=None).collect()
    ]
    assert approx == exact


def test_sq8_rerank_recovers_float_ordering(spark, corpus, index, tmp_root):
    """keep_vectors + rerank: the SQ8 coarse pass picks a k×4 pool, the
    float refine must reproduce the float index's top-15 exactly (any
    quantization ordering error inside the pool is corrected)."""
    sq8 = ivf.build_ivf(corpus, str(tmp_root / "ivf_sq8rr"), nlist=NLIST,
                        quantize=True, sq8_mode="per_centroid",
                        keep_vectors=True)
    assert "vector" in sq8.load(spark).columns
    for vid in [7, 42, 311]:
        q = np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        reranked = [
            (r["vec_id"], round(r["score"], 9))
            for r in sq8.search(spark, q, k=15, nprobe=NLIST, id_col="vec_id",
                                tie_col=None, rerank_factor=4).collect()
        ]
        exact = [
            (r["vec_id"], round(r["score"], 9))
            for r in index.search(spark, q, k=15, nprobe=NLIST,
                                  id_col="vec_id", tie_col=None).collect()
        ]
        assert reranked == exact
    # guard rails: rerank demands SQ8 + stored vectors
    with pytest.raises(ValueError):
        index.search(spark, q, k=5, rerank_factor=2, id_col="vec_id",
                     tie_col=None)


def test_build_ivf_empty_input_raises(spark, tmp_root):
    import pytest

    from shotit_worker_spark.index import ivf as IVF

    empty = spark.createDataFrame([], "hash_id string, vector array<double>")
    with pytest.raises(ValueError, match="no rows"):
        IVF.build_ivf(empty, str(tmp_root / "empty_ivf"), nlist=4)


def assert_same_hits(got, want, what=""):
    """Two ranked hit lists of (id, score): ids exact, scores within
    1e-9."""
    assert [i for i, _ in got] == [i for i, _ in want], what
    assert np.allclose([s for _, s in got], [s for _, s in want],
                       rtol=0.0, atol=1e-9), what


def assert_batch_matches_single(spark, index, queries, **kw):
    """``search_batch`` over ``queries`` returns, per query, the hits
    of ``search`` with the same arguments."""
    got = {}
    for r in index.search_batch(spark, queries, **kw).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid, q in queries:
        want = [(r["vec_id"], r["score"])
                for r in index.search(spark, q, **kw).collect()]
        assert_same_hits(got[qid], want, f"query {qid}")


def test_search_batch_matches_sequential_search(spark, corpus, index,
                                                tmp_root):
    """Batch search (one job, broadcast probe table) returns exactly the
    per-query results of the single-query path, on the flat and the
    multi-assignment layouts."""
    qids = [0, 7, 123]
    queries = [
        (vid, np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"]))
        for vid in qids
    ]
    multi = ivf.build_ivf(corpus, str(tmp_root / "ivf_b_ma"), nlist=NLIST,
                          n_assign=2)
    for idx in (index, multi):
        assert_batch_matches_single(
            spark, idx, queries, k=5, nprobe=NPROBE, id_col="vec_id",
            tie_col="vec_id",
        )


def test_search_batch_sq8_matches_single(spark, corpus, tmp_root):
    """Batch search on SQ8 indexes scores the codes via per-pair
    dequantization params — identical to the single-query SQ8 path,
    for global and per-centroid quantization, and with the float
    vectors kept beside the codes."""
    qids = [0, 42]
    queries = [
        (v, np.array(corpus.filter(F.col("vec_id") == v).first()["vector"]))
        for v in qids
    ]
    for mode, keep in (("global", False), ("per_centroid", False),
                       ("per_centroid", True)):
        idx = ivf.build_ivf(
            corpus, str(tmp_root / f"ivf_sq8_b_{mode}_{keep}"), nlist=NLIST,
            quantize=True, sq8_mode=mode, keep_vectors=keep,
        )
        assert_batch_matches_single(
            spark, idx, queries, k=5, nprobe=NPROBE, id_col="vec_id",
            tie_col="vec_id",
        )


def test_open_reopens_without_refit(spark, corpus, index):
    """IVFIndex.open(path) must reconstruct the index from the sidecar
    alone — identical search results, no KMeans, no data scan."""
    reopened = ivf.IVFIndex.open(spark, index.path)
    assert np.array_equal(reopened.centroids, index.centroids)
    assert reopened.vec_col == index.vec_col
    assert reopened.n_assign == index.n_assign
    assert reopened.mins is None and reopened.scales is None
    q = np.asarray(
        corpus.filter(F.col("vec_id") == 7).first()["vector"]
    )
    a = index.search(spark, q, k=10, nprobe=NPROBE, id_col="vec_id",
                     tie_col="vec_id").collect()
    b = reopened.search(spark, q, k=10, nprobe=NPROBE, id_col="vec_id",
                        tie_col="vec_id").collect()
    assert [(r["vec_id"], r["score"]) for r in a] == [
        (r["vec_id"], r["score"]) for r in b
    ]


def test_open_roundtrips_sq8_per_centroid(spark, corpus, tmp_root, pinned):
    """The quantized per-centroid + multi-assign layout carries the most
    sidecar state (nlist×dim mins/scales, n_assign) — full roundtrip.
    The build releases the assignment it caches for its two passes."""
    corpus.count()
    before = pinned()
    built = ivf.build_ivf(
        corpus,
        str(tmp_root / "ivf_open_sq8"),
        nlist=NLIST,
        quantize=True,
        sq8_mode="per_centroid",
        n_assign=2,
    )
    assert pinned() == before
    reopened = ivf.IVFIndex.open(spark, built.path)
    assert reopened.sq8_per_centroid
    assert reopened.n_assign == 2
    assert np.array_equal(reopened.mins, built.mins)
    assert np.array_equal(reopened.scales, built.scales)
    q = np.asarray(corpus.filter(F.col("vec_id") == 3).first()["vector"])
    a = built.search(spark, q, k=10, nprobe=NPROBE, id_col="vec_id",
                     tie_col="vec_id").collect()
    b = reopened.search(spark, q, k=10, nprobe=NPROBE, id_col="vec_id",
                        tie_col="vec_id").collect()
    assert [(r["vec_id"], r["score"]) for r in a] == [
        (r["vec_id"], r["score"]) for r in b
    ]


def test_open_missing_sidecar_raises(spark, tmp_root):
    import py4j.protocol

    with pytest.raises(py4j.protocol.Py4JJavaError):
        ivf.IVFIndex.open(spark, str(tmp_root / "no_such_index"))


# ---------------------------------------------------------------------------
# Incremental insert (K3 parity: IVFIndex.add)
# ---------------------------------------------------------------------------


def test_add_float_index_then_full_probe_is_exact(spark, corpus, tmp_root):
    """Build on half the corpus, add() the other half: full-probe search
    over the grown index must equal brute force over the FULL corpus —
    assignment quality can't hide at nprobe=nlist."""
    first = corpus.filter(F.col("vec_id") < 250)
    rest = corpus.filter(F.col("vec_id") >= 250)
    idx = ivf.build_ivf(first, str(tmp_root / "ivf_add"), nlist=NLIST)
    idx.add(rest)
    assert idx.load(spark).count() == corpus.count()
    # self-retrieval of an ADDED vector
    q = np.array(corpus.filter(F.col("vec_id") == 400).first()["vector"])
    got = idx.search(spark, q, k=10, nprobe=NLIST, id_col="vec_id",
                     tie_col=None).collect()
    exact = S.exact_topk(corpus, list(q), k=10, vec_col="vector",
                         id_col="vec_id", tie_col=None).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]
    assert got[0]["vec_id"] == 400


def test_add_works_on_reopened_sq8_index(spark, corpus, tmp_root):
    """The serving lifecycle: build+persist in one 'session', open() and
    add() later — codes use the sidecar's SQ8 params, clamped."""
    first = corpus.filter(F.col("vec_id") < 250)
    rest = corpus.filter(F.col("vec_id") >= 250)
    path = str(tmp_root / "ivf_add_sq8")
    ivf.build_ivf(first, path, nlist=NLIST, quantize=True,
                  sq8_mode="per_centroid")
    reopened = ivf.IVFIndex.open(spark, path)
    reopened.add(rest)
    df = reopened.load(spark)
    assert df.count() == corpus.count()
    assert "sq8_code" in df.columns and "vector" not in df.columns
    q = np.array(corpus.filter(F.col("vec_id") == 311).first()["vector"])
    top = reopened.search(spark, q, k=1, nprobe=NLIST, id_col="vec_id",
                          tie_col=None).first()
    assert top["vec_id"] == 311


def test_add_clamps_out_of_range_vectors(spark, corpus, tmp_root):
    """Vectors far outside the fitted SQ8 range must clamp into valid
    tinyint codes (never NULL/wrapped), and the index stays searchable."""
    first = corpus.filter(F.col("vec_id") < 250)
    path = str(tmp_root / "ivf_add_clamp")
    idx = ivf.build_ivf(first, path, nlist=NLIST, quantize=True)
    dim = idx.centroids.shape[1]
    wild = spark.createDataFrame(
        [(99001, [10.0] * dim), (99002, [-10.0] * dim)],
        "vec_id long, vector array<double>",
    )
    idx.add(wild)
    codes = (
        idx.load(spark)
        .filter(F.col("vec_id") >= 99001)
        .select(F.explode("sq8_code").alias("c"))
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"),
             F.sum(F.col("c").isNull().cast("int")).alias("nulls"))
        .first()
    )
    assert codes["nulls"] == 0
    assert -128 <= codes["lo"] <= codes["hi"] <= 127
    q = np.ones(dim) / np.sqrt(dim)
    got = idx.search(spark, q, k=3, nprobe=NLIST, id_col="vec_id",
                     tie_col=None).collect()
    assert len(got) == 3


def test_plan_ivf_arithmetic():
    from shotit_worker_spark.index.ivf import plan_ivf

    p = plan_ivf(1_000_000)
    assert p["nlist"] == 1000
    assert p["nprobe0"] == 10  # 1% scan budget
    assert p["train_sample"] == 50_000
    assert p["rows_per_probe"] == 1000.0
    # min-points clamp: tiny corpora can't support sqrt(n) centroids
    assert plan_ivf(500)["nlist"] == 12  # 500 // 39, not round(22.4)
    assert plan_ivf(1)["nlist"] == 1
    assert plan_ivf(10_000_000_000)["nlist"] == 100_000
    import pytest as _pt

    with _pt.raises(ValueError, match="n must"):
        plan_ivf(0)
    with _pt.raises(ValueError, match="scan_budget_frac"):
        plan_ivf(100, scan_budget_frac=0.0)


def test_calibrate_nprobe_clustered(spark, tmp_path):
    # 3 tight clusters: a within-cluster query needs only its own
    # list, so calibration must stop at nprobe=1 with recall 1.0
    import numpy as np

    from shotit_worker_spark.index import ivf

    rng = np.random.default_rng(11)
    centers = np.eye(3, 8) * 10.0
    rows = []
    for i in range(300):
        v = centers[i % 3] + rng.normal(0, 0.05, 8)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, vector array<double>")
    index = ivf.build_ivf(df, str(tmp_path / "idx"), nlist=3)
    queries = [(i, np.asarray(r[1])) for i, r in enumerate(rows[:4])]
    # exact ground truth: brute force per query on the driver (300x8)
    mat = np.array([r[1] for r in rows])
    exact = {}
    for qid, q in queries:
        top = np.argsort(-(mat @ q))[:5]
        exact[qid] = {int(rows[j][0]) for j in top}
    cal = ivf.calibrate_nprobe(
        spark, index, queries, exact, k=5, target_recall=0.99,
        id_col="vec_id", tie_col="vec_id",
    )
    assert cal["nprobe"] == 1 and cal["recall"] >= 0.99
    assert cal["curve"][0][0] == 1
    # unreachable-without-full-probe target still terminates at nlist
    cal2 = ivf.calibrate_nprobe(
        spark, index, queries, exact, k=5, target_recall=1.0,
        start_nprobe=1, id_col="vec_id", tie_col="vec_id",
    )
    assert cal2["nprobe"] <= 3 and cal2["recall"] == 1.0
    import pytest as _pt

    with _pt.raises(ValueError, match="queries"):
        ivf.calibrate_nprobe(spark, index, [], exact)


def test_filtered_search_prefilter_exact(spark, corpus, index):
    """where= is TRUE pre-filtering: full-probe filtered search must
    equal the exact top-k of the filtered corpus, every hit satisfies
    the predicate, and the parquet scan carries the pushed filter."""
    q = np.array(corpus.filter(F.col("vec_id") == 3).first()["vector"])
    pred = F.col("vec_id") >= 200
    got = index.search(
        spark, q, k=10, nprobe=NLIST, id_col="vec_id",
        tie_col=None, where=pred,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(vec_id,200)" in plan, plan
    hits = [r["vec_id"] for r in got.collect()]
    assert hits and all(v >= 200 for v in hits)
    exact = [
        r["vec_id"]
        for r in S.exact_topk(
            corpus.filter(pred), list(q), k=10, vec_col="vector",
            id_col="vec_id", tie_col=None,
        ).collect()
    ]
    assert hits == exact
    # batch form: same predicate, both queries constrained
    batch = index.search_batch(
        spark, [(0, q), (1, -q)], k=5, nprobe=NLIST,
        id_col="vec_id", tie_col=None, where=pred,
    ).collect()
    assert batch and all(r["vec_id"] >= 200 for r in batch)


def test_hash_sample_one_job_layout_independent_and_exact(spark):
    # r10 VERDICT #5 / ADVICE: the auto-fit sample must (a) run ONE
    # Spark job in the common case — no dedicated count() pass, (b)
    # be seed-pinned and independent of partition layout (the cap
    # hash-smallest rows, not whichever partitions scan first), and
    # (c) be exhaustive when the corpus fits the cap.
    import pyspark.sql.functions as F

    from shotit_worker_spark.index.ivf import _hash_sample

    df = spark.range(5000).select(
        F.array(
            (F.col("id") % 97).cast("double"),
            (F.col("id") % 31).cast("double"),
            F.col("id").cast("double"),
        ).alias("v")
    )

    def key(rows):
        return [tuple(r["v"]) for r in rows]

    sc = spark.sparkContext

    _grp_no = [0]

    def run(sel, cap, **kw):
        _grp_no[0] += 1
        grp = f"hs-{_grp_no[0]}"
        sc.setJobGroup(grp, "hash sample")
        try:
            rows = _hash_sample(sel, cap, seed=42, **kw)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(grp)
        return rows, len(jobs)

    # (b): same sample across layouts (and deterministic repeat)
    a, _ = run(df.repartition(2), 300)
    b, _ = run(df.repartition(32), 300)
    c, _ = run(df.coalesce(1), 300)
    assert len(a) == 300
    assert key(a) == key(b) == key(c)

    # (a): one job when the size estimate is adequate, measured on a
    # scan-shaped input (no repartition — AQE runs each shuffle stage
    # as its own job, which is the test's artifact, not the sample's)
    _, njobs = run(df, 300, target_bytes=1 << 40)  # rate 1.0
    assert njobs == 1

    # (c): corpus within the cap -> every row present exactly once
    full, _ = run(df.repartition(8), 10_000)
    assert sorted(key(full)) == sorted(
        tuple(r["v"]) for r in df.collect()
    )

    # escalation: a starved first rate still reaches the cap
    tiny, njobs_tiny = run(df.repartition(8), 300, target_bytes=1)
    assert len(tiny) == 300
    assert key(tiny) == key(a)
    assert njobs_tiny >= 2  # it DID escalate (rescans, small corpus)


# ---------------------------------------------------------------------------
# Stored-layout pins: every build mode's rows, byte for byte
# ---------------------------------------------------------------------------

BUILDS = {
    "flat": lambda rows, p: ivf.build_ivf(rows, p, nlist=NLIST),
    "sq8_global": lambda rows, p: ivf.build_ivf(
        rows, p, nlist=NLIST, quantize=True),
    "sq8_per_centroid": lambda rows, p: ivf.build_ivf(
        rows, p, nlist=NLIST, quantize=True, sq8_mode="per_centroid"),
    "sq8_keep_vectors": lambda rows, p: ivf.build_ivf(
        rows, p, nlist=NLIST, quantize=True, keep_vectors=True),
    "n_assign_2": lambda rows, p: ivf.build_ivf(
        rows, p, nlist=NLIST, n_assign=2),
    "pq": lambda rows, p: PQ.build_ivfpq(rows, p, nlist=8, m=8),
    "pq_raw": lambda rows, p: PQ.build_ivfpq(
        rows, p, nlist=8, m=8, residual=False),
    "pq_refine": lambda rows, p: PQ.build_ivfpq(
        rows, p, nlist=8, m=8, refine="sq8"),
}

# sha256 over each mode's stored rows (every column, JSON, sorted):
# a layout refactor must leave the written codes byte-identical
STORED_SHA256 = {
    "flat": "bc5e72295ec3eff3fec43e320f9da4306a104b5fe67524f70acf61da6d98fb5c",
    "n_assign_2": "b1985144cdac37bb94f4b979b9a82f1c1369d527d4b4a22a8a202502d10f8822",
    "pq": "3118ab2d851e56893eb11b0f1ee88304fad0b6a5bf5b06e10725ae78878087cc",
    "pq_raw": "058d23758f930cd9abccbec765ef430e9f38c2fce06e2ae4cbeae8b4cea0d56f",
    "pq_refine": "1e073d0961f98360320306b08c5bdf4328d7ce11595a8c2a597788e2890f2910",
    "sq8_global": "226d0bf07667844a7316a91092c47e8a8a867d2ba251293e6c8998e8858f4d4c",
    "sq8_keep_vectors": "93967fd33553eb262ef711ac0be050fad90bc07951d73097aa6bb36539c7eadb",
    "sq8_per_centroid": "63e40f0b73c121edfb4acc900086b9143a0539fed4218d02d1b51e8e3c6c7380",
}


def _stored_sha(spark, index):
    rows = sorted(
        json.dumps(r.asDict(), sort_keys=True)
        for r in index.load(spark).collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("mode", sorted(BUILDS))
def test_stored_codes_pinned(spark, corpus, tmp_root, mode):
    built = BUILDS[mode](corpus, str(tmp_root / f"pin_{mode}"))
    assert _stored_sha(spark, built) == STORED_SHA256[mode]
