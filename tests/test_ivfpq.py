"""IVF_PQ (index/pq.py): encode correctness vs a numpy oracle, ADC
score == reconstructed-vector dot, recall floor vs the exact kernel at
full probe, batch≡single, open() persistence, incremental add, and the
m-bytes storage win."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from shotit_worker_spark.functions import vector as V
from shotit_worker_spark.index import pq as PQ
from shotit_worker_spark.operators import similarity as S

from tests.test_ivf import assert_batch_matches_single

NLIST = 8
M = 8


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        V.l2_normalize(V.to_double_array("embedding")).alias("vector"),
    ).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_root):
    return PQ.build_ivfpq(corpus, str(tmp_root / "ivfpq"), nlist=NLIST, m=M)


def _vecs(corpus):
    return {r["vec_id"]: np.array(r["vector"]) for r in corpus.collect()}


def test_codes_match_numpy_oracle(spark, corpus, index):
    df = index.load(spark)
    rows = {}
    cents = {}
    for r in df.collect():
        rows[r["vec_id"]] = np.array(r["pq_code"], dtype=np.int64) + 128
        cents[r["vec_id"]] = int(r["centroid_id"])
    vecs = _vecs(corpus)
    cb = index.codebooks
    m, ksub, dsub = cb.shape
    for vid in list(vecs)[:40]:
        # residual encoding: codes quantize (x - coarse centroid)
        v = vecs[vid] - index.centroids[cents[vid]]
        for j in range(m):
            sub = v[j * dsub : (j + 1) * dsub]
            expect = int(np.argmin(((cb[j] - sub) ** 2).sum(axis=1)))
            assert rows[vid][j] == expect, (vid, j)


def test_adc_equals_reconstructed_dot(spark, corpus, index):
    """ADC's LUT-sum must equal the dot product with the PQ-reconstructed
    vector exactly (it's the same sum, associativity aside)."""
    vecs = _vecs(corpus)
    q = vecs[3]
    got = {
        r["vec_id"]: r["score"]
        for r in index.search(
            spark, q, k=500, nprobe=NLIST, id_col="vec_id", tie_col=None
        ).collect()
    }
    df = index.load(spark)
    codes = {}
    cents = {}
    for r in df.collect():
        codes[r["vec_id"]] = np.array(r["pq_code"], dtype=np.int64) + 128
        cents[r["vec_id"]] = int(r["centroid_id"])
    cb = index.codebooks
    m, ksub, dsub = cb.shape
    for vid in list(got)[:50]:
        # residual ADC: score = <q, centroid> + LUT-sum(residual code)
        recon = np.concatenate([cb[j][codes[vid][j]] for j in range(m)])
        recon = recon + index.centroids[cents[vid]]
        assert got[vid] == pytest.approx(float(recon @ q), rel=1e-9)


def test_recall_floor_vs_exact(spark, corpus, index):
    vecs = _vecs(corpus)
    hits = 0
    total = 0
    for vid in [0, 7, 42, 123, 321]:
        q = vecs[vid]
        approx = [
            r["vec_id"]
            for r in index.search(
                spark, q, k=10, nprobe=NLIST, id_col="vec_id", tie_col=None
            ).collect()
        ]
        exact = [
            r["vec_id"]
            for r in S.exact_topk(
                corpus, list(q), k=10, vec_col="vector", id_col="vec_id",
                tie_col=None,
            ).collect()
        ]
        hits += len(set(approx) & set(exact))
        total += 10
    # PQ at m=8 over dim-64 normalized embeddings: lossy but useful;
    # the floor catches codebook/ADC regressions without flaking
    assert hits / total >= 0.5
    # self-retrieval: the query's own code should rank it near the top
    top = [
        r["vec_id"]
        for r in index.search(spark, vecs[7], k=5, nprobe=NLIST,
                              id_col="vec_id", tie_col=None).collect()
    ]
    assert 7 in top


def test_batch_matches_single(spark, corpus, index, tmp_root):
    """Residual and raw-vector codes: search_batch == search."""
    vecs = _vecs(corpus)
    queries = [(11, vecs[11]), (22, vecs[22]), (33, vecs[33])]
    raw = PQ.build_ivfpq(corpus, str(tmp_root / "ivfpq_raw_b"),
                         nlist=NLIST, m=M, residual=False)
    for idx in (index, raw):
        assert_batch_matches_single(
            spark, idx, queries, k=5, nprobe=3, id_col="vec_id",
            tie_col=None,
        )


def test_open_and_add(spark, corpus, tmp_root):
    first = corpus.filter(F.col("vec_id") < 250)
    rest = corpus.filter(F.col("vec_id") >= 250)
    path = str(tmp_root / "ivfpq_add")
    PQ.build_ivfpq(first, path, nlist=NLIST, m=M)
    reopened = PQ.IVFPQIndex.open(spark, path)
    # ksub may be < 256 when the training sample is smaller
    assert reopened.codebooks.shape[0] == M
    assert reopened.codebooks.shape[2] == 64 // M
    reopened.add(rest)
    df = reopened.load(spark)
    assert df.count() == corpus.count()
    vecs = _vecs(corpus)
    top = [
        r["vec_id"]
        for r in reopened.search(spark, vecs[400], k=5, nprobe=NLIST,
                                 id_col="vec_id", tie_col=None).collect()
    ]
    assert 400 in top


def test_storage_is_m_bytes(spark, index):
    df = index.load(spark)
    row = df.first()
    assert len(row["pq_code"]) == M
    assert "vector" not in df.columns
    with pytest.raises(ValueError, match="not divisible"):
        PQ.fit_pq_codebooks(np.zeros((10, 62)), M)


def test_resident_searcher_serves_pq(spark, corpus, index):
    """The serving tier is index-family-agnostic: ResidentSearcher's
    cached-table path works over IVF_PQ via the _scored hook, results
    identical to IVFPQIndex.search at the same nprobe."""
    from shotit_worker_spark.plans.serve import ResidentSearcher

    searcher = ResidentSearcher(spark, index, id_col="vec_id", tie_col=None)
    try:
        vecs = _vecs(corpus)
        q = vecs[42]
        served = [
            (r["vec_id"], round(r["score"], 9))
            for r in searcher.search(q, k=5, nprobe=NLIST).collect()
        ]
        direct = [
            (r["vec_id"], round(r["score"], 9))
            for r in index.search(
                spark, q, k=5, nprobe=NLIST, id_col="vec_id", tie_col=None
            ).collect()
        ]
        assert served == direct
    finally:
        searcher.close()


def test_refine_sq8_rerank(spark, corpus, tmp_root):
    # refine="sq8" stores a 1-byte/dim payload next to the PQ codes;
    # rerank_factor re-scores ADC's top pool against the decoded SQ8
    # vector in the SAME kernel. Final ordering must be near-SQ8:
    # strictly better-or-equal recall than raw ADC on this corpus.
    vecs = _vecs(corpus)
    path = str(tmp_root / "ivfpq_refine")
    idx = PQ.build_ivfpq(corpus, path, nlist=NLIST, m=M, refine="sq8")
    df = idx.load(spark)
    assert "sq8_code" in df.columns
    assert len(df.first()["sq8_code"]) == 64

    def recall(ix, **kw):
        hits = 0
        for vid in [0, 7, 42, 123, 321]:
            approx = {
                r["vec_id"]
                for r in ix.search(spark, vecs[vid], k=10, nprobe=NLIST,
                                   id_col="vec_id", tie_col=None,
                                   **kw).collect()
            }
            exact = {
                r["vec_id"]
                for r in S.exact_topk(
                    corpus, list(vecs[vid]), k=10, vec_col="vector",
                    id_col="vec_id", tie_col=None).collect()
            }
            hits += len(approx & exact)
        return hits / 50

    base = recall(idx)
    rr = recall(idx, rerank_factor=4)
    assert rr >= base
    assert rr >= 0.9  # SQ8-quality ordering over the ADC pool

    # self-retrieval must be exact under rerank (SQ8 decode of the
    # row itself is the nearest candidate by construction)
    top = [
        r["vec_id"]
        for r in idx.search(spark, vecs[7], k=5, nprobe=NLIST,
                            id_col="vec_id", tie_col=None,
                            rerank_factor=4).collect()
    ]
    assert top[0] == 7

    # open() roundtrips the refine params; add() keeps the payload
    reopened = PQ.IVFPQIndex.open(spark, path)
    assert reopened.refine
    assert np.allclose(reopened.sq8_mins, idx.sq8_mins)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in reopened.search(spark, vecs[42], k=5, nprobe=NLIST,
                                 id_col="vec_id", tie_col=None,
                                 rerank_factor=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 9))
        for r in idx.search(spark, vecs[42], k=5, nprobe=NLIST,
                            id_col="vec_id", tie_col=None,
                            rerank_factor=4).collect()
    ]
    assert got == want

    # batch == single under rerank
    queries = [(11, vecs[11]), (22, vecs[22])]
    batch = idx.search_batch(spark, queries, k=5, nprobe=3,
                             id_col="vec_id", tie_col=None,
                             rerank_factor=4).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for qid, q in queries:
        single = [
            (r["vec_id"], round(r["score"], 9))
            for r in idx.search(spark, q, k=5, nprobe=3,
                                id_col="vec_id", tie_col=None,
                                rerank_factor=4).collect()
        ]
        assert by_q[qid] == single, qid

    # a non-refine build refuses rerank loudly
    plain = PQ.build_ivfpq(
        corpus, str(tmp_root / "ivfpq_norefine"), nlist=NLIST, m=M)
    with pytest.raises(ValueError, match="refine"):
        plain.search(spark, vecs[0], k=5, nprobe=2, id_col="vec_id",
                     tie_col=None, rerank_factor=4).collect()


def test_plan_pq_arithmetic():
    from shotit_worker_spark.index.pq import plan_pq

    p = plan_pq(64)
    assert p["m"] == 16 and p["dsub"] == 4 and p["code_bytes"] == 16
    assert p["refine"] == "sq8" and p["refine_bytes"] == 64
    # non-power-of-two dims pick the largest divisor <= dim/4
    assert plan_pq(60)["m"] == 15
    assert plan_pq(6)["m"] == 1  # dim//4 = 1
    assert plan_pq(7)["m"] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        plan_pq(0)
