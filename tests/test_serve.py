"""Resident serving loop: cached-index repeated queries return the same
results as cold index.search, and the warm loop runs strictly against
the cache (no re-scan correctness drift across repeats)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.functions import vector as V
from shotit_worker_spark.index import ivf
from shotit_worker_spark.plans import serve

from tests.test_ivf import assert_same_hits


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        V.l2_normalize(V.to_double_array("embedding")).alias("vector"),
    ).cache()


def test_resident_searcher_matches_cold_search(spark, corpus, tmp_root):
    """Flat and SQ8 (per-centroid) indexes alike."""
    qs = [
        np.array(corpus.filter(F.col("vec_id") == vid).first()["vector"])
        for vid in [3, 77, 200]
    ]
    for quantize in (False, True):
        index = ivf.build_ivf(
            corpus, str(tmp_root / f"serve_ivf_{quantize}"), nlist=8,
            quantize=quantize, sq8_mode="per_centroid",
        )
        searcher = serve.ResidentSearcher(
            spark, index, id_col="vec_id", tie_col=None
        )
        try:
            n = searcher.warm()
            assert n == corpus.count()
            for q in qs:
                warm = [
                    (r["vec_id"], r["score"])
                    for r in searcher.search(q, k=10, nprobe=4).collect()
                ]
                cold = [
                    (r["vec_id"], r["score"])
                    for r in index.search(spark, q, k=10, nprobe=4,
                                          id_col="vec_id",
                                          tie_col=None).collect()
                ]
                assert_same_hits(warm, cold, f"quantize={quantize}")
            stats = serve.serve_loop_latency(searcher, qs, k=10, nprobe=4)
            assert stats["n"] == 3 and stats["p50"] > 0
        finally:
            searcher.close()


def test_resident_searcher_open_from_sidecar(spark, corpus, tmp_root):
    """Boot the serving tier from the on-disk index alone (the cross-
    application path: build job writes, serve job opens)."""
    path = str(tmp_root / "serve_ivf_open")
    built = ivf.build_ivf(corpus, path, nlist=8)
    searcher = serve.ResidentSearcher.open(
        spark, path, id_col="vec_id", tie_col=None
    )
    try:
        searcher.warm()
        q = np.array(corpus.filter(F.col("vec_id") == 42).first()["vector"])
        got = searcher.search(q, k=5, nprobe=8).collect()
        cold = built.search(
            spark, q, k=5, nprobe=8, id_col="vec_id", tie_col=None
        ).collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in cold]
        assert got[0]["vec_id"] == 42
    finally:
        searcher.close()
