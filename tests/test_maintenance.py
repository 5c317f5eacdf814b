"""Compaction job tests: fewer files, identical data, partition layout
preserved."""

from __future__ import annotations

from shotit_worker_spark.plans import maintenance as MNT


def test_compact_flat_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS v")
    df.repartition(40).write.parquet(path)  # 40 small files

    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = MNT.compact_parquet_table(spark, path)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == 10_000
    assert before == after


def test_compact_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(5_000).selectExpr("id", "CAST(id % 4 AS INT) AS part")
    df.repartition(16).write.partitionBy("part").parquet(path)  # ≤64 files

    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = MNT.compact_parquet_table(spark, path, partition_cols=["part"])
    after_df = spark.read.parquet(path)
    after = sorted(tuple(r) for r in after_df.collect())

    assert stats["files_after"] <= 8  # ~1 file per partition dir
    assert before == after
    assert after_df.select("part").distinct().count() == 4

# -- r5: IVF drift detection / rebuild / compaction -------------------------

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.index import ivf


def _clustered_vecs(spark, n, dim=8, n_clusters=4, seed=5, id_base=0,
                    spread=0.05, centers=None):
    rng = np.random.RandomState(seed)
    if centers is None:
        centers = rng.randn(n_clusters, dim) * 3.0
    rows = []
    for i in range(n):
        c = centers[i % len(centers)]
        v = c + rng.randn(dim) * spread
        rows.append((id_base + i, [float(x) for x in v]))
    return centers, spark.createDataFrame(
        rows, "vec_id long, vector array<double>"
    )


def test_drift_stats_and_baseline(spark, tmp_path):
    centers, df = _clustered_vecs(spark, 400)
    idx = ivf.build_ivf(df, str(tmp_path / "ivf_drift"), nlist=4)
    base = MNT.record_ivf_baseline(spark, idx)
    assert base["rows"] == 400
    assert base["mean_residual"] > 0
    report = MNT.ivf_drift(spark, idx)
    assert not report["needs_rebuild"]
    assert report["residual_ratio"] == pytest.approx(1.0, abs=1e-9)


def test_in_distribution_adds_do_not_trigger(spark, tmp_path):
    centers, df = _clustered_vecs(spark, 400)
    idx = ivf.build_ivf(df, str(tmp_path / "ivf_ok"), nlist=4)
    MNT.record_ivf_baseline(spark, idx)
    _, batch = _clustered_vecs(
        spark, 100, seed=6, id_base=10_000, centers=centers
    )
    idx.add(batch)
    report = MNT.ivf_drift(spark, idx)
    assert not report["needs_rebuild"]


def test_drifted_adds_trigger_and_rebuild_fixes(spark, tmp_path):
    centers, df = _clustered_vecs(spark, 400)
    path = str(tmp_path / "ivf_bad")
    idx = ivf.build_ivf(df, path, nlist=4)
    MNT.record_ivf_baseline(spark, idx)
    # out-of-distribution: a new far-away cluster the centroids never saw
    far = np.ones((1, 8)) * 25.0
    _, batch = _clustered_vecs(
        spark, 200, seed=7, id_base=20_000, centers=far
    )
    idx.add(batch)
    report = MNT.ivf_drift(spark, idx)
    assert report["needs_rebuild"]
    assert report["residual_ratio"] > 1.5

    new_idx, rep = MNT.rebuild_if_drifted(spark, idx)
    assert rep.get("rebuilt")
    assert new_idx.path == path
    # fresh centroids fit the grown distribution: drift clears
    after = MNT.ivf_drift(spark, new_idx)
    assert not after["needs_rebuild"]
    # and every row survived the swap
    assert new_idx.load(spark).count() == 600
    # a query from the new cluster retrieves its own cluster (vectors
    # are unnormalized, so IP top-1 is a cluster-mate, not necessarily
    # the query row itself)
    q = np.array(
        new_idx.load(spark).filter(F.col("vec_id") == 20_005).first()["vector"]
    )
    top = new_idx.search(spark, q, k=1, nprobe=4, id_col="vec_id",
                         tie_col=None).first()
    assert top["vec_id"] >= 20_000


def test_rebuild_noop_below_threshold(spark, tmp_path):
    centers, df = _clustered_vecs(spark, 300)
    idx = ivf.build_ivf(df, str(tmp_path / "ivf_noop"), nlist=4)
    MNT.record_ivf_baseline(spark, idx)
    same, rep = MNT.rebuild_if_drifted(spark, idx)
    assert same is idx and not rep.get("rebuilt")


def test_drift_requires_baseline(spark, tmp_path):
    _, df = _clustered_vecs(spark, 100)
    idx = ivf.build_ivf(df, str(tmp_path / "ivf_nobase"), nlist=4)
    with pytest.raises(ValueError, match="baseline"):
        MNT.ivf_drift(spark, idx)


def test_compact_ivf_preserves_search_and_meta(spark, tmp_path):
    centers, df = _clustered_vecs(spark, 300)
    path = str(tmp_path / "ivf_compact")
    idx = ivf.build_ivf(df, path, nlist=4, quantize=True,
                        sq8_mode="per_centroid")
    MNT.record_ivf_baseline(spark, idx)
    # many small incremental adds -> small-file buildup
    for b in range(4):
        _, batch = _clustered_vecs(
            spark, 25, seed=10 + b, id_base=30_000 + b * 100, centers=centers
        )
        idx.add(batch)
    qids = [3, 30_005]
    reopened = ivf.IVFIndex.open(spark, path)

    def results(ix):
        out = {}
        for qid in qids:
            vdf, vcol = MNT._ivf_float_vec(spark, ix, ix.load(spark))
            q = np.array(
                vdf.filter(F.col("vec_id") == qid).first()[vcol]
            )
            out[qid] = [
                (r["vec_id"], round(r["score"], 9))
                for r in ix.search(
                    spark, q, k=10, nprobe=4, id_col="vec_id",
                    tie_col="vec_id",
                ).collect()
            ]
        return out

    before = results(reopened)
    stats = MNT.compact_ivf(spark, reopened)
    assert stats["files_after"] <= stats["files_before"]
    assert stats["rows"] == 400
    after_idx = ivf.IVFIndex.open(spark, path)  # sidecar survived the swap
    after = results(after_idx)
    assert after == before
    # drift baseline survived too
    report = MNT.ivf_drift(spark, after_idx)
    assert "needs_rebuild" in report


def test_pq_drift_and_compaction(spark, tmp_path):
    from shotit_worker_spark.index import pq as PQ

    centers, df = _clustered_vecs(spark, 400, dim=8)
    path = str(tmp_path / "pq_maint")
    idx = PQ.build_ivfpq(df, path, nlist=4, m=4)
    base = MNT.record_ivf_baseline(spark, idx)
    assert base["rows"] == 400
    # in-distribution adds: no trigger
    _, batch = _clustered_vecs(spark, 80, seed=8, id_base=40_000,
                               centers=centers)
    idx.add(batch)
    assert not MNT.ivf_drift(spark, idx)["needs_rebuild"]
    # compaction preserves rows and the sidecar
    stats = MNT.compact_ivf(spark, idx)
    assert stats["rows"] == 480
    reopened = PQ.IVFPQIndex.open(spark, path)
    assert MNT.ivf_drift(spark, reopened)  # baseline still readable
    # out-of-distribution adds: trigger + rebuild via build_ivfpq
    far = np.full((1, 8), 30.0)
    _, ood = _clustered_vecs(spark, 150, seed=9, id_base=50_000,
                             centers=far)
    reopened.add(ood)
    rep = MNT.ivf_drift(spark, reopened)
    assert rep["needs_rebuild"]
    new_idx, out = MNT.rebuild_if_drifted(spark, reopened)
    assert out.get("rebuilt")
    assert new_idx.load(spark).count() == 630
    assert not MNT.ivf_drift(spark, new_idx)["needs_rebuild"]


def test_archive_skips_null_batch_ids(spark, tmp_path):
    # a NULL batch value (the __HIVE_DEFAULT_PARTITION__ directory)
    # never matches the archive predicate: it stays its own partition
    # instead of raising in int(None)
    path = str(tmp_path / "st")
    spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, None), (5, 3)],
        "doc_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)
    rep = MNT.archive_partitions_below(spark, path, ["batch_id"], 2)
    assert rep == {"archived_rows": 3, "partitions_before": 4,
                   "partitions_after": 3}
    got = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, -1), (2, -1), (3, -1), (4, None), (5, 3)]
