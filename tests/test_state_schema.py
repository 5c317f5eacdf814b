"""Declared-schema reads of fold state and index tables: reading a
table with the schema its writer declares (no footer-inference job)
returns the same columns, types and rows as Spark's inferred read —
for the LSH fold's bands/kept tables after compaction, IndexFolder's
adds, and IVF/IVFPQ ``load()``; sidecars written before the schema was
recorded still load (by inference)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from shotit_worker_spark.index import ivf as IVF
from shotit_worker_spark.index import pq as PQ
from shotit_worker_spark.plans.maintenance import read_state_parquet
from shotit_worker_spark.streaming.indexfold import IndexFolder
from shotit_worker_spark.streaming.lshfold import LshDedupFolder

DIM = 8


def _same(declared, inferred):
    assert declared.schema == inferred.schema
    assert declared.columns == inferred.columns
    assert sorted(map(tuple, declared.collect())) == sorted(
        map(tuple, inferred.collect())
    )


def _docs(spark):
    rng = np.random.default_rng(7)
    vocab = [f"t{i}" for i in range(150)]
    rows = [
        (i, " ".join(vocab[int(j)] for j in rng.integers(0, 150, 12)))
        for i in range(60)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(10)]  # verbatim copies
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("n_buckets", [None, 8])
def test_lsh_state_declared_read_after_compaction(spark, tmp_path,
                                                  n_buckets):
    df = _docs(spark)
    folder = LshDedupFolder(spark, str(tmp_path / "lsh"),
                            n_buckets=n_buckets)
    parts = [
        df.where(F.col("doc_id") < 30),
        df.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 1000)),
        df.where(F.col("doc_id") >= 1000),
    ]
    for i, p in enumerate(parts):
        folder.foreach_batch(p, i)
    rep = folder.compact_below(2)
    assert rep["kept"]["archived_rows"] > 0  # a batch_id=-1 archive
    id_type = folder._id_type
    assert id_type == "bigint"
    _same(
        read_state_parquet(spark, folder.bands_path,
                           folder._bands_schema(id_type)),
        read_state_parquet(spark, folder.bands_path),
    )
    _same(
        read_state_parquet(spark, folder.kept_path,
                           folder._kept_schema(id_type)),
        read_state_parquet(spark, folder.kept_path),
    )
    # kept() declares the schema; a fresh folder over the same state
    # has not seen a batch and infers it: same frame either way
    _same(folder.kept(),
          LshDedupFolder(spark, folder.state_path,
                         n_buckets=n_buckets).kept())


def _vectors(spark, n, seed, id_base):
    rng = np.random.RandomState(seed)
    centers = np.random.RandomState(0).randn(4, DIM) * 3.0
    rows = [
        (id_base + i,
         [float(x) for x in centers[i % 4] + rng.randn(DIM) * 0.05])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, vector array<double>")


@pytest.mark.parametrize("budget", [None, DIM, 2])  # flat, SQ8, PQ
def test_indexfold_adds_declared_read(spark, tmp_path, budget):
    folder = IndexFolder(spark, str(tmp_path / "ix"),
                         byte_budget_per_vec=budget)
    for i, (n, base) in enumerate(((200, 0), (60, 1000), (60, 2000))):
        folder.foreach_batch(_vectors(spark, n, i + 1, base), i)
    index = folder._index()
    assert index.table_schema is not None
    epoch = F.col("epoch") == F.lit(folder._epoch(index))
    _same(folder._adds(index),
          read_state_parquet(spark, folder.adds_path).where(epoch))
    assert folder.table().count() == 320


def _build(family, rows, path):
    if family == "flat":
        return IVF.build_ivf(rows, path, nlist=4)
    if family == "sq8":
        return IVF.build_ivf(rows, path, nlist=4, quantize=True)
    if family == "sq8_per_centroid":
        return IVF.build_ivf(rows, path, nlist=4, quantize=True,
                             sq8_mode="per_centroid")
    return PQ.build_ivfpq(rows, path, nlist=4, m=4, refine="sq8")


@pytest.mark.parametrize("family",
                         ["flat", "sq8", "sq8_per_centroid", "pq"])
def test_index_load_declared_read(spark, tmp_path, family):
    path = str(tmp_path / family)
    built = _build(family, _vectors(spark, 200, 3, 0), path)
    meta = IVF._read_meta(spark, path)
    assert "table_schema" in meta
    opened = type(built).open(spark, path)
    assert opened.table_schema == built.table_schema
    _same(opened.load(spark), spark.read.parquet(path))
    # the declared read runs no footer-inference job
    sc = spark.sparkContext
    group = f"declared-load-{family}"
    sc.setJobGroup(group, "IVF load")
    try:
        opened.load(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    # a sidecar written before schemas were recorded still opens, and
    # load() falls back to inference
    del meta["table_schema"]
    IVF._write_meta(spark, path, meta)
    old = type(built).open(spark, path)
    assert old.table_schema is None
    _same(old.load(spark), opened.load(spark))
    q = np.ones(DIM) / np.sqrt(DIM)
    kw = dict(k=3, nprobe=4, id_col="vec_id", tie_col="vec_id")
    hits = old.search(spark, q, **kw).collect()
    assert [r["vec_id"] for r in hits] == [
        r["vec_id"] for r in opened.search(spark, q, **kw).collect()
    ]
