"""Resident search serving — repeated single-query latency posture.

The reference keeps Milvus resident: the collection is loaded into
memory once (`loadCollection`, /root/reference/searcher.js:97-101) and
every /search call pays only the probe, not an index open. The Spark
analog is a long-lived session holding the index table cached: the
first query pays the parquet scan + cache fill, every later query runs
against in-memory blocks (partition-pruned by the centroid filter, no
file listing, no IO).

On a real cluster this is the "Spark as a serving tier" shape: a
standing application (or Spark Connect server) with the index table
persisted across executors; queries arrive as jobs on the shared
cached plan. Latency is then dominated by scheduler overhead (~10 ms)
+ one shuffle-free stage over nprobe/nlist of the cached blocks.

A resident search is the index's own ``search`` run over the cached
table (``IVFCore._over``): the same probe, filter, scorer and tie rule
as a cold search, for either index family, so it returns the same rows.
"""

from __future__ import annotations

import time

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..index.ivf import DEFAULT_NPROBE, DEFAULT_TOPK, IVFIndex


class ResidentSearcher:
    """A loaded IVF index held cached for repeated queries.

    `warm()` materializes the cache (the loadCollection analog);
    `search()` is then a cache-only partition-pruned top-k. `close()`
    unpersists. ``index`` is an IVFIndex or an IVFPQIndex."""

    def __init__(
        self,
        spark: SparkSession,
        index: IVFIndex,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
    ):
        self.spark = spark
        self.index = index
        self.id_col = id_col
        self.tie_col = tie_col
        # cache keyed by centroid_id so the per-query filter prunes cached
        # blocks instead of re-listing parquet partitions
        self._table = index.load(spark).persist(StorageLevel.MEMORY_AND_DISK)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        id_col: str = "hash_id",
        tie_col: str | None = "primary_key",
    ) -> "ResidentSearcher":
        """Serve an index built by a PREVIOUS session: reopen from the
        sidecar (no refit) and hold it resident. This is the real
        serving boot path: the index job and the serving tier are
        different applications. Family-dispatching (index.family.
        open_index): an IVF_PQ sidecar boots an IVFPQIndex, which
        serves through the same tier."""
        from ..index.family import open_index

        return cls(spark, open_index(spark, path), id_col, tie_col)

    def warm(self) -> int:
        """Materialize the cache; returns row count (one full pass)."""
        return self._table.count()

    def search(
        self,
        query: np.ndarray,
        k: int = DEFAULT_TOPK,
        nprobe: int = DEFAULT_NPROBE,
    ) -> DataFrame:
        """The index's own ``search`` over the cached table."""
        return self.index._over(lambda spark: self._table).search(
            self.spark, query, k=k, nprobe=nprobe, id_col=self.id_col,
            tie_col=self.tie_col,
        )

    def close(self) -> None:
        self._table.unpersist()


def serve_loop_latency(
    searcher: ResidentSearcher,
    queries: list[np.ndarray],
    k: int = DEFAULT_TOPK,
    nprobe: int = DEFAULT_NPROBE,
) -> dict:
    """Drive the serving loop; returns latency stats in seconds
    (p50/p95/mean over per-query wall times, cache already warm)."""
    times = []
    for q in queries:
        t0 = time.perf_counter()
        searcher.search(q, k=k, nprobe=nprobe).collect()
        times.append(time.perf_counter() - t0)
    times.sort()
    n = len(times)
    return {
        "n": n,
        "p50": times[n // 2],
        "p95": times[min(n - 1, int(n * 0.95))],
        "mean": sum(times) / n,
    }
