"""Near-duplicate clustering — the dedup endgame.

The pair-producing operators (operators/dedup: MinHash-LSH, SimHash,
n-gram Jaccard; operators/similarity: embedding cosine) stop at
candidate PAIRS. A production dedup pass must then group pairs into
connected components and keep one canonical document per component.
No reference analogue — this is part of the LLM-data-pipeline surface
the engine adds beyond the reference (SURVEY §2.12).

Scale design (100 TB posture):
- Connected components via iterative min-label propagation: each round
  every node adopts the minimum label in its closed neighborhood. A
  round is one shuffle (edge join + groupBy min); rounds needed =
  graph diameter in label-hops, which alternating propagation bounds
  by O(log n) for the near-dup graphs seen in practice (dup clusters
  are small and dense; chains are adversarial but still converge).
- Convergence is detected with a count of changed labels — one extra
  action per round on an aggregated frame, not a collect of data.
- Each round's labels are eagerly materialized with truncated lineage
  (the classic iterative-Spark trap — without it, any cache miss
  recomputes through every earlier round and the wall-clock per
  iteration explodes), and the materialization doubles as what the
  convergence count needs anyway. Two modes:
    * default: localCheckpoint — fastest, but blocks are pinned to
      executors (non-reliable), so an executor loss mid-iteration
      fails the job;
    * checkpoint_dir=...: each round round-trips through parquet under
      the given fault-tolerant path — any executor can re-read it, the
      real-cluster posture for long iterative jobs.
  In BOTH modes superseded rounds are freed eagerly (blocks
  unpersisted / round directories deleted), so storage is O(2 rounds),
  not O(iterations).
- Canonical selection is a window rank over cluster_id — one shuffle,
  AQE-coalescible, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "near_dup_clusters",
    "keep_canonical",
    "fuzzy_dedup",
    "embedding_dedup",
    "simhash_dedup",
    "phash_dedup",
    "cluster_near_dup_pairs",
    "semantic_dedup",
    "image_dedup",
]


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    ids, it = set(), jsc.getPersistentRDDs().toList().iterator()
    while it.hasNext():
        ids.add(int(it.next()._1()))
    return ids


def _unpersist_rdds(spark: SparkSession, ids: set[int]) -> None:
    jsc = spark.sparkContext._jsc.sc()
    for rid in ids:
        jsc.unpersistRDD(rid, False)


def _delete_path(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(p, True)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`, where
    `component` is the minimum node id of its connected component.

    Min-label propagation with path halving to a fixpoint: each round
    labels[n] = min(labels[n], min neighbor label, labels[labels[n]]).
    The label-of-label hop halves pointer chains, so convergence is
    O(log diameter) rounds instead of O(diameter) — a 40-node path
    needs ~7 rounds, not 40. Raises after max_iter (an unconverged
    clustering is wrong, not approximate).

    `checkpoint_dir` switches per-round materialization from
    localCheckpoint (executor-pinned blocks — fast, but an executor
    loss mid-iteration kills the job) to a parquet round-trip under a
    fault-tolerant path — the posture for real clusters (VERDICT r3
    #5). Superseded rounds are freed eagerly either way. With a
    checkpoint_dir the RETURNED frame still reads the final round's
    files, so the directory must outlive consumption of the result.
    """
    spark = pairs.sparkSession

    def _materialize(df: DataFrame, tag: str) -> tuple[DataFrame, set]:
        """Truncate lineage + materialize; returns (frame, handle) where
        handle identifies resources to free once the round is superseded
        (RDD block ids, or the parquet path)."""
        if checkpoint_dir is None:
            before = _persistent_rdd_ids(spark)
            out = df.localCheckpoint(eager=True)
            return out, _persistent_rdd_ids(spark) - before
        path = f"{checkpoint_dir.rstrip('/')}/cc_{tag}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), {path}

    def _free(handle: set) -> None:
        if checkpoint_dir is None:
            _unpersist_rdds(spark, handle)
        else:
            for path in handle:
                _delete_path(spark, path)

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    edges, edges_handle = _materialize(edges, "edges")
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels, labels_handle = _materialize(labels, "round_init")

    for it in range(max_iter):
        # min label among neighbors, then min with own label
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        # path halving: label <- min(label, label-of-label). Labels are
        # always node ids, so the lookup is a self-join on the frame.
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(parent, stepped.label == parent.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
        )
        new_labels, new_handle = _materialize(new_labels, f"round_{it}")
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the old round is now fully superseded (the changed-count was
        # its last consumer) — free its blocks/files so storage stays
        # O(2 rounds) across the iteration, not O(iterations)
        _free(labels_handle)
        labels, labels_handle = new_labels, new_handle
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    _free(edges_handle)
    return labels.select(F.col("node"), F.col("label").alias("component"))


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """`docs` with a `cluster_id` appended: the component id for docs in
    any near-dup pair, the doc's own id for singletons."""
    comp = connected_components(
        pairs, a_col, b_col, checkpoint_dir=checkpoint_dir
    )
    return (
        docs.join(comp, docs[id_col] == comp.node, "left")
        .drop("node")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )


def fuzzy_dedup(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    priority_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The complete fuzzy-dedup pass in one call: MinHash signatures ->
    banded-LSH candidate pairs -> exact n-gram Jaccard verification at
    `threshold` -> connected components -> one canonical document per
    cluster (smallest id, or best `priority_col`).

    Returns the surviving docs with their `cluster_id` (duplicates
    dropped). Every stage is the corresponding library operator, so the
    composition inherits their scale shapes: signature map-side
    aggregation, band-bucket join (never O(n^2)), candidate-only
    verification, O(log diameter) clustering."""
    from . import dedup as D

    sigs = D.minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    )
    candidates = D.minhash_lsh_candidates(
        sigs, num_bands=num_bands, id_col=id_col, num_hashes=num_hashes
    )
    verified = (
        D.ngram_jaccard_pairs(
            docs, candidates, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id")
    )
    clustered = near_dup_clusters(
        docs, verified, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    return keep_canonical(
        clustered, id_col=id_col, priority_col=priority_col
    )


def simhash_dedup(
    docs: DataFrame,
    max_hamming: int = 3,
    num_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    priority_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SimHash-based fuzzy dedup in one call: 64-bit fingerprints ->
    banded bucket-join candidates with the pigeonhole-EXACT hamming
    filter (every pair with hamming <= num_bands-1 is found) ->
    connected components -> one canonical document per cluster. The
    third dedup family next to `fuzzy_dedup` (Jaccard) and
    `embedding_dedup` (cosine)."""
    from . import dedup as D

    fp = D.simhash64(docs, text_col=text_col, id_col=id_col)
    pairs = D.simhash_near_dup_pairs(
        fp, max_hamming=max_hamming, num_bands=num_bands, id_col=id_col
    ).select("a_id", "b_id")
    clustered = near_dup_clusters(
        docs, pairs, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    return keep_canonical(
        clustered, id_col=id_col, priority_col=priority_col
    )


def phash_dedup(
    images: DataFrame,
    max_hamming: int = 3,
    num_bands: int = 4,
    id_col: str = "image_id",
    image_col: str = "image",
    priority_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Perceptual-hash image dedup in one call: 64-bit DCT pHash per
    image (functions/phash — re-encode/resize robust, one Arrow-
    batched decode per image) -> the SAME banded pigeonhole Hamming
    join the SimHash family uses (exact recall for hamming <=
    num_bands - 1; bands shuffle 8-byte bucket keys, never pixels)
    -> connected components -> one canonical image per cluster.

    The cheap fingerprint path next to the descriptor-space
    `image_dedup` cascade: pHash collapses lossy re-encodes and
    rescales of the SAME picture; descriptor dedup additionally
    catches edits in descriptor space. Undecodable bytes (NULL
    phash) pass through as singletons, never silently dropped."""
    from ..functions import phash as PH
    from . import dedup as D

    hashed = PH.phash_images(
        images, image_col=image_col, id_col=id_col
    )
    ok = hashed.filter(F.col("phash").isNotNull())
    pairs = D.simhash_near_dup_pairs(
        ok, max_hamming=max_hamming, num_bands=num_bands,
        id_col=id_col, hash_col="phash",
    ).select("a_id", "b_id")
    # near_dup_clusters assigns every row of `images` a cluster —
    # undecodable bytes (NULL phash) never join a pair, so they come
    # out as their own singleton clusters, never silently dropped
    clustered = near_dup_clusters(
        images, pairs, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    return keep_canonical(
        clustered, id_col=id_col, priority_col=priority_col
    )


def embedding_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 8,
    num_tables: int = 6,
    priority_col: str | None = None,
    checkpoint_dir: str | None = None,
    **srp_kwargs,
) -> DataFrame:
    """Embedding-space fuzzy dedup in one call: SRP-LSH candidate pairs
    verified at cosine `threshold` (operators/similarity.
    srp_near_dup_pairs — bucket-join, exact precision) -> connected
    components -> one canonical row per cluster. Rows must carry
    L2-normalized vectors in `vec_col`. The scale analogue of
    `fuzzy_dedup` for `array<float>` columns."""
    from . import similarity as S

    pairs = S.srp_near_dup_pairs(
        embeddings, threshold=threshold, num_bits=num_bits,
        num_tables=num_tables, id_col=id_col, vec_col=vec_col,
        **srp_kwargs,
    ).select("a_id", "b_id")
    clustered = near_dup_clusters(
        embeddings, pairs, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    return keep_canonical(
        clustered, id_col=id_col, priority_col=priority_col
    )


def keep_canonical(
    clustered: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    priority_col: str | None = None,
) -> DataFrame:
    """One row per cluster: the canonical document. Default winner is
    the smallest id (deterministic); `priority_col` prefers the largest
    priority first (e.g. a quality score), id as tiebreak."""
    order = (
        [F.col(priority_col).desc()] if priority_col else []
    ) + [F.col(id_col).asc()]
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        clustered.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank")
    )


def cluster_near_dup_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "centroid_id",
    max_cluster_size: int = 20_000,
) -> DataFrame:
    """Within-cluster cosine near-dup pairs: for each ``cluster_col``
    group, all (a_id, b_id) with IP >= ``threshold`` (vectors must be
    L2-normalized). One shuffle by cluster, then a per-group Arrow
    batch → a single numpy Gram matrix — O(c²·dim) per cluster, which
    is exactly the SemDeDup contract: the clustering step bounds c, so
    the quadratic term never sees the corpus. Groups larger than
    ``max_cluster_size`` raise with the remedy (more clusters) rather
    than silently going quadratic on the whole corpus."""
    import numpy as np
    import pandas as pd

    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"a_id {id_type}, b_id {id_type}"

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_size:
            raise ValueError(
                f"cluster {pdf.iloc[0][cluster_col]} has {len(pdf)} rows > "
                f"max_cluster_size={max_cluster_size}; raise num_clusters "
                f"so the per-cluster Gram matrix stays bounded"
            )
        if len(pdf) < 2:
            return pd.DataFrame({"a_id": [], "b_id": []})
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        iu = np.triu_indices(len(pdf), k=1)
        mask = (x @ x.T)[iu] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame({"a_id": ids[iu[0][mask]], "b_id": ids[iu[1][mask]]})

    return assigned.groupBy(cluster_col).applyInPandas(_pairs, out_schema)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_clusters: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far",
    max_cluster_size: int = 20_000,
    seed: int = 42,
    checkpoint_dir: str | None = None,
    kmeans_method: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, find near-duplicates ONLY within each cluster
    (exact pairwise cosine on the small per-cluster Gram matrix), keep
    one representative per duplicate group.

    Complementary to :func:`embedding_dedup` (SRP-LSH): LSH buckets by
    random hyperplanes and can split a duplicate pair across buckets
    (probabilistic recall); SemDeDup buckets by LEARNED structure and is
    exact within clusters — it only misses pairs that k-means separates,
    which at the paper's operating point (high threshold, duplicates
    are near-identical points) is the rarer failure.

    ``keep`` selects the surviving representative per duplicate group:
      * ``"far"``  — farthest from its centroid (the paper's choice:
        keeps the most atypical example, pruning toward diversity);
      * ``"near"`` — closest to its centroid;
      * ``"min_id"`` — smallest id (fully deterministic across seeds).

    Vectors must be L2-normalized. Scale shape: MLlib/sampled k-means
    (one pass per Lloyd iteration), map-only assignment vs broadcast
    centroids, one shuffle by cluster for the Gram pass, then the
    standard components + canonical window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType

    from ..index.ivf import _fit_centroids

    if keep not in ("far", "near", "min_id"):
        raise ValueError(f"keep must be far|near|min_id, got {keep!r}")

    centroids = _fit_centroids(
        embeddings, vec_col, num_clusters, seed,
        sample_cap=200_000, method=kmeans_method,
    )
    # normalize centroids so centroid similarity is cosine, like the pairs
    norms = np.linalg.norm(centroids, axis=1, keepdims=True)
    unit_centroids = centroids / np.where(norms == 0, 1.0, norms)

    # NEAREST-centroid assignment (argmin ||x−c|| = argmax x·c − ½||c||²),
    # NOT the IVF layout's argmax inner product: k-means centroids have
    # unequal norms, and an IP-argmax warps Voronoi cells toward large-
    # norm centroids — a near-dup pair straddling that warp would land
    # in different clusters and silently survive dedup.
    c_t = centroids.T.copy()
    half_sq = 0.5 * (centroids * centroids).sum(axis=1)

    def _assign_nearest(vecs):
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(np.argmax(x @ c_t - half_sq, axis=1).astype(np.int32))

    _assign_nearest.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    assign_udf = F.pandas_udf(_assign_nearest, IntegerType())
    assigned = embeddings.withColumn("centroid_id", assign_udf(F.col(vec_col)))

    priority_col = None
    if keep in ("far", "near"):
        import pandas as pd
        from pyspark.sql.types import DoubleType

        sign = -1.0 if keep == "far" else 1.0

        def _centroid_sim(vecs, cids):
            x = np.array(vecs.tolist(), dtype=np.float64)
            if x.size == 0:
                return pd.Series([], dtype="float64")
            c = unit_centroids[cids.to_numpy()]
            return pd.Series(sign * np.einsum("ij,ij->i", x, c))

        # real class objects: `from __future__ import annotations` would
        # stringify inline hints and break pyspark signature inspection
        _centroid_sim.__annotations__ = {
            "vecs": pd.Series, "cids": pd.Series, "return": pd.Series
        }
        _centroid_sim = F.pandas_udf(_centroid_sim, DoubleType())

        priority_col = "__sd_priority"
        assigned = assigned.withColumn(
            priority_col, _centroid_sim(F.col(vec_col), F.col("centroid_id"))
        )

    pairs = cluster_near_dup_pairs(
        assigned, threshold, id_col=id_col, vec_col=vec_col,
        max_cluster_size=max_cluster_size,
    ).select("a_id", "b_id")
    clustered = near_dup_clusters(
        assigned, pairs, id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    kept = keep_canonical(
        clustered, id_col=id_col, priority_col=priority_col
    )
    return kept.drop(priority_col) if priority_col else kept


def image_dedup(
    images: DataFrame,
    threshold: float = 0.98,
    id_col: str = "image_id",
    image_col: str = "image",
    algo: str = "cl",
    priority_col: str | None = None,
    checkpoint_dir: str | None = None,
    **srp_kwargs,
) -> DataFrame:
    """Near-duplicate IMAGE dedup: the multimodal composition of the
    media surface and the embedding-dedup endgame. Raw image bytes →
    real LIRE descriptor vectors (functions/media.embed_images, the
    same G2 kernel the search index uses, L2-normalized) → SRP-LSH
    candidate pairs verified at cosine `threshold` → connected
    components → one canonical image per cluster.

    Decode happens ONCE per image in the embed UDF; everything after
    is the documented embedding_dedup shape (bucketed candidates, no
    all-pairs). Undecodable bytes embed as NULL and pass through as
    singletons (never dropped silently — count them upstream with
    functions/scalar.sniff_image_type if a corpus audit is needed).
    """
    from ..functions.media import embed_images
    from ..functions.vector import l2_normalize

    embedded = embed_images(images, image_col=image_col, algo=algo)
    ok = embedded.filter(F.col("vector").isNotNull()).withColumn(
        "vector", l2_normalize(F.col("vector"))
    )
    bad = embedded.filter(F.col("vector").isNull())
    kept = embedding_dedup(
        ok,
        threshold=threshold,
        id_col=id_col,
        vec_col="vector",
        priority_col=priority_col,
        checkpoint_dir=checkpoint_dir,
        **srp_kwargs,
    )
    bad = bad.withColumn("cluster_id", F.col(id_col))
    return kept.unionByName(bad.select(*kept.columns))
