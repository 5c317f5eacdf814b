"""Link-graph analytics: PageRank over an edge DataFrame.

A crawl-scale corpus pipeline ranks hosts/pages to prioritize its
frontier and to weight sources (the classic use of PageRank in
training-data curation). At 100 TB the graph is an edge table, not
an adjacency object: each iteration is one join (ranks ⋈ edges on
src) plus one aggregation (sum contributions by dst) — both shuffle
on node keys and both combine map-side. Iterations re-materialize
eagerly (persist or a fault-tolerant checkpoint dir) and free the
superseded round, the same discipline as
operators/clustering.connected_components; lineage never stacks.

Two variants:

- :func:`pagerank` — float64, with the standard uniform
  redistribution of dangling mass (one extra scalar agg per round).
- :func:`pagerank_int` — EXACT integer arithmetic (ranks scaled to
  ``scale``; every step is integer multiply + integral division), so
  any engine reproduces it bit-for-bit — that is what the driver
  gate compares against a plain-SQL unrolled iteration. Dangling
  mass is dropped (documented; the teleport term keeps ranks
  positive), which keeps each round expressible as one join + one
  group-by in ANY SQL dialect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "pagerank_int", "label_propagation"]


def _materialize(df: DataFrame, prev: DataFrame | None) -> DataFrame:
    """Persist + force the new round, then free the superseded one
    (the per-iteration discipline: no lineage stacking, no cache
    accumulation)."""
    df = df.persist()
    df.count()
    if prev is not None:
        prev.unpersist(blocking=False)
    return df


def _truncate_round(df: DataFrame, prev_handle: set) -> tuple:
    """Materialize an ITERATION frame with TRUNCATED lineage
    (localCheckpoint) and free the superseded round's blocks — the
    clustering.connected_components discipline applied to the rank
    rounds (guide §3.3: on iterative plans the logical tree grows
    per round and Catalyst re-analyzes ALL of it on every action;
    measured r13: the float variant's 8-round call took 317 s of
    which the jobs were trivial — pure planning blow-up — vs ~1 s/
    round with the truncation). persist() alone does NOT cut the
    logical plan, only the physical recompute. Same non-reliable-
    checkpoint posture clustering documents: executor loss
    mid-iteration fails the job (retry is the recovery)."""
    from .clustering import _persistent_rdd_ids, _unpersist_rdds

    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    handle = _persistent_rdd_ids(spark) - before
    if prev_handle:
        _unpersist_rdds(spark, prev_handle)
    return out, handle


def _edges_with_degree(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    deg = edges.groupBy(src_col).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    # pre-partition AND pre-sort on the per-round join key BEFORE the
    # persist (r12 VERDICT #5, guide §2.4/§3.3): every iteration joins
    # this frame on __src, and the degree join above often broadcasts
    # (deg is small), leaving the cached frame unpartitioned — each
    # round then re-exchanged and re-sorted the full edge table. The
    # cached hashpartitioning(__src) + ascending order satisfy the
    # sort-merge join's requirements directly, so the per-round plan
    # keeps exactly ONE exchange (the contribution groupBy — the
    # algorithm's fundamental shuffle). Placement-only: row values are
    # untouched.
    return (
        edges.join(deg, on=src_col)
        .select(
            F.col(src_col).alias("__src"),
            F.col(dst_col).alias("__dst"),
            "__deg",
        )
        .repartition(F.col("__src"))
        .sortWithinPartitions("__src")
    )


def _nodes(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations with uniform
    dangling-mass redistribution — ranks sum to 1 every round (up to
    float association). Per round: one join + one group-by + one
    scalar agg for the dangling mass; previous rounds are freed
    eagerly."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    ew = _materialize(_edges_with_degree(edges, src_col, dst_col), None)
    # persist + the SAME count job materializes AND supplies n (the
    # former _materialize + count pair paid two jobs over the cached
    # frame — r13, guide §1.2)
    nodes = _nodes(edges, src_col, dst_col).persist()
    n = nodes.count()
    if n == 0:
        raise ValueError("empty edge set")
    # Nodes with no out-edge leak rank unless redistributed. On a web
    # graph dangling nodes are commonly 20-50% of ALL nodes, so the
    # dangling set is node-scale: never broadcast it (collecting a
    # node-scale table through the driver is the bottleneck at 100x).
    # Instead the flag is computed ONCE (one join) and then CARRIED
    # inside the rank frame itself, so the per-round dangling mass is
    # a plain conditional scalar agg over ranks — zero extra joins,
    # zero broadcasts, per round.
    srcs = ew.select(F.col("__src").alias("node")).distinct()
    nodes_f = _materialize(
        nodes.join(
            srcs.withColumn("__has_out", F.lit(True)),
            on="node", how="left",
        ).select(
            "node",
            F.coalesce("__has_out", F.lit(False)).alias("__has_out"),
        ),
        None,
    )
    # fixed set: count once
    has_dangling = (
        nodes_f.where(~F.col("__has_out")).limit(1).count() > 0
    )
    # intermediate rounds are lineage-TRUNCATED (see _truncate_round);
    # only the FINAL round is persist-materialized, preserving the
    # caller's unpersist() contract (pinned by test_graph)
    from .clustering import _unpersist_rdds

    rk_h: set = set()
    try:
        ranks, rk_h = _truncate_round(
            nodes_f.withColumn("rank", F.lit(1.0 / n)), rk_h
        )
        for it in range(iters):
            dangling = (
                ranks.where(~F.col("__has_out"))
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            ) if has_dangling else 0.0
            contrib = (
                ew.join(ranks, ew["__src"] == ranks["node"])
                .select(
                    F.col("__dst").alias("node"),
                    (F.col("rank") / F.col("__deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            base = (1.0 - damping) / n + damping * dangling / n
            new_rank = (
                F.lit(base)
                + F.lit(damping) * F.coalesce("c", F.lit(0.0))
            ).alias("rank")
            # the flag rides along between rounds; the FINAL round
            # drops it so the returned (persisted) frame is (node,
            # rank) — the caller's unpersist() contract holds
            nxt = nodes_f.join(contrib, on="node", how="left")
            if it == iters - 1:
                ranks = _materialize(nxt.select("node", new_rank), None)
                # the final frame is persisted AND counted; the last
                # intermediate's checkpoint blocks are only needed to
                # RECOMPUTE it after a cache loss, which in the
                # non-reliable-checkpoint posture is already a job
                # failure — free them so the unpersist() contract
                # leaves nothing pinned
                _unpersist_rdds(nxt.sparkSession, rk_h)
                rk_h = set()
            else:
                ranks, rk_h = _truncate_round(
                    nxt.select("node", "__has_out", new_rank), rk_h
                )
        return ranks
    finally:
        # a round that raised leaves its predecessor's checkpoint
        # blocks pinned; on success rk_h is already empty
        _unpersist_rdds(ew.sparkSession, rk_h)
        ew.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        nodes_f.unpersist(blocking=False)


def pagerank_int(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    eager: bool | None = None,
    persist_result: bool = True,
) -> DataFrame:
    """(node, rank_scaled bigint) after ``iters`` EXACT-integer power
    iterations: r0 = scale DIV n for every node; each round

        contrib[v] = SUM over edges (u -> v) of r[u] DIV deg[u]
        r'[v] = (15 * scale) DIV (100 * n)
                + (85 * contrib[v]) DIV 100

    (with damping_pct=85). Every operation is integer multiply and
    integral division on nonnegative values, so truncation == floor
    and ANY engine — Spark `div`, DuckDB/ANSI `//` — reproduces the
    ranks bit-for-bit; intermediate magnitudes stay < 100 * scale
    (comfortably inside int64 for the default scale). Dangling mass
    is dropped by design (see module docstring).

    ``eager`` controls per-round re-materialization. Default: eager
    for iters > 4 (lineage growth is real there), lazy below (one
    job at action time — a 3-round plan is 3 joins deep, which
    Catalyst handles fine and which avoids per-round job latency).

    The returned frame is PERSISTED (here and in :func:`pagerank`) —
    a caller that discards it should ``unpersist()``. Pass
    ``persist_result=False`` in lazy mode to get a pure unpersisted
    plan instead (it recomputes per action — right for one-shot
    consumers like a driver gate that cannot unpersist afterwards).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if eager is None:
        # persist_result=False exists for one-shot consumers that
        # cannot unpersist; eager rounds would pin the final frame,
        # so the default stays lazy in that mode
        eager = iters > 4 and persist_result
    if eager and not persist_result:
        raise ValueError(
            "persist_result=False requires lazy mode (eager=False): "
            "eager iteration materializes the result by construction"
        )
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    # one-shot lazy mode (persist_result=False): the function runs NO
    # action over the round chain — the caller's first action executes
    # the returned plan AFTER the finally below has unpersisted the
    # helpers, so persisting ew/nodes here only buys a wasted
    # materialize job (r13, measured: the executed gate plan contains
    # zero InMemoryTableScan — AQE's ReusedExchange is what dedups the
    # recompute). Persist only when an in-function action will read
    # the caches (eager rounds, or the persist_result materialize).
    one_shot = not persist_result
    if one_shot:
        ew = _edges_with_degree(edges, src_col, dst_col)
        nodes = _nodes(edges, src_col, dst_col)
        n = nodes.count()
    else:
        ew = _materialize(
            _edges_with_degree(edges, src_col, dst_col), None
        )
        # persist + one count job materializes AND supplies n (the
        # former _materialize + count pair was two jobs)
        nodes = _nodes(edges, src_col, dst_col).persist()
        n = nodes.count()
    if n == 0:
        raise ValueError("empty edge set")
    tele = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.withColumn(
        "rank_scaled", F.lit(scale // n).cast("bigint")
    )
    rk_h: set = set()
    if eager:
        ranks, rk_h = _truncate_round(ranks, rk_h)

    def _div(a: Column, b: Column) -> Column:
        return F.call_function("div", a, b)

    from .clustering import _unpersist_rdds

    try:
        for it in range(iters):
            contrib = (
                ew.join(ranks, ew["__src"] == ranks["node"])
                .select(
                    F.col("__dst").alias("node"),
                    _div(
                        F.col("rank_scaled"),
                        F.col("__deg").cast("bigint"),
                    ).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            nxt = nodes.join(contrib, on="node", how="left").select(
                "node",
                (
                    F.lit(tele)
                    + _div(
                        F.lit(damping_pct)
                        * F.coalesce("c", F.lit(0).cast("bigint")),
                        F.lit(100).cast("bigint"),
                    )
                ).alias("rank_scaled"),
            )
            if not eager:
                ranks = nxt
            elif it == iters - 1:
                # final round: persist-materialized (the caller's
                # unpersist() contract), intermediates freed — see
                # pagerank
                ranks = _materialize(nxt, None)
                _unpersist_rdds(nxt.sparkSession, rk_h)
                rk_h = set()
            else:
                ranks, rk_h = _truncate_round(nxt, rk_h)
        if not eager and persist_result:
            # one job materializes the whole chained plan; the
            # persisted result then outlives the helper caches below
            ranks = _materialize(ranks, None)
        return ranks
    finally:
        _unpersist_rdds(nodes.sparkSession, rk_h)
        if not one_shot:
            ew.unpersist(blocking=False)
            nodes.unpersist(blocking=False)


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 10,
    directed: bool = False,
) -> DataFrame:
    """(node, label) community assignment by SYNCHRONOUS label
    propagation with deterministic tie-breaking: every node starts
    as its own label; each round every node adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label —
    so runs are reproducible (async LPA's arrival-order sensitivity
    is exactly what a data pipeline can't have), and a round is one
    join + one max_by aggregation, the pagerank shape: edge-table
    equi-join on node ids, map-side-combining agg, eager
    persist/free per round (no lineage stacking). Terminates at
    ``max_rounds`` or earlier when no label changes (checked with a
    one-row anti-join count per round — cheap against the
    already-persisted frame).

    Undirected by default (edges mirrored once up front — community
    structure, not flow). Known LPA caveat at any scale: synchronous
    updates can 2-cycle on bipartite-ish regions; the no-change
    termination then stops at max_rounds with the last assignment —
    deterministic, documented, and why max_rounds stays bounded
    instead of spinning."""
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).where(F.col("__src") != F.col("__dst")).distinct()
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("__dst").alias("__src"),
                F.col("__src").alias("__dst"),
            )
        ).distinct()
    # pre-partition + pre-sort on the per-round join key before the
    # persist (r12 VERDICT #5): the dedup distinct leaves the cache
    # partitioned by (__src, __dst), which no round's __dst join can
    # reuse — each round re-exchanged the full edge table. Same
    # placement-only rationale as _edges_with_degree.
    e = e.repartition(F.col("__dst")).sortWithinPartitions("__dst")
    e = e.persist()
    # rounds are lineage-truncated (see _truncate_round; without it
    # Catalyst re-analyzes the whole growing round tree per action);
    # the RETURNED frame is persist-materialized at the end
    from .clustering import _unpersist_rdds

    lb_h: set = set()
    try:
        labels, lb_h = _truncate_round(
            _nodes(e, "__src", "__dst").select(
                "node", F.col("node").alias("label")
            ),
            lb_h,
        )
        for _ in range(max_rounds):
            # neighbor labels: join edge dst -> current label, then per
            # src the modal label (count desc, label asc — max_by over a
            # struct gives the deterministic argmax in one agg)
            votes = (
                e.join(
                    labels.select(
                        F.col("node").alias("__dst"),
                        F.col("label").alias("__nl"),
                    ),
                    on="__dst",
                )
                .groupBy(F.col("__src").alias("node"), F.col("__nl"))
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            # deterministic argmax (modal count, smallest label on
            # ties). Numeric ids — the common case — take the ONE-
            # SHUFFLE form: max of struct(count, -label) inverts the
            # label order inside a single agg, so each round is one
            # groupBy(node, label) + one map-side-combining agg, the
            # pagerank budget. Other orderable types fall back to the
            # window-modal form (a second exchange on node).
            numeric_label = votes.schema["__nl"].dataType.simpleString() in (
                "tinyint", "smallint", "int", "bigint", "float", "double"
            )
            if numeric_label:
                new = votes.groupBy("node").agg(
                    F.max(
                        F.struct(
                            F.col("__c").alias("c"),
                            (-F.col("__nl")).alias("negl"),
                        )
                    ).alias("__m")
                ).select("node", (-F.col("__m")["negl"]).alias("label"))
            else:
                from pyspark.sql import Window as _W

                wn = _W.partitionBy("node")
                new = (
                    votes.withColumn("__mx", F.max("__c").over(wn))
                    .where(F.col("__c") == F.col("__mx"))
                    .groupBy("node")
                    .agg(F.min("__nl").alias("label"))
                )
            old = labels.select("node", F.col("label").alias("__ol"))
            if directed:
                # directed graphs: a node with no out-edges appears in no
                # __src group, so it gets NO vote row, and replacing
                # labels wholesale would drop it — losses then cascade
                # (nodes voting only through it stall, and `changed`
                # reads 0 on an emptied frame). Keep the full node set:
                # left-join the votes onto the current labels and
                # coalesce to the previous label for voteless nodes.
                # Undirected graphs mirror edges up front, so every node
                # votes and an inner join carries the old label instead.
                new = old.join(
                    new.select("node", F.col("label").alias("__vl")),
                    on="node",
                    how="left",
                ).select(
                    "node", F.coalesce("__vl", "__ol").alias("label"),
                    "__ol",
                )
            else:
                new = new.join(old, on="node")
            # the change flag is computed INSIDE the round frame (the
            # old-label join adds no exchange — both sides are node-
            # partitioned) and the round is materialized with TRUNCATED
            # lineage, so the former full join+count job per round
            # becomes a limit(1) existence probe over the checkpointed
            # rows with an O(1) plan. (An Observation metric would fuse
            # the probe into the materialize job entirely, but
            # registering one poisons the session for every LATER task
            # closure that serializes a SparkSession-referencing object —
            # MLlib model summaries hit
            # java.io.NotSerializableException: ObservationManager — so
            # the fold uses the checkpoint probe instead; found by
            # test_rerank failing after test_graph in one session.)
            new = new.withColumn(
                "__chg", F.col("label") != F.col("__ol")
            ).select("node", "label", "__chg")
            labels, lb_h = _truncate_round(new, lb_h)
            changed = labels.where("__chg").limit(1).count()
            if changed == 0:
                break
        # the returned frame is persist-materialized (node, label)
        return _materialize(labels.select("node", "label"), None)
    finally:
        # the intermediate checkpoint blocks and the edge cache are
        # freed on success and on a round that raised alike
        _unpersist_rdds(e.sparkSession, lb_h)
        e.unpersist(blocking=False)
