"""Graph gates: integer PageRank, connected components and label
propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import _t, gate
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


def _pagerank_oracle_sql(iters: int = 3, scale: int = 10**12) -> str:
    """The q84 oracle: r0 then `iters` unrolled rounds of the exact
    integer recurrence (standard SQL — aggregation per round, which
    recursive CTEs disallow, hence the unroll)."""
    tele = f"({15 * scale} // (100 * m.n))"
    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(f"""
            it{i} AS (
                SELECT nd.node,
                       CAST({tele} + (85 * COALESCE(c.s, 0)) // 100
                            AS BIGINT) AS r
                FROM nodes nd CROSS JOIN meta m
                LEFT JOIN (
                    SELECT e.dst AS node, SUM(p.r // deg.d) AS s
                    FROM e
                    JOIN {prev} p ON e.src = p.node
                    JOIN deg ON e.src = deg.src
                    GROUP BY e.dst
                ) c ON nd.node = c.node
            )""")
        prev = f"it{i}"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_orderkey % 7 = 0
        ),
        e AS (
            SELECT CAST(l_partkey * 2 AS BIGINT) AS src,
                   CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst FROM pairs
            UNION ALL
            SELECT CAST(l_suppkey * 2 + 1 AS BIGINT),
                   CAST(l_partkey * 2 AS BIGINT) FROM pairs
        ),
        nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS d
            FROM e GROUP BY src
        ),
        meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        r0 AS (
            SELECT node, CAST({scale} // m.n AS BIGINT) AS r
            FROM nodes CROSS JOIN meta m
        ),
        {",".join(its)}
        SELECT node, r AS rank_scaled FROM {prev} ORDER BY node
    """


# q84: FULL-VALUE integer PageRank — the oracle replays the
# exact integer recurrence as unrolled CTEs
@gate(_pagerank_oracle_sql)
def q84_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph) FULL-VALUE gate: 3
    power iterations over the bipartite part <-> supplier graph from
    distinct lineitem pairs (node = 2*partkey / 2*suppkey+1 — both
    directions, so no node dangles). Every step is integer multiply
    + integral division on nonnegative values, so the DuckDB oracle
    replays the SAME iteration as three unrolled CTEs and matches
    bit-for-bit — no float association anywhere. The operator's
    per-round shape is one join + one map-side-combining group-by
    with eager re-materialization (no lineage stacking), the
    crawl-frontier ranking shape at 100 TB."""
    from shotit_worker_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    # deterministic slice keeps the gate's edge count (and so its
    # bench cost) flat across SFs while staying full-value
    pairs = (
        li.filter(F.col("l_orderkey") % 7 == 0)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    edges = (
        pairs.select(
            (F.col("l_partkey") * 2).cast("bigint").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .unionAll(
            pairs.select(
                (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("src"),
                (F.col("l_partkey") * 2).cast("bigint").alias("dst"),
            )
        )
    )
    return (
        G.pagerank_int(edges, iters=3, persist_result=False)
        .select(F.col("node").cast("bigint"), "rank_scaled")
        .orderBy("node")
    )


# q95: FULL-VALUE components — the fixture graph has a
# closed-form partition the engine must converge to
@gate("""
    SELECT i AS node, (i % 17) % 5 AS component
    FROM (SELECT unnest(generate_series(0, 499)) AS i)
    ORDER BY node
""")
def q95_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (operators/clustering, the iterative
    path-halving min-label propagation every near-dup clusterer rides
    on) FULL-VALUE gate: a deterministic 500-node graph — leaves i
    join hub i%17, hubs join their group root h%5, plus md5-derived
    cross edges WITHIN each group (they merge subtrees without
    changing the partition) — whose components have the closed form
    component(i) = (i%17)%5 = the group's minimum node id. The engine
    must CONVERGE to exactly these labels; the oracle states the
    closed form over the same node range."""
    from shotit_worker_spark.operators.clustering import (
        connected_components,
    )

    n = 500
    nodes = spark.range(n).select(F.col("id").cast("long").alias("i"))
    leaf = nodes.select(
        F.col("i").alias("a_id"), (F.col("i") % 17).alias("b_id"))
    hubs = spark.range(17).select(
        F.col("id").alias("a_id"), (F.col("id") % 5).alias("b_id"))
    # md5-keyed cross edges inside a group: i -- (i + 85) when the
    # digest condition fires (85 = 17*5 keeps both endpoints in the
    # same group); reproducible in any engine
    cross = nodes.where(
        (F.col("i") < n - 85)
        & (F.substring(F.md5(F.concat(F.lit("q95"),
                                      F.col("i").cast("string"))),
                       1, 1) < F.lit("4"))
    ).select(F.col("i").alias("a_id"), (F.col("i") + 85).alias("b_id"))
    pairs = leaf.unionAll(hubs).unionAll(cross)
    return connected_components(pairs).orderBy("node")


def _label_prop_oracle_sql() -> str:
    rows = ", ".join(
        [f"({n}, 0)" for n in range(6)]
        + [f"({n}, 100)" for n in range(100, 106)]
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(node, label)"
        " ORDER BY node"
    )


@gate(_label_prop_oracle_sql)
def q121_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation communities (operators/graph.
    label_propagation) constants gate: two 6-cliques bridged by one
    edge must converge to each clique's minimum node id (synchronous
    rounds, modal neighbor label, smallest-label tie-break — the
    DETERMINISTIC variant; async LPA's arrival-order sensitivity is
    exactly what a pipeline can't have). Each round is one edge join
    + one modal agg on the node partitioning, eager persist/free —
    the pagerank discipline. The oracle is the closed-form
    assignment."""
    from shotit_worker_spark.operators.graph import label_propagation

    edges = []
    for base in (0, 100):
        for i in range(6):
            for j in range(i + 1, 6):
                edges.append((base + i, base + j))
    edges.append((5, 100))
    df = _arrow_rows(spark, edges, "src long, dst long")
    return label_propagation(df, max_rounds=8).orderBy("node")
