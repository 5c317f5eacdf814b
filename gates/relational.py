"""Relational gates: project/filter/join/aggregate/window/sort/set
shapes over the TPC-H-style tables and the events table, each with
its full-value DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import _events, _t, gate
from shotit_worker_spark.operators import relational as R
from shotit_worker_spark.streaming import windows as SW


# q01/q02: money aggregates in exact cents (order-independent —
# see q01_pricing_summary's canonicalization note); division
# sequence mirrors the Spark side exactly
@gate("""
            WITH c AS (
                SELECT l_returnflag, l_linestatus, l_quantity,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
                       CAST(round((1 - l_discount) * 100) AS BIGINT) AS disc_c,
                       CAST(round((1 + l_tax) * 100) AS BIGINT) AS tax_c,
                       CAST(round(l_discount * 100) AS BIGINT) AS d_c
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            )
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(ep_c) / 100.0 AS sum_base_price,
                   sum(ep_c * disc_c) / 10000.0 AS sum_disc_price,
                   sum(ep_c * disc_c * tax_c) / 1000000.0 AS sum_charge,
                   avg(l_quantity) AS avg_qty,
                   sum(ep_c) / 100.0 / count(*) AS avg_price,
                   sum(d_c) / 100.0 / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM c
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-agg groupBy (A-family scaffolding).

    Money aggregates sum EXACT CENTS (long) and divide once, so the
    result is independent of Spark's partial-aggregation tree: a raw
    sum(double) at ~1e9 magnitude has 2-3 legal %.4f canonicalizations
    one ulp apart depending on addition order (the r10 q113 driver
    flake), while integer sums are order-exact.  The testdata's money
    columns are 2-decimal (verified <=4e-9 off the cent grid), so
    round(x*100) is the true cent value; products of the cent-scaled
    factors stay far below 2^63 at gate SFs.  At 100 TB the same
    pattern would use decimal(38,0) cents instead of long.
    """
    li = _t(spark, sf_dir, "lineitem")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round((1 - F.col("l_discount")) * 100).cast("long")
    tax_c = F.round((1 + F.col("l_tax")) * 100).cast("long")
    d_c = F.round(F.col("l_discount") * 100).cast("long")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(ep_c) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(ep_c * disc_c) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(ep_c * disc_c * tax_c) / F.lit(1000000.0)).alias(
                "sum_charge"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(ep_c) / F.lit(100.0) / n).alias("avg_price"),
            (F.sum(d_c) / F.lit(100.0) / n).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate("""
            SELECT n_name,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT))
                       / 10000.0 AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-join-agg-sort through the star schema; small dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("n_name")
        .agg(
            # exact cents x discount-percent (long) summed order-exact,
            # divided once — see q01's canonicalization note
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * F.round((1 - F.col("l_discount")) * 100).cast("long")
                )
                / F.lit(10000.0)
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@gate("""
            SELECT o_orderkey, o_orderpriority,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT))
                       / 10000.0 AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-agg → global top-k (TakeOrderedAndProject)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # exact-cents revenue (r12 canon sweep: same money-sum shape as
    # q01/q02/q113 — order-exact long sum, one division at the end)
    rev_c = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg((F.sum(rev_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@gate("""
            SELECT c_mktsegment,
                   count(*) AS n_customers,
                   sum(c_acctbal) AS sum_acctbal
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having an open order, counted per segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.sum("c_acctbal").alias("sum_acctbal"))
        .orderBy("c_mktsegment")
    )


@gate("""
            SELECT n_name, count(*) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2001-06-01')
            GROUP BY n_name
            ORDER BY n_name
        """)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no order in H2-2001, per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    recent = orders.filter(F.col("o_orderdate") >= "2001-06-01")
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


@gate("""
            SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey ASC)
                           AS rank
                FROM orders) t
            WHERE rank <= 3
            ORDER BY o_orderpriority, rank
        """)
def q06_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per priority (window rank)."""
    orders = _t(spark, sf_dir, "orders")
    return R.topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
        keep_rank=True,
    ).orderBy("o_orderpriority", "rank")


@gate("""
            SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                   lag(l_quantity) OVER (PARTITION BY l_suppkey
                                         ORDER BY l_shipdate, l_orderkey, l_linenumber)
                       AS prev_qty
            FROM lineitem WHERE l_suppkey <= 5
            ORDER BY l_suppkey, l_orderkey, l_linenumber
        """)
def q07_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over (supplier, shipdate) — delta vs previous shipment."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity").over(w).alias("prev_qty"),
    )


@gate("""
            SELECT 'union' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION
                SELECT s_nationkey AS nationkey FROM supplier)
            UNION ALL
            SELECT 'intersect' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT s_nationkey AS nationkey FROM supplier)
            UNION ALL
            SELECT 'except' AS op, nationkey FROM (
                SELECT n_nationkey AS nationkey FROM nation
                EXCEPT
                SELECT s_nationkey AS nationkey FROM supplier)
            ORDER BY op, nationkey
        """)
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (union distinct / intersect / except) over nation keys,
    tagged and stacked so one correctness row covers all three."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    tagged = (
        cust.union(supp).distinct().withColumn("op", F.lit("union"))
        .unionByName(cust.intersect(supp).withColumn("op", F.lit("intersect")))
        .unionByName(nation.subtract(supp).withColumn("op", F.lit("except")))
    )
    return tagged.select("op", "nationkey").orderBy("op", "nationkey")


@gate("""
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS distinct_parts,
                   count(DISTINCT l_suppkey) AS distinct_supps,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)
def q11_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count("*").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@gate("""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty, count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n_items"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate("""
            WITH l AS (
                SELECT l_orderkey, l_linenumber AS ln_by_pos,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_linenumber ASC) AS pos
                FROM lineitem WHERE l_orderkey < 500),
            r AS (
                SELECT l_orderkey, l_linenumber AS ln_by_price,
                       l_extendedprice AS price,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_extendedprice DESC,
                                                   l_linenumber ASC) AS pos
                FROM lineitem WHERE l_orderkey < 500)
            SELECT l.l_orderkey, l.ln_by_pos, r.ln_by_price, r.price
            FROM l JOIN r ON l.l_orderkey = r.l_orderkey AND l.pos = r.pos
            ORDER BY l.l_orderkey, l.ln_by_pos
        """)
def q13_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 positional zip-join: i-th lineitem by linenumber ↔ i-th by price
    within each order (mirrors the frames↔timecodes zip, hasher.js:105-112)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    left = li.select(
        "l_orderkey", F.col("l_linenumber").alias("ln_by_pos")
    )
    right = li.select(
        "l_orderkey",
        F.col("l_linenumber").alias("ln_by_price"),
        F.col("l_extendedprice").alias("price"),
    )
    return R.positional_zip_join(
        left,
        right,
        ["ln_by_pos"],
        ["ln_by_price", "price"],
        key_cols=["l_orderkey"],
        order_left=[F.col("ln_by_pos").asc()],
        order_right=[F.col("price").desc(), F.col("ln_by_price").asc()],
    ).orderBy("l_orderkey", "ln_by_pos")


@gate("""
            SELECT c_custkey,
                   count(o_orderkey) AS n_orders,
                   coalesce(sum(o_totalprice), 0.0) AS sum_price
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
            ORDER BY c_custkey
        """)
def q14_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-preserving agg: order count per customer
    (customers with no orders kept with n_orders = 0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("sum_price"),
        )
        .orderBy("c_custkey")
    )


@gate("""
            SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   / 100.0 / 7.0 AS avg_yearly
            FROM lineitem l
            JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS q_thresh
                  FROM lineitem GROUP BY l_partkey) t
              ON l.l_partkey = t.l_partkey
            WHERE l.l_quantity < t.q_thresh
        """)
def q16_avg_quantity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery as a join): revenue of
    lineitems below 20% of their part's average quantity."""
    li = _t(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("q_thresh")
    )
    # the threshold avg is over integer-valued quantities (sums of
    # integers are order-exact in double), so only the money sum needs
    # the exact-cents treatment (r12 canon sweep: 4e7 magnitude)
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_thresh"))
        .agg((F.sum(ep_c) / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly"))
    )


@gate("""
            SELECT o_custkey, o_orderkey,
                   sum(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS running_total
            FROM orders WHERE o_custkey <= 50
            ORDER BY o_custkey, o_orderkey
        """)
def q17_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (rowsBetween): running order total per customer."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


@gate("""
            WITH c AS (
                SELECT p_type,
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT)
                       AS rev_c
                FROM lineitem JOIN part ON l_partkey = p_partkey
            )
            SELECT sum(CASE WHEN p_type LIKE 'PROMO%'
                            THEN rev_c ELSE 0 END) * 100.0
                   / sum(rev_c) AS promo_revenue_pct,
                   count(*) AS n_items
            FROM c
        """)
def q18_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: lineitem ⋈ part with a LIKE predicate feeding a
    conditional aggregate (string predicates + broadcast dim join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # exact-cents numerator AND denominator (r12 canon sweep: the
    # ratio is small but both operand sums are ~1e9-magnitude raw
    # double sums — long sums make the division deterministic)
    rev_c = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    )
    zero = F.lit(0).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type").like("PROMO%"), rev_c).otherwise(zero))
                * 100.0
                / F.sum(rev_c)
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


@gate("""
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   / 100.0 AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus, o_orderpriority
        """)
def q19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping over two keys (all 4 grouping sets)."""
    orders = _t(spark, sf_dir, "orders")
    # exact-cents sum (r12 canon sweep: the all-rows cube cell is a
    # 3.8e9-magnitude money sum — the q113-flake shape)
    tp_c = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(tp_c) / F.lit(100.0)).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@gate("""
            SELECT o_orderstatus,
                   sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS "sum_p1",
                   sum(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS "sum_p2",
                   sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS "sum_p3",
                   sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS "sum_p4",
                   sum(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS "sum_p5"
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """)
def q26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per order-status, one aggregate column per priority
    bucket. Spark's df.pivot compiles to exactly the conditional-agg plan
    (one pass, map-side partials) the SQL oracle spells out — no
    wide-to-long shuffle gymnastics."""
    orders = _t(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    # exact-cents per-cell sums (r12 canon sweep: 2.6e8 magnitude)
    tp_c = F.round(F.col("o_totalprice") * 100).cast("long")
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .agg(F.sum(tp_c) / F.lit(100.0))
        .orderBy("o_orderstatus")
    )
    renames = {p: f"sum_p{p[0]}" for p in pri}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


@gate("""
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS median_qty,
                   quantile_cont(l_extendedprice, 0.9) AS p90_price,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)
def q27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group — Spark's
    `percentile` and DuckDB's `quantile_cont` share the same continuous
    interpolation definition, so values hash-match exactly."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
            F.count("*").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@gate("""
            SELECT p.event_id AS event_id,
                   count(*) AS n_prior_clicks,
                   sum(c.value) AS sum_click_value
            FROM events p JOIN events c
              ON c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts <= p.ts
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
            GROUP BY p.event_id ORDER BY p.event_id
        """)
def q28_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval range join (operators/relational.range_join):
    for each purchase, the count and value-sum of the same user's clicks
    in the preceding hour. A raw inequality join would be a nested loop;
    the operator's time-bucket rewrite keeps it an equi-join."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    pairs = R.range_join(
        purchases, clicks, "ts", "ts", lower_sec=-3600.0, upper_sec=0.0,
        keys=["user_id"],
    )
    return (
        pairs.groupBy("event_id")
        .agg(
            F.count("*").alias("n_prior_clicks"),
            F.sum("value").alias("sum_click_value"),
        )
        .orderBy("event_id")
    )


@gate("""
            SELECT p.event_id AS event_id, c.value AS last_click_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY event_id
        """)
def q29_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/relational.asof_join): each
    purchase matched to the same user's most recent click at or before
    it — one union + one window shuffle, no inequality nested loop.
    Oracle: DuckDB's native ASOF JOIN."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return (
        R.asof_join(
            purchases, clicks, "ts", "ts", keys=["user_id"],
            right_cols=["value"], how="inner",
        )
        .select("event_id", F.col("asof_value").alias("last_click_value"))
        .orderBy("event_id")
    )


@gate("""
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   count(*) AS n_events
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q60_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 JSON decode: extract props.k, aggregate per event type."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@gate("""
            WITH tu AS (
                SELECT 'tumbling' AS win,
                       time_bucket(INTERVAL '1 hour', ts) AS window_start,
                       event_type,
                       count(*) AS n_events,
                       sum(value) AS sum_value,
                       avg(value) AS avg_value
                FROM events GROUP BY 2, 3),
            e AS (SELECT ts, event_type, value,
                         time_bucket(INTERVAL '30 minutes', ts) AS b
                  FROM events),
            w AS (SELECT unnest([b - INTERVAL '30 minutes', b]) AS window_start,
                         event_type, value
                  FROM e),
            sl AS (
                SELECT 'sliding' AS win, window_start, event_type,
                       count(*) AS n_events,
                       sum(value) AS sum_value,
                       avg(value) AS avg_value
                FROM w GROUP BY 2, 3)
            SELECT * FROM tu UNION ALL SELECT * FROM sl
            ORDER BY win, window_start, event_type
        """)
def q61_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation: tumbling(1h) and sliding(1h/30m)
    counts, tagged and stacked so one correctness row covers both."""
    ev = _events(spark, sf_dir)
    tumbling = (
        SW.tumbling_counts(ev, "1 hour")
        .drop("window_end")
        .withColumn("win", F.lit("tumbling"))
    )
    sliding = (
        SW.sliding_counts(ev, "1 hour", "30 minutes")
        .drop("window_end")
        .withColumn("win", F.lit("sliding"))
    )
    return tumbling.unionByName(sliding).orderBy(
        "win", "window_start", "event_type"
    )


@gate("""
            WITH o AS (SELECT user_id, ts, value,
                              lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS pts
                       FROM events),
            m AS (SELECT *, CASE WHEN pts IS NULL
                                      OR ts - pts >= INTERVAL '30 minutes'
                                 THEN 1 ELSE 0 END AS brk
                  FROM o),
            g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                                           ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS grp
                  FROM m)
            SELECT user_id,
                   min(ts) AS window_start,
                   max(ts) + INTERVAL '30 minutes' AS window_end,
                   count(*) AS n_events,
                   sum(value) AS sum_value,
                   avg(value) AS avg_value
            FROM g GROUP BY user_id, grp
            ORDER BY user_id, window_start
        """)
def q35_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return SW.session_counts(ev, gap="30 minutes").orderBy(
        "user_id", "window_start"
    )


# q97: the salt plumbing must not change join semantics
@gate("""
    SELECT l.l_orderkey, o.o_custkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_orderkey, o.o_custkey
    ORDER BY l.l_orderkey
""")
def q97_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators/relational.salted_join) FULL-VALUE
    gate: lineitem (l_orderkey is the skewed fact side) joined to a
    small orders dimension through the salt/explode construction must
    produce EXACTLY the plain equi-join's rows — the salt column is
    internal plumbing that must never change semantics. Aggregated
    per order for a stable row set (revenue + line count over the
    salted join's output)."""
    from shotit_worker_spark.operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderpriority = '1-URGENT'"
    ).selectExpr("o_orderkey as l_orderkey", "o_custkey")
    joined = salted_join(li, orders, on="l_orderkey",
                         salt_buckets=8)
    return (
        joined.groupBy("l_orderkey", "o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_orderkey")
    )


# q105: FULL-VALUE time-interval join — plain SQL bounded join
@gate("""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type
        FROM events
    )
    SELECT s.user_id AS user_id,
           s.event_id AS signup_event_id, s.ts AS signup_ts,
           v.event_id AS view_event_id, v.ts AS view_ts
    FROM e s JOIN e v
      ON v.user_id = s.user_id
     AND v.ts >= s.ts
     AND v.ts <= s.ts + INTERVAL 259200 SECOND
    WHERE s.event_type = 'signup' AND v.event_type = 'view'
    ORDER BY 1, 2, 4
""")
def q105_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval join (streaming/joins.interval_join, batch form
    of the stream-stream interval join) FULL-VALUE gate: every signup
    event joined to the same user's view events within the following
    72 hours. The engine path is the SAME function the streaming
    tests replay (watermarks are no-op hints in batch); the oracle is
    the plain SQL time-bounded join."""
    from shotit_worker_spark.streaming.joins import interval_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts",
                                       "event_type")
    left = ev.where(F.col("event_type") == "signup").drop("event_type")
    right = ev.where(F.col("event_type") == "view").drop("event_type")
    out = interval_join(
        left, right, key="user_id", lower_sec=0, upper_sec=259200,
        watermark="1 hour", how="inner",
    )
    return out.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("signup_event_id"),
        F.col("l_ts").alias("signup_ts"),
        F.col("r_event_id").alias("view_event_id"),
        F.col("r_ts").alias("view_ts"),
    ).orderBy("user_id", "signup_event_id", "view_event_id")


@gate("""
    WITH c AS (
        SELECT o_custkey AS key, count(*) AS cnt
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(cnt) AS DOUBLE) AS tt,
               CAST(count(*) AS DOUBLE) AS kk
        FROM c
    ),
    h AS (
        SELECT key, cnt,
               row_number() OVER (ORDER BY cnt DESC, key ASC)
                   AS rank
        FROM c
    )
    SELECT key, cnt, cnt / tt AS share,
           cnt * kk / tt AS skew_factor, CAST(rank AS INT) AS rank
    FROM h, t WHERE rank <= 10
    ORDER BY rank
""")
def q124_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report (operators/profiling.key_skew) FULL-VALUE
    gate: the ten heaviest o_custkey values in orders with their row
    share and skew factor (count over the all-keys mean — the
    straggler predictor that pairs with the q97 salted-join remedy).
    One data-scale shuffle; the global rank window runs only on the
    TakeOrdered top slice. Tie-broken by key on both sides."""
    from shotit_worker_spark.operators.profiling import key_skew

    return key_skew(
        _t(spark, sf_dir, "orders"), "o_custkey", top=10
    ).orderBy("rank")
