"""Warehouse and analytics gates: z-order layout, funnel, cohort
retention, resampling, shards, evaluation metrics, MERGE/CDC,
sessionization, SCD2, bucketed joins, expectations, rolling features,
profiling, correlation, drift, A/B tests and mutual information.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import _events, _fresh_dir, _t, gate
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


_FUNNEL_ORACLE_SQL = """
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events
    ),
    s1 AS (
        SELECT user_id, min(ts) AS t1 FROM e
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT s1.user_id, s1.t1, min(e.ts) AS t2
        FROM s1 JOIN e ON e.user_id = s1.user_id
            AND e.event_type = 'view' AND e.ts > s1.t1
            AND e.ts <= s1.t1 + INTERVAL 259200 SECOND
        GROUP BY s1.user_id, s1.t1
    ),
    s3 AS (
        SELECT s2.user_id, s2.t1, min(e.ts) AS t3
        FROM s2 JOIN e ON e.user_id = s2.user_id
            AND e.event_type = 'click' AND e.ts > s2.t2
            AND e.ts <= s2.t1 + INTERVAL 259200 SECOND
        GROUP BY s2.user_id, s2.t1
    ),
    s4 AS (
        SELECT s3.user_id, min(e.ts) AS t4
        FROM s3 JOIN e ON e.user_id = s3.user_id
            AND e.event_type = 'purchase' AND e.ts > s3.t3
            AND e.ts <= s3.t1 + INTERVAL 259200 SECOND
        GROUP BY s3.user_id
    )
    SELECT * FROM (
        SELECT 1 AS step_no, 'signup' AS step,
               (SELECT count(*) FROM s1) AS users
        UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
    ) ORDER BY step_no
"""


# q85: FULL-VALUE funnel — independent min-join formulation
# of the same greedy semantics
@gate(_FUNNEL_ORACLE_SQL)
def q85_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (operators/funnel) FULL-VALUE gate: greedy
    signup -> view -> click -> purchase conversion counts within a
    3-day window over events. The engine runs the ONE-SHUFFLE shape
    (per-user sorted event array + a pure-Catalyst aggregate() walk
    — no per-step join); the oracle computes the SAME greedy
    semantics via the independent min-join CTE formulation, so the
    two constructions cross-check each other. Timestamps compare as
    exact integer micros on both sides (nanos truncate identically)
    — no float boundary cases."""
    from shotit_worker_spark.operators import funnel as FU

    ev = _events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosAsLong sessions
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    ev = ev.select("user_id", "ts", "event_type")
    return FU.funnel_counts(
        ev,
        ["signup", "view", "click", "purchase"],
        max_span_sec=3 * 86400,
    )


# q93: FULL-VALUE dense resample — generate_series +
# gaps-and-islands ffill rebuilds every row independently
@gate("""
    WITH e AS (
        SELECT event_type AS k,
               epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
               value AS v
        FROM events WHERE ts IS NOT NULL
    ),
    sparse AS (SELECT k, b, avg(v) AS obs FROM e GROUP BY k, b),
    spans AS (
        SELECT k, min(b) AS lo, max(b) AS hi FROM sparse GROUP BY k
    ),
    spine AS (
        SELECT k, unnest(generate_series(lo, hi)) AS b FROM spans
    ),
    dense AS (
        SELECT sp.k, sp.b, sq.obs
        FROM spine sp
        LEFT JOIN sparse sq ON sq.k = sp.k AND sq.b = sp.b
    ),
    grp AS (
        SELECT k, b, obs,
               count(obs) OVER (
                   PARTITION BY k ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS g
        FROM dense
    )
    SELECT k AS event_type, b AS bucket,
           max(obs) OVER (PARTITION BY k, g) AS value,
           (obs IS NULL) AS filled
    FROM grp
    ORDER BY event_type, bucket
""")
def q93_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling (operators/timeseries) FULL-VALUE gate:
    hourly avg(value) per event_type over events, gaps forward-
    filled. The engine runs the one-raw-shuffle shape (bucket agg ->
    span agg on the sparse table -> sequence() spine -> left join ->
    ffill window); the oracle rebuilds every dense row independently
    with generate_series + the gaps-and-islands forward fill. Buckets
    are exact integer micros DIV 3600000000 on both sides."""
    from shotit_worker_spark.operators.timeseries import resample

    ev = _events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosAsLong sessions
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    return resample(
        ev.select("event_type", "ts", "value"),
        key_col="event_type", interval_sec=3600, agg="avg",
        fill="ffill",
    ).select("event_type", "bucket", "value", "filled")


# q96: FULL-VALUE shard-member extraction, md5-pinned
@gate("""
    SELECT * FROM (VALUES
        ('000001', 'meta.json', 8, md5('{"a": 1}')),
        ('000001', 'txt', 5, md5('alpha')),
        ('000002', 'txt', 9, md5('beta beta')),
        ('d/000003', 'txt', 14, md5('nested payload'))
    ) AS t(key, ext, size, content_md5)
    ORDER BY key, ext
""")
def q96_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard source (sources/shards) FULL-VALUE gate: a
    deterministic in-memory tar (nested member paths, dotted
    extensions, ASCII payloads) explodes through the Spark pass; the
    oracle restates every (key, ext, size, md5) row, with DuckDB
    computing the md5 of the SAME payload strings — byte fidelity of
    the member extraction is the thing under test."""
    import io as _io
    import tarfile as _tarfile

    from shotit_worker_spark.sources.shards import explode_shards

    members = [
        ("000001.txt", b"alpha"),
        ("000001.meta.json", b'{"a": 1}'),
        ("000002.txt", b"beta beta"),
        ("d/000003.txt", b"nested payload"),
    ]
    bio = _io.BytesIO()
    with _tarfile.open(fileobj=bio, mode="w") as tf:
        for name, data in members:
            info = _tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, _io.BytesIO(data))
    df = _arrow_rows(spark, 
        [("store/w/gate.tar", bytearray(bio.getvalue()))],
        "path string, content binary",
    )
    return (
        explode_shards(df)
        .select("key", "ext", "size",
                F.md5("content").alias("content_md5"))
        .orderBy("key", "ext")
    )


# q98: exact AUC — the oracle uses the independent
# tie-averaged rank-sum formulation
@gate("""
    WITH scored AS (
        SELECT CAST('0x' || substring(
                   md5('q98s' || CAST(o_orderkey AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000 AS s1,
               CAST('0x' || substring(
                   md5('q98l' || CAST(o_orderkey AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000 AS h2
        FROM orders
    ),
    t AS (
        SELECT s1 / 1000.0 AS score,
               CASE WHEN h2 * 10 < 2000 + 6 * s1 THEN 1 ELSE 0 END
                   AS label
        FROM scored
    ),
    r AS (
        SELECT score, label,
               row_number() OVER (ORDER BY score) AS rn
        FROM t
    ),
    ar AS (
        SELECT score, label,
               avg(rn) OVER (PARTITION BY score) AS arank
        FROM r
    ),
    agg AS (
        SELECT count(*) AS n,
               CAST(sum(label) AS BIGINT) AS np,
               CAST(count(*) - sum(label) AS BIGINT) AS nn,
               sum(CASE WHEN label = 1 THEN arank ELSE 0 END) AS rs,
               avg((score - label) * (score - label)) AS brier,
               avg(CASE WHEN (score >= 0.5) = (label = 1)
                        THEN 1.0 ELSE 0.0 END) AS accuracy,
               sum(CASE WHEN score >= 0.5 AND label = 1
                        THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS pp
        FROM ar
    )
    SELECT n, np AS n_pos, nn AS n_neg,
           (rs - np * (np + 1) / 2.0) / (np * nn) AS auc,
           brier, accuracy,
           CAST(tp AS DOUBLE) / pp AS "precision",
           CAST(tp AS DOUBLE) / np AS recall,
           2.0 * tp / (pp + np) AS f1
    FROM agg
""")
def q98_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary evaluation metrics (operators/evalmetrics) FULL-VALUE
    gate: an md5-derived scored table over orders (score = hash
    promille; label correlated with the score through an all-integer
    rule, so both engines build the identical dataset), evaluated by
    the score-aggregated Mann-Whitney AUC + brier/accuracy/precision/
    recall/f1. The oracle recomputes AUC through the INDEPENDENT
    tie-averaged rank-sum formulation — two constructions of the
    same definition cross-check each other."""
    from shotit_worker_spark.operators.evalmetrics import (
        binary_metrics,
    )

    orders = _t(spark, sf_dir, "orders")

    def _h(prefix):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix),
                               F.col("o_orderkey").cast("string"))),
                1, 8),
            16, 10).cast("long") % 1000

    s1 = _h("q98s")
    h2 = _h("q98l")
    scored = orders.select(
        (s1 / 1000.0).alias("score"),
        F.when(h2 * 10 < 2000 + 6 * s1, 1).otherwise(0)
        .alias("label"),
    )
    return binary_metrics(scored)


_COHORT_ORACLE_SQL = """
    WITH e AS (
        SELECT user_id AS u,
               epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS p,
               event_type AS y
        FROM events WHERE ts IS NOT NULL
    ),
    base AS (
        SELECT u, min(p) AS c FROM e WHERE y = 'signup' GROUP BY u
    ),
    act AS (SELECT DISTINCT u, p FROM e),
    cells AS (
        SELECT b.c AS cohort_period,
               CAST(a.p - b.c AS INT) AS period_offset,
               count(*) AS n_users
        FROM act a JOIN base b ON a.u = b.u AND a.p >= b.c
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT c AS cohort_period, count(*) AS cohort_size
        FROM base GROUP BY 1
    )
    SELECT cells.cohort_period, period_offset, n_users,
           sizes.cohort_size,
           CAST(n_users AS DOUBLE) / sizes.cohort_size AS retention
    FROM cells JOIN sizes USING (cohort_period)
    ORDER BY cohort_period, period_offset
"""


# q90: FULL-VALUE cohort retention — exact integer week
# periods make every cell reproducible through the
# independent join formulation
@gate(_COHORT_ORACLE_SQL)
def q90_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (operators/cohort) FULL-VALUE gate: weekly
    signup cohorts x distinct-active-user counts per week offset over
    events. The engine runs the ONE-PIPELINE shape (a single
    groupBy(user) computing cohort + distinct activity periods, the
    sentinel-row explode yielding cells AND cohort sizes from one
    cohort-keyed agg, ReusedExchange deduplicating the shared
    subtree); the oracle recomputes every cell through the
    independent join formulation. Periods are exact integer micros
    DIV 604800000000 on both sides — no week-start/timezone/float
    ambiguity."""
    from shotit_worker_spark.operators.cohort import cohort_retention

    ev = _events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosAsLong sessions
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    ev = ev.select("user_id", "ts", "event_type")
    return cohort_retention(ev, anchor_type="signup",
                            activity_type=None, period_days=7)


# the q80 oracle's interleave: bit i of bo -> 2i, of bp -> 2i+1
_ZORDER_INTERLEAVE_SQL = " + ".join(
    f"(((bo >> {i}) & 1) << {2 * i}) + (((bp >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)


# q80: FULL-VALUE zorder kernel — exact integer bucketing
# over the whole table's min/max, then the 16-bit interleave
# as plain bit arithmetic (bo/bp cast to BIGINT so shifts
# never touch 32-bit territory)
@gate(f"""
            WITH st AS (
                SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
                       min(l_partkey) AS mnp, max(l_partkey) AS mxp
                FROM lineitem
            ),
            b AS (
                SELECT l_orderkey, l_linenumber,
                       CASE WHEN mxo <= mno THEN 0
                            ELSE CAST((l_orderkey - mno) AS BIGINT)
                                 * 65535 // (mxo - mno) END AS bo,
                       CASE WHEN mxp <= mnp THEN 0
                            ELSE CAST((l_partkey - mnp) AS BIGINT)
                                 * 65535 // (mxp - mnp) END AS bp
                FROM lineitem, st
                WHERE l_orderkey % 97 = 0
            )
            SELECT l_orderkey, l_linenumber,
                   bo AS bucket_orderkey, bp AS bucket_partkey,
                   CAST({_ZORDER_INTERLEAVE_SQL} AS BIGINT) AS zkey
            FROM b
            ORDER BY l_orderkey, l_linenumber
        """)
def q80_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout kernel (operators/layout): the Morton key that
    zorder_by range-partitions and sorts on, FULL-VALUE checked — the
    oracle recomputes the equal-width buckets (exact integer
    ``(v - min) * 65535 DIV span`` over the whole table's min/max)
    and the 16-bit interleave with plain SQL bit arithmetic on a
    deterministic lineitem slice. The bucketing + interleave are pure
    JVM expressions (no Python, no shuffle); zorder_by itself adds
    one range exchange + map-side sort (plan pinned in
    tests/test_layout.py). This is the data-skipping layout a 100-TB
    scan prunes against (parquet row-group min/max on EVERY
    z-column)."""
    from shotit_worker_spark.operators import layout as LY

    li = _t(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_orderkey").alias("mno"), F.max("l_orderkey").alias("mxo"),
        F.min("l_partkey").alias("mnp"), F.max("l_partkey").alias("mxp"),
    ).collect()[0]
    bo = LY.morton_bucket(
        F.col("l_orderkey"), F.lit(st["mno"]), F.lit(st["mxo"]), 16)
    bp = LY.morton_bucket(
        F.col("l_partkey"), F.lit(st["mnp"]), F.lit(st["mxp"]), 16)
    return (
        li.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            bo.alias("bucket_orderkey"),
            bp.alias("bucket_partkey"),
            LY.morton_key([bo, bp], 16).alias("zkey"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


_SESSIONIZE_ORACLE_SQL = """
    WITH e AS (
        SELECT user_id AS u,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsm,
               event_id
        FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
        SELECT u, tsm, event_id,
               CASE WHEN lag(tsm) OVER w IS NULL
                         OR tsm - lag(tsm) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM e
        WINDOW w AS (PARTITION BY u ORDER BY tsm, event_id)
    ),
    sess AS (
        SELECT u, tsm,
               CAST(sum(ns) OVER (
                   PARTITION BY u ORDER BY tsm, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS INT) AS session_no
        FROM flagged
    )
    SELECT u AS user, session_no,
           min(tsm) AS start_us, max(tsm) AS end_us,
           count(*) AS n_events,
           (max(tsm) - min(tsm)) / 1e6 AS duration_sec
    FROM sess GROUP BY u, session_no
    ORDER BY u, session_no
"""


@gate(_SESSIONIZE_ORACLE_SQL)
def q111_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/sessions) FULL-VALUE gate:
    30-minute-gap sessions per user over events — one row per
    session with start/end (exact integer micros, the q93 bucket
    convention), event count, and duration. The engine runs the
    one-exchange gaps-and-islands shape (lag + running sum + agg all
    on the user hash partitioning — plan-pinned in test_sessions);
    the oracle recomputes every session with the ANSI lag/cumsum
    formulation, tie-broken by event_id on BOTH sides so equal
    timestamps order identically."""
    from shotit_worker_spark.operators.sessions import session_stats

    ev = _events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosAsLong sessions
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    ev = ev.select("user_id", "ts", "event_id")
    out = session_stats(
        ev, gap_sec=1800.0, tiebreak_col="event_id"
    )
    return out.select(
        "user",
        "session_no",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        "duration_sec",
    )


def _scd2_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-sequence CDC log q112 and q126 share: initial load,
    no-op re-emit (%21), real change (%14), delete (%35), post-
    delete re-upsert (%70) over the o_orderkey%7 orders slice."""
    base = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderstatus")
    )
    k = F.col("o_orderkey")
    up = F.lit("upsert")
    v1 = base.select(
        "*", F.lit(1).alias("seq"), up.alias("op")
    )
    v2 = base.where(k % 21 == 0).select(
        "*", F.lit(2).alias("seq"), up.alias("op")
    )
    v3 = base.where(k % 14 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.lit(3).alias("seq"), up.alias("op"),
    )
    v4 = base.where(k % 35 == 0).select(
        "*", F.lit(4).alias("seq"), F.lit("delete").alias("op")
    )
    v5 = base.where(k % 70 == 0).select(
        "*", F.lit(5).alias("seq"), up.alias("op")
    )
    return (
        v1.unionByName(v2).unionByName(v3).unionByName(v4)
        .unionByName(v5)
    )


_SCD2_ORACLE_SQL = """
    WITH base AS (
        SELECT o_orderkey AS k, o_custkey AS c,
               o_totalprice AS p, o_orderstatus AS s
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    log AS (
        SELECT k, c, p, s, 1 AS seq, FALSE AS del FROM base
        UNION ALL
        SELECT k, c, p, s, 2, FALSE FROM base WHERE k % 21 = 0
        UNION ALL
        SELECT k, c, p + 100.0, 'U', 3, FALSE FROM base
        WHERE k % 14 = 0
        UNION ALL
        SELECT k, c, p, s, 4, TRUE FROM base WHERE k % 35 = 0
        UNION ALL
        SELECT k, c, p, s, 5, FALSE FROM base WHERE k % 70 = 0
    ),
    flagged AS (
        SELECT *,
               lag(del) OVER w AS pd, lag(c) OVER w AS pc,
               lag(p) OVER w AS pp, lag(s) OVER w AS ps,
               lag(seq) OVER w AS pq
        FROM log WINDOW w AS (PARTITION BY k ORDER BY seq)
    ),
    survivors AS (
        SELECT k, c, p, s, seq, del FROM flagged
        WHERE del OR pq IS NULL
           OR NOT (pd IS NOT DISTINCT FROM del
                   AND pc IS NOT DISTINCT FROM c
                   AND pp IS NOT DISTINCT FROM p
                   AND ps IS NOT DISTINCT FROM s)
    ),
    closed AS (
        SELECT k, c, p, s, seq AS valid_from,
               lead(seq) OVER (
                   PARTITION BY k ORDER BY seq
               ) AS valid_to,
               del
        FROM survivors
    )
    SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice,
           s AS o_orderstatus, valid_from,
           CAST(valid_to AS DOUBLE) AS valid_to,
           valid_to IS NULL AS is_current
    FROM closed WHERE NOT del
    ORDER BY o_orderkey, valid_from
"""


@gate(_SCD2_ORACLE_SQL)
def q112_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history builder (plans/scd2.build_scd2) FULL-VALUE gate:
    a 5-sequence change log derived from the o_orderkey%7 orders
    slice — initial load, a no-op re-emit (%21, must collapse), a
    real price/status change (%14), a delete (%35), and a
    post-delete re-upsert (%70, must open a NEW version despite the
    delete barrier) — builds the full type-2 history. The engine
    runs the one-exchange lag-collapse + lead-close shape
    (plan-pinned in test_scd2); the oracle rebuilds every interval
    with the ANSI lag/lead formulation over the same log."""
    from shotit_worker_spark.plans.scd2 import build_scd2

    log = _scd2_change_log(spark, sf_dir)
    hist = build_scd2(
        log,
        keys=["o_orderkey"],
        attr_cols=["o_custkey", "o_totalprice", "o_orderstatus"],
        seq_col="seq",
        op_col="op",
    )
    # valid_to is the one NULLABLE int column; DuckDB's pandas fetch
    # upcasts such columns to float64, so compare it as double on
    # both sides (NaN canonicalizes as NULL)
    return hist.withColumn(
        "valid_to", F.col("valid_to").cast("double")
    ).orderBy("o_orderkey", "valid_from")


@gate("""
    SELECT c_mktsegment, count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
""")
def q113_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMB bucketed-table join (plans/bucketed) FULL-VALUE gate:
    customer and orders lay out as same-key same-n bucketed parquet
    tables (bucketBy 8 on custkey, sorted within buckets), then the
    revenue-per-segment join runs THROUGH THE CATALOG — the plan is
    asserted Exchange-free on both join inputs before collection
    (the SMB contract; the whole point of paying the layout shuffle
    once). The oracle computes the same aggregate from the raw
    tables in plain SQL, proving the bucketed layout changed the
    PLAN, not the answer. Fresh private warehouse dir per call."""
    import os

    from shotit_worker_spark.plans.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    work_dir = _fresh_dir("q113smb_")
    write_bucketed(
        cust, "q113_cust", os.path.join(work_dir, "cust"),
        "c_custkey", 8, sort_cols="c_custkey",
    )
    write_bucketed(
        orders, "q113_ord", os.path.join(work_dir, "ord"),
        "o_custkey", 8, sort_cols="o_custkey",
    )
    bc = read_bucketed(spark, "q113_cust")
    bo = read_bucketed(spark, "q113_ord")
    joined = bc.hint("merge").join(
        bo, bc["c_custkey"] == bo["o_custkey"]
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed join planned an Exchange:\n" + plan
        )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # r10 driver flake: raw sum(double) at ~7.5e9 magnitude has
            # order-dependent %.4f canonicalizations one ulp apart; sum
            # exact cents (long, order-exact) and divide once instead
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@gate("""
    WITH t AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS nn_cust,
               count(o_orderkey) AS c_ok,
               count(DISTINCT o_orderkey) AS d_ok,
               count(o_custkey) AS c_ck,
               count(DISTINCT o_custkey) AS d_ck,
               count(o_totalprice) AS c_tp,
               sum(CASE WHEN o_totalprice IS NOT NULL
                             AND (o_totalprice < 0.0
                                  OR o_totalprice > 1000.0)
                        THEN 1 ELSE 0 END) AS v_tp,
               count(o_orderstatus) AS c_st,
               sum(CASE WHEN o_orderstatus IS NOT NULL
                             AND o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS v_st,
               count(o_orderpriority) AS c_pr,
               sum(CASE WHEN regexp_full_match(
                                 o_orderpriority, '[1-5]-[A-Z]+')
                        THEN 1 ELSE 0 END) AS m_pr
        FROM orders
    ),
    fk AS (
        SELECT count(*) AS denom,
               sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                   AS orph
        FROM orders o
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NOT NULL
    )
    SELECT * FROM (
        SELECT 'not_null(o_custkey)' AS "check",
               (CAST(nn_cust AS DOUBLE)/n) <= 0.0 AS passed,
               CAST(nn_cust AS DOUBLE)/n AS observed,
               0.0 AS threshold FROM t
        UNION ALL
        SELECT 'unique(o_orderkey)',
               (CAST(c_ok - d_ok AS DOUBLE)/c_ok) <= 0.0,
               CAST(c_ok - d_ok AS DOUBLE)/c_ok, 0.0 FROM t
        UNION ALL
        SELECT 'unique(o_custkey)',
               (CAST(c_ck - d_ck AS DOUBLE)/c_ck) <= 0.0,
               CAST(c_ck - d_ck AS DOUBLE)/c_ck, 0.0 FROM t
        UNION ALL
        SELECT 'in_range(o_totalprice)',
               (CAST(v_tp AS DOUBLE)/c_tp) <= 0.0,
               CAST(v_tp AS DOUBLE)/c_tp, 0.0 FROM t
        UNION ALL
        SELECT 'accepted_values(o_orderstatus)',
               (CAST(v_st AS DOUBLE)/c_st) <= 0.0,
               CAST(v_st AS DOUBLE)/c_st, 0.0 FROM t
        UNION ALL
        SELECT 'matches_regex(o_orderpriority)',
               (CAST(m_pr AS DOUBLE)/c_pr) >= 1.0,
               CAST(m_pr AS DOUBLE)/c_pr, 1.0 FROM t
        UNION ALL
        SELECT 'row_count', n >= 1, CAST(n AS DOUBLE), 1.0 FROM t
        UNION ALL
        SELECT 'referential(o_custkey)',
               (CAST(orph AS DOUBLE)/denom) <= 0.0,
               CAST(orph AS DOUBLE)/denom, 0.0 FROM fk
    ) ORDER BY "check"
""")
def q114_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (plans/expectations) FULL-VALUE
    gate: an eight-check suite over orders — null fraction,
    uniqueness of the pk AND of a deliberately non-unique column,
    a deliberately violated range, accepted status values, priority
    regex conformance, row count, and o_custkey referential
    containment in customer — where the OBSERVED fractions (not just
    the booleans) must match the oracle's exact SQL arithmetic. All
    column-local checks ride ONE aggregation scan; the referential
    check is the one anti-join."""
    from shotit_worker_spark.plans import expectations as X

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rep = X.run_checks(
        orders,
        [
            X.not_null("o_custkey"),
            X.unique("o_orderkey"),
            X.unique("o_custkey"),
            X.in_range("o_totalprice", 0.0, 1000.0),
            X.accepted_values("o_orderstatus", ["O", "F", "P"]),
            X.matches_regex("o_orderpriority", "[1-5]-[A-Z]+"),
            X.row_count_between(1),
            X.referential("o_custkey", customer, "c_custkey"),
        ],
    )
    return rep.orderBy("check")


@gate("""
    WITH e AS (
        SELECT event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsm, value
        FROM events WHERE ts IS NOT NULL
    ),
    f AS (
        SELECT event_id, user_id, value,
               avg(value) OVER wr AS mean_3600s,
               min(value) OVER wr AS min_3600s,
               max(value) OVER wr AS max_3600s,
               count(value) OVER wr AS cnt_3600s,
               lag(value) OVER wo AS lag_1,
               avg(value) OVER wz AS mu,
               stddev_samp(value) OVER wz AS sd,
               count(value) OVER wz AS zc
        FROM e
        WINDOW
            wr AS (PARTITION BY user_id ORDER BY tsm
                   RANGE BETWEEN 3600000000 PRECEDING
                             AND CURRENT ROW),
            wo AS (PARTITION BY user_id ORDER BY tsm, event_id),
            wz AS (PARTITION BY user_id ORDER BY tsm
                   RANGE BETWEEN 86400000000 PRECEDING
                             AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           mean_3600s, min_3600s, max_3600s, cnt_3600s, lag_1,
           CASE WHEN zc >= 5 AND sd > 0
                THEN (value - mu) / sd END AS zscore
    FROM f ORDER BY event_id
""")
def q115_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling feature engineering (operators/features) FULL-VALUE
    gate: per-user trailing-hour mean/min/max/count (inclusive
    time-RANGE window, not row window), lag_1 (event_id tiebreak),
    and the trailing-day anomaly z-score (EXCLUSIVE window — the
    point under test never vouches for itself; NULL below 5 prior
    points or at zero std) over events. One hash exchange feeds
    every window spec (plan-pinned in test_features); the oracle
    reproduces every value with ANSI RANGE frames over the same
    integer micros."""
    from shotit_worker_spark.operators.features import (
        rolling_features,
        rolling_zscore,
    )

    ev = _events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosAsLong sessions
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    ev = ev.select("event_id", "user_id", "ts", "value")
    feats = rolling_features(
        ev, "user_id", "ts", "value", window_secs=(3600,),
        lags=(1,), tiebreak_col="event_id",
    )
    z = rolling_zscore(
        ev, "user_id", "ts", "value", window_sec=86400,
        min_points=5,
    ).select("event_id", "zscore")
    return (
        feats.join(z, on="event_id")
        .select(
            "event_id", "user_id", "value",
            "mean_3600s", "min_3600s", "max_3600s", "cnt_3600s",
            "lag_1", "zscore",
        )
        .orderBy("event_id")
    )


_PROFILE_COLS = ("l_discount", "l_extendedprice", "l_quantity",
                 "l_tax")


def _profile_oracle_sql() -> str:
    parts = [
        f"""SELECT '{c}' AS "column", count(*) AS n,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nulls,
               count(DISTINCT {c}) AS "distinct",
               CAST(min({c}) AS DOUBLE) AS min,
               CAST(max({c}) AS DOUBLE) AS max,
               avg(CAST({c} AS DOUBLE)) AS mean,
               stddev_samp(CAST({c} AS DOUBLE)) AS std
        FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ') ORDER BY "column"'
    )


@gate(_profile_oracle_sql)
def q116_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/profiling.profile_table) FULL-VALUE
    gate: null counts, EXACT cardinality, and min/max/mean/sample-std
    for the four lineitem numerics — every statistic from ONE
    aggregation scan (k columns → one agg, one Exchange, one row
    pivoted driver-side). The oracle recomputes each column's row
    with plain SQL aggregates."""
    from shotit_worker_spark.operators.profiling import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(
        li, list(_PROFILE_COLS), exact=True
    ).orderBy("column")


def _correlation_oracle_sql() -> str:
    cols = list(_PROFILE_COLS)
    parts = [
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
               corr(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)) AS corr
        FROM lineitem"""
        for i, a in enumerate(cols)
        for b in cols[i + 1:]
    ]
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ") ORDER BY col_a, col_b"
    )


@gate(_correlation_oracle_sql)
def q117_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation matrix (operators/profiling.correlation_matrix)
    FULL-VALUE gate: Pearson correlations of every unordered pair of
    the four lineitem numerics — all six pairs in ONE aggregation
    scan (k(k-1)/2 corr expressions, one Exchange), vs DuckDB's
    corr() pair by pair."""
    from shotit_worker_spark.operators.profiling import (
        correlation_matrix,
    )

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(li, list(_PROFILE_COLS)).orderBy(
        "col_a", "col_b"
    )


@gate("""
    WITH ref AS (
        SELECT value AS x FROM events
        WHERE event_id % 2 = 0 AND value IS NOT NULL
    ),
    cur AS (
        SELECT value * 1.3 AS x FROM events
        WHERE event_id % 2 = 1 AND value IS NOT NULL
    ),
    spine AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
    rc AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(
                   (x - 0.0) / 250.0 * 10) AS INT), 0), 9) AS bin,
               count(*) AS n
        FROM ref GROUP BY 1
    ),
    cc AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(
                   (x - 0.0) / 250.0 * 10) AS INT), 0), 9) AS bin,
               count(*) AS n
        FROM cur GROUP BY 1
    ),
    j AS (
        SELECT spine.bin,
               COALESCE(rc.n, 0) AS n_ref,
               COALESCE(cc.n, 0) AS n_cur
        FROM spine LEFT JOIN rc USING (bin)
                   LEFT JOIN cc USING (bin)
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
    SELECT bin, n_ref, n_cur,
           (n_ref + 0.5) / (tr + 5.0) AS p_ref,
           (n_cur + 0.5) / (tc + 5.0) AS p_cur,
           ((n_cur + 0.5) / (tc + 5.0) - (n_ref + 0.5) / (tr + 5.0))
               * ln(((n_cur + 0.5) / (tc + 5.0))
                    / ((n_ref + 0.5) / (tr + 5.0))) AS psi_term,
           ((n_ref + 0.5) / (tr + 5.0))
               * ln(((n_ref + 0.5) / (tr + 5.0))
                    / ((n_cur + 0.5) / (tc + 5.0))) AS kl_term
    FROM j, t ORDER BY bin
""")
def q118_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (operators/drift.drift_bins) FULL-VALUE
    gate: even-event values are the reference, odd-event values
    scaled x1.3 are the drifted current cohort; the per-bin table
    (counts, Laplace-smoothed probabilities, PSI and KL terms over
    10 fixed bins on [0, 250]) must match the oracle's arithmetic
    exactly — fixed edges and identical IEEE expressions on both
    sides make every term portable. Two aggregation scans + a
    10-row join; nothing else grows with the data."""
    from shotit_worker_spark.operators.drift import drift_bins

    ev = _events(spark, sf_dir).select("event_id", "value")
    ref = ev.where(F.col("event_id") % 2 == 0).select("value")
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.3).alias("value")
    )
    return drift_bins(
        ref, cur, "value", 0.0, 250.0, n_bins=10, alpha=0.5
    ).orderBy("bin")


@gate("""
    WITH s AS (
        SELECT
            count(CASE WHEN l_returnflag = 'N'
                       THEN l_extendedprice END) AS n_c,
            count(CASE WHEN l_returnflag = 'R'
                       THEN l_extendedprice END) AS n_t,
            avg(CASE WHEN l_returnflag = 'N'
                     THEN l_extendedprice END) AS mean_c,
            avg(CASE WHEN l_returnflag = 'R'
                     THEN l_extendedprice END) AS mean_t,
            var_samp(CASE WHEN l_returnflag = 'N'
                          THEN l_extendedprice END) AS var_c,
            var_samp(CASE WHEN l_returnflag = 'R'
                          THEN l_extendedprice END) AS var_t
        FROM lineitem
    )
    SELECT n_c, n_t, mean_c, mean_t,
           mean_t - mean_c AS diff,
           sqrt(var_c / n_c + var_t / n_t) AS se,
           CASE WHEN sqrt(var_c / n_c + var_t / n_t) > 0
                THEN (mean_t - mean_c)
                     / sqrt(var_c / n_c + var_t / n_t) END AS z
    FROM s
""")
def q119_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample contrast (operators/stats.ab_test) FULL-VALUE
    gate: Welch's z of l_extendedprice between the N and R return
    flags — counts, means, difference, unpooled standard error, and
    z in ONE conditional-aggregate scan (no split, no join). The
    raw variances stay internal (at ~9e8 magnitude the driver's
    %.4f fixed-point canon would amplify benign last-ulp engine
    differences); every exported column is exact at the compare."""
    from shotit_worker_spark.operators.stats import ab_test

    li = _t(spark, sf_dir, "lineitem")
    return ab_test(
        li, "l_returnflag", "l_extendedprice", "N", "R"
    ).select("n_c", "n_t", "mean_c", "mean_t", "diff", "se", "z")


@gate("""
    WITH j AS (
        SELECT l_returnflag AS x, l_linestatus AS y,
               count(*) AS nxy
        FROM lineitem
        WHERE l_returnflag IS NOT NULL
          AND l_linestatus IS NOT NULL
        GROUP BY 1, 2
    ),
    t AS (SELECT CAST(sum(nxy) AS DOUBLE) AS n FROM j),
    mx AS (SELECT x, CAST(sum(nxy) AS DOUBLE) AS nx FROM j GROUP BY 1),
    my AS (SELECT y, CAST(sum(nxy) AS DOUBLE) AS ny FROM j GROUP BY 1)
    SELECT
        sum((nxy / n) * ln(nxy * n / (nx * ny))) AS mi,
        -sum((nxy / n) * ln(nx / n)) AS h_x,
        -sum((nxy / n) * ln(ny / n)) AS h_y,
        CAST(count(*) AS BIGINT) AS n_cells,
        CAST(sum(nxy) AS BIGINT) AS n
    FROM j JOIN mx USING (x) JOIN my USING (y), t
""")
def q120_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (operators/stats.mutual_information)
    FULL-VALUE gate: natural-log MI and marginal entropies between
    l_returnflag and l_linestatus — one data-scale shuffle (the
    joint groupBy), marginals via window sums over the bounded
    contingency table. The oracle rebuilds the same quantities from
    the joint counts in plain SQL."""
    from shotit_worker_spark.operators.stats import (
        mutual_information,
    )

    li = _t(spark, sf_dir, "lineitem")
    return mutual_information(li, "l_returnflag", "l_linestatus")


# q100: FULL-VALUE MERGE/CDC — arg_max compaction + anti-join
# + union rebuilds the merged table relationally
@gate("""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    log AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS o_totalprice,
               'U' AS o_orderstatus, 1 AS seq, 'upsert' AS op
        FROM base WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
               2, 'delete'
        FROM base WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey,
               o_totalprice + 2000.0, 'V', 3, 'upsert'
        FROM base WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT -o_orderkey - 1, o_custkey, 42.0, 'N', 1, 'upsert'
        FROM base WHERE o_orderkey % 11 = 0
    ),
    last AS (
        SELECT o_orderkey,
               arg_max(op, seq) AS op,
               arg_max(o_custkey, seq) AS o_custkey,
               arg_max(o_totalprice, seq) AS o_totalprice,
               arg_max(o_orderstatus, seq) AS o_orderstatus
        FROM log GROUP BY o_orderkey
    )
    SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus
    FROM base b
    WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM last)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM last WHERE op = 'upsert'
    ORDER BY o_orderkey
""")
def q100_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/CDC (plans/merge.apply_cdc -> merge_upsert) FULL-VALUE
    gate: a parquet base table (the o_orderkey%7 slice of orders)
    receives a CDC log with upsert-then-delete, upsert-then-upsert,
    lone-upsert and brand-new-key rows (seq 1..3); the log compacts
    to each key's last operation (max_by) and merges (replaced /
    deleted / inserted / untouched). The oracle rebuilds the final
    table relationally: arg_max compaction + anti-join + union. The
    gate re-derives everything from orders, so it is idempotent per
    call (fresh private dir each time; the previous call's dir is
    removed to keep /tmp bounded)."""

    from shotit_worker_spark.plans.merge import apply_cdc

    base = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderstatus")
    )
    work_dir = _fresh_dir("q100merge_")
    path = os.path.join(work_dir, "base")
    base.write.mode("overwrite").parquet(path)
    k = F.col("o_orderkey")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    up1 = base.where(k % 3 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.lit(1).alias("seq"), F.lit("upsert").alias("op"),
    )
    del2 = base.where(k % 6 == 0).select(
        *cols, F.lit(2).alias("seq"), F.lit("delete").alias("op")
    )
    up3 = base.where(k % 5 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 2000.0).alias("o_totalprice"),
        F.lit("V").alias("o_orderstatus"),
        F.lit(3).alias("seq"), F.lit("upsert").alias("op"),
    )
    ins = base.where(k % 11 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"), "o_custkey",
        F.lit(42.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1).alias("seq"), F.lit("upsert").alias("op"),
    )
    log = up1.unionByName(del2).unionByName(up3).unionByName(ins)
    apply_cdc(spark, path, log, ["o_orderkey"], seq_col="seq",
              op_col="op")
    return spark.read.parquet(path).orderBy("o_orderkey")
