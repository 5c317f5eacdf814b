"""Sketch gates: HLL, Bloom, Misra-Gries heavy hitters, quantile and
theta sketches, count-min, stratified sampling and their grouped
(per-key) forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import _t, _TOK, gate


@gate("""
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS exact_parts,
                   true AS within_bound
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """)
def q15_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) under a driver-enforced error gate.

    DuckDB's sketch differs from Spark's HLL++, so the approximate value
    itself can't be the oracle — but the EXACT distinct count can, and
    the HLL error bound is checkable as a boolean: per group we emit the
    exact count (SQL oracle computes the same) plus
    `within_bound = |approx - exact| / exact <= 3 * rsd` (rsd=0.05, so
    the gate allows 3 standard deviations — HLL++ at this cardinality is
    empirically within ~2%). Any sketch regression flips a row to false
    → driver-red. This replaces the r3 rows-only check (VERDICT r3 #1)."""
    li = _t(spark, sf_dir, "lineitem")
    approx = F.approx_count_distinct("l_partkey", 0.05)
    exact = F.count_distinct("l_partkey")
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_parts"),
            (
                F.abs(approx.cast("double") - exact.cast("double"))
                / exact.cast("double")
                <= 0.15
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag")
    )


# q79: the bloom is a pruning step; verify=True makes the
# cascade exactly the anti-join this SQL states
@gate("""
            WITH d AS (SELECT doc_id, md5(text) AS digest
                       FROM documents),
            m AS (SELECT DISTINCT digest FROM d WHERE doc_id % 3 = 0)
            SELECT doc_id, digest FROM d
            WHERE digest NOT IN (SELECT digest FROM m)
            ORDER BY doc_id
        """)
def q79_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom→verify incremental dedup (operators/bloom): documents
    whose md5 digest is NOT in the doc_id%3==0 manifest. The bloom is
    a pure pruning step under verify=True, so the result EXACTLY
    equals the anti-join the oracle states — probing is cogrouped
    per bucket (no driver state, no per-row bitmap replication) and
    all hashing is JVM-side xxhash64."""
    from shotit_worker_spark.operators import bloom as BL

    docs = _t(spark, sf_dir, "documents").withColumn(
        "digest", F.md5("text")
    )
    manifest = docs.filter(F.col("doc_id") % 3 == 0).select("digest")
    new = docs.select("doc_id", "digest")
    out = BL.bloom_dedup_incremental(
        new, manifest, key_col="digest", fpp=0.01, n_buckets=8
    )
    return out.select("doc_id", "digest").orderBy("doc_id")


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """One exploded `tok` column per document token — the ENGINE
    side of TOKENIZE_SQL; q81 and q87 must tokenize identically to
    their oracles, so the expression lives once."""
    return docs.select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok")
    )


# q81: exact counts; captured=TRUE is the Misra-Gries
# guarantee (every top-15 count > n/(k+1) on this corpus)
@gate(f"""
            WITH toks AS (
                SELECT unnest({_TOK}) AS term
                FROM documents
            )
            SELECT term, CAST(count(*) AS BIGINT) AS exact_count,
                   TRUE AS captured
            FROM toks
            GROUP BY term
            ORDER BY exact_count DESC, term
            LIMIT 15
        """)
def q81_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/sketches) FULL-VALUE
    gate: the exact top-15 document tokens joined against the k=200
    sketch candidates. Every top-15 count exceeds n/(k+1) by >6x on
    this corpus, so the mergeable-summary guarantee (Agarwal et al.,
    PODS'12) forces captured = true — which the oracle states from
    EXACT SQL counts without running the sketch. The sketch itself
    shuffles only <= partitions x k summary rows, never the tokens
    (the 100-TB story; q41 is the exact-shuffle counterpart)."""
    from shotit_worker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    return SK.heavy_hitters_with_exact(
        _doc_tokens(docs), "tok", k=200, top=15
    )


# q82: certified-bound quantile sketch — within_bound is the
# deterministic compactor invariant (|est_rank - true_rank|
# <= tracked err_bound), bound_tight the summary-stayed-small
# check; both hold at every SF by construction
@gate("""
            SELECT * FROM (VALUES
                (0.01, TRUE, TRUE), (0.25, TRUE, TRUE),
                (0.5, TRUE, TRUE), (0.75, TRUE, TRUE),
                (0.99, TRUE, TRUE)
            ) AS t(pct, within_bound, bound_tight) ORDER BY pct
        """)
def q82_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compactor quantile sketch (operators/quantiles) gate: for
    five percentiles of l_extendedprice, the sketch's estimated rank
    is within its TRACKED err_bound of the true rank (computed by
    one distributed count per percentile), and the bound itself
    stayed <= 5% of n. The bound is deterministic — every compaction
    at level h adds exactly 2^h — so the oracle states TRUE from the
    invariant without running the sketch. Raw values are never
    shuffled: one mapInPandas pass builds per-partition summaries,
    the bounded summaries merge in a single task (the 100-TB story;
    q27 is the exact-percentile counterpart)."""
    from shotit_worker_spark.operators import quantiles as Q

    li = _t(spark, sf_dir, "lineitem")
    return Q.quantiles_with_exact(
        li, "l_extendedprice", ps=(0.01, 0.25, 0.5, 0.75, 0.99), k=256
    )


# q83: theta-sketch set algebra — ok is the 6-standard-error
# envelope around the exact distinct counts, reproducible on
# this corpus because xxhash64 is a fixed function
@gate("""
            SELECT * FROM (VALUES
                ('1_base', TRUE), ('2_union', TRUE),
                ('3_intersect', TRUE), ('4_a_not_b', TRUE)
            ) AS t(set_op, ok) ORDER BY set_op
        """)
def q83_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta distinct sketch (operators/sketches) gate: distinct
    customer keys vs distinct ordering-customer keys — base, union,
    intersection, and difference (customers who never ordered,
    nonempty by TPC-H construction) estimated from two k=1024
    sketches, each within 6 standard errors of the EXACT count
    (xxhash64 is a fixed function, so the estimates are reproducible
    on this corpus and the oracle states TRUE). HLL (q15) answers
    only the single-set question; the theta sketch's kept hashes are
    a uniform sample below theta, so set algebra composes — and only
    <= partitions x k summary hashes ever shuffle."""
    from shotit_worker_spark.operators import sketches as SK

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return SK.theta_set_ops_with_exact(
        cust, "c_custkey", orders, "o_custkey", k=1024
    )


# q86: FULL-VALUE stratified sample — md5 ranking is
# bit-portable, so the oracle reproduces the exact row set
@gate("""
            WITH ranked AS (
                SELECT o_orderpriority, o_orderkey,
                       row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY md5('q86' || CAST(o_orderkey AS VARCHAR)),
                                    CAST(o_orderkey AS VARCHAR)
                       ) AS rk
                FROM orders
            )
            SELECT o_orderpriority, o_orderkey FROM ranked
            WHERE rk <= 12
            ORDER BY o_orderpriority, o_orderkey
        """)
def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-allocation stratified sampling (operators/mixing) FULL-
    VALUE gate: the 12 orders per o_orderpriority stratum whose
    md5-ranked key is smallest — Spark's sampleBy draws Bernoulli
    counts; eval sets need EXACT counts and engine-portable
    membership, which the md5 ranking gives (the q46 portability
    contract: DuckDB recomputes the identical row SET, not just
    counts). One window rank per stratum = one hash-partition
    shuffle."""
    from shotit_worker_spark.operators.mixing import stratified_sample

    orders = _t(spark, sf_dir, "orders")
    return (
        stratified_sample(
            orders, "o_orderpriority", 12, key_col="o_orderkey",
            seed="q86",
        )
        .select("o_orderpriority", "o_orderkey")
        .orderBy("o_orderpriority", "o_orderkey")
    )


# q87: exact top-15 counts; never_under is the deterministic
# Count-Min guarantee, bound_ok the 2N/width envelope
@gate(f"""
            WITH toks AS (
                SELECT unnest({_TOK}) AS term
                FROM documents
            )
            SELECT term, CAST(count(*) AS BIGINT) AS exact_count,
                   TRUE AS never_under, TRUE AS bound_ok
            FROM toks
            GROUP BY term
            ORDER BY exact_count DESC, term
            LIMIT 15
        """)
def q87_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (operators/sketches) gate: point-frequency
    estimates for the exact top-15 document tokens from a 4096x5
    counter table. never_under is the DETERMINISTIC Count-Min
    guarantee (min over rows of an always-over-counting counter);
    bound_ok the 2N/width envelope, which holds on this corpus with
    depth-5 margin. The build is PURE Catalyst: d hash pairs per
    token into a group-by whose map-side partial agg bounds the
    shuffle at partitions x (width x depth) counter rows — terms
    never shuffle (q41 is the exact-shuffle counterpart, q81 the
    top-k sketch)."""
    from shotit_worker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    return SK.cm_with_exact(
        _doc_tokens(docs), "tok", width=4096, depth=5, top=15
    )


# q103: FULL-VALUE per-key Misra-Gries in the provably-exact
# regime (k > per-key vocabulary => zero evictions)
@gate(f"""
            WITH toks AS (
                SELECT lang,
                       unnest({_TOK}) AS term
                FROM documents
            )
            SELECT lang AS key, term,
                   CAST(count(*) AS BIGINT) AS est_count
            FROM toks GROUP BY 1, 2
            ORDER BY key, term
        """)
def q103_grouped_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Misra-Gries (operators/sketches.heavy_hitters_by_key)
    FULL-VALUE gate: per-language token counts over documents with
    k=64 > the per-language vocabulary, where the mergeable-summary
    algebra (per-partition partials, summary-only shuffle, per-key
    PODS'12 merge) provably performs NO evictions and therefore
    returns every count EXACT — which the oracle states from plain
    SQL group-by counts. The plan shuffles only the bounded partial
    summaries, never the exploded tokens."""
    from shotit_worker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    return SK.heavy_hitters_by_key(toks, "lang", "tok", k=64).orderBy(
        "key", "term"
    )


# q107: FULL-VALUE per-key theta distinct in the provably-
# exact regime (value domain bounded below k by construction)
@gate("""
    SELECT o_orderpriority AS key,
           CAST(count(DISTINCT o_custkey % 800) AS DOUBLE)
               AS est_distinct,
           count(DISTINCT o_custkey % 800) AS retained,
           TRUE AS is_exact
    FROM orders
    GROUP BY 1
    ORDER BY key
""")
def q107_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key KMV/theta distinct counts (operators/sketches.
    distinct_by_key) FULL-VALUE gate: distinct customer buckets per
    order priority. The counted value is bounded by construction
    (custkey % 800 -> <= 800 distinct per key at EVERY sf), so
    k=1024 keeps every key in the PROVABLY-exact regime: the k-min
    set never overflows, the sketch holds every distinct hash, and
    the estimate IS the exact count — which the oracle states from
    plain SQL count(DISTINCT). The two-phase plan shuffles only
    bounded k-min partials, never the rows."""
    from shotit_worker_spark.operators.sketches import distinct_by_key

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", (F.col("o_custkey") % 800).alias("cust_bucket")
    )
    return (
        distinct_by_key(orders, "o_orderpriority", "cust_bucket",
                        k=1024)
        .orderBy("key")
    )


def _grouped_quantiles_oracle_sql() -> str:
    rows = ", ".join(
        f"('{k}', CAST({p!r} AS DOUBLE), TRUE, TRUE)"
        for k in ("A", "N", "R")
        for p in (0.25, 0.5, 0.9)
    )
    return (
        f"SELECT * FROM (VALUES {rows}) "
        "AS t(key, pct, within_bound, bound_tight) "
        "ORDER BY key, pct"
    )


# q108: per-key compactor-quantile invariants over the known
# (returnflag, percentile) grid — TRUE by the tracked bound
@gate(_grouped_quantiles_oracle_sql)
def q108_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key certified-bound quantiles (operators/sketches.
    quantiles_by_key) gate, the grouped form of q82: for three
    percentiles of l_extendedprice per l_returnflag, each key's
    sketch estimate carries its OWN tracked err_bound and the true
    rank (one distributed conditional agg per key set, computed via
    a single join) must sit within it; the bound itself stays <= 5%
    of the key's n. Booleans are TRUE by the compactor invariant at
    every sf, so the oracle is a constants table over the known
    (key, p) grid."""
    from shotit_worker_spark.operators.sketches import quantiles_by_key

    li = _t(spark, sf_dir, "lineitem")
    ps = (0.25, 0.5, 0.9)
    est = quantiles_by_key(
        li, "l_returnflag", "l_extendedprice", ps=ps, k=256
    )
    vals = li.select(
        F.col("l_returnflag").alias("key"),
        F.col("l_extendedprice").cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())
    # one join + one agg: true rank of every estimated value in its
    # own key group (count of values <= v, the est_rank convention)
    ranks = (
        vals.join(
            F.broadcast(est.select("key", "p", "value")), on="key"
        )
        .groupBy("key", "p")
        .agg(F.sum((F.col("__v") <= F.col("value")).cast("long"))
             .alias("true_rank"))
    )
    out = (
        est.join(ranks, on=["key", "p"])
        .select(
            "key",
            F.col("p").alias("pct"),
            (F.abs(F.col("est_rank") - F.col("true_rank"))
             <= F.col("err_bound")).alias("within_bound"),
            (F.col("err_bound") <= F.col("n") * 0.05)
            .alias("bound_tight"),
        )
        .orderBy("key", "pct")
    )
    return out
