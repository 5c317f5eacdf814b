"""Mergeable sketches: frequency (Misra-Gries heavy hitters) and
distinct-count with set operations (KMV/theta).

Exact top-k terms over 100 TB needs a full shuffle of every distinct
term (the q41 shape — fine at moderate cardinality, hostile when the
vocabulary is billions of n-grams). The Misra-Gries summary answers
"which values occur more than n/(k+1) times" with a BOUNDED k-row
state per partition and a mergeable combine (Agarwal, Cormode,
Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012):

- every value with true frequency > n/(k+1) is GUARANTEED present in
  the merged summary (zero false negatives above the threshold);
- each reported estimate undercounts by at most n/(k+1).

Spark-first shape: one ``mapInPandas`` pass builds a k-entry MG
summary per partition (dict updates over Arrow batches — no per-row
Python function calls against Spark, no shuffle of raw terms); the
``<= partitions x k`` summary rows then combine in a single final
task: exact per-term sums over the summaries followed by one more MG
trim — the PODS'12 merge, which preserves both guarantees. Total
shuffled data is the SUMMARIES, never the corpus.

The candidates are deterministic for a given partitioning and, above
the n/(k+1) threshold, deterministic regardless of partitioning —
which is what the driver gate checks (exact-count differential).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..smallframe import arrow_rows as _arrow_rows

__all__ = [
    "heavy_hitters",
    "heavy_hitters_with_exact",
    "ThetaSketch",
    "theta_sketch",
    "theta_to_local",
    "theta_set_ops_with_exact",
    "cm_build",
    "cm_estimate",
    "cm_with_exact",
    "heavy_hitters_by_key",
    "distinct_by_key",
    "quantiles_by_key",
]


def _mg_add(counts: dict, term, c: int, k: int) -> None:
    """One Misra-Gries update with weight ``c``: track up to k
    entries; overflow decrements every entry by the smallest
    would-be-evicted weight."""
    if term in counts:
        counts[term] += c
        return
    if len(counts) < k:
        counts[term] = c
        return
    # decrement step: reduce all by min(c, current minimum) repeatedly
    # — the standard weighted generalization collapses to one pass:
    m = min(counts.values())
    d = min(c, m)
    if c > d:
        # the newcomer survives with the remainder; evict zeros
        for t in [t for t, v in counts.items() if v == d]:
            del counts[t]
        for t in list(counts):
            counts[t] -= d
        counts[term] = c - d
    else:
        for t in list(counts):
            counts[t] -= c
        for t in [t for t, v in counts.items() if v <= 0]:
            del counts[t]


def _mg_trim(counts: dict, k: int) -> dict:
    """Trim a combined summary back to k entries (the PODS'12 merge
    step: subtract the (k+1)-th largest weight, drop <= 0)."""
    if len(counts) <= k:
        return counts
    cut = sorted(counts.values(), reverse=True)[k]
    return {t: v - cut for t, v in counts.items() if v - cut > 0}


def heavy_hitters(df: DataFrame, col, k: int = 100) -> DataFrame:
    """(term, est_count) Misra-Gries candidates over ``col`` (a
    column name or Column, e.g. an exploded token column): at most k
    rows; every value with true frequency > n/(k+1) is present and
    every estimate undercounts by at most n/(k+1).

    One map-side pass + one bounded-size final merge task — the raw
    terms are never shuffled."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = col if isinstance(col, Column) else F.col(col)
    terms = df.select(c.alias("__term"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for b in batches:
            # vectorized pre-aggregation per Arrow batch, then one
            # WEIGHTED MG update per unique term (equivalent to c
            # unit updates, far fewer Python iterations)
            vc = b["__term"].dropna().value_counts()
            for t, c in vc.items():
                _mg_add(counts, t, int(c), k)
        if counts:
            yield pd.DataFrame(
                {"term": list(counts), "cnt": list(counts.values())}
            )

    summaries = terms.mapInPandas(partial, schema="term string, cnt long")

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for b in batches:
            for t, v in zip(b["term"], b["cnt"]):
                counts[t] = counts.get(t, 0) + int(v)
        counts = _mg_trim(counts, k)
        if counts:
            yield pd.DataFrame(
                {"term": list(counts), "est_count": list(counts.values())}
            )

    return (
        summaries.coalesce(1)
        .mapInPandas(merge, schema="term string, est_count long")
    )


def heavy_hitters_with_exact(
    df: DataFrame, col, k: int = 100, top: int = 20
) -> DataFrame:
    """Verification form (the driver gate): the EXACT top ``top``
    terms (one aggregation) joined against the sketch candidates —
    (term, exact_count, captured). For any term whose exact count
    exceeds n/(k+1), the MG guarantee forces captured = true, which
    an exact-SQL oracle can state without running the sketch."""
    c = col if isinstance(col, Column) else F.col(col)
    exact = (
        df.select(c.alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "term")
        .limit(top)
    )
    cand = heavy_hitters(df, col, k).select(
        "term", F.lit(True).alias("captured")
    )
    return (
        exact.join(F.broadcast(cand), on="term", how="left")
        .select(
            "term",
            "exact_count",
            F.coalesce("captured", F.lit(False)).alias("captured"),
        )
        .orderBy(F.desc("exact_count"), "term")
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch: distinct counts with set operations
# ---------------------------------------------------------------------------
#
# Exact COUNT(DISTINCT x) shuffles every distinct value (or its hash);
# Spark's approx_count_distinct (HLL) answers the single-set question
# but cannot intersect or subtract two sketches. The KMV ("k minimum
# values") theta sketch (Beyer et al., SIGMOD 2007; the theta-union /
# intersection framework of Dasgupta et al.) keeps the k smallest
# distinct 64-bit hashes; theta = (k-th smallest) / 2^64 is the
# sampling rate, and |kept| / theta estimates the distinct count with
# RSE ~ 1/sqrt(k - 1). Because the kept set IS a uniform hash sample
# below theta, unions, intersections and differences compose by plain
# set algebra below min(theta_a, theta_b) — the operation HLL lacks.
#
# Spark-first shape: hashing is JVM-side xxhash64; one mapInPandas
# pass keeps the k smallest distinct hashes per partition (numpy
# unique + partial sort over Arrow batches), and the <= partitions x k
# survivors merge in one bounded final task. Raw values never shuffle.
# The per-partition k-min of a k-min union is exactly the global
# k-min, so the two-stage build equals a single-machine build on the
# same hash stream (pinned in tests).

_U64 = 1 << 64
_S64 = 1 << 63


class ThetaSketch:
    """k smallest distinct unsigned-order xxhash64 values. ``hashes``
    is a sorted numpy uint64 array; ``theta`` the exclusive upper
    bound (2^64 when the sketch never filled, i.e. the set is exact).
    """

    def __init__(self, k: int, hashes=None, theta: int = _U64):
        import numpy as np

        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.theta = int(theta)
        h = np.asarray(
            [] if hashes is None else hashes, dtype=np.uint64
        )
        h = np.unique(h)  # sorted + distinct
        h = h[h < np.uint64(self.theta)] if self.theta < _U64 else h
        if len(h) > self.k:
            h = h[: self.k]
            self.theta = int(h[-1])  # exclusive: keep < kth... see below
        self.hashes = h
        self._trim()

    def _trim(self) -> None:
        """Canonical form: if we hold k values, theta is the k-th
        smallest and the kept set is everything strictly BELOW it
        (k-1 values) — the standard KMV estimator geometry."""
        import numpy as np

        if len(self.hashes) >= self.k:
            self.theta = int(self.hashes[self.k - 1])
            self.hashes = self.hashes[: self.k - 1]
        if self.theta < _U64:
            self.hashes = self.hashes[
                self.hashes < np.uint64(self.theta)
            ]

    @property
    def is_exact(self) -> bool:
        return self.theta == _U64

    def estimate(self) -> float:
        if self.is_exact:
            return float(len(self.hashes))
        return len(self.hashes) * _U64 / self.theta

    def rse(self) -> float:
        """Relative standard error of ``estimate`` (0 when exact)."""
        return 0.0 if self.is_exact else 1.0 / ((self.k - 1) ** 0.5)

    def std_est(self) -> float:
        """Standard error of ``estimate`` in ABSOLUTE terms, valid
        for derived (union/intersect/difference) sketches too: the
        kept set is a theta-rate uniform sample of the true result,
        so est = n_kept / theta has std ~ sqrt(n_kept) / theta.
        0 when exact (theta = 1): the estimate IS the count."""
        if self.is_exact:
            return 0.0
        return (max(len(self.hashes), 1) ** 0.5) * _U64 / self.theta

    # -- set algebra ----------------------------------------------------

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        import numpy as np

        k = min(self.k, other.k)
        theta = min(self.theta, other.theta)
        merged = np.union1d(self.hashes, other.hashes)
        return ThetaSketch(k, merged, theta)

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        import numpy as np

        k = min(self.k, other.k)
        theta = min(self.theta, other.theta)
        both = np.intersect1d(self.hashes, other.hashes)
        both = both[both < np.uint64(theta)] if theta < _U64 else both
        sk = ThetaSketch(k, both, theta)
        # an intersection below theta is NOT re-trimmed to k-1 — the
        # survivors are already a theta-rate sample of the true
        # intersection; ThetaSketch.__init__ only trims when over k
        return sk

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        import numpy as np

        k = min(self.k, other.k)
        theta = min(self.theta, other.theta)
        mine = self.hashes
        mine = mine[mine < np.uint64(theta)] if theta < _U64 else mine
        keep = np.setdiff1d(mine, other.hashes)
        return ThetaSketch(k, keep, theta)


def _unsigned_order(col: Column) -> Column:
    """xxhash64 is signed; adding 2^63 (mod 2^64) makes the SIGNED
    ordering of the result equal the UNSIGNED ordering of the hash,
    so numpy uint64 comparisons and Spark bigint comparisons agree.
    Done here as: u = h XOR 0x8000000000000000 stored back in int64,
    reinterpreted as uint64 python-side."""
    return col.bitwiseXOR(F.lit(-0x8000000000000000))


def theta_sketch(df: DataFrame, col, k: int = 1024) -> DataFrame:
    """Merged KMV summary of ``col`` as rows (h bigint): the k
    smallest distinct sign-flipped xxhash64 values (signed order ==
    unsigned hash order). Hashing is JVM-side; per-partition k-min
    states are bounded; only summaries shuffle."""
    import numpy as np

    if k < 16:
        raise ValueError("k must be >= 16")
    c = col if isinstance(col, Column) else F.col(col)
    hashed = df.select(
        _unsigned_order(F.xxhash64(c)).alias("__h")
    ).where(c.isNotNull())

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = np.empty(0, dtype=np.int64)
        for b in batches:
            a = b["__h"].to_numpy(dtype=np.int64)
            best = np.unique(np.concatenate([best, a]))
            if len(best) > k:
                best = best[:k]
        if len(best):
            yield pd.DataFrame({"h": best})

    summaries = hashed.mapInPandas(partial, schema="h long")

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = np.empty(0, dtype=np.int64)
        for b in batches:
            best = np.unique(
                np.concatenate([best, b["h"].to_numpy(dtype=np.int64)])
            )
            if len(best) > k:
                best = best[:k]
        if len(best):
            yield pd.DataFrame({"h": best})

    return summaries.coalesce(1).mapInPandas(merge, schema="h long")


def theta_to_local(summary: DataFrame, k: int = 1024) -> ThetaSketch:
    """Rebuild a :class:`ThetaSketch` from summary rows (bounded
    collect — a summary holds at most k rows by construction; a hard
    guard refuses anything larger)."""
    import numpy as np

    rows = summary.limit(k + 2).collect()
    if len(rows) > k + 1:
        raise ValueError(
            f"theta summary exceeds k={k} rows — this is raw data, "
            "not a summary; build it with theta_sketch()"
        )
    signed = np.asarray([r["h"] for r in rows], dtype=np.int64)
    unsigned = (signed.astype(np.uint64)) ^ np.uint64(_S64)
    return ThetaSketch(k, unsigned)


def theta_set_ops_with_exact(
    a: DataFrame,
    a_col,
    b: DataFrame,
    b_col,
    k: int = 1024,
    tol_rses: float = 6.0,
) -> DataFrame:
    """Verification form (the driver gate): sketch the two columns,
    compose |A|, |A ∪ B|, |A ∩ B|, |A \\ B| estimates, and join each
    against its EXACT distinct count (plain aggregations) —
    (set_op, ok) where ok = |est - exact| <= tol_rses x std_est of
    THAT derived sketch (sqrt(n_kept)/theta — the right scale for
    difference/intersection results, whose error is driven by the
    base sets' sampling rate, not the result's size; in the exact
    regime std_est = 0 and the check demands equality, which the
    exact-regime estimator satisfies). TRUE deterministically for
    this corpus: xxhash64 is a fixed function, so the estimates are
    reproducible, and the tolerance is generous (6 standard
    errors)."""
    spark = a.sparkSession
    ca = a_col if isinstance(a_col, Column) else F.col(a_col)
    cb = b_col if isinstance(b_col, Column) else F.col(b_col)
    sa = theta_to_local(theta_sketch(a, ca, k), k)
    sb = theta_to_local(theta_sketch(b, cb, k), k)
    derived = {
        "1_base": sa,
        "2_union": sa.union(sb),
        "3_intersect": sa.intersect(sb),
        "4_a_not_b": sa.a_not_b(sb),
    }
    ests = {op: s.estimate() for op, s in derived.items()}
    sigmas = {op: s.std_est() for op, s in derived.items()}
    av = a.select(ca.alias("v")).where(ca.isNotNull()).distinct()
    bv = b.select(cb.alias("v")).where(cb.isNotNull()).distinct()

    def _count_as(df: DataFrame, op: str) -> DataFrame:
        # scalar agg: exactly one row even when the set is empty
        return df.agg(F.count(F.lit(1)).alias("exact")).select(
            F.lit(op).alias("set_op"), "exact"
        )

    exacts = (
        _count_as(av, "1_base")
        .unionByName(_count_as(av.unionByName(bv).distinct(), "2_union"))
        .unionByName(_count_as(av.intersect(bv), "3_intersect"))
        .unionByName(_count_as(av.subtract(bv), "4_a_not_b"))
    )
    est_df = _arrow_rows(spark, 
        [
            (op, float(ests[op]), float(sigmas[op]))
            for op in ests
        ],
        "set_op string, est double, sigma double",
    )
    return (
        exacts.join(F.broadcast(est_df), on="set_op")
        .select(
            "set_op",
            (
                F.abs(F.col("est") - F.col("exact"))
                <= F.lit(tol_rses) * F.col("sigma")
            ).alias("ok"),
        )
        .orderBy("set_op")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: point frequency queries over unbounded vocabularies
# ---------------------------------------------------------------------------
#
# Misra-Gries answers "which terms are frequent"; Count-Min (Cormode &
# Muthukrishnan, 2005) answers "how often does THIS term occur" for
# ANY term from d x w counters: d hash rows, each counting into w
# buckets; the estimate is the MIN over rows, never an undercount
# (deterministically), and overcounts by more than 2N/w with
# probability < (1/2)^d. Element-wise sums merge sketches exactly.
#
# Spark-first shape: the whole build is PURE Catalyst — explode d
# (row, xxhash64(term, row_seed) % w) pairs per term, then one
# group-by count. Partial aggregation collapses each partition to at
# most d x w counter rows before the exchange, so the shuffle carries
# bounded summaries (never the terms), exactly like the mapInPandas
# sketches above but with zero Python. Point queries are a broadcast
# join of the query terms' hash pairs against the counter table.

_CM_SEED = 0x5EED_C0DE


def cm_build(
    df: DataFrame, col, width: int = 2048, depth: int = 5
) -> DataFrame:
    """(row, idx, cnt, w, d) Count-Min counter table over ``col``
    (NULLs skipped). At most width x depth rows; shuffle is
    map-side-combined counter partials. The (w, d) parameters ride
    on the table itself so queries can NEVER hash against the wrong
    geometry (a silent mismatch would undercount — the one failure
    the structure promises not to have)."""
    if width < 16 or depth < 1:
        raise ValueError("need width >= 16 and depth >= 1")
    c = col if isinstance(col, Column) else F.col(col)
    pairs = df.select(c.alias("__term")).where(
        F.col("__term").isNotNull()
    ).select(
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("__term"), F.lit(_CM_SEED + r)),
                        F.lit(width),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("row", "idx")
    )
    return (
        pairs.groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "row", "idx", "cnt",
            F.lit(width).alias("w"), F.lit(depth).alias("d"),
        )
    )


def cm_estimate(cm: DataFrame, terms: DataFrame, col) -> DataFrame:
    """(term, est) point estimates for every row of ``terms``: the
    same d hash pairs, broadcast-joined against the counter table,
    min over rows. A missing counter row means 0 hits in that bucket
    -> the estimate is 0 (the true count must be 0 too). The hash
    geometry (width, depth) is read off the counter table itself —
    see cm_build."""
    geo = cm.select("w", "d").first()
    if geo is None:
        raise ValueError("empty Count-Min table")
    width, depth = int(geo["w"]), int(geo["d"])
    c = col if isinstance(col, Column) else F.col(col)
    q = terms.select(c.alias("term")).where(
        F.col("term").isNotNull()
    ).distinct().select(
        "term",
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("term"), F.lit(_CM_SEED + r)),
                        F.lit(width),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("row", "idx"),
    )
    joined = q.join(
        F.broadcast(cm.select("row", "idx", "cnt")),
        on=["row", "idx"],
        how="left",
    )
    return (
        joined.groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def cm_with_exact(
    df: DataFrame, col, width: int = 2048, depth: int = 5,
    top: int = 15,
) -> DataFrame:
    """Verification form (the driver-gate shape): the exact top
    ``top`` terms with (term, exact_count, never_under, bound_ok):
    never_under = est >= exact (the DETERMINISTIC Count-Min
    guarantee), bound_ok = est <= exact + 2 * N / width (holds on
    this corpus with depth rows of margin)."""
    c = col if isinstance(col, Column) else F.col(col)
    vals = df.select(c.alias("term")).where(F.col("term").isNotNull())
    exact = (
        vals.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "term")
        .limit(top)
    )
    cm = cm_build(df, c, width, depth).persist()
    try:
        # N for free from the counter table: every token incremented
        # exactly `depth` counters — no third scan of the input
        n = cm.agg(F.sum("cnt")).collect()[0][0] / depth
        ests = cm_estimate(cm, exact, "term")
        out = (
            exact.join(F.broadcast(ests), on="term")
            .select(
                "term",
                "exact_count",
                (F.col("est") >= F.col("exact_count")).alias(
                    "never_under"
                ),
                (
                    F.col("est")
                    <= F.col("exact_count") + F.lit(2.0 * n / width)
                ).alias("bound_ok"),
            )
            .orderBy(F.desc("exact_count"), "term")
        )
        # <= `top` rows: materialize driver-side so the counter cache
        # can be released without later actions re-running the build
        rows = out.collect()
        return _arrow_rows(df.sparkSession, rows, out.schema)
    finally:
        cm.unpersist(blocking=False)


def heavy_hitters_by_key(
    df: DataFrame, key_col: str, col, k: int = 100
) -> DataFrame:
    """(key, term, est_count) Misra-Gries candidates PER KEY (the
    per-domain / per-language top-terms shape). TWO-PHASE mergeable
    summaries, like the global sketch: one mapInPandas pass folds
    each partition into a per-key k-entry MG summary (value_counts
    pre-aggregation per Arrow batch, weighted updates), then ONLY
    the bounded partials — <= k rows per (partition, key) — shuffle
    by key and merge per key (exact sums + one PODS'12 trim). A
    group at the merge is summary-sized (<= partitions x k rows), so
    a key holding half a 100-TB corpus never materializes as one
    pandas group; raw terms never shuffle at all. Per-partition
    state is O(k x distinct keys in the partition) — for key
    cardinalities beyond memory, repartition by key first so each
    partition sees few keys. Guarantees are the global sketch's, per
    key: no false negatives above n_key/(k+1), undercount <=
    n_key/(k+1)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = col if isinstance(col, Column) else F.col(col)
    base = df.select(
        F.col(key_col).alias("__key"), c.alias("__term")
    ).where(F.col("__term").isNotNull())
    key_type = df.schema[key_col].dataType.simpleString()

    # VECTORIZED partial: the per-(batch, key) value_counts walk pays
    # python-dict _mg_add per pair, which dominates at high key
    # cardinality (same pathology as distinct/quantiles_by_key —
    # SCALE_NOTES.md Round 9). Instead, raw (key, term) pairs
    # accumulate into bounded buffers; each fold factorizes once,
    # exact-sums via np.unique+bincount, and applies ONE vectorized
    # PODS'12 trim per key (subtract the (k+1)-th largest count,
    # drop non-positives). Periodic exact-sum + trim preserves the
    # MG bound: a trim of amount m discharges >= (k+1)*m input mass,
    # so cumulative decrements per key stay <= n_key/(k+1). After a
    # trim the accumulator holds <= k rows per key seen, so state is
    # bounded by max(trim_rows, keys_in_partition * k) as before.
    trim_rows = 4_000_000

    def _fold(kb: pd.Series, tb: pd.Series, cb):
        import numpy as np

        kc, ku = pd.factorize(kb, use_na_sentinel=False)
        tc, tu = pd.factorize(tb)
        comb = kc.astype(np.int64) * np.int64(len(tu)) + tc
        uc, inv = np.unique(comb, return_inverse=True)
        sums = np.bincount(inv, weights=cb).astype(np.int64)
        kcode = (uc // len(tu)).astype(np.int64)
        tcode = (uc % len(tu)).astype(np.int64)
        # per-key trim to <= k entries: sort each key's counts
        # descending, threshold = the (k+1)-th largest (0 if the key
        # holds <= k terms), subtract, keep strictly-positive
        order = np.lexsort((-sums, kcode))
        kk, ss, tt = kcode[order], sums[order], tcode[order]
        change = np.nonzero(np.diff(kk))[0] + 1
        starts = np.concatenate(([0], change))
        lens = np.diff(np.concatenate((starts, [len(kk)])))
        thr_seg = np.where(
            lens > k,
            ss[np.minimum(starts + k, max(len(ss) - 1, 0))],
            0,
        )
        cnew = ss - np.repeat(thr_seg, lens)
        keep = cnew > 0
        return (
            pd.Series(ku[kk[keep]]),
            pd.Series(tu[tt[keep]]),
            cnew[keep],
        )

    def partial(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        kacc: list = []
        tacc: list = []
        cacc: list = []
        nacc = 0
        for b in batches:
            kacc.append(b["__key"])
            tacc.append(b["__term"])
            cacc.append(np.ones(len(b), dtype=np.int64))
            nacc += len(b)
            if nacc > trim_rows:
                ks, ts, cs = _fold(
                    pd.concat(kacc, ignore_index=True),
                    pd.concat(tacc, ignore_index=True),
                    np.concatenate(cacc),
                )
                kacc, tacc, cacc, nacc = [ks], [ts], [cs], len(ks)
        if not nacc:
            return
        ks, ts, cs = _fold(
            pd.concat(kacc, ignore_index=True),
            pd.concat(tacc, ignore_index=True),
            np.concatenate(cacc),
        )
        if len(ks):
            yield pd.DataFrame({"key": ks, "term": ts, "cnt": cs})

    parts = base.mapInPandas(
        partial, schema=f"key {key_type}, term string, cnt long"
    )

    # VECTORIZED merge: groupBy().applyInPandas pays ~100us of pandas
    # group construction per key, which dominates at 100k keys. A
    # hash repartition colocates every key's partials in one
    # partition, so one mapInPandas fold per partition (exact sums +
    # one PODS'12 trim per key, all factorized) is the same merge
    # without the per-group objects. Partition input stays
    # summary-sized: <= input_partitions x k rows per key.
    def merged(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        kacc: list = []
        tacc: list = []
        cacc: list = []
        nacc = 0
        for b in batches:
            kacc.append(b["key"])
            tacc.append(b["term"])
            cacc.append(b["cnt"].to_numpy(dtype=np.int64))
            nacc += len(b)
            if nacc > trim_rows:
                ks, ts, cs = _fold(
                    pd.concat(kacc, ignore_index=True),
                    pd.concat(tacc, ignore_index=True),
                    np.concatenate(cacc),
                )
                kacc, tacc, cacc, nacc = [ks], [ts], [cs], len(ks)
        if not nacc:
            return
        ks, ts, cs = _fold(
            pd.concat(kacc, ignore_index=True),
            pd.concat(tacc, ignore_index=True),
            np.concatenate(cacc),
        )
        if len(ks):
            yield pd.DataFrame(
                {"key": ks, "term": ts, "est_count": cs}
            )

    return parts.repartition("key").mapInPandas(
        merged, schema=f"key {key_type}, term string, est_count long"
    )


def distinct_by_key(
    df: DataFrame, key_col: str, col, k: int = 1024
) -> DataFrame:
    """(key, est_distinct, retained, is_exact) KMV/theta distinct
    counts PER KEY (the per-domain / per-language cardinality shape;
    q15's HLL answers only the global question). TWO-PHASE mergeable
    summaries like the other grouped sketches: one mapInPandas pass
    keeps a k-min hash set per (partition, key); only those bounded
    partials shuffle by key and merge per key. ``is_exact`` marks
    keys whose merged set never overflowed k — there the KMV kept
    EVERY distinct hash and est_distinct is the exact distinct count
    (xxhash64 collisions aside); above k the estimate is the
    standard (k-1)/theta with the ThetaSketch class's error bars.
    Per-partition state is O(k x distinct keys in the partition) —
    repartition by key first for key cardinalities beyond memory."""
    import numpy as np

    if k < 16:
        raise ValueError("k must be >= 16")
    c = col if isinstance(col, Column) else F.col(col)
    base = df.select(
        F.col(key_col).alias("__key"),
        _unsigned_order(F.xxhash64(c)).alias("__h"),
    ).where(c.isNotNull())
    key_type = df.schema[key_col].dataType.simpleString()

    # periodic-trim threshold for the FULLY-VECTORIZED partial: the
    # accumulator is re-deduped and cut to the k smallest per key
    # whenever it exceeds this many rows, so per-partition state is
    # bounded by max(threshold, keys_in_partition x k) regardless of
    # input size (a per-group python loop here costs ~50us per
    # (batch, key) — 6x the whole job at 100k keys, measured in
    # SCALE_NOTES.md Round 9)
    trim_rows = 4_000_000

    def _trim(acc: pd.DataFrame) -> pd.DataFrame:
        return (
            acc.drop_duplicates()
            .sort_values(["__key", "__h"])
            .groupby("__key", dropna=False)
            .head(k)
        )

    def partial(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for b in batches:
            cur = b.drop_duplicates()
            acc = (
                cur
                if acc is None
                else pd.concat([acc, cur], ignore_index=True)
            )
            if len(acc) > trim_rows:
                acc = _trim(acc)
        if acc is not None and len(acc):
            out = _trim(acc)
            out.columns = ["key", "h"]
            yield out

    parts = base.mapInPandas(
        partial, schema=f"key {key_type}, h long"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        best = np.unique(pdf["h"].to_numpy(dtype=np.int64))
        if len(best) > k:
            best = best[:k]
        unsigned = best.astype(np.uint64) ^ np.uint64(_S64)
        sk = ThetaSketch(k, unsigned)
        # exactness is the sketch's own canonical-geometry notion
        # (theta still 2^64): a key whose distinct count REACHED k
        # trims to the (k-1)-below-theta form and is an estimate
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "est_distinct": [float(sk.estimate())],
                "retained": [len(sk.hashes)],
                "is_exact": [sk.is_exact],
            }
        )

    return parts.groupBy("key").applyInPandas(
        merge,
        schema=(
            f"key {key_type}, est_distinct double, retained long, "
            "is_exact boolean"
        ),
    )


def quantiles_by_key(
    df: DataFrame,
    key_col: str,
    col,
    ps,
    k: int = 128,
) -> DataFrame:
    """(key, p, value, est_rank, err_bound, n) compactor-sketch
    quantiles PER KEY, each with its own certified rank-error bound
    (operators/quantiles semantics, grouped). TWO-PHASE mergeable
    summaries: one mapInPandas pass builds a compactor per
    (partition, key); only the bounded O(k log(n/k))-row summaries
    shuffle by key and merge per key — a key holding half the corpus
    never materializes as one pandas group, and raw values never
    shuffle. Per-partition state is O(k x distinct keys in the
    partition) — repartition by key first for key cardinalities
    beyond memory. The tracked err_bound survives the merge exactly
    (compactor merge adds the two bounds plus any merge-time
    compactions), so every per-key row still certifies itself."""
    from . import quantiles as _Q

    ps = [float(p) for p in ps]
    if not ps:
        raise ValueError("ps must be non-empty")
    c = col if isinstance(col, Column) else F.col(col)
    base = df.select(
        F.col(key_col).alias("__key"),
        c.cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())
    key_type = df.schema[key_col].dataType.simpleString()

    # VECTORIZED partial: a pandas groupby Series per (batch, key)
    # costs ~50us of object construction each, which dominates at
    # high key cardinality (170.9 s -> 17 s at 10M rows x 100k keys,
    # SCALE_NOTES.md Round 9). Instead, batches accumulate into
    # bounded numpy buffers; each fold factorizes the keys once and
    # feeds each sketch ONE contiguous slice via argsort boundaries.
    trim_rows = 4_000_000
    _NULLKEY = object()  # factorize NaN is a fresh float per fold

    def _fold(per_key: dict, kb: pd.Series, vb) -> None:
        import numpy as np

        codes, uniques = pd.factorize(kb, use_na_sentinel=False)
        order = np.argsort(codes, kind="stable")
        counts = np.bincount(codes, minlength=len(uniques))
        bounds = np.concatenate(([0], np.cumsum(counts)))
        vs = vb[order]
        for i in range(len(uniques)):
            key = uniques[i]
            if pd.isna(key):
                key = _NULLKEY
            sk = per_key.get(key)
            if sk is None:
                sk = per_key[key] = _Q.CompactorSketch(k)
            sk.update_batch(vs[bounds[i]:bounds[i + 1]])

    def partial(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        per_key: dict = {}
        kacc: list = []
        vacc: list = []
        nacc = 0
        for b in batches:
            kacc.append(b["__key"])
            vacc.append(
                b["__v"].to_numpy(dtype=np.float64, na_value=np.nan)
            )
            nacc += len(b)
            if nacc > trim_rows:
                _fold(per_key, pd.concat(kacc, ignore_index=True),
                      np.concatenate(vacc))
                kacc, vacc, nacc = [], [], 0
        if nacc:
            _fold(per_key, pd.concat(kacc, ignore_index=True),
                  np.concatenate(vacc))
        if not per_key:
            return
        # one output frame for the whole partition (a DataFrame per
        # key would re-pay the per-key object cost on emission)
        keys_out: list = []
        reps: list = []
        lv_parts: list = []
        va_parts: list = []
        for key, sk in per_key.items():
            if not sk.n:
                continue
            l_ = [
                np.full(len(buf), h, dtype=np.int64)
                for h, buf in enumerate(sk.levels)
                if len(buf)
            ]
            v_ = [buf for buf in sk.levels if len(buf)]
            l_.append(np.array([_Q.CompactorSketch._META_ERR],
                               dtype=np.int64))
            v_.append(np.array([float(sk.err_bound)]))
            lcat = np.concatenate(l_)
            lv_parts.append(lcat)
            va_parts.append(np.concatenate(v_))
            keys_out.append(None if key is _NULLKEY else key)
            reps.append(len(lcat))
        if not keys_out:
            return
        yield pd.DataFrame(
            {
                "key": np.repeat(
                    np.asarray(keys_out, dtype=object), reps
                ),
                "level": np.concatenate(lv_parts),
                "value": np.concatenate(va_parts),
            }
        )

    parts = base.mapInPandas(
        partial,
        schema=f"key {key_type}, level int, value double",
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        sk = _Q.CompactorSketch.from_rows(
            pdf["level"].to_numpy(dtype=np.int64),
            pdf["value"].to_numpy(dtype=np.float64),
            k,
        )
        key = pdf["key"].iloc[0]
        rows = {
            "key": [], "p": [], "value": [], "est_rank": [],
            "err_bound": [], "n": [],
        }
        for p in ps:
            v = sk.quantile(p)
            rows["key"].append(key)
            rows["p"].append(p)
            rows["value"].append(v)
            rows["est_rank"].append(sk.est_rank(v))
            rows["err_bound"].append(sk.err_bound)
            rows["n"].append(sk.n)
        return pd.DataFrame(rows)

    return parts.groupBy("key").applyInPandas(
        merge,
        schema=(
            f"key {key_type}, p double, value double, est_rank long, "
            "err_bound long, n long"
        ),
    )
