"""Deduplication operators.

Reference semantics plus the LLM-data-pipeline dedup family:

  D1  sequential_dedup     — the reference's order-dependent ingest dedup
                             (/root/reference/loader.js:202-212)
  D2  dedup_by_key         — idempotent insert by primary key
                             (/root/reference/loader.js:63-68, :245)
  --  exact_dedup_text     — exact content dedup by md5 (hash-groupBy)
  --  minhash_signatures / minhash_band_table / minhash_lsh_candidates
                           — MinHash + banded LSH
  --  simhash64            — 64-bit SimHash fingerprint
  --  ngram_jaccard_pairs  — n-gram Jaccard similarity on candidate pairs
  --  exact_dedup_incremental / fuzzy_dedup_incremental — batch-vs-corpus
                           dedup against digest / band-table manifests

All of these shuffle only on their key columns; candidate generation is
band-bucketed so the pairwise work never goes O(n²) at scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..smallframe import arrow_rows as _arrow_rows
from ..spread import spread

from ..functions import text as TX

# ---------------------------------------------------------------------------
# D1 — the reference's sequential ingest dedup
# ---------------------------------------------------------------------------

DEDUP_KEPT_WINDOW = 24  # last N *kept* frames compared (loader.js:206)
DEDUP_TIME_WINDOW = 2.0  # seconds (loader.js:207)


def sequential_dedup_pandas(
    pdf: pd.DataFrame,
    kept_window: int = DEDUP_KEPT_WINDOW,
    time_window: float = DEDUP_TIME_WINDOW,
    time_col: str = "time",
    hi_col: str = "hi",
) -> pd.DataFrame:
    """Pure-pandas reimplementation of the reference loop
    (/root/reference/loader.js:202-212), used per group by
    `sequential_dedup` and directly by the differential tests.

    Scan rows in ascending time order; drop a row iff any of the last
    `kept_window` KEPT rows that are strictly less than `time_window`
    seconds older has an identical `hi`. The comparison set is the kept
    list (order-dependent), which is why this is not a window function.
    """
    pdf = pdf.sort_values(time_col, kind="mergesort")
    kept_idx: list[int] = []
    times = pdf[time_col].to_numpy()
    his = pdf[hi_col].to_numpy()
    for i in range(len(pdf)):
        dup = False
        for j in reversed(kept_idx[-kept_window:]):
            if times[i] - times[j] >= time_window:
                break  # kept list is time-ascending; older entries only get older
            if his[j] == his[i]:
                dup = True
                break
        if not dup:
            kept_idx.append(i)
    return pdf.iloc[kept_idx]


def sequential_dedup(
    hashes: DataFrame,
    file_col: str = "file",
    time_col: str = "time",
    hi_col: str = "hi",
    kept_window: int = DEDUP_KEPT_WINDOW,
    time_window: float = DEDUP_TIME_WINDOW,
) -> DataFrame:
    """D1 as a grouped-map pandas UDF over `groupBy(file)`.

    Per-video groups are bounded (~12 fps × hours ≤ ~10⁵ rows), so the
    Python loop is cheap per group and the operator scales horizontally
    with the number of videos — the shuffle key is `file`, same as every
    other per-video stage, so under one repartition the pipeline reuses
    the partitioning.
    """

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        return sequential_dedup_pandas(
            pdf, kept_window, time_window, time_col=time_col, hi_col=hi_col
        )

    return hashes.groupBy(file_col).applyInPandas(_apply, schema=hashes.schema)


# ---------------------------------------------------------------------------
# D2 — dedup by key (idempotent insert)
# ---------------------------------------------------------------------------


def dedup_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[Column] | None = None
) -> DataFrame:
    """Keep exactly one row per key. With `order_cols`, keeps the first row
    in that order (deterministic winner — Delta-MERGE semantics without
    Delta); without, Spark's dropDuplicates (arbitrary but stable-per-run
    winner). Shuffles once on the key."""
    if order_cols is None:
        return df.dropDuplicates(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact text dedup
# ---------------------------------------------------------------------------


def exact_dedup_text(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup: group identical md5(text), keep the lowest id.

    One hash-shuffle on the digest; at 100 TB this is the cheapest dedup
    pass and runs first in the dedup cascade.
    """
    return dedup_by_key(
        docs.withColumn("content_md5", F.md5(F.col(text_col))),
        ["content_md5"],
        order_cols=[F.col(id_col).asc()],
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------
# Deterministic, engine-independent hash family so both the Spark path and
# any oracle reimplementation agree: h_i(s) = bigint(xxhash64(s, seed=i)).


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature over token n-gram shingles.

    (id, signature: array<bigint>[num_hashes]). Empty shingle sets get an
    all-NULL signature and never collide in LSH banding.

    Shape: explode the distinct shingles, hash each shingle string once
    per seed, groupBy(id).agg(min per seed). The explode is a Generate
    operator boundary, so the tokenize→ngram expression runs ONCE per doc
    — the pure-array formulation (array_min(transform(shingles, hash_i))
    × num_hashes) gets inlined by Catalyst's CollapseProject and
    re-evaluates the shingle pipeline num_hashes times per row. The agg
    is map-side partial (explode and partial-min happen in the same
    stage), so the shuffle carries only num_hashes longs per doc — the
    scale-correct shape at 100 TB.
    """
    # single-row-group local scans otherwise run the whole tokenize→
    # shingle→hash pipeline in ONE task; hashing on the id lets the
    # groupBy below reuse the partitioning (no added exchange), and
    # spread() no-ops on already-parallel input at cluster scale. The
    # aggregate is min(bigint) — exact under any regrouping.
    sh = spread(docs, by=id_col).select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(TX.ngrams(TX.tokenize(F.col(text_col)), shingle_n))
        ).alias("shingle"),
    )
    # NULL guard: xxhash64 skips NULL inputs (hashing just the seed), so an
    # unguarded empty doc would get a real signature and collide with every
    # other empty doc.
    # SQL-string aggregates (one py4j call each, the simhash64 rule):
    # the Column formulation cost ~0.6 s of driver-side build per call;
    # the strings parse to the identical Catalyst expressions (same
    # xxhash64(shingle, int-literal) argument types)
    aggs = [
        F.expr(
            f"min(case when shingle is not null "
            f"then xxhash64(shingle, {i}) end)"
        ).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    agged = sh.groupBy(id_col).agg(*aggs)
    return agged.select(
        F.col(id_col),
        F.expr(
            "array(" + ", ".join(f"__h{i}" for i in range(num_hashes)) + ")"
        ).alias("signature"),
    )


def minhash_band_table(
    signatures: DataFrame,
    num_bands: int = 8,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
) -> DataFrame | None:
    """(id, band_id, band_hash) — the LSH bucket membership table.

    This is also the MANIFEST FORMAT for incremental dedup: persist it
    per corpus snapshot and feed it to `fuzzy_dedup_incremental` so the
    next crawl deduplicates against history without re-signing the
    corpus. Returns None for an empty signature frame (unknown width).
    """
    if num_hashes is None:
        sig_len_row = signatures.select(F.size("signature").alias("n")).first()
        if sig_len_row is None:
            return None
        num_hashes = sig_len_row["n"]
    rows_per_band = max(1, num_hashes // num_bands)

    def _band_hash(b: int) -> str:
        members = ", ".join(
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        # all-NULL signatures (empty docs) must never share a bucket;
        # minhash mins are all-NULL or all-set per row, so one member
        # decides (concat_ws would silently map NULLs to "")
        return (
            f"CASE WHEN element_at(signature, {b * rows_per_band + 1}) "
            f"IS NOT NULL THEN xxhash64({members}, {b}) END"
        )

    # one SQL string (one py4j call, the simhash64 rule): it parses to
    # the same CASE/xxhash64(bigint..., int) expressions the Column form
    # built with several round trips per node
    bands = ", ".join(_band_hash(b) for b in range(num_bands))
    return signatures.select(
        F.col(id_col),
        F.expr(f"posexplode(array({bands})) AS (band_id, band_hash)"),
    ).filter(F.col("band_hash").isNotNull())


def minhash_lsh_candidates(
    signatures: DataFrame,
    num_bands: int = 8,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs from MinHash signatures.

    Split each signature into `num_bands` bands, bucket-join on
    (band_id, band_hash): docs sharing any full band become a candidate
    pair. Shuffle is on the band hash (pre-aggregated per bucket), never
    an O(n²) cross join — the scale path for near-dup at 100 TB.
    Returns distinct (a_id, b_id), a < b.

    Pass `num_hashes` (the signature length) when known — otherwise a
    separate job peeks at one row to learn it.
    """
    banded = minhash_band_table(signatures, num_bands, id_col, num_hashes)
    if banded is None:
        return _arrow_rows(signatures.sparkSession, [], "a_id long, b_id long")

    a = banded.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("a_id")
    )
    b = banded.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("b_id")
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    (a_id, b_id, jaccard). Joins the candidate list (small relative to
    the corpus) twice against per-doc shingle sets; set math via
    array_intersect/array_union on deduped shingle arrays.
    """
    # candidates is typically broadcast, so without a spread the whole
    # shingle build AND the verify math run on the degenerate scan's
    # single task (spread module docstring); exact set math throughout
    shingle_sets = spread(docs, by=id_col).select(
        F.col(id_col),
        F.array_distinct(TX.ngrams(TX.tokenize(F.col(text_col)), shingle_n)).alias(
            "shingles"
        ),
    )
    a = shingle_sets.select(
        F.col(id_col).alias("a_id"), F.col("shingles").alias("a_sh")
    )
    b = shingle_sets.select(
        F.col(id_col).alias("b_id"), F.col("shingles").alias("b_sh")
    )
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter.cast("double") / union.cast("double"))
            .alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over tokens: bit b of the fingerprint is 1 iff the
    sum over tokens of sign(bit b of xxhash64(token)) is positive.

    Shape: explode tokens → hash each token once → groupBy(id) with one
    partial-aggregated popcount per bit. The pure-array formulation
    (64 × size(filter(h, bit_pred))) gets the token-hash array inlined
    into every bit expression by CollapseProject — 64 re-evaluations per
    row. Here the 64 sums are map-side partial aggregates over a concrete
    hash column; the shuffle carries 65 longs per doc. Duplicated tokens
    count multiply (standard SimHash weighting by term frequency).
    Returns (id, simhash: bigint); empty documents → 0.
    """
    toks = TX.tokenize(F.col(text_col))
    # explode_outer keeps empty docs (NULL token row); the guard keeps
    # xxhash64 from hashing just-the-seed for NULLs
    # same degenerate-scan repair as minhash_signatures: the 65 bit
    # sums are exact integer aggregates, so regrouping cannot change
    # the fingerprint
    exploded = spread(docs, by=id_col).select(
        F.col(id_col), F.explode_outer(toks).alias("tok")
    )
    hashed = exploded.select(
        F.col(id_col),
        F.when(F.col("tok").isNotNull(), F.xxhash64(F.col("tok"))).alias("h"),
    )
    # Expressions are built as SQL strings (one py4j call each), not
    # composed Column ops: the 65-aggregate tree costs ~8 py4j round
    # trips per node the Column way — measured ~2.2 s of pure driver-
    # side build time PER CALL, 4x the query's actual execution. The
    # strings parse to the identical Catalyst expressions (same
    # functions, same literal types), so results are bit-identical.
    aggs = [F.count(F.col("h")).alias("__n")]
    for b in range(64):
        aggs.append(
            F.expr(
                f"sum(case when (shiftright(h, {b}) & 1) = 1 "
                f"then 1 else 0 end)"
            ).alias(f"__b{b}")
        )
    agged = hashed.groupBy(id_col).agg(*aggs)
    # majority of tokens have bit b set → fingerprint bit b = 1
    fp_sql = " | ".join(
        ["cast(0 as bigint)"]
        + [
            f"shiftleft(case when __b{b} * 2 > __n then cast(1 as bigint) "
            f"else cast(0 as bigint) end, {b})"
            for b in range(64)
        ]
    )
    return agged.select(F.col(id_col), F.expr(fp_sql).alias("simhash"))


def hamming_distance64(a: Column, b: Column) -> Column:
    """Popcount of XOR of two 64-bit fingerprints (JVM bit_count — no
    per-pair string allocation in the candidate-join hot path)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    num_bands: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates via banded bucket-join, then
    an exact hamming filter.

    Pigeonhole guarantee: two fingerprints within hamming distance d
    share at least one of `num_bands` bands untouched when
    d < num_bands, so banding on 64/num_bands-bit slices finds every
    pair with hamming ≤ num_bands - 1 (default: 4 bands ⇒ exact for
    ≤ 3). The shuffle is on (band_id, band_value) buckets — the same
    linear-ish shape as MinHash LSH, no O(n²) stage.

    Returns (a_id, b_id, hamming), a < b, hamming ≤ max_hamming.
    """
    if max_hamming >= num_bands:
        raise ValueError(
            f"banding with {num_bands} bands only guarantees recall for "
            f"hamming <= {num_bands - 1}; got max_hamming={max_hamming}"
        )
    bits = 64 // num_bands
    mask = (1 << bits) - 1
    banded = fingerprints.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), b * bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band_id", "band_value"),
    )
    a = banded.select(
        "band_id", "band_value", F.col(id_col).alias("a_id"), F.col(hash_col).alias("a_fp")
    )
    b = banded.select(
        "band_id", "band_value", F.col(id_col).alias("b_id"), F.col(hash_col).alias("b_fp")
    )
    return (
        a.join(b, ["band_id", "band_value"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            hamming_distance64(F.col("a_fp"), F.col("b_fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental dedup (crawl N+1 vs the historical corpus)
# ---------------------------------------------------------------------------
#
# Production corpora grow by batches; re-deduplicating the whole corpus
# per batch is O(corpus) per crawl. These operators dedup a NEW batch
# against lightweight MANIFESTS of what's already kept — a digest column
# (exact) or the minhash band table (fuzzy) — so per-batch cost is
# O(batch + manifest join), mirroring how IVFIndex.add grows the index
# without a rebuild.


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "content_md5",
) -> DataFrame:
    """Exact dedup of a new batch against history, then within itself.

    `seen_digests` carries one `digest_col` column (the running
    manifest; `exact_dedup_incremental(...).select(digest_col)` of each
    accepted batch appends to it). Anti-join on the digest — one
    hash-shuffle keyed exactly like exact_dedup_text. Output keeps the
    batch's lowest id per novel digest, with `digest_col` attached for
    the caller's manifest append.
    """
    hashed = new_docs.withColumn(digest_col, F.md5(F.col(text_col)))
    novel = hashed.join(
        seen_digests.select(digest_col).distinct(), digest_col, "left_anti"
    )
    return dedup_by_key(novel, [digest_col], order_cols=[F.col(id_col).asc()])


def fuzzy_dedup_incremental(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a new batch against a band-table manifest.

    A new document is dropped when ANY of its minhash bands collides
    with a band in `seen_bands` (minhash_band_table of the kept corpus).
    Collision-implies-duplicate (no exact-Jaccard verify): the verify
    stage needs the historical shingle sets, which a manifest this
    shape deliberately doesn't carry — precision is the banding's
    (tunable via num_bands/num_hashes: fewer, wider bands = higher
    collision threshold). Within-batch near-dups are the existing
    clustering.fuzzy_dedup's job; run it on the survivors.

    Returns (survivors, new_bands_of_survivors) — append the second to
    the manifest for the next batch. Shuffle shape: one band-hash join
    against the manifest, never O(batch × corpus).
    """
    sigs = minhash_signatures(
        new_docs, num_hashes=num_hashes, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    )
    new_bands = minhash_band_table(sigs, num_bands, id_col, num_hashes)
    if new_bands is None:
        return new_docs, _arrow_rows(new_docs.sparkSession, 
            [], f"{id_col} long, band_id int, band_hash bigint"
        )
    hits = (
        new_bands.join(
            seen_bands.select("band_id", "band_hash").distinct(),
            ["band_id", "band_hash"],
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    survivors = new_docs.join(hits, id_col, "left_anti")
    kept_bands = new_bands.join(hits, id_col, "left_anti")
    return survivors, kept_bands


def plan_lsh_bands(
    threshold: float,
    num_hashes: int = 32,
    fn_weight: float = 1.0,
    fp_weight: float = 1.0,
) -> dict:
    """Pick the MinHash-LSH banding (bands b × rows r = num_hashes)
    for a Jaccard threshold — the S-curve calculation (Leskovec/
    Rajaraman/Ullman ch. 3) done properly instead of eyeballed:

        P(candidate | similarity s) = 1 − (1 − s^r)^b

    For each divisor split (b, r) the expected error integrates the
    S-curve miss mass above the threshold (false negatives, weighted
    ``fn_weight``) and the catch mass below it (false positives,
    weighted ``fp_weight``) under a uniform similarity prior —
    dedup callers usually weight misses heavier (a survived duplicate
    poisons training; a false candidate just costs one exact-verify
    join row). Returns the chosen plan plus the candidate table:

        {"num_bands": b, "rows_per_band": r, "threshold_50": t50,
         "expected_error": e, "candidates": [...]}

    ``threshold_50`` = (1/b)^(1/r), where the S-curve crosses 0.5 —
    the classic rule of thumb; the exact integral picks the same b for
    the common cases and resolves the ties the rule of thumb can't.
    Driver-side arithmetic only (no Spark job) — feed ``num_bands``
    into :func:`minhash_lsh_candidates` / :func:`minhash_band_table`.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    candidates = []
    steps = 400
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        # integrate FN mass above t and FP mass below t (midpoint rule)
        fn = fp = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s >= threshold:
                fn += (1.0 - p) / steps
            else:
                fp += p / steps
        err = fn_weight * fn + fp_weight * fp
        candidates.append(
            {
                "num_bands": b,
                "rows_per_band": r,
                "threshold_50": (1.0 / b) ** (1.0 / r),
                "fn_mass": fn,
                "fp_mass": fp,
                "expected_error": err,
            }
        )
    best = min(candidates, key=lambda c: c["expected_error"])
    return {**best, "candidates": candidates}
