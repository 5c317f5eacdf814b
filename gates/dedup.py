"""Dedup gates: exact, near-duplicate, SimHash, MinHash-LSH, SRP,
span and semantic dedup, set-similarity joins, FastCDC chunking and
the shotit loader's hash transforms with the D1 filter.
"""

from __future__ import annotations

import functools
import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import (
    _events, _normalized_embeddings, _t, _TOK, _values_oracle, gate,
)
from shotit_worker_spark.functions import text as TX
from shotit_worker_spark.functions import vector as V
from shotit_worker_spark.operators import dedup as D
from shotit_worker_spark.operators import similarity as S
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows


@gate("""
            WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                       WHERE vec_id < 2000),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
                  FROM t)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   CASE WHEN a.norm = 0 OR b.norm = 0 THEN 0.0
                        ELSE list_dot_product(a.v, b.v) / (a.norm * b.norm)
                   END AS score
            FROM n a, n b
            WHERE a.vec_id < b.vec_id
              AND (CASE WHEN a.norm = 0 OR b.norm = 0 THEN 0.0
                        ELSE list_dot_product(a.v, b.v) / (a.norm * b.norm)
                   END) >= 0.4
            ORDER BY a_id, b_id
        """)
def q23_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold (exact oracle for
    the LSH-bucketed scale path). Scoped to vec_id < 2000 so the O(n²)
    exact pass stays bounded at larger SFs — the unbounded path is the
    LSH cascade (q53 + IVF buckets)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return S.near_dup_pairs(emb, threshold=0.4).orderBy("a_id", "b_id")


_SIMHASH_CACHE: dict[str, object] = {}


def _shared_base_simhash(spark: SparkSession, sf_dir: str):
    """Base-corpus (doc_id, simhash) fingerprints, computed once per
    sf_dir and reused by q52 and q54 (the same build-once/query-many
    rationale as _shared_ivf_index — both gates plant DIFFERENT extra
    docs, but simhash is per-document, so the shared base unions with
    each gate's cheaply-fingerprinted extras). Tiny pinned footprint:
    two longs per document."""
    fps = _SIMHASH_CACHE.get(sf_dir)
    if fps is None:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        fps = D.simhash64(docs).cache()
        fps.count()
        _SIMHASH_CACHE[sf_dir] = fps
    return fps


@gate("""
            SELECT * FROM (VALUES
                ('planted_recall_1', true),
                ('precision_exact', true),
                ('score_is_cosine', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q25_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup at scale — SRP-LSH bucket-join candidates + exact
    in-bucket verify (operators/similarity.srp_near_dup_pairs) — as a
    driver-enforced constants gate (VERDICT r3 #1). Recall of random
    near-dups is probabilistic by LSH construction, but two invariants
    are deterministic and planted duplicates make a third:

    - planted_recall_1: 25 planted siblings carry IDENTICAL vectors
      (vec_id + 100000), so every SRP table hashes twin and original to
      the same bucket — all 25 pairs MUST surface, with cosine 1.0;
    - precision_exact: every emitted pair's score re-derived from the
      raw embeddings (independent normalize + dot) is ≥ threshold —
      the "exact verify" stage really verified;
    - score_is_cosine: re-derived and returned scores agree to 1e-9.
    """
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2000)
        .select("vec_id", "embedding")
    )
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pairs = S.srp_near_dup_pairs(
        emb.unionByName(planted), threshold=0.4, num_bits=8, num_tables=6
    )
    nv = emb.unionByName(planted).select(
        "vec_id", V.l2_normalize(V.to_double_array("embedding")).alias("nv")
    )
    av = nv.select(F.col("vec_id").alias("a_id"), F.col("nv").alias("a_nv"))
    bv = nv.select(F.col("vec_id").alias("b_id"), F.col("nv").alias("b_nv"))
    checked = (
        pairs.join(av, "a_id")
        .join(bv, "b_id")
        .select(
            "a_id", "b_id", "score", V.dot("a_nv", "b_nv").alias("rescore")
        )
    )
    agg = checked.agg(
        F.sum(
            F.when(
                (F.col("b_id") == F.col("a_id") + 100000)
                & (F.col("a_id") < 25)
                & (F.col("score") > 0.999999),
                1,
            ).otherwise(0)
        ).alias("n_planted_found"),
        F.max(F.when(F.col("rescore") < 0.4 - 1e-9, 1).otherwise(0)).alias(
            "any_below_threshold"
        ),
        F.max(F.abs(F.col("score") - F.col("rescore"))).alias("max_dev"),
    ).first()
    rows = [
        ("planted_recall_1", int(agg["n_planted_found"]) == 25),
        ("precision_exact", int(agg["any_below_threshold"] or 0) == 0),
        ("score_is_cosine", float(agg["max_dev"] or 0.0) <= 1e-9),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")







def _synth_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a `hashes(file, time, hi, ha)` table from `events`
    deterministically (both engines can reproduce it bit-for-bit):
    every 3 consecutive event_ids share a `hi` (D1-style dup bursts),
    times are unique and 0.5 s apart per event."""
    ev = _events(spark, sf_dir)
    md5 = F.md5(F.col("event_id").cast("string"))
    return ev.select(
        F.col("event_type").alias("file"),
        (F.col("event_id").cast("double") * 0.5).alias("time"),
        F.md5(
            F.concat(
                F.col("event_type"),
                # floor, not cast: duckdb's double→bigint cast rounds
                # while Spark's truncates — floor agrees everywhere
                F.floor(F.col("event_id") / 3).cast("bigint").cast("string"),
            )
        ).substr(1, 6).alias("hi"),
        F.concat_ws(" ", *[md5.substr(1 + 4 * i, 4) for i in range(4)]).alias("ha"),
    )


@gate("""
            WITH h AS (
                SELECT event_type AS file,
                       CAST(event_id AS DOUBLE) * 0.5 AS time,
                       substr(md5(event_type ||
                                  CAST(CAST(floor(event_id / 3) AS BIGINT) AS VARCHAR)),
                              1, 6) AS hi,
                       substr(md5(CAST(event_id AS VARCHAR)), 1, 4) || ' ' ||
                       substr(md5(CAST(event_id AS VARCHAR)), 5, 4) || ' ' ||
                       substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || ' ' ||
                       substr(md5(CAST(event_id AS VARCHAR)), 13, 4) AS ha
                FROM events),
            v AS (
                SELECT file, time, hi,
                       list_transform(string_split(ha, ' '),
                                      t -> CAST('0x' || t AS BIGINT)::DOUBLE) AS toks
                FROM h),
            p AS (
                SELECT file, time, hi,
                       (toks || [0.0, 0.0, 0.0, 0.0])[1:8] AS vec
                FROM v),
            n AS (
                SELECT file, time, hi,
                       CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) = 0
                            THEN vec
                            ELSE list_transform(vec, x -> x /
                                sqrt(list_sum(list_transform(vec, y -> y * y))))
                       END AS nv
                FROM p),
            d AS (
                SELECT file, time,
                       file || '/' || printf('%.2f', time) AS hash_id,
                       max(time) OVER (PARTITION BY file) AS duration,
                       CAST(list_sum(list_transform(string_split(hi, ''),
                                                    c -> ascii(c))) AS BIGINT)
                           AS primary_key,
                       nv[1] AS v0, nv[2] AS v1, list_sum(nv) AS v_sum
                FROM n),
            r AS (
                SELECT *, row_number() OVER (PARTITION BY primary_key
                                             ORDER BY time, hash_id) AS rn
                FROM d)
            SELECT file, time, hash_id, duration, primary_key, v0, v1, v_sum
            FROM r WHERE rn = 1
            ORDER BY file, time
        """)
def q33_loader_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader pipeline (SURVEY §3.3) minus D1: hex decode → pad →
    L2-normalize → hash_id → pre-dedup duration → charcode primary key →
    D2 dedup by key. Fully SQL-expressible, so the whole ingest math is
    oracle-checked end-to-end on synthesized hash rows."""
    from shotit_worker_spark.plans import ingest as ING

    hashes = _synth_hashes(spark, sf_dir)
    out = ING.loader_transform(hashes, dim=8, dedup=False)
    v = F.col("vector")
    return out.select(
        "file",
        "time",
        "hash_id",
        "duration",
        "primary_key",
        F.element_at(v, 1).alias("v0"),
        F.element_at(v, 2).alias("v1"),
        F.aggregate(v, F.lit(0.0), lambda s, x: s + x).alias("v_sum"),
    ).orderBy("file", "time")


@gate("""
            SELECT * FROM (VALUES
                ('row_count_match', true),
                ('rows_identical', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q34_loader_with_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full loader pipeline including the order-dependent D1 sequential
    dedup (applyInPandas), as a driver-enforced differential gate
    (VERDICT r3 #1). The kept-list semantics are not SQL-expressible, so
    the oracle is the INDEPENDENT pure-pandas reimplementation of the
    reference loop (operators/dedup.sequential_dedup_pandas — the same
    function the differential tests trust), run driver-side on the
    collected synthetic hash table:

    - rows_identical: the engine's kept (file, time) set == the pure-
      Python reference's kept set, row for row;
    - row_count_match: kept cardinalities agree (subsumed by the set
      check; kept as a separate row so a failure localizes).
    """
    import pandas as pd

    from shotit_worker_spark.plans import ingest as ING

    hashes = _synth_hashes(spark, sf_dir)
    out = ING.loader_transform(hashes, dim=8, dedup=True)
    engine = {
        (r["file"], round(float(r["time"]), 6))
        for r in out.select("file", "time").collect()
    }
    # the reference loop, driver-side: D1 per file, then D2 (one row per
    # charcode-sum primary key, earliest (time, hash_id) wins) — the same
    # two dedups loader_transform composes, re-derived independently
    src = hashes.select("file", "time", "hi").toPandas()
    kept = pd.concat(
        [
            D.sequential_dedup_pandas(grp)
            for _, grp in src.groupby("file", sort=False)
        ]
    )
    kept["primary_key"] = kept["hi"].map(lambda h: sum(ord(c) for c in h))
    kept["hash_id"] = [
        f"{f}/{t:.2f}" for f, t in zip(kept["file"], kept["time"])
    ]
    d2 = kept.sort_values(["time", "hash_id"], kind="mergesort").drop_duplicates(
        "primary_key", keep="first"
    )
    reference = {
        (f, round(float(t), 6)) for f, t in zip(d2["file"], d2["time"])
    }
    rows = [
        ("row_count_match", len(engine) == len(reference)),
        ("rows_identical", engine == reference),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")


@gate("""
            WITH h AS (SELECT doc_id, text, md5(text) AS m FROM documents),
            t AS (SELECT doc_id, text,
                         [substr(m, 1, 4), substr(m, 5, 4), substr(m, 9, 4),
                          substr(m, 13, 4), substr(m, 17, 4), substr(m, 21, 4),
                          substr(m, 25, 4), substr(m, 29, 4)] AS toks
                  FROM h),
            d AS (SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS rid,
                         CAST(list_sum(list_transform(
                             string_split(substr(text, 1, 40), ''),
                             c -> ascii(c))) AS DOUBLE) AS primary_key,
                         CAST(len(toks) AS DOUBLE) AS n_tokens,
                         CAST(list_sum(list_transform(
                             toks, x -> CAST('0x' || x AS BIGINT)::DOUBLE))
                             AS DOUBLE) AS tok_sum,
                         CAST(12 AS DOUBLE) AS padded_len,
                         CAST(NULL AS VARCHAR) AS hid
                  FROM t),
            e AS (SELECT 'ev:' || CAST(event_id AS VARCHAR) AS rid,
                         CAST(NULL AS DOUBLE) AS primary_key,
                         CAST(NULL AS DOUBLE) AS n_tokens,
                         CAST(NULL AS DOUBLE) AS tok_sum,
                         CAST(NULL AS DOUBLE) AS padded_len,
                         event_type || '/' || printf('%.2f', value) AS hid
                  FROM events)
            SELECT * FROM d UNION ALL SELECT * FROM e ORDER BY rid
        """)
def q30_loader_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader scalar kernels in one pass — P12 charcode-sum primary key
    (loader.js:131-143), P9+P10 hex-token decode/pad (loader.js:110-118) over
    md5-derived token strings, and P8 hash_id `${key}/${value.toFixed(2)}`
    (loader.js:241). Documents rows carry the P9-P12 columns; events rows
    carry hid; unmatched columns are NULL on the other side."""
    docs = _t(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text"))
    ha = F.concat_ws(
        " ", *[F.substring(md5, 1 + 4 * i, 4) for i in range(8)]
    )
    toks = V.hex_tokens_to_floats(ha)
    padded = V.pad_vector(toks, 12)
    # int columns are cast to double on both sides: the NULLs from the
    # union force pandas to promote ints to float anyway, and an explicit
    # double keeps Spark and DuckDB canonicalizing identically.
    doc_part = docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("rid"),
        V.charcode_sum(F.substring("text", 1, 40))
        .cast("double")
        .alias("primary_key"),
        F.size(toks).cast("double").alias("n_tokens"),
        F.aggregate(toks, F.lit(0.0), lambda s, x: s + x).alias("tok_sum"),
        F.size(padded).cast("double").alias("padded_len"),
        F.lit(None).cast("string").alias("hid"),
    )
    ev = _events(spark, sf_dir)
    ev_part = ev.select(
        F.concat(F.lit("ev:"), F.col("event_id").cast("string")).alias("rid"),
        F.lit(None).cast("double").alias("primary_key"),
        F.lit(None).cast("double").alias("n_tokens"),
        F.lit(None).cast("double").alias("tok_sum"),
        F.lit(None).cast("double").alias("padded_len"),
        V.hash_id(F.col("event_type"), F.col("value")).alias("hid"),
    )
    return doc_part.unionByName(ev_part).orderBy("rid")


@gate("""
            SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id
            FROM documents GROUP BY md5(text) ORDER BY keeper_id
        """)
def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 — keep the lowest doc_id per digest."""
    docs = _t(spark, sf_dir, "documents")
    return (
        D.exact_dedup_text(docs)
        .select("content_md5", F.col("doc_id").alias("keeper_id"))
        .orderBy("keeper_id")
    )


@gate(f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS tk FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(
                              range(1, greatest(len(tk) - 2, 0) + 1),
                              i -> array_to_string(tk[i:i+2], ' '))) AS shingles
                   FROM toks)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0
                        THEN 0.0
                        ELSE len(list_intersect(a.shingles, b.shingles)) * 1.0
                             / len(list_distinct(list_concat(a.shingles, b.shingles)))
                   END AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
            ORDER BY a_id
        """)
def q51_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard similarity on fixed candidate pairs (doc_id, doc_id+1)."""
    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.col("doc_id").alias("a_id"), (F.col("doc_id") + 1).alias("b_id")
    )
    return D.ngram_jaccard_pairs(docs, cands, shingle_n=3).orderBy("a_id")


@gate("""
            SELECT * FROM (VALUES
                ('arrayform_match', true),
                ('dup_text_same_fp', true),
                ('empty_doc_zero', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q52_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints as a driver-enforced differential gate
    (VERDICT r3 #1). DuckDB has no xxhash64, so the oracle is a SECOND,
    independent Catalyst formulation of the same math — the pure-array
    plan the operator docstring rejects for scale (per-bit
    size(filter(h, bit_pred)) over a staged token-hash array) is perfect
    as a cross-check, run on the pinned doc_id < 100 sample:

    - arrayform_match: agg-plan fingerprints == array-plan fingerprints
      on every sample doc (any partial-agg/banding bug is systematic,
      so the pinned sample catches it);
    - dup_text_same_fp: 10 planted verbatim copies (doc_id + 100000)
      fingerprint identically to their originals;
    - empty_doc_zero: a planted empty document fingerprints to 0
      (the explode_outer NULL-guard path).
    The operator still runs over the FULL corpus — once per sf_dir via
    _shared_base_simhash (q52/q54 share the base fingerprints the way
    q24/q49 share the IVF index), so bench measures the real
    partial-agg plan exactly once instead of twice.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    empty = _arrow_rows(spark, [(999999, "")], "doc_id long, text string")
    # base corpus fingerprints come from the shared cache (q52+q54);
    # only the planted extras run the partial-agg plan here. Cache the
    # union: the gate agg below reads fps twice (main + twin branch).
    fps = (
        _shared_base_simhash(spark, sf_dir)
        .unionByName(D.simhash64(copies.unionByName(empty)))
        .cache()
    )
    fps.count()

    staged = docs.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.transform(TX.tokenize("text"), lambda t: F.xxhash64(t)).alias("h"),
    )

    # the independent array-form fingerprint, built as ONE SQL string:
    # the former 64 python HOF closures cost ~2 s of py4j round trips
    # per call (the simhash64 build-tax rule); the string parses to the
    # same filter/size expressions, and the formulation stays
    # independent of the operator's aggregation shape
    fp2_sql = " | ".join(
        ["cast(0 as bigint)"]
        + [
            f"shiftleft(case when size(filter(h, x -> "
            f"(shiftright(x, {b}) & 1) = 1)) * 2 > size(h) "
            f"then cast(1 as bigint) else cast(0 as bigint) end, {b})"
            for b in range(64)
        ]
    )
    arrayform = staged.select("doc_id", F.expr(fp2_sql).alias("simhash2"))

    # all three checks in ONE aggregation job: left-join the sample
    # array-form and the twin mapping onto the cached fingerprints and
    # reduce with conditional sums
    twin = (
        fps.filter(F.col("doc_id") >= 100000)
        .filter(F.col("doc_id") < 999999)
        .select((F.col("doc_id") - 100000).alias("doc_id"), F.col("simhash").alias("twin_fp"))
    )
    agg = (
        fps.join(arrayform, "doc_id", "left")
        .join(twin, "doc_id", "left")
        .agg(
            F.sum(
                F.when(
                    F.col("simhash2").isNotNull()
                    & (F.col("simhash") != F.col("simhash2")),
                    1,
                ).otherwise(0)
            ).alias("mismatches"),
            F.sum(
                F.when(
                    F.col("twin_fp").isNotNull()
                    & (F.col("simhash") != F.col("twin_fp")),
                    1,
                ).otherwise(0)
            ).alias("twin_diffs"),
            F.max(
                F.when(F.col("doc_id") == 999999, F.abs(F.col("simhash")))
            ).alias("empty_fp"),
        )
        .first()
    )
    fps.unpersist()
    rows = [
        ("arrayform_match", int(agg["mismatches"] or 0) == 0),
        ("dup_text_same_fp", int(agg["twin_diffs"] or 0) == 0),
        ("empty_doc_zero", int(agg["empty_fp"] or 0) == 0),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")


@gate("""
            SELECT * FROM (VALUES
                ('banding_sound', true),
                ('empty_never_collides', true),
                ('planted_recall_1', true),
                ('planted_verified_1', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q53_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH candidate generation as a driver-enforced
    constants gate (VERDICT r3 #1). xxhash64 keeps the raw signatures
    outside DuckDB's reach, but four invariants are deterministic:

    - planted_recall_1: verbatim copies (identical text ⇒ identical
      shingle set ⇒ identical signature ⇒ every band collides) MUST
      surface as candidates — all 25 planted (i, i+100000) pairs found;
    - planted_verified_1: exact n-gram Jaccard of every planted pair
      re-derived from text == 1.0 (the verify stage of the cascade);
    - banding_sound: every candidate pair's signatures agree on at
      least one full band (candidates only ever come from bucket
      collisions — re-derived from the signatures, not the buckets);
    - empty_never_collides: two planted empty documents (all-NULL
      signatures) produce zero candidates touching them.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # plant only from docs with >= 3 tokens (shorter docs have no
    # 3-gram shingles and legitimately never collide)
    eligible = docs.filter(F.col("doc_id") < 25).filter(
        F.size(TX.tokenize("text")) >= 3
    )
    n_planted = eligible.count()
    copies = eligible.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    empties = _arrow_rows(spark, 
        [(999998, ""), (999999, "")], "doc_id long, text string"
    )
    corpus = docs.unionByName(copies).unionByName(empties)
    # sigs feed candidate generation (both join sides) AND the banding-
    # soundness re-check — cache + materialize so the shingle-explode agg
    # runs once; then ONE aggregation job covers three of the four gates
    sigs = D.minhash_signatures(corpus, num_hashes=32, shingle_n=3).cache()
    sigs.count()
    cands = D.minhash_lsh_candidates(sigs, num_bands=8, num_hashes=32)

    sa = sigs.select(F.col("doc_id").alias("a_id"), F.col("signature").alias("a_sig"))
    sb = sigs.select(F.col("doc_id").alias("b_id"), F.col("signature").alias("b_sig"))
    shares_band = F.exists(
        F.sequence(F.lit(0), F.lit(7)),
        lambda b: F.slice(F.col("a_sig"), b * 4 + 1, 4)
        == F.slice(F.col("b_sig"), b * 4 + 1, 4),
    )
    agg = (
        cands.join(sa, "a_id")
        .join(sb, "b_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("b_id") == F.col("a_id") + 100000)
                    & (F.col("a_id") < 25),
                    1,
                ).otherwise(0)
            ).alias("planted_found"),
            F.sum(F.when(shares_band, 0).otherwise(1)).alias("unsound"),
            F.sum(
                F.when(
                    F.col("a_id").isin(999998, 999999)
                    | F.col("b_id").isin(999998, 999999),
                    1,
                ).otherwise(0)
            ).alias("empty_hits"),
        )
        .first()
    )
    sigs.unpersist()

    # exact-Jaccard verify of the planted pairs only (50 docs, not the
    # corpus — the verify stage itself is exercised at full width by q51)
    planted_pairs = copies.select(
        (F.col("doc_id") - 100000).alias("a_id"), F.col("doc_id").alias("b_id")
    )
    planted_docs = docs.filter(F.col("doc_id") < 25).unionByName(copies)
    n_verified_1 = (
        D.ngram_jaccard_pairs(planted_docs, planted_pairs, shingle_n=3)
        .filter(F.col("jaccard") > 1.0 - 1e-12)
        .count()
    )
    rows = [
        ("banding_sound", int(agg["unsound"] or 0) == 0),
        ("empty_never_collides", int(agg["empty_hits"] or 0) == 0),
        (
            "planted_recall_1",
            int(agg["planted_found"] or 0) == n_planted and n_planted > 0,
        ),
        ("planted_verified_1", n_verified_1 == n_planted),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")







@gate("""
            SELECT * FROM (VALUES
                ('banding_equals_exact', true),
                ('exact_dups_found', true),
                ('hamming_values_match', true)
            ) AS t(gate, ok)
            ORDER BY gate
        """)
def q54_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded hamming-join near-dup pairs as a driver-enforced
    equality gate (VERDICT r3 #1). The banding pigeonhole (4 bands ⇒
    exact for hamming ≤ 3) makes the banded operator PROVABLY equal to
    the brute-force hamming join, and that equality is checkable:

    - banding_equals_exact: the banded pair set == the all-pairs
      bit_count(xor) ≤ 3 join (broadcast cross join — bounded corpus,
      JVM codegen; the oracle only, never the scale path), both
      directions (no missing, no extra pairs);
    - hamming_values_match: the hamming column the operator reports
      equals the exact join's value on every common pair;
    - exact_dups_found: 5 planted verbatim copies (identical text ⇒
      identical fingerprint ⇒ hamming 0) all surface — the gate is
      non-vacuous even if the one-token-perturbed siblings (doc_id <
      50, +100000, one appended token) drift past hamming 3 on a
      regenerated corpus.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" sentinel")).alias("text"),
    )
    exact_copies = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    fps = (
        _shared_base_simhash(spark, sf_dir)
        .unionByName(D.simhash64(perturbed.unionByName(exact_copies)))
        .cache()
    )
    banded = D.simhash_near_dup_pairs(fps, max_hamming=3)

    a = fps.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_fp"))
    b = fps.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_fp"))
    brute = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            D.hamming_distance64(F.col("a_fp"), F.col("b_fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    joined = banded.alias("bp").join(
        brute.alias("ex"), ["a_id", "b_id"], "full_outer"
    )
    agg = joined.agg(
        F.sum(F.when(F.col("bp.hamming").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("ex.hamming").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(F.col("bp.hamming") != F.col("ex.hamming"), 1).otherwise(0)
        ).alias("value_mismatch"),
        F.sum(
            F.when(
                (F.col("a_id") < 5)
                & (F.col("b_id") == F.col("a_id") + 200000)
                & (F.col("bp.hamming") == 0),
                1,
            ).otherwise(0)
        ).alias("dups_found"),
    ).first()
    fps.unpersist()
    rows = [
        (
            "banding_equals_exact",
            int(agg["missing"] or 0) == 0 and int(agg["extra"] or 0) == 0,
        ),
        ("exact_dups_found", int(agg["dups_found"] or 0) == 5),
        ("hamming_values_match", int(agg["value_mismatch"] or 0) == 0),
    ]
    return _arrow_rows(spark, rows, "gate string, ok boolean").orderBy("gate")


@gate("""
            SELECT * FROM (VALUES
                ('all_docs_parity', CAST(150 AS BIGINT), true),
                ('planted_rewritten', CAST(30 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q65_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup (operators/spans) constants gate: a
    shared 12-token passage (the head of doc 0's own text) is planted
    into every 5th document, then the engine's rolling-hash window
    pipeline (duplicate_spans + rewrite) is compared byte-for-byte
    against an embedded pure-python reference (window occurrence
    counting, keep-first by (doc, pos), span merge, token rewrite).
    Natural cross-doc window repeats in the fixture text are covered
    identically by both sides, so parity is exact."""
    from shotit_worker_spark.operators import spans as SP

    L = 10
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    first = docs.filter(F.col("doc_id") == 0).select("text").first()["text"]
    chunk = " ".join(first.split()[:12])
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(chunk + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    texts = {
        r["doc_id"]: r["text"]
        for r in planted.select("doc_id", "text").collect()
    }
    got = {
        r["doc_id"]: r["text"]
        for r in SP.remove_duplicate_spans(
            planted, min_tokens=L
        ).select("doc_id", "text").collect()
    }

    # pure-python reference of the documented semantics
    toks = {d: [t for t in s.split() if t] for d, s in texts.items()}
    wins: dict[str, list] = {}
    for d in sorted(toks):
        for p in range(len(toks[d]) - L + 1):
            wins.setdefault(" ".join(toks[d][p : p + L]), []).append((d, p))
    marked: dict[int, list[int]] = {d: [] for d in toks}
    for lst in wins.values():
        if len(lst) >= 2:
            for d, p in sorted(lst)[1:]:
                marked[d].append(p)
    want = {}
    rewritten = 0
    for d, ps in marked.items():
        merged: list[tuple[int, int]] = []
        s = e = None
        for p in sorted(ps):
            if s is None:
                s, e = p, p + L
            elif p <= e:
                e = p + L
            else:
                merged.append((s, e))
                s, e = p, p + L
        if s is not None:
            merged.append((s, e))
        if not merged:
            want[d] = texts[d]
        else:
            rewritten += 1
            want[d] = " ".join(
                t
                for i, t in enumerate(toks[d])
                if not any(a <= i < b for a, b in merged)
            )
    rows = [
        ("all_docs_parity", len(texts), got == want),
        ("planted_rewritten", 30, rewritten >= 29),
    ]
    # 30 planted docs (150/5); >=29 rewritten (the globally-first
    # occurrence of the chunk windows is spared, which may leave ONE
    # planted doc untouched when its copy is the first occurrence)
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


@gate("""
            SELECT * FROM (VALUES
                ('copies_removed', CAST(50 AS BIGINT), true),
                ('count_exact', CAST(500 AS BIGINT), true),
                ('originals_kept', CAST(500 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q66_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/clustering.semantic_dedup) constants gate:
    50 exact-copy vectors (vec_id+10000) are planted onto the first 500
    normalized embeddings; k-means clustering assigns identical inputs
    identically, so every planted pair MUST collapse regardless of the
    learned partition, and random normalized vectors sit far below the
    0.99 cosine threshold, so every original must survive. keep=min_id
    makes the survivor deterministic (the base id)."""
    from shotit_worker_spark.operators import clustering as CL

    nemb = _normalized_embeddings(spark, sf_dir).filter(
        F.col("vec_id") < 500
    )
    dups = nemb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "nv"
    )
    kept = CL.semantic_dedup(
        nemb.unionByName(dups),
        threshold=0.99,
        num_clusters=8,
        id_col="vec_id",
        vec_col="nv",
        keep="min_id",
    )
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    base_ids = {r["vec_id"] for r in nemb.select("vec_id").collect()}
    planted = {i + 10000 for i in base_ids if i % 10 == 0}
    rows = [
        ("copies_removed", len(planted), not (planted & kept_ids)),
        ("count_exact", len(base_ids), len(kept_ids) == len(base_ids)),
        ("originals_kept", len(base_ids), base_ids <= kept_ids),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


# q94: FULL-VALUE exact similarity join on the pinned
# sample — oracle is the brute-force token equi-join
@gate(f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest({_TOK}) AS tok
        FROM documents WHERE doc_id < 500
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM toks a JOIN toks b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5 - 1e-12
    ORDER BY a_id, b_id
""")
def q94_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join (operators/simjoin) FULL-VALUE gate:
    every document pair with token-Jaccard >= 0.5 over the pinned
    doc_id < 500 sample (the q52 convention — the ORACLE is the
    brute-force token equi-join, quadratic in token frequency, so the
    gate pins a sample; pytest brute-forces the full sf0.001 corpus).
    The engine runs prefix filtering + the PPJoin length filter +
    exact verify — completeness is the pigeonhole guarantee, so any
    dropped true pair is a value mismatch here."""
    from shotit_worker_spark.operators.simjoin import (
        jaccard_similarity_join,
    )

    docs = _t(spark, sf_dir, "documents").where("doc_id < 500")
    return jaccard_similarity_join(
        docs.select("doc_id", "text"), threshold=0.5)


_CDC_PARAMS = dict(min_size=256, avg_size=1024, max_size=4096)


def _cdc_case_docs() -> list[tuple[str, bytes]]:
    """Planted chunking corpus: a base pseudo-random doc, an
    insertion-shifted twin (the FastCDC resync property: all chunks
    past the edit realign), a middle-mutated twin, and an empty doc.
    Deterministic (fixed-seed PCG64), shared fixture — only the
    CHUNKING of it is computed twice, independently."""
    import numpy as np

    rng = np.random.default_rng(0x0C0DE)
    a = rng.integers(0, 256, size=20480, dtype=np.uint8).tobytes()
    b = (b"CHANGELOG ENTRY: shifted prefix. " * 33)[:1063] + a
    c = a[:8000] + bytes(255 - x for x in a[8000:8900]) + a[8900:]
    return [("docA", a), ("docB", b), ("docC", c), ("docEmpty", b"")]


def _cdc_independent_chunks(data: bytes, min_size: int,
                            avg_size: int, max_size: int) -> list:
    """INDEPENDENT per-byte FastCDC chunker (Xia et al., USENIX ATC
    2016 semantics as contracted by functions/cdc.py's docstrings):
    rolling gear hash h = (h*2 + G[byte]) mod 2^64, normalized
    two-mask search (hard mask in [min, avg), easy mask in
    [avg, max), forced cut at max). Only the 256-entry gear table is
    shared — it is part of the chunking contract; the engine's
    implementation is a vectorized global-position numpy kernel,
    this one is a scalar loop, so a vectorization bug in either
    breaks the q99 diff."""
    from shotit_worker_spark.functions.cdc import _GEAR

    gear = [int(x) for x in _GEAR]
    mask64 = (1 << 64) - 1
    bits = max(int(round(math.log2(avg_size))), 4)
    hard = (1 << min(bits + 2, 48)) - 1
    easy = (1 << max(bits - 2, 2)) - 1
    n = len(data)
    cuts = []
    pos = 0
    while pos < n:
        if n - pos <= min_size:
            cuts.append(n)
            break
        # roll the hash from the chunk start; candidates only become
        # eligible at index >= pos + min_size - 1 (64-byte window is
        # then fully inside the chunk, matching the global kernel)
        h = 0
        cut = None
        hard_end = min(pos + avg_size, n)
        easy_end = min(pos + max_size, n)
        for i in range(pos, easy_end):
            h = ((h << 1) + gear[data[i]]) & mask64
            if i < pos + min_size - 1:
                continue
            if i < hard_end and (h & hard) == 0:
                cut = i + 1
                break
            if i >= pos + avg_size - 1 and (h & easy) == 0:
                cut = i + 1
                break
        if cut is None:
            cut = easy_end
        cuts.append(cut)
        pos = cut
    out = []
    prev = 0
    for no, cut in enumerate(cuts):
        out.append((no, prev, cut - prev,
                    hashlib.md5(data[prev:cut]).hexdigest()))
        prev = cut
    if not out:  # empty doc: one zero-length chunk row
        out.append((0, 0, 0, hashlib.md5(b"").hexdigest()))
    return out


@functools.cache
def _cdc_oracle_rows() -> list:
    return [
        (doc_id, *chunk)
        for doc_id, data in _cdc_case_docs()
        for chunk in _cdc_independent_chunks(data, **_CDC_PARAMS)
    ]


# q99: FULL-VALUE FastCDC chunk table — the oracle rows come
# from an INDEPENDENT per-byte rolling-gear chunker (the
# engine's is vectorized numpy over global hash positions)
@gate(lambda: _values_oracle(
    _cdc_oracle_rows(),
    "doc_id, chunk_no, \"offset\", length, digest"))
def q99_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastCDC content-defined chunking (functions/cdc) FULL-VALUE
    gate: chunk boundaries + md5 digests of the planted corpus
    (random base doc, insertion-shifted twin, middle-mutated twin,
    empty doc) computed by the engine's vectorized Arrow kernel; the
    oracle states the rows from an INDEPENDENT per-byte rolling-gear
    reimplementation. The shifted twin also exercises the resync
    property end-to-end: its tail chunks must carry the same digests
    as the base doc's."""
    from shotit_worker_spark.functions.cdc import cdc_chunk_table

    df = _arrow_rows(spark, 
        [(i, bytearray(d)) for i, d in _cdc_case_docs()],
        "doc_id string, content binary",
    )
    return cdc_chunk_table(df, content_col="content",
                           id_col="doc_id",
                           **_CDC_PARAMS).orderBy("doc_id", "chunk_no")
