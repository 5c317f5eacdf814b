"""Text gates over ``documents``: statistics, language id, quality and
token-budget filters, splits and packing, line boilerplate, n-gram and
Kneser-Ney LMs, BM25, the text embedder, the learned re-ranker, URL
canonicalization, decontamination and TF-IDF keywords.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gates import _t, _TOK, gate
from shotit_worker_spark.functions import text as TX
from shotit_worker_spark.operators import decontam as DC
from shotit_worker_spark.operators import packing as P
from shotit_worker_spark.smallframe import arrow_rows as _arrow_rows
from shotit_worker_spark.spread import spread as _spread


_LR_WARMED: dict[str, bool] = {}


def _shared_lr_warmup(spark: SparkSession, sf_dir: str) -> None:
    """One tiny LogisticRegression fit per process so MLlib's
    first-call cost (breeze L-BFGS class loading + aggregator JIT,
    ~10 s on a cold JVM) lands in its own separately-timed
    shared-artifact bench row instead of inside whichever query fits
    the first model (q69 — the r12 VERDICT: its recorded 14.8 s was
    ~10 s JIT + ~1.5 s operator, and the bench's min-of-2 shares the
    process so neither run escaped it). The 8-row frame is built
    JVM-side (range + array_to_vector — no Python source), the fit is
    2 L-BFGS iterations; the model is discarded. Same rationale and
    protocol as warm_ivf_build/warm_simhash_build (bench.py)."""
    if _LR_WARMED.get("done"):
        return
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    df = spark.range(8).select(
        array_to_vector(
            F.array(
                (F.col("id") % 2).cast("double"),
                ((F.col("id") + 1) % 2).cast("double"),
            )
        ).alias("features"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    LogisticRegression(maxIter=2, regParam=1e-4).fit(df)
    _LR_WARMED["done"] = True


@gate(f"""
            SELECT lang, source,
                   count(*) AS n_docs,
                   avg(n_chars) AS avg_chars,
                   CAST(sum(len({_TOK})) AS BIGINT) AS sum_tokens
            FROM documents
            GROUP BY lang, source
            ORDER BY lang, source
        """)
def q40_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.sum(TX.token_count("text").cast("bigint")).alias("sum_tokens"),
        )
        .orderBy("lang", "source")
    )


@gate(f"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest({_TOK}) AS token FROM documents)
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 20
        """)
def q41_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@gate(f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS tk FROM documents),
            hits AS (SELECT doc_id,
                len(list_distinct(list_intersect(tk, ['der','die','und','das','ist','nicht','ein','mit','zu','den']))) AS de,
                len(list_distinct(list_intersect(tk, ['the','and','of','to','is','in','that','it','for','with']))) AS en,
                len(list_distinct(list_intersect(tk, ['el','la','que','de','los','una','es','por','con','para']))) AS es,
                len(list_distinct(list_intersect(tk, ['le','la','et','les','des','est','une','dans','que','pour']))) AS fr
                FROM toks)
            SELECT doc_id,
                   CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                        WHEN de = greatest(de, en, es, fr) THEN 'de'
                        WHEN en = greatest(de, en, es, fr) THEN 'en'
                        WHEN es = greatest(de, en, es, fr) THEN 'es'
                        ELSE 'fr' END AS pred_lang
            FROM hits ORDER BY doc_id
        """)
def q42_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokenize(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id", TX.lang_id_from_tokens("toks").alias("pred_lang")
    ).orderBy("doc_id")


@gate(f"""
            WITH j AS (SELECT doc_id, array_to_string({_TOK}, ' ') AS s
                       FROM documents)
            SELECT doc_id,
                   CAST(list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(s, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
            FROM j ORDER BY doc_id
        """)
def q43_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp")).orderBy("doc_id")


@gate(f"""
            SELECT doc_id,
                   CAST(len({_TOK}) AS INT) AS n_tokens,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                             * 1.0 / length(text) END AS punct_ratio,
                   CASE WHEN len({_TOK}) = 0 THEN 0.0
                        ELSE len(list_filter({_TOK}, t -> t IN
                            ('the','and','of','to','is','in','that','it','for','with',
                             'a','an','on','as','at','by','be','are','was','this')))
                             * 1.0 / len({_TOK}) END AS stop_ratio
            FROM documents ORDER BY doc_id
        """)
def q44_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # tokenize once behind an alias: the multi-referenced non-cheap alias
    # stops CollapseProject from inlining the tokenizer into each ratio
    toks = docs.select(
        "doc_id", "text", TX.tokenize(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    hits = F.size(F.filter(F.col("toks"), lambda t: t.isin(TX.STOPWORDS_EN)))
    return toks.select(
        "doc_id",
        n.alias("n_tokens"),
        TX.punct_ratio("text").alias("punct_ratio"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(hits.cast("double") / n.cast("double"))
        .alias("stop_ratio"),
    ).orderBy("doc_id")


@gate(f"""
            SELECT lang,
                   CAST(sum(len({_TOK})) AS BIGINT) AS sum_ws_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')))
                       AS BIGINT) AS sum_bpe_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """)
def q45_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace-ish vs BPE-pre-tokenizer counts per
    (lang, source) — the pre-training "how many tokens is this corpus"
    pass. The BPE split is one JVM regexp (functions/text.
    bpe_token_count), lookahead-free so DuckDB's RE2 runs the same
    pattern as the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(TX.token_count("text").cast("bigint")).alias("sum_ws_tokens"),
            F.sum(TX.bpe_token_count("text").cast("bigint")).alias("sum_bpe_tokens"),
        )
        .orderBy("lang")
    )







def _hash_split(key: str = "doc_id") -> F.Column:
    """80/10/10 train/valid/test split label from md5(key) mod 100 —
    the library operator (operators/mixing.hash_split), so the q46
    oracle row pins the promoted implementation."""
    from shotit_worker_spark.operators.mixing import hash_split

    return hash_split(key)


@gate(f"""
            WITH b AS (
                SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 100 AS bucket, text
                FROM documents
            )
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'valid'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(len({_TOK})) AS BIGINT) AS sum_tokens
            FROM b GROUP BY 1 ORDER BY split
        """)
def q46_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split by content-independent key
    hash — the reproducible-split primitive of a training-data pipeline
    (no sampling state, rerunnable on any engine: md5 is the hash both
    Spark and DuckDB share bit-for-bit). 80/10/10 on md5(doc_id) mod
    100; per-split doc and token counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(_hash_split().alias("split"), "text")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text").cast("bigint")).alias("sum_tokens"),
        )
        .orderBy("split")
    )


@gate(f"""
            WITH t AS (
                SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
                FROM documents
            ), s AS (
                SELECT doc_id, n_tokens,
                       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens)
                            / 8192.0) AS BIGINT) AS shard
                FROM t
            )
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM s GROUP BY shard ORDER BY shard
        """)
def q47_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id order)
    to consecutive shards of ~8192 tokens by running token sum — the
    batch-construction pass of a pretraining pipeline. One window over
    the global order; shard id = floor((cumsum - tokens) / budget), i.e.
    a doc starts a new shard when the budget would otherwise overflow
    (approximate first-fit in arrival order). Returns per-shard document
    and token counts.

    This is the SMALL-SCALE ORACLE form (operators.packing.
    sequence_pack_global — one task computes the global running sum,
    row-count guarded). The declared scale operator is the partitioned
    form, exercised by q48_partitioned_pack."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", TX.token_count("text").cast("bigint").alias("n_tokens")
    )
    with_shard = P.sequence_pack_global(staged, budget=8192)
    return (
        with_shard.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard")
    )


@gate(f"""
            WITH b AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 100 AS bucket,
                       CAST(len({_TOK}) AS BIGINT) AS n_tokens
                FROM documents
            ), t AS (
                SELECT doc_id, n_tokens,
                       CASE WHEN bucket < 80 THEN 'train'
                            WHEN bucket < 90 THEN 'valid'
                            ELSE 'test' END AS split
                FROM b
            ), s AS (
                SELECT split, n_tokens,
                       CAST(floor((sum(n_tokens) OVER (PARTITION BY split
                                ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                                - n_tokens) / 8192.0) AS BIGINT) AS local_shard
                FROM t
            )
            SELECT split, local_shard, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM s GROUP BY split, local_shard ORDER BY split, local_shard
        """)
def q48_partitioned_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sequence packing — the 100-TB form of q47. Documents
    are first split train/valid/test by the q46 hash split, then packed
    into ~8192-token shards INDEPENDENTLY per split: the running-sum
    window is partitionBy(split), so packing is one shuffle on the split
    key and every partition packs in parallel (no single-task funnel).
    Shard identity is (split, local_shard). Returns per-shard document
    and token counts."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        _hash_split().alias("split"),
        TX.token_count("text").cast("bigint").alias("n_tokens"),
    )
    packed = P.sequence_pack(staged, pack_keys=["split"], budget=8192)
    return (
        packed.groupBy("split", "local_shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("split", "local_shard")
    )


@gate(f"""
            WITH s AS (
                SELECT doc_id, {_TOK} AS tk FROM documents
            ), t AS (
                SELECT doc_id, tk,
                       list_transform(
                           range(1, greatest(len(tk) - 2, 0) + 1),
                           i -> array_to_string(tk[i:i+2], ' ')) AS tg
                FROM s
            )
            SELECT doc_id,
                   CAST(len(tk) AS INT) AS n_tokens,
                   CASE WHEN len(tk) = 0 THEN 0.0
                        ELSE len(list_distinct(tk)) * 1.0 / len(tk)
                   END AS ttr,
                   CASE WHEN len(tg) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(tg)) * 1.0 / len(tg)
                   END AS dup_trigram_ratio
            FROM t ORDER BY doc_id
        """)
def q55_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition & lexical diversity — the Gopher-style
    pretraining quality signals: duplicate-trigram fraction and
    type-token ratio per document. Token and trigram arrays are computed
    ONCE behind non-cheap aliases (CollapseProject keeps multi-referenced
    non-cheap aliases materialized — the q44 pattern), then referenced by
    the ratio expressions; pure Catalyst, one scan, no shuffle."""
    # spread: the per-doc token/trigram pipeline is the whole cost and
    # otherwise runs in ONE task on the single-row-group fixture scan
    # (spread module docstring); outputs are per-row, order-canonical
    docs = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    staged = docs.select(
        "doc_id",
        TX.tokenize("text").alias("tk"),
        TX.ngrams(TX.tokenize("text"), 3).alias("tg"),
    )
    n_tok = F.size("tk")
    n_tri = F.size("tg")
    return staged.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(
            F.size(F.array_distinct("tk")).cast("double") / n_tok.cast("double")
        )
        .alias("ttr"),
        F.when(n_tri == 0, F.lit(0.0))
        .otherwise(
            1.0
            - F.size(F.array_distinct("tg")).cast("double")
            / n_tri.cast("double")
        )
        .alias("dup_trigram_ratio"),
    ).orderBy("doc_id")


@gate(f"""
            WITH b AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 100 AS bucket,
                       {_TOK} AS tk
                FROM documents
            ), t AS (
                SELECT doc_id,
                       CASE WHEN bucket < 80 THEN 'train'
                            WHEN bucket < 90 THEN 'valid'
                            ELSE 'test' END AS split,
                       list_distinct(list_transform(
                           range(1, greatest(len(tk) - 4, 0) + 1),
                           i -> array_to_string(tk[i:i+4], ' '))) AS g5
                FROM b
            ), tr AS (
                SELECT doc_id, unnest(g5) AS gram FROM t WHERE split = 'train'
            ), va AS (
                SELECT DISTINCT unnest(g5) AS gram FROM t WHERE split = 'valid'
            )
            SELECT (SELECT count(*) FROM t WHERE split = 'train')
                       AS n_train_docs,
                   (SELECT count(DISTINCT tr.doc_id)
                    FROM tr JOIN va USING (gram)) AS n_contaminated_docs,
                   (SELECT count(*) FROM va) AS n_probe_grams
        """)
def q57_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via the library operator
    (operators/decontam.py): flag train-split documents sharing any
    5-gram with the held-out valid split (the q46 hash split). The
    staged (doc_id, split, g5) table is computed ONCE and cached —
    Catalyst has no common-subexpression reuse across the summary's
    three consumers, so without the cache the tokenize/ngram pipeline
    (the expensive part) would run three times. At 100 TB the same
    spot is a MEMORY_AND_DISK persist or checkpoint of the gram table."""
    # spread: parallelize the tokenize/5-gram build AND distribute the
    # cached blocks (1-task otherwise); summary counts are exact ints
    docs = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    staged = docs.select(
        "doc_id",
        _hash_split().alias("split"),
        F.array_distinct(TX.ngrams(TX.tokenize("text"), 5)).alias("g5"),
    ).cache()
    train = staged.filter(F.col("split") == "train")
    probe = staged.filter(F.col("split") == "valid")
    summary = DC.decontamination_summary(
        train, probe, id_col="doc_id", gram_col="g5"
    )
    # materialize while the cache is hot, then release it — a lazy
    # return would leave the (doc_id, split, g5) blocks pinned in
    # executor storage for the rest of the session (ADVICE r3)
    rows = summary.collect()
    staged.unpersist()
    return _arrow_rows(spark, rows, summary.schema)


def _planted_line_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id < 300) wrapped in synthetic line structure —
    the fixture text has no newlines, so the boilerplate gate plants
    them: a nav line in every doc (df=300, removed at min_docs=50), a
    footer in every 3rd (df=100, removed), a semi-common line in every
    10th (df=30, KEPT — below threshold), and a unique tail (df=1,
    kept). Mirrored literally in the DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Shared Nav   Bar"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("Copyright Footer 2026")
            ).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
            ),
            F.when(F.col("doc_id") % 10 == 0, F.lit("semi common line")),
        ).alias("text"),
    )


@gate("""
            WITH aug AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                           'Shared Nav   Bar',
                           text,
                           CASE WHEN doc_id % 3 = 0
                                THEN 'Copyright Footer 2026'
                                ELSE 'unique tail ' || CAST(doc_id AS VARCHAR)
                           END,
                           CASE WHEN doc_id % 10 = 0
                                THEN 'semi common line' END
                       ) AS text
                FROM documents WHERE doc_id < 300),
            lns AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS ln,
                       generate_subscripts(string_split(text, chr(10)), 1)
                           AS ord
                FROM aug),
            nrm AS (
                SELECT doc_id, ln, ord,
                       lower(trim(regexp_replace(ln, '\\s+', ' ', 'g')))
                           AS key
                FROM lns),
            freq AS (
                SELECT key FROM (
                    SELECT DISTINCT doc_id, key FROM nrm WHERE key <> '')
                GROUP BY key HAVING count(*) >= 50),
            kept AS (
                SELECT doc_id, ln, ord FROM nrm
                WHERE key = '' OR key NOT IN (SELECT key FROM freq)),
            agg AS (
                SELECT doc_id,
                       string_agg(ln, chr(10) ORDER BY ord) AS cleaned
                FROM kept GROUP BY doc_id)
            SELECT a.doc_id, coalesce(g.cleaned, '') AS cleaned
            FROM aug a LEFT JOIN agg g USING (doc_id)
            ORDER BY doc_id
        """)
def q62_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal (operators/lines), full-
    value oracle: the DuckDB SQL recomputes the normalized-line
    document frequencies and the order/byte-preserving rewrite, so the
    hash check pins the exact cleaned strings — threshold boundary
    (df=30 < min_docs=50 survives), empty-line immunity, and the
    surviving-order guarantee all included."""
    from shotit_worker_spark.operators import lines as LN

    aug = _planted_line_docs(spark, sf_dir)
    out = LN.remove_boilerplate_lines(aug, min_docs=50)
    return out.select(
        "doc_id", F.col("text").alias("cleaned")
    ).orderBy("doc_id")


@gate("""
            SELECT * FROM (VALUES
                ('perplexity_form', CAST(200 AS BIGINT), true),
                ('score_parity', CAST(200 AS BIGINT), true),
                ('total_tokens', CAST(1 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q63_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff n-gram LM (operators/ngram_lm) constants gate:
    the engine's distributed count-table training + join-based scoring
    (train_ngram_lm/NGramLM.score) is compared per-document against an
    embedded pure-python reimplementation of the Brants et al. scheme
    (same tokenize, <s> padding, min_count pruning with exact context
    mass, alpha backoff chain, log10 scoring). Gates: score parity to
    1e-9 on every doc, perplexity = 10^-avg_logprob, exact token totals.
    """
    import math
    import re
    from collections import Counter

    from shotit_worker_spark.operators import ngram_lm as NL

    n, alpha, min_count = 3, 0.4, 2
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    lm = NL.train_ngram_lm(docs, n=n, min_count=min_count, alpha=alpha)
    eng = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["perplexity"])
        for r in lm.score(docs).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }

    def tok(s: str) -> list[str]:
        return [t for t in re.split(r"[^a-z0-9]+", (s or "").lower()) if t]

    counts: dict[int, Counter] = {k: Counter() for k in range(1, n + 1)}
    for t in texts.values():
        padded = [NL.PAD] * (n - 1) + tok(t)
        for i in range(n - 1, len(padded)):
            for k in range(1, n + 1):
                counts[k][tuple(padded[i - k + 1 : i + 1])] += 1
    ctxs: dict[int, Counter] = {k: Counter() for k in range(2, n + 1)}
    for k in range(2, n + 1):
        for g, c in counts[k].items():
            ctxs[k][g[:-1]] += c
    pruned = {1: counts[1]}
    for k in range(2, n + 1):
        pruned[k] = Counter(
            {g: c for g, c in counts[k].items() if c >= min_count}
        )
    total = sum(counts[1].values())

    def ref_score(t: str) -> tuple[int, float | None]:
        toks = tok(t)
        padded = [NL.PAD] * (n - 1) + toks
        lps = []
        for i in range(n - 1, len(padded)):
            s = (pruned[1].get((padded[i],)) or 1) / total
            for k in range(2, n + 1):
                g = tuple(padded[i - k + 1 : i + 1])
                c = pruned[k].get(g)
                cc = ctxs[k].get(g[:-1])
                if c is not None and cc is not None:
                    s = c / cc
                else:
                    s = alpha * s
            lps.append(math.log10(s))
        if not lps:
            return 0, None
        return len(lps), sum(lps) / len(lps)

    score_ok = True
    ppl_ok = True
    for d, t in texts.items():
        rn, ravg = ref_score(t)
        en, eavg, eppl = eng[d]
        if en != rn:
            score_ok = False
        if (ravg is None) != (eavg is None):
            score_ok = False
        elif ravg is not None and abs(eavg - ravg) > 1e-9:
            score_ok = False
        if eavg is not None and eppl is not None:
            if abs(eppl - 10.0 ** (-eavg)) > 1e-9 * max(1.0, eppl):
                ppl_ok = False
    rows = [
        ("perplexity_form", len(texts), ppl_ok),
        ("score_parity", len(texts), score_ok),
        ("total_tokens", 1, int(lm.total_tokens) == int(total)),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


@gate(f"""
            WITH dt AS (SELECT doc_id, {_TOK} AS ts FROM documents
                        WHERE doc_id < 1000),
            st AS (SELECT count(*) AS n_docs, avg(len(ts)) AS avgdl
                   FROM dt),
            ex AS (SELECT doc_id, unnest(ts) AS term, len(ts) AS dl
                   FROM dt),
            post AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                     FROM ex GROUP BY doc_id, term),
            dfs AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM ex GROUP BY term),
            qt AS (SELECT query_id, term, count(*) AS qtf FROM (
                       SELECT doc_id AS query_id, unnest(ts) AS term
                       FROM dt WHERE doc_id < 10)
                   GROUP BY query_id, term)
            SELECT q.query_id, p.doc_id,
                   sum(q.qtf
                       * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * p.tf * (1.2 + 1.0)
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl))
                   ) AS score
            FROM qt q
            JOIN post p USING (term)
            JOIN dfs d ON p.term = d.term
            CROSS JOIN st s
            WHERE p.doc_id < 100
            GROUP BY q.query_id, p.doc_id
            ORDER BY query_id, doc_id
        """)
def q64_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/bm25), full-value oracle: the DuckDB
    SQL recomputes postings, document frequencies, avgdl and the
    Robertson/Sparck-Jones scoring formula from the raw table, so the
    hash check pins every score to 4 decimals. The result is the FIXED
    candidate slab (queries = docs 0..9, candidates = docs 0..99 with
    >= 1 matching term) rather than a top-k — rank-boundary float ties
    can reorder a top-k set across engines, while the slab is
    deterministic. k large (no truncation) keeps the engine path
    identical to production search minus the final limit."""
    from shotit_worker_spark.operators import bm25 as B

    # corpus bounded at 1000 docs so the gate's cost is sf-independent
    # (sf0.01 has 500 docs — unbounded there; the scale path is the
    # operator itself, stress-measured at 100 k in SCALE_NOTES)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    idx = B.build_bm25(docs)
    qs = docs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return (
        idx.search(qs, k=1_000_000)
        .filter(F.col("doc_id") < 100)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", "doc_id")
    )


@gate("""
            SELECT * FROM (VALUES
                ('model_parity', CAST(1 AS BIGINT), true),
                ('perplexity_form', CAST(122 AS BIGINT), true),
                ('score_parity', CAST(122 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q67_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney LM (operators/ngram_lm.train_kn_lm)
    constants gate: the engine's distributed continuation-count tables,
    per-level Ney discount estimates, and join-based scoring are
    compared against an embedded pure-python reimplementation of Chen &
    Goodman's interpolated KN (same tokenize, <s> padding, N1+
    continuation counts, per-context total/type masses, D·T/total
    backoff weights, unigram D1/N2 floor). Gates: discount + N2 parity
    to 1e-12, per-doc score parity to 1e-9 including OOV-only and
    empty probes, perplexity = 10^-avg_logprob."""
    import math
    import re
    from collections import Counter

    from shotit_worker_spark.operators import ngram_lm as NL

    n = 3
    # 120 tiny docs: the gate's cost is per-job scheduling overhead
    # (KN training runs n+2 small actions), not data — collapse to a
    # couple of partitions so each action is 2 tasks, not 32
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .coalesce(2)
    )
    probes = _arrow_rows(spark, 
        [(9001, ""), (9002, "zzq qqw wwz unseen tokens entirely")],
        "doc_id long, text string",
    )
    scored_docs = docs.select("doc_id", "text").unionByName(probes)
    lm = NL.train_kn_lm(docs, n=n)
    eng = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["perplexity"])
        for r in lm.score(scored_docs).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in scored_docs.select("doc_id", "text").collect()
    }
    train_texts = [texts[d] for d in sorted(texts) if d < 9000]

    def tok(s: str) -> list[str]:
        return [t for t in re.split(r"[^a-z0-9]+", (s or "").lower()) if t]

    counts: dict[int, Counter] = {k: Counter() for k in range(1, n + 1)}
    for t in train_texts:
        padded = [NL.PAD] * (n - 1) + tok(t)
        for i in range(len(padded)):
            if padded[i] == NL.PAD:
                continue
            for k in range(1, n + 1):
                if i - k + 1 < 0:
                    continue
                counts[k][tuple(padded[i - k + 1 : i + 1])] += 1
    numer: dict[int, Counter] = {n: counts[n]}
    for k in range(1, n):
        cont: Counter = Counter()
        for g in counts[k + 1]:
            cont[g[1:]] += 1
        numer[k] = cont
    denom: dict[int, tuple[Counter, Counter]] = {}
    for k in range(2, n + 1):
        src = counts[n] if k == n else numer[k]
        d_, ty = Counter(), Counter()
        for g, c in src.items():
            d_[g[:-1]] += c
            ty[g[:-1]] += 1
        denom[k] = (d_, ty)
    n2 = len(counts[2])
    discounts: dict[int, float] = {}
    for k in range(1, n + 1):
        n1 = sum(1 for c in numer[k].values() if c == 1)
        n2_ = sum(1 for c in numer[k].values() if c == 2)
        if n1 <= 0 or n1 + 2 * n2_ <= 0:
            discounts[k] = 0.75
        else:
            dd = n1 / (n1 + 2.0 * n2_)
            discounts[k] = dd if 0.0 < dd < 1.0 else 0.75

    def ref_score(t: str) -> tuple[int, float | None]:
        toks = tok(t)
        padded = [NL.PAD] * (n - 1) + toks
        lps = []
        for i in range(n - 1, len(padded)):
            w = padded[i]
            d1 = discounts[1]
            p = (max((numer[1].get((w,)) or 0) - d1, 0.0) + d1) / n2
            for k in range(2, n + 1):
                g = tuple(padded[i - k + 1 : i + 1])
                ctx = g[:-1]
                dt, ttypes = denom[k]
                if ctx in dt:
                    dk = discounts[k]
                    num = max((numer[k].get(g) or 0) - dk, 0.0)
                    p = num / dt[ctx] + dk * ttypes[ctx] / dt[ctx] * p
            lps.append(math.log10(p))
        if not lps:
            return 0, None
        return len(lps), sum(lps) / len(lps)

    model_ok = int(lm.n2_types) == n2 and all(
        abs(lm.discounts[k] - discounts[k]) <= 1e-12
        for k in range(1, n + 1)
    )
    score_ok = True
    ppl_ok = True
    for d, t in texts.items():
        rn, ravg = ref_score(t)
        en, eavg, eppl = eng[d]
        if en != rn or (ravg is None) != (eavg is None):
            score_ok = False
        elif ravg is not None and abs(eavg - ravg) > 1e-9:
            score_ok = False
        if eavg is not None and eppl is not None:
            if abs(eppl - 10.0 ** (-eavg)) > 1e-9 * max(1.0, eppl):
                ppl_ok = False
    rows = [
        ("model_parity", 1, model_ok),
        ("perplexity_form", len(texts), ppl_ok),
        ("score_parity", len(texts), score_ok),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


@gate("""
            SELECT * FROM (VALUES
                ('copies_identical', CAST(30 AS BIGINT), true),
                ('copies_removed', CAST(30 AS BIGINT), true),
                ('determinism', CAST(330 AS BIGINT), true),
                ('originals_kept', CAST(300 AS BIGINT), true),
                ('unit_norm', CAST(330 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q68_text_embedder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine text embedder (operators/embedding) constants gate:
    the embedder is a pure function of (text, seed, dim) — md5 sign
    rows, exact tf-idf — so every check is deterministic. Gates:
    bit-exact determinism across two independent embed() runs, unit L2
    norms, identical-text copies embed to identical vectors, and the
    text→embed→SemDeDup e2e collapse: 30 planted exact copies
    (doc_id+10000) are all removed while every original survives (the
    fixture's measured max original-pair cosine is 0.9658 ≤ dim=64's
    0.9632 band — both far under the 0.99 threshold — and the embedder
    has no randomness, so the margin is exact, not statistical)."""
    import numpy as np

    from shotit_worker_spark.operators import clustering as CL
    from shotit_worker_spark.operators import embedding as EM

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    emb = EM.train_text_embedder(docs, dim=64, min_df=2)
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(copies)
    embedded = emb.embed(all_docs).select("doc_id", "embedding")
    a = {
        r["doc_id"]: np.array(r["embedding"])
        for r in embedded.collect()
    }
    b = {
        r["doc_id"]: np.array(r["embedding"])
        for r in emb.embed(all_docs).select("doc_id", "embedding").collect()
    }
    det_ok = all(np.array_equal(a[d], b[d]) for d in a)
    norm_ok = all(
        abs(float(np.linalg.norm(v)) - 1.0) <= 1e-9 for v in a.values()
    )
    copy_ok = all(
        np.array_equal(a[d], a[d - 10000]) for d in a if d >= 10000
    )
    kept = CL.semantic_dedup(
        embedded,
        threshold=0.99,
        num_clusters=8,
        id_col="doc_id",
        vec_col="embedding",
        keep="min_id",
    )
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    base_ids = {d for d in a if d < 10000}
    planted = {d for d in a if d >= 10000}
    rows = [
        ("copies_identical", len(planted), copy_ok),
        ("copies_removed", len(planted), not (planted & kept_ids)),
        ("determinism", len(a), det_ok),
        ("originals_kept", len(base_ids), kept_ids == base_ids),
        ("unit_norm", len(a), norm_ok),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


def _rerank_planted_pairs(spark: SparkSession, seed: int):
    """Labeled (query, doc) pairs whose relevance the token-F1 baseline
    CANNOT see: heavy filler overlap everywhere, the true signal a rare
    marker token present only in the relevant doc (the test_rerank
    fixture, embedded so the gate is self-contained)."""
    import random

    rng = random.Random(seed)
    filler = "the quick brown fox jumps over the lazy dog".split()
    rows = []
    relevant = {}
    for q in range(12):
        qtext = f"rel{q} " + " ".join(rng.choice(filler) for _ in range(4))
        for d in range(18):
            doc_id = q * 100 + d
            if d == 0:
                dtext = f"rel{q} payload " + " ".join(
                    rng.choice(filler) for _ in range(2)
                )
                relevant[q] = doc_id
            else:
                dtext = " ".join(rng.choice(filler) for _ in range(6))
            rows.append((q, doc_id, qtext, dtext, 1.0 if d == 0 else 0.0))
    import pandas as pd

    # pandas-backed → Arrow createDataFrame: the JVM holds the rows as
    # Arrow batches, so downstream persists/counts never re-run a
    # Python pickle source. The former list-backed form parallelized
    # into defaultParallelism pickle partitions, and the gate's
    # coalesce(1) then paid one Python-worker round trip PER SOURCE
    # PARTITION serially — ~6 s to count 216 rows.
    pdf = pd.DataFrame(
        rows,
        columns=[
            "query_id", "hash_id", "query_text", "doc_text", "label",
        ],
    )
    df = spark.createDataFrame(
        pdf,
        "query_id long, hash_id long, query_text string, "
        "doc_text string, label double",
    )
    return df, relevant


@gate("""
            -- n on beats_lexical is the lexical baseline's top-1 hit
            -- count on the seed-99 planted pairs: fully deterministic
            -- (fixed RNG construction, float-deterministic F1 scorer,
            -- (score DESC, hash_id ASC) tie-break)
            SELECT * FROM (VALUES
                ('beats_lexical', CAST(3 AS BIGINT), true),
                ('catalyst_parity', CAST(216 AS BIGINT), true),
                ('learned_top1_all', CAST(12 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q69_learned_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned pairwise re-ranker (operators/rerank.train_pair_scorer /
    rerank_with_model) constants gate: on planted-relevance pairs the
    trained scorer must place the relevant doc first for EVERY query
    (the marker interaction feature is fully learnable) and beat the
    token-F1 lexical baseline (which the confounded overlap defeats by
    construction). Also gates bit parity of the zero-Python Catalyst
    scoring path (rerank_by_col + overlap_score_col) against the
    Arrow-vectorized pandas scorer on the same pairs."""
    from shotit_worker_spark.operators.rerank import (
        overlap_score_col,
        overlap_scorer,
        rerank,
        rerank_by_col,
        rerank_with_model,
        train_pair_scorer,
    )

    train, _ = _rerank_planted_pairs(spark, seed=7)
    test, relevant = _rerank_planted_pairs(spark, seed=99)
    # the gate runs ~6 actions over these 216-row frames, so persist
    # both once (Arrow-backed source — see _rerank_planted_pairs; the
    # former coalesce-over-pickle-partitions persist cost ~6 s per
    # frame by itself)
    test = test.persist()
    train = train.persist()
    test.count()
    train.count()
    # 10 iterations converge the fully-separable marker feature with
    # margin (probed: top-1 is already perfect after ONE iteration;
    # pytest pins the same outcome at the operator default of 50)
    model = train_pair_scorer(
        train.drop("query_id", "hash_id"), max_iter=10
    )

    def top1_hits(result_df) -> int:
        rows = (
            result_df.orderBy(
                "query_id", F.col("rerank_score").desc(), "hash_id"
            )
            .select("query_id", "hash_id")
            .collect()
        )
        best: dict[int, int] = {}
        for r in rows:
            best.setdefault(r["query_id"], r["hash_id"])
        return sum(1 for q, d in relevant.items() if best.get(q) == d)

    learned = top1_hits(rerank_with_model(test.drop("label"), model, k=1))
    baseline = top1_hits(rerank(test.drop("label"), overlap_scorer(), k=1))
    pandas_scored = rerank(test.drop("label"), overlap_scorer(), k=18)
    catalyst_scored = rerank_by_col(
        test.drop("label"), overlap_score_col(), k=18
    )
    key = lambda r: (r["query_id"], r["hash_id"])  # noqa: E731
    ps = {
        key(r): r["rerank_score"]
        for r in pandas_scored.select(
            "query_id", "hash_id", "rerank_score"
        ).collect()
    }
    cs = {
        key(r): r["rerank_score"]
        for r in catalyst_scored.select(
            "query_id", "hash_id", "rerank_score"
        ).collect()
    }
    # same selected pairs, scores within 1e-12 (the two forms evaluate
    # the algebraically-equal F1 in different operation orders, so the
    # last ulp can differ — the pinned band from test_rerank)
    parity = ps.keys() == cs.keys() and all(
        abs(ps[k] - cs[k]) <= 1e-12 for k in ps
    )
    test.unpersist()
    train.unpersist()
    rows = [
        ("beats_lexical", baseline, learned > baseline),
        ("catalyst_parity", len(ps), parity),
        ("learned_top1_all", len(relevant), learned == len(relevant)),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


@gate("""
            WITH d AS (
                SELECT doc_id,
                       'ex' || CAST(doc_id % 37 AS VARCHAR) || '.example'
                           AS h,
                       CAST(doc_id AS VARCHAR) AS i
                FROM documents WHERE doc_id < 200)
            SELECT doc_id, variant, canon FROM (
                SELECT doc_id, 'v0' AS variant,
                       'https://' || h || '/articles/' || i AS canon FROM d
                UNION ALL
                SELECT doc_id, 'v1',
                       'https://' || h || '/articles/' || i FROM d
                UNION ALL
                SELECT doc_id, 'v2',
                       'http://' || h || ':8080/articles/' || i FROM d
                UNION ALL
                SELECT doc_id, 'v3',
                       'https://' || h || '/articles/' || i || '?a=1&b=2'
                FROM d
                UNION ALL
                SELECT doc_id, 'v4',
                       'https://' || h || '/articles/' || i || '?ref=main'
                FROM d
                UNION ALL
                SELECT doc_id, 'v5', 'https://' || h FROM d
                UNION ALL
                SELECT doc_id, 'v6', CAST(NULL AS VARCHAR) FROM d)
            ORDER BY doc_id, variant
        """)
def q70_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.canonical_url), FULL-VALUE
    oracle: seven variant forms per document — case/www/default-port
    noise, kept non-default ports, tracking-param stripping (with the
    ambiguous `ref` param KEPT per the r5 ADVICE fix), query sorting +
    fragment dropping, root-path folding, and unparseable garbage →
    NULL — are canonicalized by the engine while the DuckDB SQL states
    the expected canonical string for each variant outright, so the
    hash check pins every output byte (1400 rows)."""
    from shotit_worker_spark.functions import urls as U

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    h = F.concat(
        F.lit("ex"), (F.col("doc_id") % 37).cast("string"), F.lit(".example")
    )
    i = F.col("doc_id").cast("string")
    base = F.concat(F.lit("https://"), h, F.lit("/articles/"), i)
    variants = [
        ("v0", base),
        (
            "v1",
            # scheme/host/port noise uppercased; the PATH stays lower —
            # paths are case-sensitive and canonical_url must preserve
            # them (uppercasing the whole URL would test the wrong
            # thing: a canonicalizer that lowercases paths is broken)
            F.concat(
                F.upper(F.concat(F.lit("https://www."), h, F.lit(":443"))),
                F.lit("/articles/"), i, F.lit("/"),
            ),
        ),
        (
            "v2",
            F.concat(
                F.lit("http://"), h, F.lit(":8080/articles/"), i,
                F.lit("?utm_source=rss&fbclid=x1"),
            ),
        ),
        ("v3", F.concat(base, F.lit("?b=2&a=1#frag"))),
        ("v4", F.concat(base, F.lit("?ref=main&utm_campaign=x"))),
        ("v5", F.concat(F.lit("https://"), h, F.lit("/"))),
        ("v6", F.concat(F.lit("not a url "), i)),
    ]
    arr = F.array(
        *[
            F.struct(F.lit(tag).alias("variant"), url.alias("url"))
            for tag, url in variants
        ]
    )
    ex = docs.select("doc_id", F.explode(arr).alias("v")).select(
        "doc_id",
        F.col("v.variant").alias("variant"),
        F.col("v.url").alias("url"),
    )
    return ex.select(
        "doc_id",
        "variant",
        U.canonical_url(F.col("url")).alias("canon"),
    ).orderBy("doc_id", "variant")


@gate("""
            SELECT * FROM (VALUES
                ('deterministic', CAST(400 AS BIGINT), true),
                ('ffd_bound', CAST(20 AS BIGINT), true),
                ('ffd_budget', CAST(400 AS BIGINT), true),
                ('ffd_oversize_isolated', CAST(1 AS BIGINT), true),
                ('nf_budget', CAST(400 AS BIGINT), true),
                ('nf_oversize_isolated', CAST(1 AS BIGINT), true)
            ) AS t(gate, n, ok)
            ORDER BY gate
        """)
def q71_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-overflow packing (operators/packing.sequence_pack_nosplit)
    constants gate over both disciplines — next-fit (arrival order) and
    first-fit-decreasing: shards never exceed the budget (the operator's
    defining invariant, which the cumsum form deliberately lacks), rows
    and tokens are conserved per pack key, a planted oversize document
    is isolated in its own shard, assignment is deterministic across
    runs, and FFD respects its theoretical 11/9·OPT + 6/9 bin bound
    against the per-key capacity lower bound."""
    import math
    from collections import defaultdict

    from shotit_worker_spark.operators import packing as PK

    budget = 256
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select(
            "doc_id",
            "source",
            F.when(F.col("doc_id") == 0, F.lit(999))
            .otherwise((F.col("n_chars") % 97) + 1)
            .alias("n_tokens"),
        )
    )
    inp = {
        r["doc_id"]: (r["source"], r["n_tokens"])
        for r in docs.collect()
    }

    def assignments(order: str) -> dict[int, tuple[str, int]]:
        packed = PK.sequence_pack_nosplit(
            docs, ["source"], budget=budget, order=order
        )
        return {
            r["doc_id"]: (r["source"], r["local_shard"])
            for r in packed.collect()
        }

    nf = assignments("arrival")
    ffd = assignments("length_desc")
    nf2 = assignments("arrival")

    def check(asg: dict[int, tuple[str, int]]) -> tuple[bool, bool, bool, int]:
        loads: dict[tuple[str, int], int] = defaultdict(int)
        rows_per: dict[tuple[str, int], int] = defaultdict(int)
        for d, shard in asg.items():
            loads[shard] += inp[d][1]
            rows_per[shard] += 1
        over_shard = asg.get(0)
        budget_ok = all(
            load <= budget for s, load in loads.items() if s != over_shard
        )
        oversize_ok = rows_per.get(over_shard) == 1
        conserved = set(asg) == set(inp) and all(
            asg[d][0] == inp[d][0] for d in inp
        )
        return budget_ok, oversize_ok, conserved, len(loads)

    nf_budget, nf_over, nf_cons, _nf_bins = check(nf)
    ffd_budget, ffd_over, ffd_cons, _ = check(ffd)
    # FFD bound per key (excluding the oversize doc, which lawfully
    # owns one extra bin on each side): bins <= (11*OPT + 6)/9 with
    # OPT >= ceil(tokens/budget)
    key_tokens: dict[str, int] = defaultdict(int)
    key_bins: dict[str, set] = defaultdict(set)
    for d, (src, tok) in inp.items():
        if d == 0:
            continue
        key_tokens[src] += tok
        key_bins[src].add(ffd[d])
    ffd_bound_ok = all(
        len(key_bins[src])
        <= math.ceil((11 * math.ceil(key_tokens[src] / budget) + 6) / 9)
        for src in key_tokens
    )
    rows = [
        ("deterministic", len(inp), nf == nf2),
        ("ffd_bound", len(key_tokens), ffd_bound_ok),
        ("ffd_budget", len(inp), ffd_budget and ffd_cons),
        ("ffd_oversize_isolated", 1, ffd_over),
        ("nf_budget", len(inp), nf_budget and nf_cons),
        ("nf_oversize_isolated", 1, nf_over),
    ]
    return _arrow_rows(spark, 
        rows, "gate string, n long, ok boolean"
    ).orderBy("gate")


@gate("""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(
                   lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
        WHERE text IS NOT NULL
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dft AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
        HAVING count(*) >= 2
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * ln(nn.n / dft.df) AS tfidf
        FROM tf JOIN dft USING (term), nn
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, tfidf, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
""")
def q123_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords (operators/bm25.tfidf_keywords)
    FULL-VALUE gate: each document's top-3 salient terms (classic
    idf = ln(N/df), min_df=2, term-tiebroken ranks) over the
    documents table — one explode, one (doc, term) tf agg, a
    broadcast vocabulary-sized df table, one per-doc window. The
    oracle recomputes every score with the q41 tokenizer fragment
    in plain SQL."""
    from shotit_worker_spark.operators.bm25 import tfidf_keywords

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_keywords(
        docs, k=3, min_df=2
    ).orderBy("doc_id", "rank")
