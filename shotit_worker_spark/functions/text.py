"""Text-analysis kernels for the LLM-data-pipeline surface (SURVEY §2.12
"text analysis" row; north-star ops over the `documents` fixture).

All pure Catalyst expressions; tokenization is deliberately simple
(lowercase, split on non-alphanumeric runs) so the DuckDB oracle can
reproduce it byte-for-byte with regexp_split_to_array.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"

# Tiny per-language stopword lists for the n-gram-free language-ID
# heuristic. Public common-word lists; deliberately small and fixed so the
# heuristic is deterministic and oracle-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "que", "de", "los", "una", "es", "por", "con", "para"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "on", "as", "at", "by", "be", "are", "was", "this"]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokenize(text: ColumnOrName) -> Column:
    """lowercase → split on non-alphanumeric runs → drop empties."""
    toks = F.split(F.lower(_col(text)), TOKEN_SPLIT_PATTERN)
    return F.filter(toks, lambda t: t != F.lit(""))


def token_count(text: ColumnOrName) -> Column:
    """Whitespace-ish token count (the `wc -w` analog)."""
    return F.size(tokenize(text))


# GPT-2-style pre-tokenizer pattern, lookahead-free so the same regex
# runs under both Java regex (Spark) and RE2 (DuckDB oracle):
# contractions | space?-letters | space?-digits | space?-symbols | spaces
BPE_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
)


def bpe_token_count(text: ColumnOrName) -> Column:
    """Approximate LLM token count: the number of BPE *pre-tokenization*
    pieces (the GPT-2 split regex, minus its trailing-space lookahead).
    Real BPE merges happen within pieces, so this lower-bounds piece
    count and tracks tokenizer cost well enough for data budgeting —
    without shipping a vocab. Pure JVM regexp, no UDF."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(BPE_SPLIT_PATTERN), 0))


def punct_ratio(text: ColumnOrName) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    t = _col(text)
    stripped = F.regexp_replace(t, "[A-Za-z0-9 ]", "")
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(t).cast("double")
    )


def stopword_ratio(text: ColumnOrName, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    sw = stopwords or STOPWORDS_EN
    toks = tokenize(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    presence of stopwords (a crude boilerplate/gibberish filter, the
    standard pre-training cleanup signal)."""
    t = _col(text)
    len_ok = (F.length(t) >= 20) & (F.length(t) <= 100000)
    mean_tok_len = F.when(token_count(t) == 0, F.lit(0.0)).otherwise(
        F.length(t).cast("double") / token_count(t).cast("double")
    )
    tok_len_ok = (mean_tok_len >= 2.0) & (mean_tok_len <= 12.0)
    return (
        len_ok.cast("double") * 0.4
        + tok_len_ok.cast("double") * 0.2
        + (punct_ratio(t) < 0.2).cast("double") * 0.2
        + (stopword_ratio(t) > 0.05).cast("double") * 0.2
    )


def _marker_hits(toks: Column, lang: str) -> Column:
    return F.array_intersect(
        toks, F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    )


def lang_id_from_tokens(tokens: ColumnOrName) -> Column:
    """lang_id over a pre-tokenized column. Prefer this behind an alias
    boundary when scoring many rows — `lang_id(text)` inlines the
    tokenizer into every language's score expression (4× per row).

    Scoring: number of DISTINCT marker tokens present, via
    array_intersect — a JVM-codegen set intersection, ~40× cheaper per
    row than counting occurrences with an interpreted filter lambda
    (VERDICT r3 #6), and just as discriminative for 10-marker lists.
    """
    toks = _col(tokens)
    best = F.lit("und")
    best_hits = F.lit(0)
    # strict > with ascending iteration: on equal counts the first
    # (lexicographically smaller) language code wins
    for lang in sorted(LANG_MARKERS):
        hits = F.size(_marker_hits(toks, lang))
        take = hits > best_hits
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best


def lang_id(text: ColumnOrName) -> Column:
    """Pick the language with the most distinct marker-token hits; ties
    and zero-hit rows → 'und'. Deterministic tie-break: higher count
    wins, then lexicographic language code."""
    return lang_id_from_tokens(tokenize(_col(text)))


FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def fingerprint(text: ColumnOrName) -> Column:
    """Deterministic polynomial rolling hash of the normalized token
    stream (document fingerprinting for near-dup candidate keys):

        h = fold(tokens_joined_chars, h*31 + ascii(c) mod 1e9+7)

    Stays in bigint range (mod < 2^30, so h*31+c < 2^35).
    """
    joined = F.concat_ws(" ", tokenize(_col(text)))
    chars = F.split(joined, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * FINGERPRINT_BASE + F.ascii(c).cast("bigint"))
        % FINGERPRINT_MOD,
    )


def ngrams(tokens: ColumnOrName, n: int) -> Column:
    """Token n-grams as space-joined strings (shingles for MinHash/Jaccard).

    Implemented as arrays_zip of n shifted slices, NOT as
    `transform(sequence(...), i -> slice(toks, i, n))`: higher-order
    functions are interpreted per element, so a lambda body referencing
    `toks` re-evaluates the whole token expression once per position —
    O(len²) when `toks` is itself computed (tokenize). The zip form
    evaluates `toks` exactly n times per row.

    Documents shorter than n tokens yield an empty array.
    """
    toks = _col(tokens)
    if n == 1:
        return toks
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, length) for i in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )


# -- normalization (the cleaning pass upstream of dedup/fingerprint) --------

# typographic → ASCII map applied by normalize_text: curly quotes,
# dashes, ellipsis, NBSP — the handful of codepoints that otherwise
# split "identical" web text into distinct dedup keys
_TRANSLATE_SRC = "‘’‚“”„–—… "
_TRANSLATE_DST = "'''\"\"\"--. "
_CONTROL_PATTERN = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def normalize_text(
    text: ColumnOrName,
    lowercase: bool = False,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    ascii_punct: bool = True,
) -> Column:
    """Canonicalize raw web/corpus text — pure Catalyst (translate +
    regexp_replace + trim), so the pass rides whole-stage codegen in
    the same scan as whatever consumes it.

    Scope is the cheap, always-safe subset: control-char strip,
    typographic-punctuation folding, whitespace collapse, optional
    lowercasing. Unicode NFC (combining-mark composition) genuinely
    needs a table lookup — use `normalize_text_nfc` (Arrow UDF) when
    the corpus mixes composed/decomposed forms; chain it BEFORE this.
    """
    out = _col(text)
    if strip_control:
        out = F.regexp_replace(out, _CONTROL_PATTERN, " ")
    if ascii_punct:
        out = F.translate(out, _TRANSLATE_SRC, _TRANSLATE_DST)
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, "\\s+", " "))
    if lowercase:
        out = F.lower(out)
    return out


def normalize_text_nfc(text: ColumnOrName) -> Column:
    """Unicode NFC composition (é as one codepoint, not e+◌́) — the one
    normalization step Catalyst has no builtin for. Arrow-batched
    pandas UDF over unicodedata; everything else in this module stays
    JVM-side, so use this only when the corpus actually mixes forms."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    # real class objects, not strings: `from __future__ import
    # annotations` would stringify inline hints and break pyspark's
    # signature inspection
    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_nfc, "string")(_col(text))
