"""Vector kernels — pure Catalyst column expressions (no UDFs).

Re-expresses the reference's hand-rolled numeric pipeline
(/root/reference/loader.js:110-143 and searcher.js:40-60) as built-in
higher-order functions, so the whole path stays inside whole-stage
codegen and is checkable against the DuckDB oracle:

  P9  hex token decode      loader.js:111      hex_tokens_to_floats
  P10 zero-pad / truncate   loader.js:112-118  pad_vector
  P11 L2 normalization      loader.js:120-128  l2_normalize / l2_norm
  P12 charcode-sum key      loader.js:131-143  charcode_sum
  P8  hash_id projection    loader.js:241      hash_id
  J2  inner-product score   searcher.js:99-107 dot / cosine_similarity

The reference computes the norm in arbitrary precision (BigDecimal) then
truncates to a JS double; we compute in float64 — parity policy is 1e-6
elementwise / %.4f renderings (SURVEY §5.4).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hex_tokens_to_floats(ha: ColumnOrName) -> Column:
    """Decode a space-separated hex-token string to array<double>.

    Mirrors `str.split(' ').map(s => parseInt(s, 16))`
    (/root/reference/loader.js:111). Blank tokens (leading/trailing/double
    spaces) are dropped before decoding — ANSI-safe.
    """
    toks = F.filter(F.split(_col(ha), " "), lambda t: t != F.lit(""))
    return F.transform(toks, lambda t: F.conv(t, 16, 10).cast("double"))


def pad_vector(vec: ColumnOrName, dim: int) -> Column:
    """Zero-pad to `dim` and truncate beyond `dim`.

    Mirrors `Array(dim).fill(0)` + positional fill
    (/root/reference/loader.js:112-118): tokens beyond `dim` are dropped,
    missing positions are 0.0.
    """
    v = _col(vec)
    padded = F.concat(v, F.array_repeat(F.lit(0.0), dim))
    return F.slice(padded, 1, dim)


def l2_norm(vec: ColumnOrName) -> Column:
    """sqrt(sum(x^2)) over an array column (float64)."""
    v = _col(vec)
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))


def l2_normalize(vec: ColumnOrName) -> Column:
    """x / ||x||_2 elementwise; all-zero vectors pass through unchanged.

    Mirrors /root/reference/loader.js:120-128 (write side) and
    searcher.js:52-60 (query side) — one code path for both, so
    inner product == cosine similarity on stored vectors.

    Float64-policy divergence (SURVEY §5.4): components below ~1e-154
    underflow x*x to 0 here, while the reference's BigDecimal norm would
    not; real descriptor values are integers in [0, 256), far from that
    regime.

    Shape note: the norm must NOT appear inside the per-element lambda —
    `transform(v, x -> x / norm)` re-evaluates the O(dim) aggregate per
    element (O(dim²) per row; measured 41 s → 3 s for 100 k × dim-64
    rows). `array_repeat` evaluates it once per row, then the division
    is a flat zip.
    """
    v = _col(vec)
    norm = l2_norm(v)
    scaled = F.zip_with(
        v, F.array_repeat(norm, F.size(v)), lambda x, n: x / n
    )
    return F.when(norm == 0.0, v).otherwise(scaled)


def charcode_sum(s: ColumnOrName) -> Column:
    """Sum of UTF-16 char codes of a string, as bigint.

    Mirrors the content-derived `primary_key`
    (/root/reference/loader.js:131-143). For ASCII descriptor-identity
    strings (the only producer) this equals the sum of `ascii(c)`.
    """
    chars = F.split(_col(s), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: acc + F.ascii(c).cast("bigint"),
    )


def hash_id(file: ColumnOrName, time: ColumnOrName) -> Column:
    """`${file}/${time.toFixed(2)}` (/root/reference/loader.js:241).

    Uses format_string (no thousands separators — format_number would
    inject them, SURVEY §2.3 P8).
    """
    return F.concat_ws("/", _col(file), F.format_string("%.2f", _col(time)))


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product of two array columns (float64 accumulate)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def _double_sql(x: float) -> str:
    """One double as a Spark SQL literal that parses back to the same
    bits: ``repr`` is the shortest round-trip decimal (signed zero and
    subnormals included) and the ``D`` suffix types it DOUBLE. NaN and
    the infinities have no numeric literal form and go through a
    string cast, which constant-folds to the same value."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def double_array(values: Sequence[float]) -> Column:
    """A constant array<double> built with ONE py4j call.

    ``F.array(*[F.lit(v) ...])`` costs several py4j round trips per
    element (about 190 ms for a 100-element query vector); the SQL
    string parses to the same CreateArray of double literals, so
    results are bit-identical (the simhash64 rule in
    operators/dedup)."""
    return F.expr(
        "array(" + ", ".join(_double_sql(v) for v in values) + ")"
    )


def dot_literal(vec: ColumnOrName, query: Sequence[float]) -> Column:
    """Inner product against a driver-side constant vector.

    zip_with against a constant-folded literal array: the vector-column
    expression is evaluated exactly ONCE per row even when it is itself a
    computed expression (e.g. l2_normalize(...)). An unrolled
    element_at(v,1)*q0 + ... sum looks faster but re-evaluates `v` per
    term after Catalyst's CollapseProject inlines the projection — O(dim²)
    per row for computed vectors.
    """
    qarr = double_array(query)
    return F.aggregate(
        F.zip_with(_col(vec), qarr, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """dot(a,b) / (||a|| * ||b||); 0.0 when either norm is zero."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def to_double_array(vec: ColumnOrName) -> Column:
    """Cast array<float> to array<double> (oracle-parity math)."""
    return _col(vec).cast("array<double>")


def decoded_padded_normalized(ha: ColumnOrName, dim: int) -> Column:
    """The full query/write-side vector kernel: P9 → P10 → P11."""
    return l2_normalize(pad_vector(hex_tokens_to_floats(ha), dim))
