"""The declared query gates, one module per family.

Each gate is registered once, beside its DuckDB oracle, by ``@gate``:
``REGISTRY`` maps the gate's name to its query function and its oracle.
The oracle is the SQL text, or a zero-argument function that builds it.
Oracles computed from fixture rows (q72's encoder-side md5s, the codec
and CDC rows) are functions, so they run only when
``__spark_entry__.oracle_sql()`` asks and never at import: executors
import these modules inside ``mapInPandas``.

Oracle SQL keeps the whitespace it had in the single-file entry, so
``oracle_sql()`` stays byte-identical (tests/test_entry_pins.py).

A constants gate (the q49 pattern) computes deterministic invariants as
a (name, ok) table and its oracle pins the all-true table; a full-value
gate's oracle recomputes the whole result in SQL. Column names match
pairwise, since the driver sorts columns by name before hashing.

This module also holds what the families share: the fixture table
readers and the oracle helpers.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shotit_worker_spark.functions import vector as V

Oracle = str | Callable[[], str]
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Oracle]] = {}

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS_DIR = os.path.join(_REPO_DIR, "tools")

# DuckDB's form of the engine's lower-case alphanumeric tokenizer over
# documents.text
_TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def gate(oracle: Oracle):
    """Register the decorated query function with its oracle."""
    def register(fn):
        REGISTRY[fn.__name__] = (fn, oracle)
        return fn
    return register


def oracle_text(oracle: Oracle) -> str:
    return oracle() if callable(oracle) else oracle


_WORK_DIRS: dict[str, str] = {}


def _fresh_dir(prefix: str) -> str:
    """A new private temp dir for a gate's tables; the dir the same gate
    made on its previous call is removed, so /tmp stays bounded."""
    old = _WORK_DIRS.pop(prefix, None)
    if old:
        shutil.rmtree(old, ignore_errors=True)
    _WORK_DIRS[prefix] = tempfile.mkdtemp(prefix=prefix)
    return _WORK_DIRS[prefix]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS) — with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as int64 ns;
        # convert to a microsecond timestamp (the fixture's actual precision).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _t(spark, sf_dir, "events")


def _normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", V.l2_normalize(V.to_double_array("embedding")).alias("nv")
    )


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Normalized embedding of one row, as a driver-side constant (the
    search-query parameter, mirroring searcher.js's single query vector)."""
    row = (
        _normalized_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select("nv")
        .first()
    )
    return list(row["nv"])


def _values_oracle(rows: list, cols: str) -> str:
    # floats cast explicitly: a bare 0.5 literal is DECIMAL in
    # DuckDB, which canonicalizes as "0.5", not the driver's %.4f
    vals = ", ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str)
            else f"CAST({v!r} AS DOUBLE)" if isinstance(v, float)
            else str(v) for v in r
        ) + ")"
        for r in rows
    )
    first = cols.split(",")[0].strip()
    return (
        f"SELECT * FROM (VALUES {vals}) AS t({cols}) ORDER BY {first}"
    )
