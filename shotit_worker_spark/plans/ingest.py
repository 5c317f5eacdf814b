"""The loader transform — hash rows → index rows (SURVEY §3.3).

Re-expresses /root/reference/loader.js:185-255 as one declarative plan:

    hashes(file, time, hi, ha)
      → orderBy time per file                 (O2, loader.js:198)
      → sequential dedup (D1)                 (loader.js:202-212)
      → duration = max(time) per file         (A1, loader.js:200)
      → vector = normalize(pad(hexdecode(ha)))(P9-P11, loader.js:110-129)
      → hash_id = file/time.toFixed(2)        (P8, loader.js:241)
      → primary_key = charcode_sum(hi)        (P12, loader.js:131-143)
      → dedup by primary_key                  (D2, Milvus upsert semantics)

The reference's 1000/2000-row chunking and sleeps (loader.js:235-290) are
gRPC backpressure artifacts with no Spark equivalent — partitioned writes
replace them. Everything shuffles on `file` exactly once (the dedup
grouping); duration reuses that partitioning via a window, and the
projections are map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators import dedup as D

VECTOR_DIM = 100  # reference production dim (loader.js:44); fixtures use 64


def loader_transform(
    hashes: DataFrame,
    dim: int = VECTOR_DIM,
    dedup: bool = True,
    file_col: str = "file",
    time_col: str = "time",
    hi_col: str = "hi",
    ha_col: str = "ha",
) -> DataFrame:
    """hashes → index rows (hash_id, vector, duration, primary_key, file, time)."""
    # duration = last (max) timecode per file, computed BEFORE dedup —
    # the reference derives it from the full sorted hash list
    # (loader.js:200) and only then dedups (loader.js:202-212). The
    # window and the dedup group share the `file` key, so Spark reuses
    # one hash partitioning for both.
    w = Window.partitionBy(file_col)
    df = hashes.withColumn(
        "duration", F.max(time_col).over(w).cast("double")
    )
    if dedup:
        df = D.sequential_dedup(df, file_col=file_col, time_col=time_col, hi_col=hi_col)
    out = df.select(
        F.col(file_col),
        F.col(time_col),
        V.hash_id(file_col, time_col).alias("hash_id"),
        V.decoded_padded_normalized(ha_col, dim).alias("vector"),
        F.col("duration"),
        V.charcode_sum(hi_col).alias("primary_key"),
    )
    # D2: Milvus primary-key upsert semantics — one row per primary_key,
    # deterministic winner (earliest time, then hash_id) so replays and
    # at-least-once streaming ingest are idempotent.
    return D.dedup_by_key(
        out, ["primary_key"], order_cols=[F.col(time_col).asc(), F.col("hash_id").asc()]
    )
