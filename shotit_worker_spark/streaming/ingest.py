"""Streaming ingest wrappers (SURVEY §2.9 T1-T5, M5).

The reference's watcher/job-queue machinery (chokidar + WebSocket credits
+ acks + reconnect loops) maps to Structured Streaming's native
semantics: the file source lists completed files exactly once (T1),
checkpointing + idempotent writes give at-least-once with safe replays
(T2/D2), and micro-batch triggers replace the hand-rolled single-flight
queue (T4/O4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_parquet_source(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """File-source micro-batch stream over a parquet directory (S1 analog:
    new-file detection, exactly-once per file; backpressure via
    maxFilesPerTrigger — the reference's ws credit system, S2/S3).
    `glob` filters leaf file names; `recursive` descends subdirectories
    (e.g. one written-parquet directory per replay chunk)."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def streaming_dedup_within_watermark(
    df: DataFrame, key_cols: list[str], ts_col: str, watermark: str
) -> DataFrame:
    """Streaming approximation of D1 (documented divergence, SURVEY §2.8):
    drops duplicate keys within the watermark horizon. Batch
    `operators.dedup.sequential_dedup` is the semantic source of truth."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        # NTZ parquet timestamps: withWatermark requires TimestampType;
        # session tz is pinned UTC so the cast is wall-clock identical.
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_index_ingest(
    stream_df: DataFrame,
    index,
    checkpoint: str,
    embedder=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_manifest: DataFrame | None = None,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Continuous index ingestion — the K3/K4 lifecycle under
    Structured Streaming: each micro-batch optionally embeds raw text
    (operators/embedding.TextEmbedder, map-only), optionally drops ids
    already indexed (anti-join against a small broadcastable manifest —
    the incremental-dedup posture; the reference's D2 idempotency), and
    folds into the LIVE index with ``index.add`` (IVFIndex or
    IVFPQIndex: assign to existing centroids, quantize/encode with
    existing params, append partitions — no refit per batch, exactly
    the reference loader's stream-into-built-collection shape,
    loader.js:267-288).

    foreachBatch + checkpoint give at-least-once per batch; ``add``
    appends, so a replayed batch duplicates rows — pair with
    ``dedup_manifest`` (or run compact_ivf + a dedup pass on the
    maintenance cron) for effective-once, as documented for K1/T2.
    Drift accumulates across adds: schedule plans/maintenance.ivf_drift
    on the same cron that compacts.

    Trigger: ``processing_time=None`` (default) drains the current
    backlog and terminates (availableNow — the batch-ish test/catch-up
    form); pass e.g. ``processing_time="30 seconds"`` for the
    CONTINUOUS ingest posture where files landing after start keep
    folding in until the query is stopped."""
    from pyspark.sql import functions as F

    vec_col = index.vec_col

    def _fold(batch_df, batch_id: int) -> None:
        rows = batch_df
        if dedup_manifest is not None:
            rows = rows.join(
                F.broadcast(dedup_manifest.select(id_col)), id_col,
                "left_anti",
            )
        if embedder is not None:
            rows = embedder.embed(
                rows, text_col=text_col, out_col=vec_col
            ).drop(text_col)
        # no isEmpty() pre-check: it would run the anti-join + embed
        # UDF once just to answer the question and then AGAIN for the
        # write; add() on an empty batch appends no files
        index.add(rows.select(id_col, vec_col))

    writer = stream_df.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
