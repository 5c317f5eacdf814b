"""Custom stateful streaming operators (applyInPandasWithState and its
Spark 4.x successor transformWithStateInPandas).

The reference's D1 sequential dedup (/root/reference/loader.js:202-212)
runs inside the loader process as an in-memory loop over one video's
frames. Batch-side we express it as a grouped-map pandas UDF
(operators/dedup.sequential_dedup). This module is the *streaming*
analog: the same semantics as a keyed stateful operator, so frames can
be deduped incrementally as micro-batches of a video arrive — the shape
a 1000-executor ingest pipeline needs (state lives in the state store,
partitioned by file; no per-video driver loop).

Semantics note: the batch operator totally orders each file by time
before scanning. A stream cannot re-sort the past, so this operator
assumes per-file time-ascending arrival ACROSS micro-batches (true for
the watcher/decoder pipeline: frames are emitted in decode order) and
sorts WITHIN each micro-batch. Under that assumption the kept set is
identical to the batch operator's — pinned by the stream-batch
equivalence test (tests/test_streaming_stateful.py).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import DEDUP_KEPT_WINDOW, DEDUP_TIME_WINDOW

# state per file: the last `kept_window` KEPT (time, hi) pairs — all the
# reference loop ever looks back at, so the state is O(kept_window) per
# key no matter how long the video runs
_STATE_SCHEMA = "times array<double>, his array<string>"


def streaming_sequential_dedup(
    hashes: DataFrame,
    file_col: str = "file",
    time_col: str = "time",
    hi_col: str = "hi",
    kept_window: int = DEDUP_KEPT_WINDOW,
    time_window: float = DEDUP_TIME_WINDOW,
    state_ttl_secs: float | None = None,
) -> DataFrame:
    """D1 as a keyed stateful streaming operator.

    groupBy(file).applyInPandasWithState: per key, state carries the tail
    of the kept list (≤ kept_window (time, hi) pairs); each micro-batch
    continues the reference scan from that tail and emits only the newly
    kept rows (append mode). Output schema == input schema.

    `state_ttl_secs` expires idle keys (processing-time timeout): a
    long-running ingest sees an unbounded stream of distinct files, and
    without a TTL the state store grows monotonically — per-key state is
    tiny (≤ kept_window pairs) but key count isn't. A finished video
    stops producing frames, so an idle key's tail is dead weight; the
    TTL drops it, and the only behavior change if the same file somehow
    resumed later is re-admitting a frame the dropped tail would have
    suppressed — exactly the batch semantics of processing that resumed
    chunk standalone. With a TTL, an ``availableNow`` query does not end
    on its own: the timeout keeps scheduling no-data batches (so
    ``processAllAvailable()`` does not return either); stop it once its
    data batches are done.
    """
    out_schema = hashes.schema
    out_cols = [f.name for f in out_schema.fields]
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_secs
        else GroupStateTimeout.NoTimeout
    )

    def _update(
        key: Tuple[Any, ...],
        pdf_iter: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_secs and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            times, his = state.get
            kept = list(zip(times, his))
        else:
            kept = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(time_col, kind="mergesort")
            t_arr = pdf[time_col].to_numpy()
            h_arr = pdf[hi_col].to_numpy()
            kept_rows: list[int] = []
            for i in range(len(pdf)):
                dup = False
                for kt, kh in reversed(kept[-kept_window:]):
                    if t_arr[i] - kt >= time_window:
                        break  # kept tail is time-ascending
                    if kh == h_arr[i]:
                        dup = True
                        break
                if not dup:
                    kept.append((float(t_arr[i]), h_arr[i]))
                    kept_rows.append(i)
            if kept_rows:
                yield pdf.iloc[kept_rows][out_cols]
        tail = kept[-kept_window:]
        state.update(([t for t, _ in tail], [h for _, h in tail]))
        if state_ttl_secs:
            state.setTimeoutDuration(int(state_ttl_secs * 1000))

    return hashes.groupBy(file_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_sequential_dedup_tws(
    hashes: DataFrame,
    file_col: str = "file",
    time_col: str = "time",
    hi_col: str = "hi",
    kept_window: int = DEDUP_KEPT_WINDOW,
    time_window: float = DEDUP_TIME_WINDOW,
    state_ttl_secs: float | None = None,
) -> DataFrame:
    """D1 on the Spark 4.x `transformWithStateInPandas` API.

    Same semantics and state shape as `streaming_sequential_dedup`
    (stream≡batch pinned by the same equivalence test), expressed as a
    `StatefulProcessor` so the operator lives on the current arbitrary-
    state API before `applyInPandasWithState` deprecates:

      - the kept tail is a named ValueState ("kept_tail", ≤ kept_window
        (time, hi) pairs);
      - `state_ttl_secs` maps to the state store's native per-value TTL
        (no hand-rolled timeout branch — expiry is the store's job);
      - requires the RocksDB state store provider
        (`spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider`),
        which is also the provider a production deployment wants: state
        is spilled off-heap and changelog-checkpointed instead of living
        in executor heap like the default HDFS-backed map.

    Runtime dependency: transformWithState's Python state client talks
    protobuf to the JVM, so `google.protobuf` (shipped with
    `pyspark[connect]`) must be importable on the workers — this module
    raises up front with a clear message where it isn't (the equivalence
    test skips there; `streaming_sequential_dedup` covers the same
    semantics on the dependency-free API).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(pip install 'pyspark[connect]' or protobuf); use "
            "streaming_sequential_dedup (applyInPandasWithState) where "
            "it is unavailable"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = hashes.schema
    out_cols = [f.name for f in out_schema.fields]
    ttl_ms = int(state_ttl_secs * 1000) if state_ttl_secs else None

    class _D1Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tail = handle.getValueState(
                "kept_tail", _STATE_SCHEMA, ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            got = self._tail.get() if self._tail.exists() else None
            kept = list(zip(got[0], got[1])) if got else []
            for pdf in rows:
                pdf = pdf.sort_values(time_col, kind="mergesort")
                t_arr = pdf[time_col].to_numpy()
                h_arr = pdf[hi_col].to_numpy()
                kept_rows: list[int] = []
                for i in range(len(pdf)):
                    dup = False
                    for kt, kh in reversed(kept[-kept_window:]):
                        if t_arr[i] - kt >= time_window:
                            break  # kept tail is time-ascending
                        if kh == h_arr[i]:
                            dup = True
                            break
                    if not dup:
                        kept.append((float(t_arr[i]), h_arr[i]))
                        kept_rows.append(i)
                if kept_rows:
                    yield pdf.iloc[kept_rows][out_cols]
            tail = kept[-kept_window:]
            self._tail.update(([t for t, _ in tail], [h for _, h in tail]))

        def close(self) -> None:
            pass

    # TTL needs the processing-time clock; without one, "None" avoids
    # per-batch timestamp bookkeeping entirely
    time_mode = "ProcessingTime" if ttl_ms else "None"
    return hashes.groupBy(file_col).transformWithStateInPandas(
        _D1Processor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode=time_mode,
    )
