"""Custom stateful streaming operator: incremental gap sessionization via
``applyInPandasWithState``.

The batch twin (`__spark_entry__.q_sessionize`) recomputes sessions from
scratch; this operator maintains per-user state (last event time, running
session count) across micro-batches, so a continuous events stream gets
session counts without ever re-reading history — the
"custom stateful operator" execution shape for streams the engine supports
beyond stateless extraction.

State schema: (last_t bigint, n_sessions bigint); event-time gap threshold
30 minutes, matching the batch sessionizer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .incremental import _drain

GAP_US = 1_800_000_000  # 30 min in microseconds

OUTPUT_SCHEMA = "user_id bigint, n_sessions bigint, last_t bigint"
STATE_SCHEMA = "last_t bigint, n_sessions bigint"


def _sessionize_group(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_t, n_sessions = state.get if state.exists else (None, 0)
    ts = []
    for pdf in pdfs:
        ts.extend(int(t) for t in pdf["t"])
    ts.sort()
    for t in ts:
        if last_t is None or t - last_t > GAP_US:
            n_sessions += 1
        last_t = t
    state.update((last_t, n_sessions))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_sessions": [n_sessions], "last_t": [last_t]}
    )


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """events stream (with ``ts`` timestamp) → per-user running session
    counts, state carried across micro-batches."""
    with_t = events_stream.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t"),
    )
    return with_t.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_availableNow(
    spark, events_dir: str, checkpoint_dir: str, schema: str
) -> dict[int, int]:
    """Drain the events directory once; return {user_id: n_sessions} as of
    this run (state persists in the checkpoint for the next run)."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = streaming_sessionize(stream)

    # foreachBatch (not the memory sink): it supports checkpoint RECOVERY,
    # which is the whole point — a later availableNow run resumes the state
    # store instead of refusing to start.
    result: dict[int, int] = {}

    def _collect(batch_df: DataFrame, _batch_id: int) -> None:
        for r in batch_df.collect():
            result[r["user_id"]] = r["n_sessions"]

    _drain(out, _collect, checkpoint_dir, output_mode="update")
    return result
