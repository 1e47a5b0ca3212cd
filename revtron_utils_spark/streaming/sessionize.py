"""Custom stateful streaming operator: sessionization via
``applyInPandasWithState`` — the Spark pattern for operators the built-in
surface can't express (per-key mutable state + event-time timeouts).

A session is a run of one user's events where consecutive gaps stay
under ``gap``. Closed sessions are emitted as they close; the open tail
session lives in the state store and closes on event-time timeout once
the watermark passes its end + gap. The batch twin of this operator is
``q_sessionize`` in ``__spark_entry__.py`` (lag + cumsum windows), which
is the oracle-checked form; this streaming form adds the state-store
mechanics for unbounded inputs.

State is O(1) per active user (start, end, count) — at 100 TB / billions
of users the state store shards by the groupBy key across executors,
which is exactly how this is deployed at scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .runner import run_available_now

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("end_us", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)

_US = 1_000_000


def _sessionize_fn(gap_us: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]

        def frame(closed: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

        if state.hasTimedOut:
            # watermark passed the open session's end + gap → close it
            closed = [tuple(state.get)]
            state.remove()
            yield frame(closed)
            return

        batch = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (batch["ts"].astype("int64") // 1000).tolist()  # ns → us

        closed: list[tuple[int, int, int]] = []
        cur = tuple(state.get) if state.exists else None
        for t in ts_us:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # clamp: late events can put end+gap at/behind the watermark,
            # and setTimeoutTimestamp raises (killing the query) for any
            # timestamp <= watermark — push it just past instead so the
            # session closes on the next watermark advance
            timeout_ms = cur[1] // 1000 + gap_us // 1000
            try:
                wm_ms = state.getCurrentWatermarkMs()
            except Exception:
                wm_ms = 0
            state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1000))  # ms
        if closed:
            # single frame per group: one yield — emitting one frame per
            # closed session proved lossy (only the last survived)
            yield frame(closed)

    return fn


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    checkpoint_dir: str | None = None,
    queryName: str = "sessions",
):
    """File-source driver for the stateful operator; ``availableNow``
    lets tests run it to completion synchronously. Returns the started
    query; results land in the in-memory sink table ``queryName``."""
    events = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(source_dir)
        .withWatermark("ts", watermark)
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_minutes * 60 * _US),
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    writer = sessions.writeStream.format("memory").queryName(queryName).outputMode("append")
    return run_available_now(writer, checkpoint_dir)


def sessionize_batch(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch twin producing the same closed-session aggregates (for
    differential testing of the stateful operator): lag/cumsum session
    assignment, then per-session aggregation. All sessions are 'closed'
    in a bounded batch."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("user_id").orderBy("ts")
    # cast guards TIMESTAMP_NTZ inputs (naive parquet under Spark 4 default
    # inference); no-op when already TIMESTAMP
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_s = F.when(gap.isNull() | (gap > gap_minutes * 60 * _US), 1).otherwise(0)
    with_sid = df.withColumn(
        "session_idx", F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return with_sid.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
