"""Incremental extraction & sync — the reference's core ETL loop
(date-windowed ``Salesforce.get`` + PK ``Database.upsert``,
SURVEY.md §2.9 ST1-ST5) in both batch-loop and Structured Streaming
forms.

* **ST1/ST2** change-window scan: timestamp-range extract, either
  absolute or a relative lookback from now.
* **ST3** soft-delete propagation: source rows flagged deleted remove
  the matching target keys (MERGE ... WHEN MATCHED AND deleted THEN
  DELETE, composed from upsert + anti-join).
* **ST4** idempotent replay: merge-on-key makes overlapping/repeated
  windows converge — at-least-once extraction, exactly-once state.
* **ST5** late data: overlapping windows and replays are absorbed by
  the keyed merge (idempotent); ``stream_dedup`` additionally offers
  watermark-bounded exactly-once-per-key for append-only consumers.

The streaming variant is the canonical Spark pattern: file/Kafka source →
``foreachBatch(merge)``; each micro-batch applies the same merge used by
the batch loop, so semantics are identical and tested once.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import Engine
from ..io import replace_parquet
from ..operators.merge import _newest_per_key, upsert_merge
from .runner import run_available_now


def window_extract(
    df: DataFrame,
    start: datetime | str | None,
    end: datetime | str | None,
    date_field: str = "ts",
) -> DataFrame:
    """ST1: rows with ``date_field`` in [start, end) — half-open so
    adjacent windows tile without double-pull (the reference uses
    closed intervals and relies on merge idempotence; we keep the merge
    idempotent AND avoid the overlap)."""
    out = df
    if start is not None:
        out = out.filter(F.col(date_field) >= F.lit(start))
    if end is not None:
        out = out.filter(F.col(date_field) < F.lit(end))
    return out


def lookback_extract(
    df: DataFrame, days: int, date_field: str = "ts", now: datetime | None = None
) -> DataFrame:
    """ST2: relative lookback — ``date_window`` days back from now
    (salesforce/main.py:189, 196-197)."""
    now = now or datetime.now()
    return window_extract(df, now - timedelta(days=days), None, date_field)


def merge_with_soft_delete(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    delete_col: str = "IsDeleted",
    overwrite_with_null: bool = False,
    order_col: str | None = None,
) -> DataFrame:
    """ST3: upsert live rows, remove keys the source marks deleted —
    the ``WHEN MATCHED AND src.IsDeleted THEN DELETE`` branch of a
    MERGE, composed from DataFrame ops (broadcast-friendly: the deleted
    key set is typically tiny).

    When a key appears multiple times in one batch (delete + later
    re-insert), only the key's NEWEST event decides: the batch is
    collapsed to one row per key — by ``order_col`` descending when
    given (pass the event-time column), else by ``dedupe_source``'s
    deterministic ordering — BEFORE splitting live/dead. Splitting
    first would let a stale delete erase a newer live row. The collapse
    is the only one: the merge below gets a key-unique frame."""
    newest = _newest_per_key(source, keys, order_col)
    if delete_col not in source.columns:
        return upsert_merge(target, newest, keys, overwrite_with_null, dedupe=False)
    deleted = F.coalesce(F.col(delete_col), F.lit(False))
    live = newest.filter(~deleted).drop(delete_col)
    dead_keys = newest.filter(deleted).select(*keys)
    merged = upsert_merge(target, live, keys, overwrite_with_null, dedupe=False)
    return merged.join(F.broadcast(dead_keys), list(keys), "left_anti")


class IncrementalSyncer:
    """Replayable window-sync loop against a managed Engine table (ST4:
    each window is extract → merge, so overlaps and retries converge)."""

    def __init__(
        self,
        engine: Engine,
        target_table: str,
        keys: Sequence[str],
        date_field: str = "ts",
        delete_col: str | None = None,
    ):
        self.engine = engine
        self.target_table = target_table
        self.keys = list(keys)
        self.date_field = date_field
        self.delete_col = delete_col

    def sync_window(
        self, source: DataFrame, start: datetime | str | None, end: datetime | str | None
    ) -> int:
        batch = window_extract(source, start, end, self.date_field)
        self._merge_batch(batch)
        return batch.count()

    def _merge_batch(self, batch: DataFrame) -> None:
        """Merge one window or one micro-batch into the target table,
        creating it from ``batch``'s schema when missing."""
        if not self.engine.check_table_exists(self.target_table):
            self.engine.save_table(self.target_table, batch.limit(0), primary_key=self.keys)
        target = self.engine.get_table(self.target_table)
        merged = merge_with_soft_delete(
            target, batch, self.keys, self.delete_col or "__none__",
            order_col=self.date_field,
        )
        self.engine.save_table(self.target_table, merged, primary_key=self.keys)

    def sync(
        self, source: DataFrame, windows: Sequence[tuple[datetime | str, datetime | str]]
    ) -> list[int]:
        return [self.sync_window(source, lo, hi) for lo, hi in windows]


def _file_stream(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """Parquet file source of the sync streams, at most 8 files per
    micro-batch."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "8")
        .load(source_dir)
    )


def stream_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    engine: Engine,
    target_table: str,
    keys: Sequence[str],
    date_field: str = "ts",
    delete_col: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Structured Streaming form: file source → ``foreachBatch``
    applying the same merge as the batch loop (exactly-once state over
    at-least-once delivery). Runs with ``availableNow`` so tests drive
    it to completion synchronously; a production deployment changes
    only the trigger and source format. No ``withWatermark`` here: the
    keyed merge is the dedup/late-data mechanism (see NOTE below), and
    a watermark with no stateful consumer would be a dead knob.
    """
    # NOTE: no stream-level dropDuplicates(keys) here — that would treat a
    # key's LATER UPDATE as a duplicate and silently drop it (and, with
    # the event-time column absent from the subset, grow dedup state
    # unboundedly). The keyed merge below is already idempotent; within a
    # micro-batch, duplicate keys collapse to the newest row by event
    # time before merging. Each micro-batch runs the batch loop's own
    # merge step.
    syncer = IncrementalSyncer(engine, target_table, keys, date_field, delete_col)
    writer = _file_stream(spark, source_dir, schema).writeStream.foreachBatch(
        lambda batch_df, epoch_id: syncer._merge_batch(batch_df)
    )
    return run_available_now(writer, checkpoint_dir)


def stream_dedup(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key projection of an at-least-once
    stream: ``dropDuplicatesWithinWatermark`` keeps the first arrival of
    each key and discards re-deliveries that arrive within the watermark
    horizon, while the watermark bounds the dedup state (keys older than
    the horizon are evicted — unbounded-state-free, unlike plain
    ``dropDuplicates`` on a stream).

    Use when the *source* redelivers (ST5 replay semantics) and
    downstream is append-only; when downstream is a keyed merge, the
    merge itself is the dedup (see ``stream_merge``)."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _stream_fold(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_path: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    checkpoint_dir: str | None,
):
    """Driver of the rollup streams: each micro-batch is reduced by
    ``partial``, folded into the parquet state at ``state_path`` by
    ``merge(state, partial)`` and published with ``io.replace_parquet``
    (a kill at any point leaves the old or the new state readable).

    Batch cost is O(batch + |state|), independent of history size. The
    state swap is last-writer-wins per micro-batch (foreachBatch is
    at-least-once on failure; partials re-merged after a replayed batch
    would double-count — production hardens this with a transactional
    table format and the epoch id recorded in the state)."""
    state = Path(state_path.rstrip("/"))

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        part = partial(batch_df)
        if state.exists():
            part = merge(spark.read.parquet(str(state)), part)
        replace_parquet(part.coalesce(1), state)

    writer = _file_stream(spark, source_dir, schema).writeStream.foreachBatch(apply_batch)
    return run_available_now(writer, checkpoint_dir)


def stream_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_path: str,
    group_cols: list[str],
    value_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming incremental aggregate maintenance: each micro-batch is
    reduced to mergeable partials (count/sum/sumsq/min/max) and merged
    into a parquet-backed rollup state — the streaming form of
    ``operators.rollup.maintain_rollup``, and the scale answer to
    "keep per-group statistics current without re-reading history".
    Cost and replay caveat: see :func:`_stream_fold`."""
    from ..operators.rollup import rollup_merge, rollup_partial

    return _stream_fold(
        spark, source_dir, schema, state_path,
        lambda df: rollup_partial(df, group_cols, value_col),
        lambda state, part: rollup_merge(state, part, group_cols),
        checkpoint_dir,
    )


def stream_quantile_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_path: str,
    group_cols: list[str],
    value_col: str,
    bins_per_efold: int = 64,
    checkpoint_dir: str | None = None,
):
    """Streaming percentile maintenance: each micro-batch folds into the
    mergeable per-(group, log-bin) histogram state of
    ``operators.rollup.quantile_rollup_*`` — p50/p99 stay current
    without ever re-reading history, the streaming answer to "track
    latency quantiles over an unbounded event stream". Same
    crash-safe state swap and at-least-once caveat as
    :func:`stream_rollup`."""
    from ..operators.rollup import quantile_rollup_merge, quantile_rollup_partial

    return _stream_fold(
        spark, source_dir, schema, state_path,
        lambda df: quantile_rollup_partial(df, group_cols, value_col, bins_per_efold),
        lambda state, part: quantile_rollup_merge(state, part, group_cols),
        checkpoint_dir,
    )


def stream_merge_versioned(
    spark: SparkSession,
    source_dir: str,
    schema,
    table,
    keys: Sequence[str],
    date_field: str = "ts",
    checkpoint_dir: str | None = None,
):
    """``stream_merge`` with a transactional target: each micro-batch
    merges into a ``tables.VersionedTable`` and commits ONE version —
    readers see either the pre-batch or post-batch snapshot, never a
    half-applied merge (the property the plain parquet-rewrite path
    cannot give), and the version history doubles as a sync audit log.
    Replayed batches re-merge idempotently (ST4); a racing writer
    surfaces as ``CommitConflict`` rather than silent clobber."""
    writer = _file_stream(spark, source_dir, schema).writeStream.foreachBatch(
        lambda batch_df, epoch_id: table._merge(
            _newest_per_key(batch_df, keys, date_field), list(keys)
        )
    )
    return run_available_now(writer, checkpoint_dir)
