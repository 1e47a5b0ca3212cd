"""The one way this package runs a stream: ``availableNow``, which
processes everything present at start (in as many micro-batches as the
source's rate limits ask for) and then stops, so tests, backfills and
the registry's streaming queries drive a query to completion with
``awaitTermination``. A live deployment swaps the trigger here and
nothing else."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def run_available_now(
    writer: DataStreamWriter, checkpoint_dir: str | None = None
) -> StreamingQuery:
    """Start ``writer`` with the ``availableNow`` trigger, checkpointing
    to ``checkpoint_dir`` when given; returns the started query."""
    writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
