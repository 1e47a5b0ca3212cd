"""Streaming heavy hitters — SpaceSaving (Metwally, Agrawal, El Abbadi,
"Efficient computation of frequent and top-k elements in data streams",
ICDT 2005) as an ``applyInPandasWithState`` operator.

Per stream group (e.g. event type, domain) the state is a bounded
m-counter summary: an item present in the summary increments its
counter; a new item beyond capacity evicts the minimum counter and
inherits its count as over-estimation error. Guarantees: every item
with true frequency > N/m is in the summary, and for each tracked item
``true ≤ est ≤ true + err``. State is O(groups × capacity) regardless
of stream volume — the streaming mirror of the batch Count-Min rollup
(`operators/rollup.cms_*`), but with item identities retained (CMS
answers point queries; SpaceSaving answers "which items are top-k").

Determinism: evictions tie-break on (count, item) and the emitted
top-k orders by (-count, item), so replays over the same micro-batch
partitioning reproduce the same summary; the summary CONTENT (not
per-batch arrival interleaving) is what the guarantee bounds, and the
capacity≫distinct regime degrades to exact counts (asserted in tests).

Uses ``applyInPandasWithState`` (no protobuf state-server dependency —
see streaming/running.py's environment gate for why the newer
``transformWithStateInPandas`` can't run in this container).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .runner import run_available_now

STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("est", T.LongType()),
        T.StructField("err", T.LongType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def spacesaving_fold(
    summary: dict[str, list[int]], items, capacity: int
) -> dict[str, list[int]]:
    """Fold an iterable of items into a SpaceSaving summary in place
    (``{item: [count, err]}``) — shared by the streaming operator and
    the pure-python reference in tests."""
    for it in items:
        if it in summary:
            summary[it][0] += 1
        elif len(summary) < capacity:
            summary[it] = [1, 0]
        else:
            evict = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
            mc = evict[1][0]
            del summary[evict[0]]
            summary[it] = [mc + 1, mc]
    return summary


def _hh_fn(item_col: str, capacity: int, k: int):
    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        summary: dict[str, list[int]] = {}
        if state.exists:
            items, counts, errs = state.get
            summary = {i: [c, e] for i, c, e in zip(items, counts, errs)}
        for pdf in pdfs:
            spacesaving_fold(summary, pdf[item_col].dropna().astype(str), capacity)
        its = list(summary)
        state.update((its, [summary[i][0] for i in its], [summary[i][1] for i in its]))
        top = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
        yield pd.DataFrame(
            {
                "group": [key[0]] * len(top),
                "item": [t[0] for t in top],
                "est": [t[1][0] for t in top],
                "err": [t[1][1] for t in top],
                "rank": list(range(1, len(top) + 1)),
            }
        )

    return fn


def heavy_hitters_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    group_col: str,
    item_col: str,
    capacity: int = 64,
    k: int = 10,
    checkpoint_dir: str | None = None,
    queryName: str = "heavy_hitters",
):
    """File-source driver: maintain per-group SpaceSaving summaries and
    emit each group's current top-k every micro-batch (update mode).
    ``availableNow`` runs to completion for tests/backfills; on a live
    stream the same query tails the directory indefinitely with
    O(groups × capacity) state."""
    src = (
        spark.readStream.format("parquet").schema(schema).load(source_dir)
        .selectExpr(f"CAST({group_col} AS STRING) AS group", f"CAST({item_col} AS STRING) AS {item_col}")
    )
    out = src.groupBy("group").applyInPandasWithState(
        _hh_fn(item_col, capacity, k),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    writer = out.writeStream.format("memory").queryName(queryName).outputMode("update")
    return run_available_now(writer, checkpoint_dir)
