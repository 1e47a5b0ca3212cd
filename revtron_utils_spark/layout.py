"""Physical data layout: bucketing and partitioning for 100 TB scale.

The reference delegates physical layout entirely to Postgres (indexes,
`revtron/database/main.py:150-170` builds CREATE INDEX); on Spark the
equivalent levers are *bucketing* (pre-shuffled, co-located storage so
repeated joins/aggregations on the bucket key run with **zero
Exchange**) and *partitioned directories* (coarse pruning so a filter
on the partition column skips whole files before any task launches).

At 100 TB these are the difference between a join that shuffles two
multi-TB tables every run and one that streams co-located buckets:
bucket once at ingest, amortize the shuffle across every downstream
query. `tests/test_layout.py` asserts the plan shapes (no Exchange on
bucket-aligned joins, PartitionFilters on pruned scans), not just the
results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_parquet, replace_parquet


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table.

    Joins/aggregations between tables bucketed on the same keys with the
    same bucket count require no shuffle; ``sortBy`` additionally lets
    sort-merge join skip its per-task sort. ``path`` makes the table
    external (data outlives ``DROP TABLE``).
    """
    writer = df.write.format(file_format).mode(mode).bucketBy(buckets, *keys)
    writer = writer.sortBy(*(sort_cols or keys))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet layout (one directory per value).

    Filters on ``partition_cols`` become PartitionFilters — pruned at
    planning time, before any task reads a byte. Choose low-cardinality
    columns (date, type, tenant); high-cardinality partitioning creates
    a small-files problem instead.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the top ``bits`` bits of each
    column's rank-normalized value. Sorting by this key clusters rows
    that are close in EVERY dimension into the same parquet row groups,
    so min/max stats prune scans for filters on ANY of the columns —
    the multi-dimensional generalization of sort-by-one-column.

    Columns are first mapped to [0, 2^bits) via ``ntile``-free percent
    ranking over a window-less approximation: ``pmod(xxhash64(...))`` is
    NOT used — we keep ordinal structure by min-max scaling with global
    aggregates (two light scans overall: one for bounds, one to write).
    Callers pass numeric/date columns; strings need a prior dictionary
    rank."""
    exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
    # min-max scale each column to [0, 2^bits) using window-free
    # aggregates computed by the caller via zorder_write (bounds joined
    # in as literals); here we accept pre-scaled long columns
    key = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for e in exprs:
            key = key * 2 + F.getbit(e.cast("long"), F.lit(b)).cast("long")
    return key


def zorder_arrange(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
) -> DataFrame:
    """Return ``df`` range-partitioned + sorted on the Z-order key of
    ``cols`` (one cheap min/max aggregate for scaling bounds). A plain
    write of the result yields files that each cover a small hyper-box
    of the key space — reused by ``zorder_write`` and by
    ``tables.VersionedTable.overwrite(cluster_by=...)``.

    ``bits`` is capped at ``62 // len(cols)`` so the interleaved key
    always fits a signed int64 (16 bits × 4+ columns would overflow —
    an ANSI-mode error, or silently wrong ordering without ANSI).
    Date/timestamp columns are scaled on their epoch value; an empty
    frame passes through unchanged (no bounds to scale by)."""
    bits = min(bits, 62 // max(len(cols), 1))
    num_exprs = {}
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if dt in ("date", "timestamp", "timestamp_ntz"):
            num_exprs[c] = F.unix_micros(F.col(c).cast("timestamp"))
        else:
            num_exprs[c] = F.col(c)
    bounds = df.agg(
        *[F.min(num_exprs[c]).alias(f"_mn_{c}") for c in cols],
        *[F.max(num_exprs[c]).alias(f"_mx_{c}") for c in cols],
    ).first()
    if any(bounds[f"_mn_{c}"] is None for c in cols):
        return df
    scale = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = bounds[f"_mn_{c}"], bounds[f"_mx_{c}"]
        span = (hi - lo) or 1
        scaled.append(
            F.least(
                F.lit(scale).cast("long"),
                ((num_exprs[c] - F.lit(lo)) / F.lit(span) * scale).cast("long"),
            ).alias(f"_z_{c}")
        )
    keyed = df.select("*", *scaled).withColumn(
        "_zkey", zorder_key([f"_z_{c}" for c in cols], bits)
    )
    out = keyed.repartitionByRange(num_files or 8, "_zkey").sortWithinPartitions("_zkey")
    return out.drop("_zkey", *[f"_z_{c}" for c in cols])


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols`` (see
    ``zorder_arrange``); row-group min/max statistics then prune scans
    for predicates on any clustered column (verify with
    ``file_column_ranges``)."""
    zorder_arrange(df, cols, bits, num_files).write.mode(mode).parquet(path)


def file_column_ranges(spark: SparkSession, path: str, cols: Sequence[str]) -> list[dict]:
    """Per-file min/max of ``cols`` from the written parquet footers
    (via pyarrow) — the statistics the reader's row-group pruning uses.
    Returns one dict per file; tests assert the ranges are narrow."""
    import pyarrow.parquet as pq
    from pathlib import Path as P

    out = []
    for f in sorted(P(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        rec: dict = {"file": f.name, "rows": md.num_rows}
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            rec[c] = (min(mins), max(maxs)) if mins else None
        out.append(rec)
    return out


def compact(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 4_000_000,
    sort_cols: Sequence[str] | None = None,
) -> int:
    """Rewrite a parquet directory into right-sized files (the
    small-files compaction every long-running ingest needs — thousands
    of KB-sized incremental outputs destroy scan throughput and NameNode
    /listing behavior at scale). Returns the new file count.

    Read through ``io.read_parquet`` (timestamp[ns] columns come back as
    microseconds, as on every engine read) and published with
    ``io.replace_parquet``: readers racing the rewrite, or a crash
    during it, see the old image or the new one, never a partial one."""
    df = read_parquet(spark, path)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    out = df.repartition(files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    replace_parquet(out, path.rstrip("/"))
    return files


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Join two bucketed catalog tables on their bucket keys.

    When both sides are bucketed on ``on`` with equal bucket counts the
    physical plan is a sort-merge join with **no Exchange on either
    side** — verified by ``PlanFacts`` in tests.
    """
    return spark.table(left_table).join(spark.table(right_table), on, how)
