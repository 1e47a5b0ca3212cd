"""Reader-frame cache of ``revtron_utils_spark.io.read_parquet``."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


def test_read_parquet_sees_writes_into_partition_subdirectory(spark, tmp_path):
    """A write into an existing partition subdirectory leaves the
    dataset root's mtime alone; the cached relation must still be
    rebuilt so the next read sees the new rows."""
    from revtron_utils_spark.io import read_parquet

    root = tmp_path / "t"
    (root / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2]}), root / "p=1" / "a.parquet")
    assert read_parquet(spark, str(root)).count() == 2
    assert read_parquet(spark, str(root)) is read_parquet(spark, str(root))

    top = os.stat(root).st_mtime_ns
    pq.write_table(pa.table({"x": [3]}), root / "p=1" / "b.parquet")
    assert os.stat(root).st_mtime_ns == top
    df = read_parquet(spark, str(root))
    assert sorted(r["x"] for r in df.collect()) == [1, 2, 3]


def test_read_parquet_cache_is_bounded(spark, tmp_path, monkeypatch):
    from revtron_utils_spark import io

    monkeypatch.setattr(io, "_FRAME_CACHE_MAX", 3)
    path = tmp_path / "one.parquet"
    pq.write_table(pa.table({"x": [1]}), path)
    first = io.read_parquet(spark, str(path))
    for i in range(io._FRAME_CACHE_MAX + 1):
        p = tmp_path / f"f{i}.parquet"
        pq.write_table(pa.table({"x": [i]}), p)
        io.read_parquet(spark, str(p))
    assert len(io._frame_cache) <= io._FRAME_CACHE_MAX
    # the oldest entry was evicted: the next read builds a new frame
    assert io.read_parquet(spark, str(path)) is not first


def test_read_parquet_follows_a_flip_to_nanosecond_timestamps(spark, tmp_path):
    """A path re-pointed from a microsecond image to a pyarrow-written
    timestamp[ns] image is re-read with the ns columns of the new files
    (Spark's reader rejects TIMESTAMP(NANOS) unless told to read them
    as longs)."""
    import datetime as dt

    from revtron_utils_spark.io import read_parquet

    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(2024, 5, 6)]
    for unit in ("us", "ns"):
        (tmp_path / unit).mkdir()
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp(unit))}),
            tmp_path / unit / "part-0.parquet",
        )
    link = tmp_path / "t"
    link.symlink_to("us")
    assert read_parquet(spark, str(link)).count() == 2

    tmp = tmp_path / "t.new"
    tmp.symlink_to("ns")
    os.replace(tmp, link)
    df = read_parquet(spark, str(link))
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["ts"] for r in df.collect()) == ts
