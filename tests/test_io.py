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


def _local_cases():
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import Row

    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    return {
        "atomic": (
            [(1, "a", 1.5, True, ts, dt.date(2024, 2, 3)), (None,) * 6],
            "a bigint, b string, c double, d boolean, e timestamp, f date",
        ),
        "narrow": ([(1, b"ab", 2, 3.5)], "a tinyint, b binary, c smallint, d float"),
        "nested": (
            [(1, [ts], {"k": 1}, (1, "s"))],
            "a int, b array<timestamp>, c map<string,int>, d struct<x:int,y:string>",
        ),
        "interval_ntz": ([(dt.timedelta(seconds=3), ts)], "i interval day to second, n timestamp_ntz"),
        "decimal": ([(Decimal("1.005"),)], "d decimal(10,2)"),
        "inferred_dicts": ([{"Id": "x", "value": 1.0}, {"Id": "y", "value": None}], None),
        "inferred_rows": ([Row(a=1, b=[1, 2], c={"k": ts})], None),
        "empty": ([], "k bigint"),
    }


def test_local_frame_matches_create_dataframe(spark):
    """``local_frame`` gives the schema and rows ``createDataFrame`` gives,
    in a session whose time zone is not UTC, and (except for decimals,
    which keep the list path) scans a local relation, not a PythonRDD."""
    from pyspark.sql import types as T

    from revtron_utils_spark.io import local_frame

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name, (rows, ddl) in _local_cases().items():
            schema = None if ddl is None else T._parse_datatype_string(ddl)
            want = spark.createDataFrame(rows, schema)
            got = local_frame(spark, rows, schema)
            assert got.schema == want.schema, name
            assert got.collect() == want.collect(), name
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert ("ExistingRDD" in plan) == (name == "decimal"), (name, plan)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_local_frame_keeps_create_dataframe_errors(spark):
    import pytest
    from pyspark.sql import types as T

    from revtron_utils_spark.io import local_frame

    with pytest.raises(TypeError):
        local_frame(spark, [("x",)], T._parse_datatype_string("a bigint"))
    with pytest.raises(Exception, match="empty"):
        local_frame(spark, [])
