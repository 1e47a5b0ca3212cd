"""Reads of engine-written datasets take Spark's schema from the parquet
footer: ``io.read_parquet`` and ``VersionedTable.read`` return exactly
the ``StructType`` that ``spark.read.parquet`` infers for every engine
write path, and fire no Spark job while the frame is built. Spark's own
inference still reads pyarrow-written files, hive-partitioned
directories and evolved versioned tables."""

from __future__ import annotations

import datetime as dt
from collections import OrderedDict
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from revtron_utils_spark import Engine, io
from revtron_utils_spark.tables import VersionedTable

SCHEMA = (
    "k bigint, s string, d double, ts timestamp, day date, tags array<string>, "
    "pt struct<x:int,y:string>, amt decimal(10,2)"
)


def _frame(spark, n: int = 6):
    rows = [
        (i, f"s{i}", i * 1.5, dt.datetime(2024, 1, 1 + i, 3, 4, 5, 678901),
         dt.date(2024, 2, 1 + i), ["a", str(i)], (i, "y"), Decimal("1.25"))
        for i in range(n)
    ]
    # field metadata (Engine.create_table's primary_key mark) rides in the footer too
    return spark.createDataFrame(rows, SCHEMA).withMetadata("k", {"primary_key": True})


@pytest.fixture()
def fresh_cache(monkeypatch):
    """Every read_parquet builds its frame (no reader-frame cache hit)."""
    monkeypatch.setattr(io, "_frame_cache", OrderedDict())


def _check(spark, count_jobs, build, *paths, merge_schema=False):
    """``build()`` fires no job and returns Spark's inferred schema and rows."""
    jobs, got = count_jobs(build)
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    want = reader.parquet(*map(str, paths))
    assert jobs == 0
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    return got


# ------------------------------------------------------- io.read_parquet


@pytest.mark.parametrize("ts_type", ["TIMESTAMP_MICROS", "INT96"])
def test_save_table_and_its_image(spark, tmp_path, count_jobs, fresh_cache, ts_type):
    """The symlinked ``current`` and the image it points at, with both
    timestamp encodings (INT96 is a vanilla session's default; pyarrow
    reports it as ns, but the stored schema wins)."""
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        Engine(spark, warehouse_dir=str(tmp_path)).save_table("t", _frame(spark))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    current = tmp_path / "t" / "current"
    assert current.is_symlink()
    for path in (current, current.resolve()):
        _check(spark, count_jobs, lambda p=path: io.read_parquet(spark, str(p)), path)


def test_empty_save_table(spark, tmp_path, count_jobs, fresh_cache):
    eng = Engine(spark, warehouse_dir=str(tmp_path))
    eng.create_table("t", [{"name": "k", "type": "bigint", "primary_key": True}])
    current = tmp_path / "t" / "current"
    got = _check(spark, count_jobs, lambda: io.read_parquet(spark, str(current)), current)
    assert got.schema["k"].metadata == {"primary_key": True}


def test_rollup_state(spark, tmp_path, count_jobs, fresh_cache):
    from revtron_utils_spark.streaming.incremental import stream_rollup

    src, state = tmp_path / "src", tmp_path / "state"
    schema = "g long, v double"
    spark.createDataFrame([(i % 3, float(i)) for i in range(20)], schema).write.parquet(str(src))
    stream_rollup(
        spark, str(src), spark.createDataFrame([], schema).schema, str(state),
        ["g"], "v", checkpoint_dir=str(tmp_path / "ck"),
    ).awaitTermination(180)
    io._frame_cache.clear()
    _check(spark, count_jobs, lambda: io.read_parquet(spark, str(state)), state)


def test_compact_output(spark, tmp_path, count_jobs, fresh_cache):
    from revtron_utils_spark.layout import compact

    path = tmp_path / "frag"
    _frame(spark).repartition(3).write.parquet(str(path))
    compact(spark, str(path), target_rows_per_file=1000)
    io._frame_cache.clear()
    _check(spark, count_jobs, lambda: io.read_parquet(spark, str(path)), path)


# ------------------------------------------------- VersionedTable.read


def test_versioned_write_paths(spark, tmp_path, count_jobs):
    vt = VersionedTable.create(spark, str(tmp_path / "vt"), _frame(spark))

    def files():
        return [tmp_path / "vt" / f for f in vt._manifest(vt.latest_version())["files"]]

    _check(spark, count_jobs, vt.read, *files())
    vt.merge(_frame(spark, 8).filter("k >= 4").withColumn("s", F.lit("m")), ["k"])
    _check(spark, count_jobs, vt.read, *files())
    vt.update(_frame(spark, 2).withColumn("s", F.lit("u")), on="k")
    _check(spark, count_jobs, vt.read, *files())
    vt.delete(F.col("k") == 3)
    got = _check(spark, count_jobs, vt.read, *files())
    assert sorted(r.k for r in got.collect()) == [0, 1, 2, 4, 5, 6, 7]
    # an append may order its columns differently; the first file decides, as in Spark
    vt.append(_frame(spark, 9).filter("k = 8").select(*reversed(_frame(spark).columns)))
    _check(spark, count_jobs, vt.read, *files())


# ---------------------------------------------------- Spark's inference


def test_pyarrow_file_keeps_inference(spark, tmp_path, fresh_cache):
    """No Spark key in a pyarrow footer: ns timestamps are still read as
    longs and rebuilt as microsecond timestamps."""
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(2024, 5, 6)]
    path = tmp_path / "ns.parquet"
    pq.write_table(pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}), path)
    assert io._footer(str(path)) == (("ts",), None)
    df = io.read_parquet(spark, str(path))
    assert df.dtypes == [("id", "bigint"), ("ts", "timestamp")]
    assert sorted(r.ts for r in df.collect()) == ts


def test_partitioned_directory_keeps_inference(spark, tmp_path, count_jobs, fresh_cache):
    from revtron_utils_spark.layout import write_partitioned

    path = tmp_path / "parts"
    write_partitioned(_frame(spark).withColumn("p", F.col("k") % 2), str(path), ["p"])
    assert io._footer(str(path))[1] is None
    got = io.read_parquet(spark, str(path))
    want = spark.read.parquet(str(path))
    assert got.schema == want.schema and "p" in got.columns
    assert got.count() == 6


def test_merge_schema_session_keeps_inference(spark, tmp_path, fresh_cache):
    """Two appends with different columns: a session that merges schemas
    sees both, as ``spark.read.parquet`` does, not the first footer's."""
    path = tmp_path / "appended"
    path.mkdir()
    frames = [_frame(spark, 2), _frame(spark, 3).filter("k = 2").withColumn("extra", F.lit("x"))]
    for i, df in enumerate(frames):
        df.coalesce(1).write.parquet(str(tmp_path / f"w{i}"))
        # the first file in name order lacks the appended column
        next((tmp_path / f"w{i}").glob("part-*.parquet")).rename(path / f"part-{i}.parquet")
    path = str(path)
    assert "extra" not in io.footer_schema(f"{path}/part-0.parquet").fieldNames()
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        got = io.read_parquet(spark, path)
        assert got.schema == spark.read.parquet(path).schema and "extra" in got.columns
        assert sorted((r.k, r.extra) for r in got.collect()) == [(0, None), (1, None), (2, "x")]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_evolved_versioned_table_merges_schemas(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "vt"), _frame(spark, 2))
    vt.append(_frame(spark, 3).filter("k = 2").withColumn("extra", F.lit("x")), evolve=True)
    files = [tmp_path / "vt" / f for f in vt._manifest(vt.latest_version())["files"]]
    got = vt.read()
    want = spark.read.option("mergeSchema", "true").parquet(*map(str, files))
    assert got.schema == want.schema and "extra" in got.columns
    assert sorted((r.k, r.extra) for r in got.collect()) == [(0, None), (1, None), (2, "x")]


def test_unreadable_footer_keeps_inference(tmp_path):
    path = tmp_path / "junk.parquet"
    path.write_bytes(b"not parquet")
    assert io._footer(str(path)) == ((), None)
    assert io.footer_schema(str(path)) is None
    assert io._footer(str(Path(tmp_path) / "missing")) == ((), None)
