"""Replacing a parquet directory: the Engine's managed writes, the
rollup stream state and ``layout.compact`` keep the previous image when
the publish step fails, and ``compact`` reads timestamp[ns] datasets."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SCHEMA = "g long, v double"


def _rows(n: int, start: int = 0) -> list[tuple]:
    return [(i % 5, float(i)) for i in range(start, start + n)]


def _fail_once_onto(monkeypatch, dest: Path) -> list:
    """Make the first ``os.replace`` / ``Path.rename`` onto ``dest``
    raise; later calls go through."""
    real_replace, real_rename = os.replace, Path.rename
    fired: list = []

    def check(target) -> None:
        if not fired and os.path.abspath(target) == str(dest):
            fired.append(target)
            raise OSError(f"injected publish failure onto {dest}")

    def replace(src, dst, *args, **kwargs):
        check(dst)
        return real_replace(src, dst, *args, **kwargs)

    def rename(self, target):
        check(target)
        return real_rename(self, target)

    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(Path, "rename", rename)
    return fired


def _engine_case(spark, root: Path):
    """``Engine.save_table``: 100 rows, then a 150-row image."""
    from revtron_utils_spark import Engine

    eng = Engine(spark, warehouse_dir=str(root / "wh"))
    eng.save_table("t", spark.createDataFrame(_rows(100), SCHEMA))
    new = spark.createDataFrame(_rows(150), SCHEMA)
    return (
        root / "wh" / "t" / "current",
        lambda: eng.get_table("t").collect(),
        lambda: eng.save_table("t", new),
        sorted(map(tuple, new.collect())),
    )


def _rollup_case(spark, root: Path):
    """``stream_rollup``: a 100-row batch folded into the state, then a
    50-row batch arrives."""
    from revtron_utils_spark.streaming.incremental import stream_rollup

    src, state, ck = root / "src", root / "pub" / "state", root / "ck"

    def run() -> None:
        stream_rollup(
            spark, str(src), spark.createDataFrame([], SCHEMA).schema, str(state),
            ["g"], "v", checkpoint_dir=str(ck),
        ).awaitTermination(180)

    spark.createDataFrame(_rows(100), SCHEMA).write.parquet(str(src))
    run()
    spark.createDataFrame(_rows(50, 100), SCHEMA).write.mode("append").parquet(str(src))
    totals = spark.createDataFrame(_rows(150), SCHEMA).groupBy("g").agg(
        F.count("v").alias("n"), F.sum("v").alias("s")
    )
    return (
        state,
        lambda: spark.read.parquet(str(state)).collect(),
        run,
        sorted(map(tuple, totals.collect())),
    )


def _compact_case(spark, root: Path):
    """``compact``: 100 rows in 10 files, rewritten into one."""
    from revtron_utils_spark.layout import compact

    path = root / "pub" / "frag"
    df = spark.createDataFrame(_rows(100), SCHEMA)
    df.repartition(10).write.parquet(str(path))
    return (
        path,
        lambda: spark.read.parquet(str(path)).collect(),
        lambda: compact(spark, str(path), target_rows_per_file=1000),
        sorted(map(tuple, df.collect())),
    )


def _image(rows, cols) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in rows)


@pytest.mark.parametrize("case", [_engine_case, _rollup_case, _compact_case],
                         ids=["save_table", "stream_rollup", "compact"])
def test_failed_publish_keeps_previous_image(spark, tmp_path, monkeypatch, case):
    path, read, publish, want = case(spark, tmp_path)
    rows = read()
    cols = ["g", "n", "s"] if case is _rollup_case else ["g", "v"]
    before, siblings = _image(rows, cols), sorted(os.listdir(path.parent))

    fired = _fail_once_onto(monkeypatch, path)
    with pytest.raises(Exception):
        publish()
    assert fired
    monkeypatch.undo()
    # the previous image, row for row, and no leftover sibling
    assert _image(read(), cols) == before
    assert sorted(os.listdir(path.parent)) == siblings

    publish()
    assert _image(read(), cols) == want  # whole-number sums: exact in double


def test_compact_reads_nanosecond_timestamps(spark, tmp_path):
    """A pyarrow-written timestamp[ns] dataset (the fixture ``events``
    shape) compacts; its timestamps come back as microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from revtron_utils_spark.io import read_parquet
    from revtron_utils_spark.layout import compact

    path = tmp_path / "ns"
    path.mkdir()
    base = 1_704_067_200_000_000_000  # 2024-01-01 in ns
    for f in range(4):
        ids = list(range(f * 25, (f + 1) * 25))
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "ts": pa.array([base + i * 3_600_000_123_000 for i in ids], pa.timestamp("ns")),
            }),
            path / f"part-{f}.parquet",
        )
    before = sorted(read_parquet(spark, str(path)).collect())

    assert compact(spark, str(path), target_rows_per_file=1000) == 1
    files = list(path.glob("*.parquet"))
    assert len(files) == 1
    assert pq.read_schema(files[0]).field("ts").type.unit == "us"
    assert sorted(read_parquet(spark, str(path)).collect()) == before
    assert len(before) == 100
