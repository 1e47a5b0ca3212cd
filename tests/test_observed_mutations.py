"""Engine mutations return what the write itself observed: the matched
count of ``update``, the deleted count of ``delete`` and the key set of
``upsert`` come from one ``Observation`` at the root of the written frame
(``operators/merge.py::observe_hits``), so each mutation is one write and
no extra Spark job. These tests pin the return values on the edges where
an observation is easiest to lose (empty tables, pruned targets,
constant predicates) and guard the job count."""

from __future__ import annotations

import uuid

import pytest

from revtron_utils_spark import Engine, compile_where
from revtron_utils_spark.operators.merge import delete_where, keyed_update, upsert_merge
from revtron_utils_spark.tables import VersionedTable

KV = "k bigint, v string"
ROWS = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


@pytest.fixture(params=[False, True], ids=["symlink", "versioned"])
def eng(request, spark, tmp_path):
    return Engine(spark, warehouse_dir=str(tmp_path / "wh"), versioned=request.param)


def _table(eng, rows, name="t"):
    eng.save_table(name, eng.spark.createDataFrame(rows, KV), primary_key=["k"])
    return name


def _rows(eng, name="t"):
    return sorted(
        (tuple(r) for r in eng.get_table(name).collect()),
        key=lambda r: (r[0] is not None, r),
    )


def test_update_null_key_matches_nothing(eng, spark):
    """SQL UPDATE semantics: a NULL ``on`` key matches no row — the count
    says 0 for it and the NULL-keyed target row keeps its value."""
    _table(eng, [(None, "a"), (1, "b"), (2, "c")])
    n = eng.update("t", spark.createDataFrame([(None, "X"), (1, "Y")], KV), on="k")
    assert n == 1
    assert _rows(eng) == [(None, "a"), (1, "Y"), (2, "c")]


def test_update_and_delete_on_empty_table(eng, spark):
    _table(eng, [])
    assert eng.update("t", spark.createDataFrame([(1, "x")], KV), on="k") == 0
    assert eng.delete("t", {"k": {"operator": ">", "value": 0}}) == 0
    assert eng.delete("t") == 0
    assert _rows(eng) == []


@pytest.mark.parametrize(
    "where, deleted",
    [
        (None, 4),  # DELETE FROM t
        ({"k": {"operator": ">=", "value": 1}}, 4),  # matches every row
        ({"k": {"operator": "not in", "value": []}}, 4),  # constant TRUE
        ({"k": {"operator": "in", "value": []}}, 0),  # constant FALSE
        ({"k": {"operator": ">", "value": 2}}, 2),
    ],
    ids=["none", "all", "not-in-empty", "in-empty", "some"],
)
def test_delete_counts(eng, where, deleted):
    _table(eng, ROWS)
    assert eng.delete("t", where) == deleted
    assert len(_rows(eng)) == len(ROWS) - deleted


def test_upsert_returns_keys_when_every_file_is_pruned(eng, spark):
    """Source keys outside every file's footer range: the versioned merge
    reads no file (``limit(0)`` target) and still returns each key."""
    _table(eng, ROWS)
    vt = VersionedTable(spark, eng.warehouse_dir + "/t")
    files = (lambda: set(vt._manifest(vt.latest_version())["files"])) if eng.versioned else set
    files_before = files()
    keys = eng.upsert("t", spark.createDataFrame([(100, "x"), (101, "y"), (100, "z")], KV))
    assert sorted(d["k"] for d in keys) == [100, 101]
    assert len(_rows(eng)) == len(ROWS) + 2
    # nothing rewritten: every old file carries into the new version
    assert files_before <= files()


def test_upsert_into_empty_table_returns_source_keys(eng, spark):
    _table(eng, [])
    keys = eng.upsert("t", spark.createDataFrame([(None, "n"), (7, "x")], KV))
    assert sorted(keys, key=lambda d: (d["k"] is not None, d["k"] or 0)) == [
        {"k": None},
        {"k": 7},
    ]


# ------------------------------------------------------------ job budget


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` fires, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_symlink_mutations_fire_no_more_jobs_than_their_write(spark, tmp_path):
    """Each mutation is its write: ``update``, ``delete`` and ``upsert``
    fire no more jobs than writing the frame they write. A stray
    ``count()`` or ``collect()`` for the return value fails this."""
    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"))
    rows = [(i, f"v{i}") for i in range(200)]
    src = spark.createDataFrame([(i, "new") for i in range(150, 260, 3)], KV)
    where = {"k": {"operator": "<", "value": 60}}
    out = str(tmp_path / "plain")

    def plain_write(frame):
        return lambda: frame.write.mode("overwrite").parquet(out)

    cases = {
        "update": (
            lambda t: keyed_update(t, src, "k"),
            lambda: eng.update("t", src, on="k"),
        ),
        "delete": (
            lambda t: delete_where(t, compile_where(where)),
            lambda: eng.delete("t", where),
        ),
        "upsert": (
            lambda t: upsert_merge(t, src, ["k"]),
            lambda: eng.upsert("t", src),
        ),
    }
    for name, (frame_of, mutate) in cases.items():
        _table(eng, rows)
        baseline = _jobs(spark, plain_write(frame_of(eng.get_table("t"))))
        fired = _jobs(spark, mutate)
        assert baseline >= 1, name
        assert fired <= baseline, f"{name}: {fired} jobs, its write alone fires {baseline}"
