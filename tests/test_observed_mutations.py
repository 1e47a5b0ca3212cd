"""Engine mutations return what the write itself observed: the matched
count of ``update``, the deleted count of ``delete`` and the key set of
``upsert`` come from one ``Observation`` at the root of the written frame
(``operators/merge.py::observe_hits``), so each mutation is one write and
no extra Spark job. These tests pin the return values on the edges where
an observation is easiest to lose (empty tables, pruned targets,
constant predicates) and guard the job count."""

from __future__ import annotations

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


def test_symlink_mutations_fire_no_more_jobs_than_their_write(spark, tmp_path, count_jobs):
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
        baseline, _ = count_jobs(plain_write(frame_of(eng.get_table("t"))))
        fired, _ = count_jobs(mutate)
        assert baseline >= 1, name
        assert fired <= baseline, f"{name}: {fired} jobs, its write alone fires {baseline}"


# ------------------------------------------- D3 budget: etl_sync-shaped ops

#: Spark jobs per op, as the op fires them today: each input and table
#: read takes its schema from the parquet footer, so none runs Spark's
#: schema-inference job. A new driver-side action, or a read that falls
#: back to inference, breaks the budget.
ETL_BUDGET = {
    "upsert": {"symlink": 4, "versioned": 7},
    "get": {"symlink": 1, "versioned": 1},
    "update": {"symlink": 3, "versioned": 3},
    "delete": {"symlink": 1, "versioned": 1},
    "sync_window": 7,
}


def _inputs(spark, root):
    """Spark-written base table and upsert batch, as etl_sync reads them."""
    from pyspark.sql import functions as F

    def write(df, name):
        df.write.parquet(str(root / name))
        return str(root / name)

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v1"), F.lit("x").alias("v2")
    )
    batch = spark.range(150, 260, 3).select(
        F.col("id").alias("k"), F.lit(7).cast("bigint").alias("v1"), F.lit("n").alias("v2")
    )
    return write(base, "base"), write(batch, "batch")


@pytest.mark.parametrize("versioned", [False, True], ids=["symlink", "versioned"])
def test_etl_ops_stay_within_the_job_budget(spark, tmp_path, count_jobs, versioned):
    from revtron_utils_spark.io import read_parquet

    base, batch = _inputs(spark, tmp_path)
    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"), versioned=versioned)
    eng.save_table("t", read_parquet(spark, base), primary_key=["k"])
    mode = "versioned" if versioned else "symlink"
    ops = {
        "upsert": lambda: eng.upsert("t", read_parquet(spark, batch)),
        "get": lambda: eng.get("t", where={"k": {"operator": "between", "value": [150, 200]}})
        .collect(),
        "update": lambda: eng.update("t", read_parquet(spark, batch), on="k"),
        "delete": lambda: eng.delete("t", where={"k": {"operator": "<", "value": 25}}),
    }
    fired = {name: count_jobs(op)[0] for name, op in ops.items()}
    budget = {name: ETL_BUDGET[name][mode] for name in ops}
    assert all(fired[n] <= budget[n] for n in ops), (fired, budget)
    # 200 base keys, 20 of the batch's 37 new, 25 deleted
    assert len(eng.get("t", as_dicts=True)) == 200 + 20 - 25


def test_sync_window_stays_within_the_job_budget(spark, tmp_path, count_jobs):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from revtron_utils_spark.streaming.incremental import IncrementalSyncer

    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i) for i in range(300)]
    pq.write_table(
        pa.table({"event_id": list(range(300)), "ts": pa.array(ts, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"))
    eng.attach("events", str(tmp_path / "events.parquet"))
    syncer = IncrementalSyncer(eng, "events_sync", keys=["event_id"], date_field="ts")
    windows = [("2024-01-02 00:00:00", "2024-01-06 00:00:00"),
               ("2024-01-03 00:00:00", "2024-01-08 00:00:00")]
    for lo, hi in windows:
        jobs, n = count_jobs(lambda: syncer.sync_window(eng.get_table("events"), lo, hi))
        assert jobs <= ETL_BUDGET["sync_window"], (lo, jobs)
    assert n == 120 and eng.get_table_count("events_sync") == 6 * 24


def test_engine_probe_fires_no_job(spark, count_jobs):
    assert count_jobs(lambda: Engine(spark))[0] == 0


def test_engine_probe_is_an_explicit_check():
    """A wrong probe answer raises (``python -O`` would strip an ``assert``)."""

    class Answers:
        def sql(self, query):
            return Answers()

        def collect(self):
            return []

    with pytest.raises(RuntimeError, match="liveness probe"):
        Engine(Answers())


REST_SCRIPT = """
import json, os, sys, uuid
sys.path.insert(0, {root!r})
from datetime import datetime
from revtron_utils_spark import Engine
from revtron_utils_spark.session import get_spark
from revtron_utils_spark.sources.salesforce import FakeSalesforceTransport, Salesforce

spark = get_spark(app_name="rest-budget", master="local[2]", shuffle_partitions=2)
sc = spark.sparkContext

def jobs(fn):
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    fn()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))

rows = [{{"Id": f"ID{{i:05d}}", "event_type": "a", "value": float(i),
          "LastModifiedDate": datetime(2024, 1, 1 + i % 28)}} for i in range(300)]
client = Salesforce(spark, FakeSalesforceTransport({{"Event__c": rows}}), max_parallelism=4)
extract = jobs(lambda: client.get("Event__c", columns=["Id", "event_type", "value"],
                                  start_date=datetime(2024, 1, 3),
                                  end_date=datetime(2024, 1, 10)).collect())
patch = [{{"Id": f"ID{{i:05d}}", "event_type": "p", "value": 1.0}} for i in range(0, 40, 2)]
statuses = []
writeback = jobs(lambda: statuses.extend(client.update("Event__c", patch).collect()))
jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
daemons = 0
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        ppid = int(open(f"/proc/{{pid}}/stat").read().rsplit(")", 1)[1].split()[1])
        cmd = open(f"/proc/{{pid}}/cmdline").read()
    except OSError:
        continue
    daemons += ppid == jvm and "daemon" in cmd
spark.stop()
try:
    Engine(spark)
    stopped = None
except Exception as e:
    stopped = type(e).__name__
print(json.dumps({{"extract": extract, "writeback": writeback, "daemons": daemons,
                  "ok": [s.status for s in statuses] == ["updated"] * len(patch),
                  "stopped_engine_raises": stopped}}))
"""


@pytest.fixture(scope="module")
def fresh_jvm(tmp_path_factory):
    """REST extract and write-back counts from a fresh JVM, then an
    ``Engine`` built on the stopped session."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", REST_SCRIPT.format(root=root)],
        cwd=tmp_path_factory.mktemp("rest"), env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_rest_extract_and_writeback_share_one_python_daemon(fresh_jvm):
    """2 + 1 jobs and one Python worker daemon under the JVM. The id list
    and the write-back records reach Spark as Arrow tables; a PythonRDD
    would start a second daemon beside the one ``mapInPandas`` uses."""
    got = {k: fresh_jvm[k] for k in ("extract", "writeback", "daemons", "ok")}
    assert got == {"extract": 2, "writeback": 1, "daemons": 1, "ok": True}, got


def test_engine_on_a_stopped_session_raises(fresh_jvm):
    assert fresh_jvm["stopped_engine_raises"] == "RuntimeError"
