"""Tests for the versioned table format (tables.py): atomic commits,
snapshot isolation / time travel, merge semantics, vacuum, and the
optimistic-concurrency conflict path."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from revtron_utils_spark.tables import CommitConflict, VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "name", "v"])


def test_create_read_roundtrip(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    )
    assert t.latest_version() == 0
    assert t.read().count() == 2
    with pytest.raises(FileExistsError):
        VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(9, "x", 0.0)]))


def test_append_is_additive_and_time_travel(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    v1 = t.append(_df(spark, [(2, "b", 2.0), (3, "c", 3.0)]))
    assert v1 == 1
    assert t.read().count() == 3
    # time travel: version 0 still reads exactly its snapshot
    assert t.read(0).count() == 1
    assert {r.k for r in t.read(0).collect()} == {1}


def test_merge_null_preserving_and_isolation(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    )
    v = t.merge(_df(spark, [(2, None, 20.0), (3, "c", 3.0)]), keys=["k"])
    assert v == 1
    got = {r.k: (r.name, r.v) for r in t.read().collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 20.0), 3: ("c", 3.0)}  # null preserved
    # old snapshot unchanged
    old = {r.k: (r.name, r.v) for r in t.read(0).collect()}
    assert old == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_update_and_delete_versions(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    )
    t.update(spark.createDataFrame([(1, "A")], ["k", "name"]), on="k")
    assert {r.name for r in t.read().filter(F.col("k") == 1).collect()} == {"A"}
    t.delete(F.col("v") > 1.5)
    assert {r.k for r in t.read().collect()} == {1}
    assert t.history() == [0, 1, 2]


def test_commit_conflict_on_same_version(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    # simulate a racing writer that already committed version 1
    t._commit(1, t._manifest(0)["files"], "append")
    with pytest.raises(CommitConflict):
        t._commit(1, [], "append")
    # a well-behaved writer rebases onto the new latest and succeeds
    v = t.append(_df(spark, [(2, "b", 2.0)]))
    assert v == 2


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    t.overwrite(_df(spark, [(2, "b", 2.0)]))
    t.append(_df(spark, [(3, "c", 3.0)]))  # v2 = v1 files + new
    deleted = t.vacuum(keep_last=2)
    # v0's file is unreferenced by v1/v2 → deleted; v1's file lives on in v2
    assert len(deleted) >= 1
    assert t.history() == [1, 2]
    assert {r.k for r in t.read().collect()} == {2, 3}
    assert {r.k for r in t.read(1).collect()} == {2}


def test_snapshot_reader_survives_overwrite(spark, tmp_path):
    """A reader pinned to a version sees identical data after later
    writes (immutability), and after vacuum that retains its version."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    pinned = t.read(0)
    t.overwrite(_df(spark, [(9, "z", 9.0)]))
    t.vacuum(keep_last=2)  # retains v0 and v1
    assert {r.k for r in pinned.collect()} == {1}


def test_merge_prunes_disjoint_files(spark, tmp_path):
    """A merge touching a narrow key band rewrites only the files whose
    footer key range overlaps it — disjoint files carry over verbatim."""
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(100)], ["k", "name", "v"]
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    t = VersionedTable.create(spark, str(tmp_path / "t"), base)
    v0_files = set(t._manifest(0)["files"])
    assert len(v0_files) == 4

    # touch only keys 90..99 (the top range partition)
    src = spark.createDataFrame(
        [(k, None, 1000.0 + k) for k in range(90, 100)],
        "k long, name string, v double",
    )
    t.merge(src, keys=["k"])
    v1_files = set(t._manifest(1)["files"])
    carried = v0_files & v1_files
    # at least 2 of the 4 original files must survive untouched
    assert len(carried) >= 2

    got = {r.k: (r.name, r.v) for r in t.read().collect()}
    assert len(got) == 100
    for k in range(90, 100):
        assert got[k] == (f"n{k}", 1000.0 + k)  # null-preserved name, new v
    for k in range(0, 50):
        assert got[k] == (f"n{k}", float(k))


def test_merge_all_inserts_when_no_overlap(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, "a", 1.0)], ["k", "name", "v"])
        .repartitionByRange(1, "k"),
    )
    t.merge(spark.createDataFrame([(1000, "z", 9.0)], ["k", "name", "v"]), keys=["k"])
    assert {r.k for r in t.read().collect()} == {1, 1000}
    # the original file was disjoint from the source range → carried over
    assert set(t._manifest(0)["files"]) <= set(t._manifest(1)["files"])


def test_stream_merge_versioned_snapshots(spark, tmp_path, sf_dir):
    """Streaming sync into a versioned table: one committed version per
    micro-batch, final state equals the batch union, and intermediate
    snapshots remain readable (audit log of the sync)."""
    from pyspark.sql import functions as F
    from revtron_utils_spark.io import read_table
    from revtron_utils_spark.streaming.incremental import stream_merge_versioned

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "src")
    # two overlapping windows in separate files (replay semantics)
    ev.filter(F.col("ts") < "2024-01-15").coalesce(1).write.parquet(f"{src}/w0")
    ev.filter(F.col("ts") >= "2024-01-10").coalesce(1).write.parquet(f"{src}/w1")
    merged_src = str(tmp_path / "all")
    spark.read.parquet(f"{src}/w0").coalesce(1).write.parquet(merged_src)
    spark.read.parquet(f"{src}/w1").coalesce(1).write.mode("append").parquet(merged_src)

    seed = ev.limit(0)
    t = VersionedTable.create(spark, str(tmp_path / "t"), seed)
    q = stream_merge_versioned(
        spark, merged_src, ev.schema, t, ["event_id"],
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    assert t.read().count() == ev.count()
    # at least one intermediate version beyond v0, all readable
    hist = t.history()
    assert len(hist) >= 2
    for v in hist:
        t.read(v).count()


def test_engine_versioned_mode(spark, sf_dir, tmp_path):
    """Engine(versioned=True): the reference-compat mutation API runs on
    VersionedTable — upserts commit versions, old snapshots stay
    readable, delete/update version too."""
    from revtron_utils_spark import Engine

    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"), versioned=True)
    eng.attach_dir(sf_dir)
    cu = eng.get_table("customer").limit(20)
    eng.save_table("cust", cu, primary_key=["c_custkey"])
    assert eng.table_history("cust") == [0]

    keys = eng.upsert(
        "cust", [{"c_custkey": 1, "c_name": None, "c_acctbal": 999.0}]
    )
    assert keys == [{"c_custkey": 1}]
    assert eng.table_history("cust") == [0, 1]
    now = {r.c_custkey: r.c_acctbal for r in eng.get_table("cust").collect()}
    assert now[1] == 999.0
    # null-preserving: name kept from v0
    name_v1 = eng.get_table("cust").filter(F.col("c_custkey") == 1).first().c_name
    name_v0 = eng.get_table("cust", version=0).filter(F.col("c_custkey") == 1).first().c_name
    assert name_v1 == name_v0 is not None
    # time travel sees the old balance
    old = eng.get_table("cust", version=0).filter(F.col("c_custkey") == 1).first()
    assert old.c_acctbal != 999.0

    n = eng.delete("cust", {"c_custkey": {"operator": ">", "value": 10}})
    assert n > 0
    assert eng.table_history("cust") == [0, 1, 2]
    assert eng.get_table("cust", version=1).count() == 20


def test_versioned_table_random_ops_match_model(spark, tmp_path):
    """Stateful differential test: a random-but-deterministic sequence of
    merge/append/delete/overwrite against VersionedTable must track an
    in-memory dict model exactly, at every version."""
    import random

    rng = random.Random(20240813)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(0, "seed", 0.0)])
    )
    model = {0: ("seed", 0.0)}
    snapshots = [dict(model)]

    for step in range(8):
        op = rng.choice(["merge", "append", "delete", "overwrite"])
        if op == "merge":
            rows = [
                (rng.randrange(12), rng.choice(["x", "y", None]), float(rng.randrange(100)))
                for _ in range(rng.randrange(1, 4))
            ]
            # dedupe within batch like dedupe_source (last by (name,v) desc)
            by_key = {}
            for k, name, v in rows:
                cur = by_key.get(k)
                cand = (name, v)
                if cur is None or (
                    (cand[0] or "") > (cur[0] or "")
                    or ((cand[0] or "") == (cur[0] or "") and cand[1] > cur[1])
                ):
                    by_key[k] = cand
            src = spark.createDataFrame(
                [(k, n, v) for k, (n, v) in by_key.items()],
                "k long, name string, v double",
            )
            t.merge(src, keys=["k"])
            for k, (name, v) in by_key.items():
                if k in model:
                    old = model[k]
                    model[k] = (name if name is not None else old[0], v)
                else:
                    model[k] = (name, v)
        elif op == "append":
            k = 100 + step
            t.append(_df(spark, [(k, f"a{step}", float(step))]))
            model[k] = (f"a{step}", float(step))
        elif op == "delete":
            thr = float(rng.randrange(100))
            t.delete(F.col("v") > thr)
            model = {k: nv for k, nv in model.items() if not (nv[1] is not None and nv[1] > thr)}
        else:
            rows = [(999, "ow", float(step))]
            t.overwrite(_df(spark, rows))
            model = {999: ("ow", float(step))}
        snapshots.append(dict(model))

        got = {r.k: (r.name, r.v) for r in t.read().collect()}
        assert got == model, f"divergence after step {step} ({op})"

    # every historical version still matches its recorded snapshot
    for v, snap in zip(t.history(), snapshots):
        got = {r.k: (r.name, r.v) for r in t.read(v).collect()}
        assert got == snap, f"time-travel divergence at version {v}"


def test_append_rejects_schema_drift(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    bad = spark.createDataFrame([(2, "b")], ["k", "name"])  # missing v
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)
    bad2 = spark.createDataFrame([(2, "b", 2)], "k long, name string, v long")  # v type drift
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad2)
    # column order doesn't matter
    ok = spark.createDataFrame([("c", 3.0, 3)], "name string, v double, k long")
    t.append(ok)
    assert t.read().count() == 2


def test_append_evolve_adds_columns(spark, tmp_path):
    """Additive evolution: evolve=True admits new columns; old files
    surface them as NULL via mergeSchema, and the evolved flag sticks
    for subsequent versions."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    wide = spark.createDataFrame(
        [(2, "b", 2.0, "extra")], "k long, name string, v double, tag string"
    )
    # without evolve: rejected
    with pytest.raises(ValueError, match="evolve=True"):
        t.append(wide)
    t.append(wide, evolve=True)
    got = {r.k: r.tag for r in t.read().collect()}
    assert got == {1: None, 2: "extra"}
    # a later plain append of the evolved schema keeps merging
    t.append(
        spark.createDataFrame([(3, "c", 3.0, None)], "k long, name string, v double, tag string")
    )
    assert t.read().count() == 3
    # type change is still rejected even with evolve
    bad = spark.createDataFrame([(4, "d", 4, "x")], "k long, name string, v long, tag string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad, evolve=True)


def test_overwrite_clustered_enables_merge_pruning(spark, tmp_path):
    """cluster_by on overwrite + footer-stats pruning on merge compose:
    a narrow-band merge against a Z-ordered table carries most files."""
    rows = [(i, f"n{i}", float(i % 37)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "name", "v"])
    t = VersionedTable.create(spark, str(tmp_path / "t"), df.limit(1))
    t.overwrite(df, cluster_by=["k"], num_files=8)
    v1_files = set(t._manifest(t.latest_version())["files"])
    assert len(v1_files) == 8

    src = spark.createDataFrame(
        [(k, "touched", -1.0) for k in range(1900, 2000)], ["k", "name", "v"]
    )
    t.merge(src, keys=["k"])
    carried = v1_files & set(t._manifest(t.latest_version())["files"])
    # the merge touched only the top k-band: ≥6 of 8 clustered files survive
    assert len(carried) >= 6
    got = t.read()
    assert got.count() == 2000
    assert got.filter(F.col("name") == "touched").count() == 100


def test_merge_prunes_with_string_keys(spark, tmp_path):
    df = spark.createDataFrame([(f"k{i:03d}", float(i)) for i in range(100)], ["k", "v"])
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k")
    )
    src = spark.createDataFrame([("k095", -1.0), ("k099", -2.0)], ["k", "v"])
    t.merge(src, keys=["k"])
    carried = set(t._manifest(0)["files"]) & set(t._manifest(1)["files"])
    assert len(carried) >= 2  # low bands untouched
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 100 and got["k095"] == -1.0 and got["k000"] == 0.0


def test_merge_after_evolution_preserves_new_columns(spark, tmp_path):
    """Merging into a schema-evolved table must read matched files with
    mergeSchema and keep the evolved flag on the new version — otherwise
    evolved columns silently vanish."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    wide = spark.createDataFrame(
        [(3, "c", 3.0, "T3")], "k long, name string, v double, tag string"
    )
    t.append(wide, evolve=True)
    src = spark.createDataFrame(
        [(2, "B2", 20.0, None), (4, "d", 4.0, "T4")],
        "k long, name string, v double, tag string",
    )
    t.merge(src, keys=["k"])
    got = {r.k: (r.name, r.tag) for r in t.read().collect()}
    assert got[3] == ("c", "T3")   # evolved column survives the merge
    assert got[2][0] == "B2"
    assert got[4] == ("d", "T4")
    assert t._is_evolved(t.latest_version())


def test_vacuum_clean_orphans(spark, tmp_path):
    """Files written but never committed (lost CommitConflict races) are
    reclaimed only by clean_orphans and only past the grace window."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    # simulate a loser writer: data files exist, no manifest references them
    orphan_files = t._write_files(_df(spark, [(9, "z", 9.0)]))
    assert all((Path(t.path) / f).exists() for f in orphan_files)
    # within grace: untouched
    assert t.vacuum(keep_last=5, clean_orphans=True, orphan_grace_seconds=3600) == []
    # past grace: reclaimed
    deleted = t.vacuum(keep_last=5, clean_orphans=True, orphan_grace_seconds=0)
    assert sorted(deleted) == sorted(orphan_files)
    assert t.read().count() == 1


def test_truncated_manifest_never_commits(spark, tmp_path):
    """The manifest content is written before the commit point, so no
    partially-written manifest can ever appear in the log directory."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    import json

    for v in t.history():
        m = json.loads((t._log_dir / f"{v:08d}.json").read_text())
        assert m["files"]  # complete, parseable, non-empty


def test_merge_null_key_source_matches_null_key_files(spark, tmp_path):
    """Keys match NULL-safely, and footer min/max ignore NULLs: a file
    whose key range is disjoint from the source's is still rewritten when
    both hold a NULL key, so versioned mode merges the NULL-key row in
    place as symlink mode does (no duplicate), while a file with no NULL
    key is still pruned."""
    from revtron_utils_spark import Engine

    schema = "k long, name string, v double"
    base = spark.createDataFrame(
        [(None, "null-row", 0.0)] + [(i, f"n{i}", float(i)) for i in range(1, 9)], schema
    ).repartitionByRange(2, "k")
    src = spark.createDataFrame([(None, "NULL-NEW", None), (100, "new", 1.0)], schema)
    tables = {}
    for versioned in (False, True):
        eng = Engine(spark, warehouse_dir=str(tmp_path / f"wh{versioned}"), versioned=versioned)
        eng.save_table("t", base, primary_key=["k"])
        assert sorted(eng.upsert("t", src), key=str) == sorted([{"k": None}, {"k": 100}], key=str)
        tables[versioned] = sorted(map(tuple, eng.get_table("t").collect()), key=str)
    assert tables[True] == tables[False]
    assert [r for r in tables[True] if r[0] is None] == [(None, "NULL-NEW", 0.0)]

    vt = VersionedTable(spark, str(tmp_path / "whTrue" / "t"))
    v0, v1 = (set(vt._manifest(v)["files"]) for v in vt.history()[-2:])
    assert len(v0) == 2 and len(v0 & v1) == 1  # the NULL-free file carried over
