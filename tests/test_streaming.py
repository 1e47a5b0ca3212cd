"""Incremental-sync semantics (ST1-ST5): overlapping-window convergence,
soft-delete propagation, idempotent replay, and the Structured
Streaming foreachBatch-merge form."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from revtron_utils_spark.streaming.incremental import (
    IncrementalSyncer,
    lookback_extract,
    merge_with_soft_delete,
    stream_merge,
    window_extract,
)


def test_window_extract_half_open(engine):
    ev = engine.get_table("events")
    w1 = window_extract(ev, "2024-01-01", "2024-01-10")
    w2 = window_extract(ev, "2024-01-10", "2024-01-20")
    assert w1.count() + w2.count() == window_extract(ev, "2024-01-01", "2024-01-20").count()


def test_lookback_extract(engine):
    from datetime import datetime

    ev = engine.get_table("events")
    n = lookback_extract(ev, days=10, now=datetime(2024, 1, 31)).count()
    want = ev.filter(F.col("ts") >= "2024-01-21").count()
    assert n == want > 0


def test_incremental_sync_converges(engine):
    ev = engine.get_table("events")
    syncer = IncrementalSyncer(engine, "sync_target", keys=["event_id"], date_field="ts")
    counts = syncer.sync(
        ev,
        [
            ("2024-01-01", "2024-01-12"),
            ("2024-01-10", "2024-01-22"),  # overlaps the first window
            ("2024-01-20", "2024-02-02"),
            ("2024-01-01", "2024-02-02"),  # full replay — must be a no-op
        ],
    )
    assert counts[-1] > 0
    final = engine.get_table("sync_target")
    want = ev.filter((F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-02-02"))
    assert final.count() == want.count() == final.select("event_id").distinct().count()


def test_soft_delete_merge(engine, spark):
    target = engine.get_table("customer").limit(10)
    ids = [r.c_custkey for r in target.select("c_custkey").collect()]
    src = spark.createDataFrame(
        [
            {"c_custkey": ids[0], "c_name": "LIVE-UPDATE", "IsDeleted": False},
            {"c_custkey": ids[1], "c_name": None, "IsDeleted": True},
            {"c_custkey": 999999, "c_name": "GHOST-DELETE", "IsDeleted": True},
        ]
    )
    out = merge_with_soft_delete(target, src, ["c_custkey"], "IsDeleted")
    rows = {r.c_custkey: r for r in out.collect()}
    assert ids[1] not in rows  # deleted
    assert 999999 not in rows  # delete of a missing key is a no-op
    assert rows[ids[0]].c_name == "LIVE-UPDATE"
    assert len(rows) == 9


def test_stream_merge_later_update_wins(engine, spark, tmp_path):
    """Regression: stream-level dropDuplicates(keys) used to discard a
    key's later update. The newest row by event time must land."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    src = str(tmp_path / "upd_src")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 10.0)], ["event_id", "ts_s", "value"]
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "value"
    ).write.parquet(src)
    spark.createDataFrame(
        [(1, "2024-01-02 10:00:00", 99.0)], ["event_id", "ts_s", "value"]
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "value"
    ).write.mode("append").parquet(src)

    q = stream_merge(
        spark, src, schema, engine, "upd_target", keys=["event_id"],
        date_field="ts", checkpoint_dir=str(tmp_path / "upd_ck"),
    )
    q.awaitTermination(120)
    rows = engine.get("upd_target", as_dicts=True)
    assert len(rows) == 1
    assert rows[0]["value"] == 99.0  # the update, not the original


def test_streaming_windowed_agg_matches_batch(engine, spark, tmp_path):
    """True readStream windowed aggregation (watermark + tumbling
    window) must agree with the batch twin over a bounded input."""
    ev = engine.get_table("events").select("ts", "event_type", "value")
    src = str(tmp_path / "agg_src")
    ev.write.parquet(src)

    agg = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .load(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.ws, r.event_type): r.n for r in spark.sql("SELECT * FROM win_out").collect()
    }
    want = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_stream_merge_foreachbatch(engine, spark, tmp_path):
    ev = engine.get_table("events").select("event_id", "ts", "user_id", "event_type", "value")
    src_dir = str(tmp_path / "stream_src")
    # two file drops with overlapping content → replay must converge
    ev.filter(F.col("ts") < "2024-01-15").write.mode("overwrite").parquet(src_dir)
    ev.filter(F.col("ts") >= "2024-01-10").write.mode("append").parquet(src_dir)

    q = stream_merge(
        spark,
        src_dir,
        ev.schema,
        engine,
        "stream_target",
        keys=["event_id"],
        date_field="ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    final = engine.get_table("stream_target")
    assert final.count() == ev.count()
    assert final.select("event_id").distinct().count() == ev.count()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-delivered keys inside the watermark horizon are dropped:
    feeding the same rows twice yields each key exactly once."""
    from pyspark.sql import functions as F
    from revtron_utils_spark.streaming.incremental import stream_dedup

    src = tmp_path / "src"
    rows = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("id"))).alias("ts"),
        (F.col("id") * 2.0).alias("v"),
    )
    rows.write.mode("overwrite").parquet(str(src / "b1"))
    rows.write.mode("append").parquet(str(src / "b1"))  # full redelivery

    stream = (
        spark.readStream.format("parquet")
        .schema(rows.schema)
        .load(str(src / "b1"))
    )
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_dedup(stream, ["k"], "ts", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)
    assert got.count() == 200
    assert got.select("k").distinct().count() == 200


def test_stream_rollup_matches_direct_agg(spark, tmp_path):
    from pyspark.sql import functions as F
    from revtron_utils_spark.io import read_table
    from revtron_utils_spark.operators.rollup import rollup_finalize
    from revtron_utils_spark.streaming.incremental import stream_rollup
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events").select("event_type", "ts", "value")
    src = str(tmp_path / "src")
    # three disjoint windows arriving as separate files
    for i, (lo, hi) in enumerate(
        [("2024-01-01", "2024-01-10"), ("2024-01-10", "2024-01-20"), ("2024-01-20", "2025-01-01")]
    ):
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).write.mode(
            "overwrite"
        ).parquet(f"{src}/w{i}")
    merged_src = str(tmp_path / "all")
    for i in range(3):
        spark.read.parquet(f"{src}/w{i}").write.mode("append").parquet(merged_src)

    state = str(tmp_path / "state")
    q = stream_rollup(
        spark,
        merged_src,
        ev.schema,
        state,
        ["event_type"],
        "value",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    got = {
        r.event_type: r
        for r in rollup_finalize(spark.read.parquet(state), ["event_type"]).collect()
    }
    want = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.avg("value").alias("mean"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k].n == want[k].n
        assert abs(got[k].total - want[k].total) < 1e-6
        assert abs(got[k].mean - want[k].mean) < 1e-6


def test_soft_delete_newest_event_wins(spark):
    """A delete followed by a newer re-insert in the SAME batch must
    keep the row: only the key's latest event decides."""
    from revtron_utils_spark.streaming.incremental import merge_with_soft_delete

    target = spark.createDataFrame([(1, "old", 1.0)], ["k", "name", "v"])
    batch = spark.createDataFrame(
        [
            (1, "dead", 0.0, True, 100),
            (1, "alive-again", 2.0, False, 200),  # newer event
            (2, "gone", 9.9, True, 150),
        ],
        "k long, name string, v double, IsDeleted boolean, ts long",
    )
    out = merge_with_soft_delete(
        target, batch, ["k"], "IsDeleted", order_col="ts"
    )
    got = {r.k: r.name for r in out.collect()}
    assert got == {1: "alive-again"}  # 1 survives via newest event; 2 deleted


def test_streaming_staging_reaper(spark):
    """A staging dir left by a DEAD process (SIGKILL skips atexit) must
    be reaped by the next streaming_sessionize invocation; the live
    process's own dir must survive the sweep."""
    import pathlib
    import subprocess
    import tempfile

    import __spark_entry__ as entry

    p = subprocess.Popen(["sleep", "0"])
    p.wait()
    base = pathlib.Path(tempfile.gettempdir())
    stale = base / f"drv_stream_sess_{p.pid}"
    stale.mkdir(exist_ok=True)
    (stale / "junk").write_text("leftover parquet stand-in")

    n = entry.queries()["streaming_sessionize"](spark, "/root/testdata/sf0.001").count()
    assert n >= 0
    assert not stale.exists(), "dead-pid staging dir was not reaped"


def test_stream_quantile_rollup_matches_batch(spark, tmp_path):
    from revtron_utils_spark.io import read_table
    from revtron_utils_spark.operators.rollup import (
        quantile_rollup_estimate,
        quantile_rollup_partial,
    )
    from revtron_utils_spark.streaming.incremental import stream_quantile_rollup
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events").select("event_type", "value")
    src = str(tmp_path / "qsrc")
    for i in range(3):
        ev.filter(F.pmod(F.hash("value"), F.lit(3)) == i).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}")
    merged_src = str(tmp_path / "qall")
    for i in range(3):
        spark.read.parquet(f"{src}/b{i}").write.mode("append").parquet(merged_src)

    state = str(tmp_path / "qstate")
    q = stream_quantile_rollup(
        spark,
        merged_src,
        ev.schema,
        state,
        ["event_type"],
        "value",
        checkpoint_dir=str(tmp_path / "qck"),
    )
    q.awaitTermination(180)

    # the streamed state must equal the one-shot partial over ALL events
    # (merge is exact), hence identical quantile estimates
    streamed = spark.read.parquet(state)
    direct = quantile_rollup_partial(ev, ["event_type"], "value")
    assert streamed.exceptAll(direct).count() == 0
    assert direct.exceptAll(streamed).count() == 0
    got = {
        (r["event_type"], r["p"]): r["quantile_est"]
        for r in quantile_rollup_estimate(streamed, ["event_type"], [0.5, 0.95]).collect()
    }
    want = {
        (r["event_type"], r["p"]): r["quantile_est"]
        for r in quantile_rollup_estimate(direct, ["event_type"], [0.5, 0.95]).collect()
    }
    assert got == want and got


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The classifier + Gopher expressions are stateless column
    expressions, so they must run unchanged under Structured Streaming
    — prove it end-to-end: stream the documents through the scorer with
    availableNow and compare against the batch result."""
    from pyspark.sql import functions as F

    from revtron_utils_spark.functions import classifier as CL
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.write.mode("overwrite").parquet(src)

    def score(df):
        return df.select(
            "doc_id",
            CL.hashed_linear_score("text").alias("score"),
            F.col("text").isNotNull().alias("_x"),
            CL.gopher_quality_flags("text").getField("pass_all").alias("pass_all"),
        ).drop("_x")

    out = str(tmp_path / "out")
    q = (
        score(spark.readStream.schema(docs.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, score(docs).collect()))
    assert got == want


# ------------------------------------------ stream-stream interval join


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """The streamed interval join (availableNow, watermarked both sides)
    must produce exactly the batch interval join of the same inputs."""
    from revtron_utils_spark.io import read_table
    from revtron_utils_spark.streaming.join import stream_interval_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    clicks_b = ev.filter(F.col("event_type") == "click")
    buys_b = ev.filter(F.col("event_type") == "purchase")
    want = sorted(
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in stream_interval_join(
            clicks_b, buys_b, "user_id", max_delay="1 hour", watermark="2 hours"
        ).collect()
    )

    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    clicks_b.coalesce(1).write.parquet(cdir)
    buys_b.coalesce(1).write.parquet(bdir)
    joined = stream_interval_join(
        spark.readStream.schema(ev.schema).parquet(cdir),
        spark.readStream.schema(ev.schema).parquet(bdir),
        "user_id",
        max_delay="1 hour",
        watermark="2 hours",
    ).select("user_id", "l_event_id", "r_event_id")
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == want and len(got) > 0


def test_stream_interval_join_window_semantics(spark):
    """Hand-built streams: in-window pair joins, out-of-window and
    wrong-key pairs don't; right event strictly before left doesn't."""
    from revtron_utils_spark.streaming.join import stream_interval_join

    l = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    r = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00"),  # in window
            (1, "2024-01-01 12:00:00"),  # too late (> 1h)
            (1, "2024-01-01 09:59:00"),  # before the left event
            (3, "2024-01-01 10:30:00"),  # wrong key
        ],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = stream_interval_join(l, r, "user_id", max_delay="1 hour").collect()
    assert len(got) == 1
    assert got[0].user_id == 1 and str(got[0].r_ts) == "2024-01-01 10:30:00"


def test_spacesaving_fold_guarantees():
    """Pure-python SpaceSaving: est bounds hold and a >N/m item is
    always tracked."""
    import random

    from revtron_utils_spark.streaming.heavy_hitters import spacesaving_fold

    rng = random.Random(3)
    # zipf-ish stream: item0 dominates
    stream = ["hot"] * 400 + [f"i{rng.randrange(200)}" for _ in range(600)]
    rng.shuffle(stream)
    summary = spacesaving_fold({}, stream, capacity=32)
    true = {}
    for it in stream:
        true[it] = true.get(it, 0) + 1
    assert "hot" in summary  # freq 400 > N/m = 1000/32
    for it, (est, err) in summary.items():
        t = true.get(it, 0)
        assert t <= est <= t + err + 1e-9, (it, t, est, err)
    assert len(summary) <= 32


def test_spacesaving_exact_when_capacity_exceeds_distinct():
    from revtron_utils_spark.streaming.heavy_hitters import spacesaving_fold

    stream = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    s = spacesaving_fold({}, stream, capacity=10)
    assert {k: v[0] for k, v in s.items()} == {"a": 5, "b": 3, "c": 2}
    assert all(v[1] == 0 for v in s.values())


def test_heavy_hitters_stream_end_to_end(spark, sf_dir, tmp_path):
    """availableNow run over the events table: per-event-type top users
    match a batch SpaceSaving replay when capacity covers all users
    (exact regime), and output ranks are well-formed."""
    from pyspark.sql import functions as F

    from revtron_utils_spark.io import read_table
    from revtron_utils_spark.streaming.heavy_hitters import heavy_hitters_stream

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").cast("string").alias("event_type"),
        F.col("user_id").cast("string").alias("user_id"),
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    q = heavy_hitters_stream(
        spark,
        src,
        ev.schema,
        "event_type",
        "user_id",
        capacity=100_000,  # exact regime: capacity > distinct users
        k=5,
        checkpoint_dir=str(tmp_path / "ck"),
        queryName="t_hh",
    )
    assert q.awaitTermination(300)
    out = spark.table("t_hh").collect()
    got = {}
    for r in out:
        got.setdefault(r.group, {})[r.item] = (r.est, r.err, r.rank)
    truth = {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n")).collect()
    }
    top_truth = {}
    for (g, u), n in truth.items():
        top_truth.setdefault(g, []).append((-n, u))
    for g, items in got.items():
        want = sorted(top_truth[g])[:5]
        for rank, (negn, u) in enumerate(want, start=1):
            assert items[u] == (-negn, 0, rank), (g, u, items.get(u))


def test_streaming_tumbling_equals_batch_with_watermark_boundary(spark, sf_dir):
    """The availableNow tumbling aggregate must equal the batch
    aggregate restricted to windows whose end <= max(ts) - delay —
    append-mode emission is watermark arithmetic, not batch timing."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    streamed = {
        (r["ws"], r["event_type"]): (r["n"], r["sum_cents"])
        for r in entry.q_streaming_tumbling(spark, sf_dir).collect()
    }
    ev = entry._t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mx = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc"))
        .where(F.unix_micros(F.col("w.end")) <= mx - 3_600_000_000)
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "event_type", "n", "sc")
    )
    expected = {(r["ws"], r["event_type"]): (r["n"], r["sc"]) for r in batch.collect()}
    assert streamed == expected and len(streamed) > 0


def test_streaming_sliding_equals_batch_and_doubles_membership(spark, sf_dir):
    """The availableNow SLIDING aggregate must equal the batch sliding
    aggregate restricted to windows whose end <= max(ts) - delay; and
    every event belongs to exactly two 2h/1h windows, so the total
    emitted count is twice the tumbling total over the same horizon."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    streamed = {
        (r["ws"], r["event_type"]): (r["n"], r["sum_cents"])
        for r in entry.q_streaming_sliding(spark, sf_dir).collect()
    }
    ev = entry._t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mx = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    batch = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc"))
        .where(F.unix_micros(F.col("w.end")) <= mx - 3_600_000_000)
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "event_type", "n", "sc")
    )
    expected = {(r["ws"], r["event_type"]): (r["n"], r["sc"]) for r in batch.collect()}
    assert streamed == expected and len(streamed) > 0
    # membership doubling: events fully inside the emitted horizon are
    # counted twice across sliding windows vs once across tumbling
    emitted_events = (
        ev.where(
            F.unix_micros(F.date_trunc("hour", "ts")) + 7_200_000_000
            <= mx - 3_600_000_000
        ).count()
    )
    total_streamed = sum(n for n, _ in streamed.values())
    # every event whose LATER window is emitted contributes 2; events on
    # the boundary contribute 1 (only their earlier window emits)
    boundary_events = ev.where(
        (F.unix_micros(F.date_trunc("hour", "ts")) + 7_200_000_000
         > mx - 3_600_000_000)
        & (F.unix_micros(F.date_trunc("hour", "ts")) + 3_600_000_000
           <= mx - 3_600_000_000)
    ).count()
    assert total_streamed == 2 * emitted_events + boundary_events


def _windows(df) -> int:
    """Window operators in ``df``'s optimized logical plan."""
    import re

    return len(re.findall(r"\bWindow \[", df._jdf.queryExecution().optimizedPlan().toString()))


_SYNC_SCHEMA = "k long, v long, ts timestamp, IsDeleted boolean"


def _sync_rows(spark, rows):
    from datetime import datetime

    return spark.createDataFrame(
        [(k, v, datetime.fromisoformat(ts), d) for k, v, ts, d in rows], _SYNC_SCHEMA
    )


def test_sync_without_delete_col_keeps_newest_event(engine, spark):
    """Without a delete column the window merge must still collapse a
    key's duplicates by event time, not by the largest value."""
    engine.save_table(
        "nodel", _sync_rows(spark, [(1, 0, "2024-01-01", False)]).drop("IsDeleted"),
        primary_key=["k"],
    )
    batch = _sync_rows(
        spark, [(1, 9, "2024-01-02", False), (1, 1, "2024-01-03", False)]
    ).drop("IsDeleted")
    IncrementalSyncer(engine, "nodel", keys=["k"], date_field="ts").sync_window(
        batch, None, None
    )
    assert [(r.k, r.v) for r in engine.get_table("nodel").collect()] == [(1, 1)]


def test_merge_plans_collapse_each_batch_once(engine, spark, tmp_path, monkeypatch):
    """One newest-per-key window per branch: the live and dead-key
    branches each read it (2), the no-delete-column path of the window
    sync reads it once (1), and a stream_merge micro-batch plans the
    same merge."""
    target = _sync_rows(spark, [(1, 0, "2024-01-01", False)])
    batch = _sync_rows(spark, [(1, 9, "2024-01-02", False), (2, 1, "2024-01-03", True)])
    assert _windows(merge_with_soft_delete(target, batch, ["k"], order_col="ts")) <= 2
    no_del = merge_with_soft_delete(
        target.drop("IsDeleted"), batch.drop("IsDeleted"), ["k"], order_col="ts"
    )
    assert _windows(no_del) == 1

    saved = []
    save = engine.save_table

    def spy(name, df, **kw):
        saved.append(_windows(df))
        save(name, df, **kw)

    monkeypatch.setattr(engine, "save_table", spy)
    src = str(tmp_path / "plan_src")
    batch.coalesce(1).write.parquet(src)
    q = stream_merge(
        spark, src, batch.schema, engine, "plan_target", keys=["k"], date_field="ts",
        delete_col="IsDeleted", checkpoint_dir=str(tmp_path / "plan_ck"),
    )
    assert q.awaitTermination(120)
    assert saved and 1 <= max(saved) <= 2, saved


@pytest.mark.parametrize("delete_col", [None, "IsDeleted"])
def test_stream_merge_matches_sync_window(engine, spark, tmp_path, delete_col):
    """The module's claim: a stream_merge micro-batch and a sync window
    apply the same merge. One batch with duplicate keys (the newer
    event carries the smaller value), a delete followed by a later
    re-insert, a plain delete and an insert."""
    seed = _sync_rows(
        spark,
        [(1, 0, "2024-01-01", False), (2, 0, "2024-01-01", False), (3, 0, "2024-01-01", False)],
    )
    batch = _sync_rows(
        spark,
        [
            (1, 7, "2024-01-02", False),
            (1, 5, "2024-01-03", False),
            (2, 0, "2024-01-02", True),
            (2, 8, "2024-01-04", False),
            (3, 0, "2024-01-05", True),
            (4, 4, "2024-01-01", False),
        ],
    )
    for t in ("par_stream", "par_batch"):
        engine.save_table(t, seed, primary_key=["k"])
    src = str(tmp_path / "par_src")
    batch.coalesce(1).write.parquet(src)
    q = stream_merge(
        spark, src, batch.schema, engine, "par_stream", keys=["k"], date_field="ts",
        delete_col=delete_col, checkpoint_dir=str(tmp_path / "par_ck"),
    )
    assert q.awaitTermination(120)
    IncrementalSyncer(
        engine, "par_batch", keys=["k"], date_field="ts", delete_col=delete_col
    ).sync_window(batch, None, None)

    def rows(t):
        return sorted(tuple(r) for r in engine.get_table(t).select("k", "v").collect())

    assert rows("par_stream") == rows("par_batch")
    want = {1: 5, 2: 8, 4: 4} if delete_col else {1: 5, 2: 8, 3: 0, 4: 4}
    assert dict(rows("par_batch")) == want
