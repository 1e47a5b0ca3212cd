"""The benchmark workloads.

A workload makes its inputs from the seed (before any timing), then
hands out one list of :class:`Op` per pass.  An op has a *build* phase
(construct the DataFrame or source through the public API) and an
*execute* phase (run it: ``collect`` or the write call) and returns an
:class:`Outcome`.  Outputs are checked after the timed passes: registry
ops against their DuckDB oracle, ``etl_sync`` ops against a DuckDB replay
of the same seeded batches.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path
from typing import Any

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.stats import fingerprint
from perfbench.transport import IndexedTransport

#: short reads: the reference read surface, TPC-H canaries and short
#: headline ops, among them ``curation_pipeline`` (text tokenization and
#: Spark actions fired while a query is built)
INTERACTIVE_OPS = (
    "where_eq where_in where_not_in where_like where_not_like where_null_checks "
    "where_between where_not_between where_theta where_or sort_limit_offset "
    "count_star table_size_profile raw_sql flagship groupby_q1 join_q3 revenue_q6 "
    "exists_q4 having_q18 rollup grouping_sets window_topk tumbling_counts "
    "curation_pipeline"
).split()
INTERACTIVE_SF = 0.005

ETL_SF = 0.005  # size of the ``events`` table the sync windows read
BASE_ROWS = 20_000
BASE_FILES = 8
BATCHES = 1
BATCH_ROWS = 2_000
UPDATE_ROWS = 500
WINDOWS = 3
REST_RECORDS = 2_000
WRITEBACK_ROWS = 200
DELETE_BELOW = -150.0
#: fixed block order: the first block pays the JIT warm-up of the write
#: path, so a seeded order would move seconds between blocks run to run
BLOCKS = ("sym", "ver", "sync", "rest")


@dataclass
class Outcome:
    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    value: Any = None  # scalar result of a write call (counts)
    n_rows: int = 0  # rows returned or source rows applied
    df: Any = None  # the executed DataFrame, for plan statistics


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Outcome]
    kind: str = "read"  # read | write | source_read | source_write
    source_bytes: int = 0  # bytes of the op's input file, for write amplification


def _collect(df) -> Outcome:
    rows = [tuple(r) for r in df.collect()]
    return Outcome(columns=list(df.columns), rows=rows, n_rows=len(rows), df=df)


def _write_parquet(table: pa.Table, path: Path, files: int = 1) -> int:
    """Write ``table`` as ``files`` key-ordered parquet files under a
    directory (or one file when ``files == 1``); returns bytes written."""
    if files == 1:
        pq.write_table(table, path)
        return path.stat().st_size
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")
    return sum(p.stat().st_size for p in path.iterdir())


# ---------------------------------------------------------------- registry


class RegistryWorkload:
    """Registry ops (``__spark_entry__.queries()``) over generated tables,
    in a seeded order; checked against ``oracle_sql()``."""

    warm_passes = 2

    def __init__(self, ops: list[str], sf: float, seed: int, work: Path):
        self.inputs = work / "inputs"
        datagen.write_tables(datagen.generate_tables(seed, sf), self.inputs)
        self.op_names = list(ops)
        random.Random(seed).shuffle(self.op_names)

    def prepare(self, spark, pass_no: int) -> list[Op]:
        import __spark_entry__

        queries = __spark_entry__.queries()
        sf_dir = str(self.inputs)

        def op(name: str) -> Op:
            # the module attribute, which a traced run has wrapped; the
            # registry dict still holds the unwrapped function
            fn = queries[name]
            fn = getattr(__spark_entry__, fn.__name__, fn)
            return Op(name, lambda: fn(spark, sf_dir), _collect)

        return [op(n) for n in self.op_names]

    def expected(self) -> dict[str, Callable[[Outcome], str | None]]:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
            want = {}
            for n in self.op_names:
                res = con.execute(oracles[n])
                want[n] = fingerprint([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return {n: _fingerprint_check(fp) for n, fp in want.items()}


def _fingerprint_check(want: str) -> Callable[[Outcome], str | None]:
    def check(out: Outcome) -> str | None:
        got = fingerprint(out.columns, out.rows)
        return None if got == want else f"fingerprint {got} != oracle {want}"

    return check


def _value_check(want) -> Callable[[Outcome], str | None]:
    def check(out: Outcome) -> str | None:
        return None if out.value == want else f"returned {out.value!r}, replay says {want!r}"

    return check


# ---------------------------------------------------------------- etl_sync


def _ts(d: datetime) -> str:
    return d.strftime("%Y-%m-%d %H:%M:%S")


class EtlWorkload:
    """Writes beside reads: keyed upsert/update/delete through ``Engine``
    in symlink-swap and ``versioned=True`` mode, overlapping
    ``IncrementalSyncer`` windows over ``events``, and a REST extract plus
    write-back through ``Salesforce``, with ``Engine.get`` reads after the
    table writes.  Every pass starts from fresh warehouses.  The seed
    makes the batches, windows and records; the order within a block is
    the order of the writes, so it is not permuted."""

    warm_passes = 1

    def __init__(self, seed: int, work: Path):
        self.work = work
        rng = random.Random(seed)
        self.inputs = inp = work / "inputs"
        inp.mkdir(parents=True, exist_ok=True)
        tables = datagen.generate_tables(seed, ETL_SF)
        self.events_path = inp / "events.parquet"
        pq.write_table(tables["events"], self.events_path)
        self.base = datagen.base_table(seed, BASE_ROWS)
        self.base_bytes = _write_parquet(self.base, inp / "base", BASE_FILES)
        self.batches = datagen.sync_batches(seed + 1, BASE_ROWS, BATCHES, BATCH_ROWS)
        self.batch_bytes = [
            _write_parquet(b, inp / f"batch_{i}.parquet") for i, b in enumerate(self.batches)
        ]
        hi = BASE_ROWS + BATCHES * (BATCH_ROWS // 5)
        self.update = datagen.update_batch(seed + 2, hi, UPDATE_ROWS)
        self.update_bytes = _write_parquet(self.update, inp / "update.parquet")
        # one read-back range per batch, over the keys it touched
        self.get_ranges = [
            (int(np.min(b["k"])), int(np.min(b["k"])) + BATCH_ROWS) for b in self.batches
        ]
        # overlapping sync windows over January 2024
        jan = datetime(2024, 1, 1)
        self.windows = []
        for _ in range(WINDOWS):
            lo = jan + timedelta(hours=rng.randrange(0, 26 * 24))
            self.windows.append((_ts(lo), _ts(lo + timedelta(days=4))))
        self.records = datagen.rest_records(seed + 3, REST_RECORDS)
        pq.write_table(self.records, inp / "rest.parquet")
        lo = jan + timedelta(days=rng.randrange(0, 20))
        self.extract_window = (lo, lo + timedelta(days=8))
        ids = self.records["Id"].to_pylist()
        self.writeback = [
            {"Id": i, "event_type": "patched", "value": float(n)}
            for n, i in enumerate(sorted(rng.sample(ids, WRITEBACK_ROWS)))
        ]
        self.accumulators: list = []

    # ---- ops

    def _table_ops(self, spark, eng, prefix: str) -> list[Op]:
        from revtron_utils_spark import io

        t = "accounts"
        inp = self.inputs

        def read(path: Path):
            return lambda: io.read_parquet(spark, str(path))

        def applied(n: int, value=None) -> Outcome:
            return Outcome(value=value, n_rows=n)

        ops = [
            Op(
                f"{prefix}.load",
                read(inp / "base"),
                lambda src: (eng.save_table(t, src, primary_key=["k"]), applied(BASE_ROWS))[1],
                "write",
                self.base_bytes,
            )
        ]
        for i, (lo, hi) in enumerate(self.get_ranges):
            ops.append(
                Op(
                    f"{prefix}.upsert{i}",
                    read(inp / f"batch_{i}.parquet"),
                    lambda src: applied(BATCH_ROWS, sorted(d["k"] for d in eng.upsert(t, src))),
                    "write",
                    self.batch_bytes[i],
                )
            )
            ops.append(
                Op(
                    f"{prefix}.get{i}",
                    lambda lo=lo, hi=hi: eng.get(
                        t, where={"k": {"operator": "between", "value": [lo, hi]}}
                    ),
                    _collect,
                )
            )
        ops += [
            Op(
                f"{prefix}.update",
                read(inp / "update.parquet"),
                lambda src: (lambda n: applied(UPDATE_ROWS, n))(eng.update(t, src, on="k")),
                "write",
                self.update_bytes,
            ),
            Op(
                f"{prefix}.delete",
                lambda: {"v1": {"operator": "<", "value": DELETE_BELOW}},
                lambda where: (lambda n: applied(n, n))(eng.delete(t, where=where)),
                "write",
            ),
            Op(f"{prefix}.scan", lambda: eng.get(t), _collect),
        ]
        return ops

    def _sync_ops(self, spark, eng) -> list[Op]:
        from revtron_utils_spark.streaming.incremental import IncrementalSyncer

        syncer = IncrementalSyncer(eng, "events_sync", keys=["event_id"], date_field="ts")
        ops = []
        for j, (lo, hi) in enumerate(self.windows):
            ops.append(
                Op(
                    f"sync.w{j}",
                    lambda: eng.get_table("events"),
                    lambda src, lo=lo, hi=hi: (
                        lambda n: Outcome(value=n, n_rows=n)
                    )(syncer.sync_window(src, lo, hi)),
                    "write",
                )
            )
        ops.append(Op("sync.scan", lambda: eng.get("events_sync"), _collect))
        return ops

    def _rest_ops(self, spark) -> list[Op]:
        from revtron_utils_spark.sources.salesforce import Salesforce

        calls = spark.sparkContext.accumulator(0)
        self.accumulators.append(calls)
        transport = IndexedTransport("Event__c", self.records.to_pylist(), calls)
        client = Salesforce(spark, transport, max_parallelism=4)
        lo, hi = self.extract_window
        return [
            Op(
                "rest.extract",
                lambda: client.get(
                    "Event__c", columns=["Id", "event_type", "value"], start_date=lo, end_date=hi
                ),
                _collect,
                "source_read",
            ),
            Op(
                "rest.writeback",
                lambda: client.update("Event__c", self.writeback),
                _collect,
                "source_write",
            ),
        ]

    def prepare(self, spark, pass_no: int) -> list[Op]:
        from revtron_utils_spark import Engine

        root = self.work / f"pass{pass_no}"
        sym = Engine(spark, warehouse_dir=str(root / "sym"))
        ver = Engine(spark, warehouse_dir=str(root / "ver"), versioned=True)
        sym.attach("events", str(self.events_path))
        self.warehouses = {"sym": root / "sym", "ver": root / "ver"}
        block = {
            "sym": lambda: self._table_ops(spark, sym, "sym"),
            "ver": lambda: self._table_ops(spark, ver, "ver"),
            "sync": lambda: self._sync_ops(spark, sym),
            "rest": lambda: self._rest_ops(spark),
        }
        return [op for b in BLOCKS for op in block[b]()]

    # ---- DuckDB replay

    def expected(self) -> dict[str, Callable[[Outcome], str | None]]:
        con = duckdb.connect()
        try:
            return self._replay(con)
        finally:
            con.close()

    def _replay(self, con) -> dict[str, Callable[[Outcome], str | None]]:
        inp = self.inputs
        vals = [f"v{c}" for c in range(4)]
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{inp}/base/*.parquet')")
        table_checks: dict[str, Callable] = {}

        def snapshot(sql: str):
            res = con.execute(sql)
            return _fingerprint_check(
                fingerprint([d[0] for d in res.description], res.fetchall())
            )

        for i, (lo, hi) in enumerate(self.get_ranges):
            merged = ", ".join(
                f"CASE WHEN s.k IS NULL THEN t.{v} WHEN t.k IS NULL THEN s.{v} "
                f"ELSE coalesce(s.{v}, t.{v}) END AS {v}"
                for v in vals
            )
            con.execute(
                f"CREATE OR REPLACE TABLE t AS SELECT coalesce(s.k, t.k) AS k, {merged} "
                f"FROM t FULL OUTER JOIN read_parquet('{inp}/batch_{i}.parquet') s ON s.k = t.k"
            )
            table_checks[f"get{i}"] = snapshot(f"SELECT * FROM t WHERE k BETWEEN {lo} AND {hi}")
        matched = con.execute(
            f"SELECT count(*) FROM t JOIN read_parquet('{inp}/update.parquet') u USING (k)"
        ).fetchone()[0]
        con.execute(
            f"CREATE OR REPLACE TABLE t AS SELECT t.k, CASE WHEN u.k IS NULL THEN t.v0 "
            f"ELSE u.v0 END AS v0, v1, v2, v3 FROM t "
            f"LEFT JOIN read_parquet('{inp}/update.parquet') u ON u.k = t.k"
        )
        table_checks["update"] = _value_check(matched)
        deleted = con.execute(f"SELECT count(*) FROM t WHERE v1 < {DELETE_BELOW}").fetchone()[0]
        con.execute(f"DELETE FROM t WHERE v1 < {DELETE_BELOW}")
        table_checks["delete"] = _value_check(deleted)
        table_checks["scan"] = snapshot("SELECT * FROM t")
        # a load returns nothing; the reads after it check what it wrote
        table_checks["load"] = lambda out: None
        for i, b in enumerate(self.batches):
            table_checks[f"upsert{i}"] = _value_check(sorted(b["k"].to_pylist()))

        checks: dict[str, Callable] = {}
        for prefix in ("sym", "ver"):
            for suffix, check in table_checks.items():
                checks[f"{prefix}.{suffix}"] = check

        ev = f"read_parquet('{self.events_path}')"
        covered = []
        for j, (lo, hi) in enumerate(self.windows):
            cond = f"(ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}')"
            covered.append(cond)
            n = con.execute(f"SELECT count(*) FROM {ev} WHERE {cond}").fetchone()[0]
            checks[f"sync.w{j}"] = _value_check(n)
        checks["sync.scan"] = snapshot(f"SELECT * FROM {ev} WHERE {' OR '.join(covered)}")

        lo, hi = self.extract_window
        checks["rest.extract"] = snapshot(
            f"SELECT Id, event_type, value FROM read_parquet('{inp}/rest.parquet') "
            f"WHERE LastModifiedDate >= TIMESTAMP '{_ts(lo)}' "
            f"AND LastModifiedDate <= TIMESTAMP '{_ts(hi)}'"
        )
        want_ids = sorted(r["Id"] for r in self.writeback)

        def writeback_check(out: Outcome) -> str | None:
            ids = sorted(r[out.columns.index("record_id")] for r in out.rows)
            bad = [r for r in out.rows if r[out.columns.index("status")] != "updated"]
            if bad:
                return f"{len(bad)} write-back records failed, e.g. {bad[0]}"
            return None if ids == want_ids else "write-back ids differ from the records sent"

        checks["rest.writeback"] = writeback_check
        return checks

    # ---- write-side accounting (traced run)

    def files_rewritten_ratio(self, pass_no: int) -> float:
        """Share of the base version's files that each ``VersionedTable``
        merge rewrote, summed over the merges of one pass."""
        import json

        log = self.work / f"pass{pass_no}" / "ver" / "accounts" / "_log"
        manifests = sorted(log.glob("*.json"))
        base_files = rewritten = 0
        prev = None
        for m in manifests:
            cur = json.loads(m.read_text())
            if prev is not None and cur["op"] == "merge":
                base_files += len(prev["files"])
                rewritten += len(set(prev["files"]) - set(cur["files"]))
            prev = cur
        return rewritten / base_files if base_files else 0.0

    def api_calls(self) -> int:
        return sum(a.value for a in self.accumulators)


def make(name: str, seed: int, work: Path):
    if name == "interactive":
        return RegistryWorkload(INTERACTIVE_OPS, INTERACTIVE_SF, seed, work)
    if name == "etl_sync":
        return EtlWorkload(seed, work)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("interactive", "etl_sync")
