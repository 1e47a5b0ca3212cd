"""Seeded input generation for the benchmark.

Every table the registry reads (the TPC-H-style star schema, ``events``,
``documents`` and ``embeddings``) is generated here from one integer seed,
with the column names and Arrow types the registry queries read; each run
checks the queries it times against their DuckDB oracle on these tables.
The benchmark reads nothing outside its checkout, so it cannot use the
fixture directories the test suite reads.  The program under test sees
only the parquet files written here, and the same seed gives the same
inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part big "
    "sort query fast the"
).split()
EMBED_DIM = 64

_TS_US = pa.timestamp("us")
_DAY_US = 86_400_000_000


def _us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


@dataclass(frozen=True)
class Sizes:
    """Row counts for one scale factor (sf 0.01 ≈ 60k lineitem rows)."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def for_sf(cls, sf: float) -> "Sizes":
        return cls(
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            users=max(15, int(15_000 * sf)),
            documents=max(500, int(50_000 * sf)),
            embeddings=max(500, int(20_000 * sf)),
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _us(lo) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.int64()).cast(_TS_US)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are an earlier document plus ' dup'
    (the near-duplicate shape the dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM), pa.int32())
    emb = pa.ListArray.from_arrays(offsets, pa.array(x.ravel(), pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Event stream over January 2024, ``ts`` increasing with ``event_id``."""
    gaps = rng.exponential(1.0, n)
    span_us = 30 * _DAY_US - 60_000_000
    ts = _us(datetime(2024, 1, 1)) + (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(_TS_US),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All fixture-shaped tables for ``seed`` at scale ``sf``."""
    rng = np.random.default_rng(seed)
    sz = Sizes.for_sf(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(sz.customer), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(sz.customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, sz.customer), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, sz.customer),
            "c_mktsegment": rng.choice(SEGMENTS, sz.customer).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(sz.supplier), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(sz.supplier)],
            "s_nationkey": pa.array(rng.integers(0, 25, sz.supplier), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, sz.supplier),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), sz.part)
    noun = rng.integers(0, len(PART_NOUN), sz.part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(sz.part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, sz.part)],
            "p_type": rng.choice(PART_TYPES, sz.part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, sz.part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(sz.part) % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(sz.orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, sz.customer, sz.orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], sz.orders).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, sz.orders),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), sz.orders),
            "o_orderpriority": rng.choice(PRIORITIES, sz.orders).tolist(),
        }
    )
    n = sz.lineitem
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, sz.orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, sz.part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, sz.supplier, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n),
        }
    )
    out["events"] = _events(rng, sz.events, sz.users)
    out["documents"] = _documents(rng, sz.documents)
    out["embeddings"] = _embeddings(rng, sz.embeddings)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    """One ``<name>.parquet`` file per table (the layout ``attach_dir`` reads)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")


def sync_batches(
    seed: int, base_keys: int, n_batches: int, rows: int, n_cols: int = 4
) -> list[pa.Table]:
    """Seeded upsert batches for a table keyed ``k`` in ``[0, base_keys)``.

    Each batch mixes updates of recent keys (80% of rows, drawn from the
    newest fifth of the current key range) with new high keys appended
    past the current maximum (20%) — the usual incremental-sync shape, in
    which older rows are rarely touched.  Some updated values are NULL so
    the null-preserving merge rule is exercised.  Keys are unique within
    a batch.
    """
    rng = np.random.default_rng(seed)
    hi = base_keys
    out = []
    for _ in range(n_batches):
        n_new = rows // 5
        band = max(hi // 5, rows)
        upd = hi - 1 - rng.choice(band, rows - n_new, replace=False)
        keys = np.concatenate([upd, np.arange(hi, hi + n_new)]).astype(np.int64)
        hi += n_new
        cols = {"k": pa.array(keys, pa.int64())}
        for c in range(n_cols):
            v = np.round(rng.normal(0.0, 100.0, len(keys)), 3)
            mask = rng.random(len(keys)) < 0.05
            cols[f"v{c}"] = pa.array(v, pa.float64(), mask=mask)
        out.append(pa.table(cols))
    return out


def base_table(seed: int, rows: int, n_cols: int = 4) -> pa.Table:
    """The initial image of the synced table: keys ``0..rows-1``, sorted."""
    rng = np.random.default_rng(seed)
    cols = {"k": pa.array(np.arange(rows), pa.int64())}
    for c in range(n_cols):
        cols[f"v{c}"] = pa.array(np.round(rng.normal(0.0, 100.0, rows), 3), pa.float64())
    return pa.table(cols)


def update_batch(seed: int, max_key: int, rows: int) -> pa.Table:
    """A keyed UPDATE source: distinct existing keys, new ``v0`` values
    (some NULL — UPDATE writes NULLs through)."""
    rng = np.random.default_rng(seed)
    keys = np.sort(rng.choice(max_key, rows, replace=False)).astype(np.int64)
    v = np.round(rng.normal(0.0, 100.0, rows), 3)
    return pa.table(
        {"k": pa.array(keys, pa.int64()), "v0": pa.array(v, pa.float64(), mask=rng.random(rows) < 0.05)}
    )


def rest_records(seed: int, n: int) -> pa.Table:
    """Remote ``Event__c`` records: ``Id``, ``LastModifiedDate`` spread over
    January 2024, a type and a value."""
    rng = np.random.default_rng(seed)
    ts = _us(datetime(2024, 1, 1)) + rng.integers(0, 31 * _DAY_US, n)
    return pa.table(
        {
            "Id": [f"R{i:06d}" for i in range(n)],
            "LastModifiedDate": pa.array(ts, pa.int64()).cast(_TS_US),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
        }
    )
