"""Partition-parallel REST source/sink core.

The reference's Salesforce client (``/root/reference/revtron/salesforce/
main.py``) reads serially — cursor-paginated id query, then ``Id IN
(...)`` batches of 100, one HTTP call at a time — and writes with a
thread pool (≤100 threads, one record per request). Here the same
protocol becomes Spark-parallel:

* the **id list is the partition assignment**: ids are fetched once
  (driver-side, cheap — ids only), then distributed and fetched in
  parallel inside ``mapInPandas`` tasks;
* **writes** run per-partition with per-record status capture — the
  reference's ``{'status': 'error', 'error': ...}`` convention
  (main.py:246-249) becomes a status column, never an exception.

The HTTP layer is a pluggable :class:`Transport` so the planner,
batching, pagination, and status semantics are all testable against an
in-memory fake (tests/test_rest_source.py) — and so a real cluster can
swap in an authenticated session per executor.

Scale notes: one driver-side id scan of N ids costs N/page_size sequential
calls (unavoidable — the cursor is a server-side construct); everything
after is embarrassingly parallel across executors, bounded by the remote
API's rate limit, which is why ``max_parallelism`` is a first-class knob.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Iterator, Protocol, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..io import local_frame

# Constants mirroring the reference's protocol envelope
# (salesforce/main.py:119-120, 152, 169)
ID_PAGE_SIZE = 200       # cursor page size (Sforce-Query-Options batchSize)
DATA_BATCH_SIZE = 100    # ids per IN(...) data query (FIELDS(ALL) hard cap)
DATA_QUERY_LIMIT = 200   # LIMIT per data query


@dataclass
class QuerySpec:
    """Structured remote query — compiled to SOQL by the HTTP transport,
    executed directly by the fake. Mirrors ``Salesforce.get`` kwargs
    (salesforce/main.py:106-118)."""

    sobject: str
    columns: list[str] | None = None
    start_date: Any = None
    end_date: Any = None
    date_field: str = "LastModifiedDate"
    limit: int | None = None
    include_deleted: bool = False
    filters: dict[str, Any] = field(default_factory=dict)
    id_batch: list[str] | None = None  # set for phase-2 data queries


class Transport(Protocol):
    """Minimal remote-API surface. Implementations must be picklable —
    they ship to executor tasks."""

    def list_sobjects(self) -> list[str]: ...
    def describe(self, sobject: str) -> list[dict]: ...
    def limits(self) -> dict: ...
    def query_ids(self, spec: QuerySpec, page_size: int) -> Iterator[list[str]]: ...
    def fetch_rows(self, spec: QuerySpec) -> list[dict]: ...
    def aggregate(self, spec: QuerySpec, exprs: list[str]) -> dict: ...
    def write_record(self, sobject: str, record: dict, record_id: str | None) -> dict: ...


# Salesforce field type → Spark type (describe()-driven schema inference;
# the reference exposes raw describe JSON, salesforce/main.py:96-100)
_SF_TYPE_MAP: dict[str, T.DataType] = {
    "id": T.StringType(),
    "string": T.StringType(),
    "textarea": T.StringType(),
    "picklist": T.StringType(),
    "reference": T.StringType(),
    "phone": T.StringType(),
    "email": T.StringType(),
    "url": T.StringType(),
    "boolean": T.BooleanType(),
    "int": T.LongType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "currency": T.DoubleType(),
    "percent": T.DoubleType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
}


_ID_SCHEMA = T.StructType([T.StructField("id", T.StringType(), True)])


def schema_from_describe(fields: list[dict]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f["name"], _SF_TYPE_MAP.get(str(f.get("type", "string")).lower(), T.StringType()), True
            )
            for f in fields
        ]
    )


class RestSource:
    """Planner for partition-parallel extraction from a REST table."""

    def __init__(self, spark: SparkSession, transport: Transport, max_parallelism: int = 32):
        self.spark = spark
        self.transport = transport
        self.max_parallelism = max_parallelism

    def read(self, spec: QuerySpec, columns_schema: T.StructType | None = None) -> DataFrame:
        """Two-phase read, reproducing S9-S13 Spark-parallel:

        1. (driver) cursor-paginate the id query — ids only;
        2. (executors) partition the id list, fetch ``DATA_BATCH_SIZE``-id
           row batches per partition via ``mapInPandas``.
        """
        schema = columns_schema or self._infer_schema(spec)
        ids: list[str] = []
        for page in self.transport.query_ids(spec, ID_PAGE_SIZE):
            ids.extend(page)
            if spec.limit is not None and len(ids) >= spec.limit:
                ids = ids[: spec.limit]
                break
        if not ids:
            return local_frame(self.spark, [], schema)

        n_parts = max(1, min(self.max_parallelism, math.ceil(len(ids) / DATA_BATCH_SIZE)))
        ids_df = local_frame(self.spark, [(i,) for i in ids], _ID_SCHEMA).repartition(n_parts)

        transport = self.transport
        base_spec = QuerySpec(**{**spec.__dict__, "id_batch": None})
        col_names = [f.name for f in schema.fields]
        ts_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)]
        date_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.DateType)]

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                batch_ids = pdf["id"].tolist()
                for lo in range(0, len(batch_ids), DATA_BATCH_SIZE):
                    chunk = batch_ids[lo : lo + DATA_BATCH_SIZE]
                    sub = QuerySpec(**{**base_spec.__dict__, "id_batch": chunk})
                    rows = transport.fetch_rows(sub)
                    out = pd.DataFrame(rows, columns=col_names) if rows else pd.DataFrame(
                        {c: [] for c in col_names}
                    )
                    # a live REST transport returns ISO strings for
                    # date/datetime fields while the declared schema says
                    # TimestampType/DateType — Arrow cannot convert str →
                    # timestamp, so every task would crash. Parse here
                    # (no-op for transports that already return datetimes).
                    for c in ts_cols:
                        if out[c].dtype == object:
                            out[c] = pd.to_datetime(
                                out[c], errors="coerce", utc=True, format="mixed"
                            ).dt.tz_localize(None)
                    for c in date_cols:
                        if out[c].dtype == object:
                            out[c] = pd.to_datetime(
                                out[c], errors="coerce", utc=True, format="mixed"
                            ).dt.tz_localize(None).dt.date
                    yield out[col_names]

        return ids_df.mapInPandas(fetch, schema)

    def _infer_schema(self, spec: QuerySpec) -> T.StructType:
        fields = self.transport.describe(spec.sobject)
        if spec.columns:
            wanted = {c.lower() for c in spec.columns}
            fields = [f for f in fields if f["name"].lower() in wanted]
        return schema_from_describe(fields)


WRITE_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


class RestSink:
    """Partition-parallel writer with per-record status capture.

    Replaces the reference's ≤100-thread fan-out
    (salesforce/main.py:254-255) with executor tasks; keeps its routing
    rule — PATCH (update) when the record carries an id, POST (insert)
    otherwise (salesforce/main.py:257-265) — and its error convention:
    failures become ``status='error'`` rows, never task failures
    (salesforce/main.py:246-249).
    """

    def __init__(self, transport: Transport, id_field: str = "Id"):
        self.transport = transport
        self.id_field = id_field

    def write(self, df: DataFrame, sobject: str, mode: str = "upsert") -> DataFrame:
        """mode: 'insert' (always POST), 'update' (PATCH, id required),
        'upsert' (route per record on id presence)."""
        transport = self.transport
        id_field = self.id_field

        def write_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for rec in pdf.to_dict("records"):
                    rid = rec.get(id_field)
                    if mode == "insert":
                        rid = None
                    if mode == "update" and rid is None:
                        out.append((None, "error", f"update requires {id_field}"))
                        continue
                    try:
                        res = transport.write_record(sobject, rec, rid)
                        out.append((res.get("id", rid), res.get("status", "success"), res.get("error")))
                    except Exception as e:  # per-record capture, never raise
                        out.append((rid, "error", str(e)))
                yield pd.DataFrame(out, columns=["record_id", "status", "error"])

        return df.mapInPandas(write_batches, WRITE_STATUS_SCHEMA)
