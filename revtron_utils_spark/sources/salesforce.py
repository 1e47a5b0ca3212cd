"""Salesforce-compatible client on top of the partition-parallel REST
core — API parity with ``/root/reference/revtron/salesforce/main.py``
(get / describe_sobject / get_sobject_columns / sobjects / limits /
sobject_size / insert / update / upsert), executed by Spark.

``compile_soql`` reproduces the reference's query-string generation
byte-for-byte where it matters: ISO-8601 ``+0000`` datetime literals
(main.py:11-12), scalar-vs-list filter dispatch (main.py:130-137), the
single-element tuple fixup (main.py:172-174), ``FIELDS(ALL)`` expansion
(main.py:121), and the first-``AND``→``WHERE`` rewrite (main.py:139-140).
The HTTP transport sends these strings; the in-memory fake executes the
equivalent semantics, so the compiler itself is unit-tested against the
reference's documented outputs without a live org.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Any, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..io import local_frame
from .rest import (
    DATA_QUERY_LIMIT,
    QuerySpec,
    RestSink,
    RestSource,
    Transport,
)

DATETIME_FORMAT = "%Y-%m-%dT%H:%M:%S.%f+0000"  # main.py:11


def _fmt_value(value: Any) -> str:
    """Render one SOQL literal the way the reference does
    (main.py:132-137): strings quoted, lists→tuples with the
    single-element special case, datetimes unquoted ISO.

    Unlike the reference, string values are ESCAPED (backslash, then
    single quote — SOQL's escape rules): ``O'Brien`` would otherwise
    compile to a malformed query, and a crafted value could inject
    arbitrary filter clauses. List elements recurse through the same
    rendering, so datetimes inside IN-lists format as SOQL literals
    instead of Python reprs."""
    if isinstance(value, datetime):
        return value.strftime(DATETIME_FORMAT)
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if isinstance(value, (list, tuple, set)):
        return "(" + ", ".join(_fmt_value(v) for v in value) + ")"
    return str(value)


def compile_soql(spec: QuerySpec) -> str:
    """QuerySpec → SOQL, mirroring ``Salesforce.get``'s string assembly
    (main.py:119-146, 165-176)."""
    cols = spec.columns or ["FIELDS(ALL)"]
    query = f"SELECT {', '.join(cols)} FROM {spec.sobject}"
    if spec.start_date is not None:
        query += f" AND {spec.date_field} >= {_fmt_value(spec.start_date)}"
    if spec.end_date is not None:
        query += f" AND {spec.date_field} <= {_fmt_value(spec.end_date)}"
    for key, value in spec.filters.items():
        op = "IN" if isinstance(value, (list, tuple, set)) else "="
        query += f" AND {key} {op} {_fmt_value(value)}"
    if spec.id_batch is not None:
        query += f" AND Id IN {_fmt_value(list(spec.id_batch))}"
    if " AND " in query and " WHERE " not in query:
        query = query.replace(" AND ", " WHERE ", 1)  # main.py:139-140
    if spec.id_batch is not None:
        query += f" LIMIT {DATA_QUERY_LIMIT}"  # main.py:169
    elif spec.limit is not None:
        query += f" LIMIT {spec.limit}"  # main.py:142-143
    return query


class Salesforce:
    """Drop-in analog of the reference client; reads return DataFrames
    (``as_dicts=True`` restores the reference's list-of-dicts edge)."""

    def __init__(
        self,
        spark: SparkSession,
        transport: Transport,
        max_parallelism: int = 32,
    ):
        self.spark = spark
        self.transport = transport
        self._source = RestSource(spark, transport, max_parallelism)
        self._sink = RestSink(transport)

    # ---- catalog (S13-S15) -------------------------------------------

    @property
    def sobjects(self) -> list[str]:
        """main.py:91-94."""
        return self.transport.list_sobjects()

    @property
    def limits(self) -> dict:
        """main.py:102-104."""
        return self.transport.limits()

    def describe_sobject(self, sobject: str) -> list[dict]:
        """main.py:96-98."""
        return self.transport.describe(sobject)

    def get_sobject_columns(self, sobject: str) -> list[str]:
        """main.py:99-100."""
        return [f["name"] for f in self.describe_sobject(sobject)]

    # ---- extraction (S9-S12) -----------------------------------------

    def get(
        self,
        sobject: str,
        columns: Sequence[str] | None = None,
        start_date: datetime | None = None,
        end_date: datetime | None = None,
        date_field: str = "LastModifiedDate",
        limit: int | None = None,
        include_deleted: bool = False,
        exclude_attributes: bool = True,
        as_dicts: bool = False,
        **filters: Any,
    ) -> DataFrame | list[dict]:
        """main.py:106-183 — same signature; rows arrive via partitioned
        parallel fetch instead of a serial HTTP loop. ``exclude_attributes``
        (main.py:115, 180-182) drops the envelope column when the
        transport returns one."""
        spec = QuerySpec(
            sobject=sobject,
            columns=list(columns) if columns else None,
            start_date=start_date,
            end_date=end_date,
            date_field=date_field,
            limit=limit,
            include_deleted=include_deleted,
            filters=dict(filters),
        )
        df = self._source.read(spec)
        if exclude_attributes and "attributes" in df.columns:
            df = df.drop("attributes")
        if as_dicts:
            return [r.asDict(recursive=True) for r in df.collect()]
        return df

    def sobject_size(
        self,
        sobject: str,
        date_field: str | None = "LastModifiedDate",
        date_window: int | None = None,
        **filters: Any,
    ) -> dict:
        """main.py:185-228 — COUNT/MIN/MAX profile with optional relative
        lookback window (days back from now)."""
        start = None
        if date_window is not None:
            start = datetime.now() - timedelta(days=date_window)
        spec = QuerySpec(
            sobject=sobject,
            start_date=start,
            date_field=date_field or "LastModifiedDate",
            filters=dict(filters),
        )
        exprs = ["COUNT(Id)"]
        if date_field:
            exprs += [f"MIN({date_field})", f"MAX({date_field})"]
        agg = self.transport.aggregate(spec, exprs)
        return {
            "sobject": sobject,
            "n_columns": len(self.get_sobject_columns(sobject)),
            "n_records": agg.get("COUNT(Id)", 0),
            "min_date": agg.get(f"MIN({date_field})") if date_field else None,
            "max_date": agg.get(f"MAX({date_field})") if date_field else None,
            "date_window": date_window,
        }

    # ---- write-back (S19) --------------------------------------------

    def insert(self, sobject: str, data: DataFrame | list[dict]) -> DataFrame:
        """main.py:257-259 — POST per record, status column out."""
        return self._sink.write(self._as_df(data), sobject, mode="insert")

    def update(self, sobject: str, data: DataFrame | list[dict]) -> DataFrame:
        """main.py:261-262 — PATCH per record (id required)."""
        return self._sink.write(self._as_df(data), sobject, mode="update")

    def upsert(self, sobject: str, data: DataFrame | list[dict]) -> DataFrame:
        """main.py:264-265 — PATCH when the record has an Id, else POST."""
        return self._sink.write(self._as_df(data), sobject, mode="upsert")

    def _as_df(self, data: DataFrame | list[dict]) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        return local_frame(self.spark, data)


class FakeSalesforceTransport:
    """In-memory transport for tests: holds sobject data as plain lists
    of dicts and executes QuerySpec semantics directly (the HTTP
    transport would send ``compile_soql(spec)`` instead). Picklable —
    ships to executor tasks like a real session factory would."""

    def __init__(
        self,
        tables: dict[str, list[dict]],
        id_field: str = "Id",
        write_log_dir: str | None = None,
    ):
        self.tables = {k: [dict(r) for r in v] for k, v in tables.items()}
        self.id_field = id_field
        self.api_calls = 0
        self._next_id = 1000000
        # Executor tasks receive a PICKLED COPY of this transport — their
        # in-memory mutations are invisible to the driver (exactly like a
        # real remote API, where the shared state lives server-side). The
        # write log is the cross-process observable record of writes.
        self.write_log_dir = write_log_dir

    # -- helpers --------------------------------------------------------

    def _match(self, spec: QuerySpec, row: dict) -> bool:
        if not spec.include_deleted and row.get("IsDeleted"):
            return False
        f = spec.date_field
        if spec.start_date is not None and not (row.get(f) and row[f] >= spec.start_date):
            return False
        if spec.end_date is not None and not (row.get(f) and row[f] <= spec.end_date):
            return False
        for k, v in spec.filters.items():
            if isinstance(v, (list, tuple, set)):
                if row.get(k) not in v:
                    return False
            elif row.get(k) != v:
                return False
        if spec.id_batch is not None and str(row.get(self.id_field)) not in set(spec.id_batch):
            return False
        return True

    # -- Transport protocol ----------------------------------------------

    def list_sobjects(self) -> list[str]:
        self.api_calls += 1
        return sorted(self.tables)

    def describe(self, sobject: str) -> list[dict]:
        self.api_calls += 1
        rows = self.tables[sobject]
        if not rows:
            return [{"name": self.id_field, "type": "id"}]
        sample = rows[0]
        out = []
        for k, v in sample.items():
            t = (
                "id"
                if k == self.id_field
                else "datetime"
                if isinstance(v, datetime)
                else "double"
                if isinstance(v, float)
                else "long"
                if isinstance(v, int) and not isinstance(v, bool)
                else "boolean"
                if isinstance(v, bool)
                else "string"
            )
            out.append({"name": k, "type": t})
        return out

    def limits(self) -> dict:
        self.api_calls += 1
        return {"DailyApiRequests": {"Max": 100000, "Remaining": 100000 - self.api_calls}}

    def query_ids(self, spec: QuerySpec, page_size: int) -> Iterator[list[str]]:
        matched = [str(r[self.id_field]) for r in self.tables[spec.sobject] if self._match(spec, r)]
        for lo in range(0, len(matched), page_size):
            self.api_calls += 1
            yield matched[lo : lo + page_size]

    def fetch_rows(self, spec: QuerySpec) -> list[dict]:
        self.api_calls += 1
        rows = [r for r in self.tables[spec.sobject] if self._match(spec, r)]
        rows = rows[:DATA_QUERY_LIMIT]
        if spec.columns:
            rows = [{c: r.get(c) for c in spec.columns} for r in rows]
        return rows

    def aggregate(self, spec: QuerySpec, exprs: list[str]) -> dict:
        self.api_calls += 1
        rows = [r for r in self.tables[spec.sobject] if self._match(spec, r)]
        out: dict[str, Any] = {}
        for e in exprs:
            fn, _, arg = e.partition("(")
            arg = arg.rstrip(")")
            if fn.upper() == "COUNT":
                out[e] = len(rows)
            elif fn.upper() == "MIN":
                vals = [r.get(arg) for r in rows if r.get(arg) is not None]
                out[e] = min(vals) if vals else None
            elif fn.upper() == "MAX":
                vals = [r.get(arg) for r in rows if r.get(arg) is not None]
                out[e] = max(vals) if vals else None
        return out

    def write_record(self, sobject: str, record: dict, record_id: str | None) -> dict:
        self.api_calls += 1
        table = self.tables.setdefault(sobject, [])
        record = {k: v for k, v in record.items() if k != "attributes"}
        if record_id is None:
            import os
            import uuid

            new_id = f"FAKE{self._next_id}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
            self._next_id += 1
            table.append({**record, self.id_field: new_id})
            self._log_write(sobject, "inserted", new_id, record)
            return {"id": new_id, "status": "inserted"}
        for row in table:
            if str(row.get(self.id_field)) == str(record_id):
                row.update({k: v for k, v in record.items() if k != self.id_field})
                self._log_write(sobject, "updated", str(record_id), record)
                return {"id": str(record_id), "status": "updated"}
        raise KeyError(f"{sobject} id {record_id} not found")

    def _log_write(self, sobject: str, action: str, rid: str, record: dict) -> None:
        if not self.write_log_dir:
            return
        import json
        import os

        os.makedirs(self.write_log_dir, exist_ok=True)
        path = os.path.join(self.write_log_dir, f"writes-{os.getpid()}.jsonl")
        with open(path, "a") as fh:
            fh.write(json.dumps({"sobject": sobject, "action": action, "id": rid,
                                 "record": {k: str(v) for k, v in record.items()}}) + "\n")

    @staticmethod
    def read_write_log(write_log_dir: str) -> list[dict]:
        import glob
        import json

        out = []
        for path in sorted(glob.glob(f"{write_log_dir}/writes-*.jsonl")):
            with open(path) as fh:
                out.extend(json.loads(line) for line in fh)
        return out
