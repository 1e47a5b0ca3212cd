"""In-memory ``Transport`` for driving ``RestSource``/``RestSink`` and the
``Salesforce`` client without a remote org.

Records are indexed by id, so a batch fetch costs one lookup per id and
the benchmark times the extraction path rather than the fake backend.
Every API call adds one to a Spark accumulator: executor tasks receive
pickled copies of the transport, and the accumulator is how their call
counts reach the benchmark process.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime

from revtron_utils_spark.sources.rest import DATA_QUERY_LIMIT, QuerySpec


class IndexedTransport:
    def __init__(self, sobject: str, records: list[dict], calls, id_field: str = "Id"):
        self.sobject = sobject
        self.id_field = id_field
        self.calls = calls  # pyspark Accumulator[int]
        self.rows = {str(r[id_field]): dict(r) for r in records}

    def _match(self, spec: QuerySpec, row: dict) -> bool:
        if not spec.include_deleted and row.get("IsDeleted"):
            return False
        v = row.get(spec.date_field)
        if spec.start_date is not None and (v is None or v < spec.start_date):
            return False
        if spec.end_date is not None and (v is None or v > spec.end_date):
            return False
        return all(row.get(k) == want for k, want in spec.filters.items())

    def list_sobjects(self) -> list[str]:
        self.calls.add(1)
        return [self.sobject]

    def describe(self, sobject: str) -> list[dict]:
        self.calls.add(1)
        sample = next(iter(self.rows.values()))
        kinds = {bool: "boolean", int: "long", float: "double", datetime: "datetime"}
        return [
            {"name": k, "type": "id" if k == self.id_field else kinds.get(type(v), "string")}
            for k, v in sample.items()
        ]

    def limits(self) -> dict:
        self.calls.add(1)
        return {}

    def query_ids(self, spec: QuerySpec, page_size: int) -> Iterator[list[str]]:
        ids = [i for i, r in self.rows.items() if self._match(spec, r)]
        for lo in range(0, len(ids), page_size):
            self.calls.add(1)
            yield ids[lo : lo + page_size]

    def fetch_rows(self, spec: QuerySpec) -> list[dict]:
        self.calls.add(1)
        found = (self.rows.get(str(i)) for i in spec.id_batch or ())
        rows = [r for r in found if r is not None and self._match(spec, r)]
        rows = rows[:DATA_QUERY_LIMIT]
        if spec.columns:
            rows = [{c: r.get(c) for c in spec.columns} for r in rows]
        return rows

    def aggregate(self, spec: QuerySpec, exprs: list[str]) -> dict:
        """COUNT only: the benchmark never asks for MIN/MAX."""
        self.calls.add(1)
        n = sum(1 for r in self.rows.values() if self._match(spec, r))
        return {e: n for e in exprs if e.upper().startswith("COUNT(")}

    def write_record(self, sobject: str, record: dict, record_id: str | None) -> dict:
        self.calls.add(1)
        if record_id is None or str(record_id) not in self.rows:
            raise KeyError(f"{sobject} id {record_id} not found")
        self.rows[str(record_id)].update(
            {k: v for k, v in record.items() if k != self.id_field}
        )
        return {"id": str(record_id), "status": "updated"}
