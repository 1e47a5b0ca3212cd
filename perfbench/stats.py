"""Pure helpers shared by the benchmark: the supported tail percentile,
span self time and order-insensitive result fingerprints.  No Spark
session is needed, so the tests of these helpers run without one."""

from __future__ import annotations

import importlib.util
from collections.abc import Iterable, Sequence
from pathlib import Path

#: percentiles considered for a tail figure, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples a tail percentile must leave above it to be reported
MIN_BEYOND = 10


def supported_tail(n: int) -> float | None:
    """The highest percentile in :data:`TAIL_PERCENTILES` that leaves at
    least :data:`MIN_BEYOND` of ``n`` samples above it, or ``None`` when
    even the median does not."""
    for q in TAIL_PERCENTILES:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once, and a child's part outside the parent is ignored).

    Spans are dicts with ``id``, ``parent``, ``start`` and ``end``.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def _load_oracle_rules():
    """``tools/check_correctness.py`` holds the repository's one rule for
    comparing a result with its DuckDB oracle; load it by path (``tools``
    is not a package) so the benchmark cannot drift from it."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_ORACLE = _load_oracle_rules()


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive identity of a result: sorted column names, row
    count and the oracle gate's value hash (which ignores row and column
    order)."""
    rows = list(rows)
    return f"{','.join(sorted(columns))}#{len(rows)}#{_ORACLE.value_hash(rows, list(columns))}"
