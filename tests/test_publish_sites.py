"""Parquet publishes and reads each have one home (read from source, no
Spark): every directory the package replaces is published through
``io.replace_parquet``, the rename and symlink calls that make a swap
appear nowhere else; parquet reads that name a schema or let Spark infer
one stay in ``io.py`` and ``tables.py``, which take Spark's schema from
the footer; and the I/O layer builds no frame from a local list through
``createDataFrame`` (``io.local_frame`` ships it as Arrow)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "revtron_utils_spark"
IO = PKG / "io.py"
SWAP_CALLS = ("os.replace(", "symlink_to(", ".rename(")
READ_CALLS = (".read.parquet(", "read.schema(")


def _hits(sources, calls):
    return [
        (p, i)
        for p in sources
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(call in line for call in calls)
    ]


def test_swap_calls_only_in_replace_parquet():
    sources = [ROOT / "__spark_entry__.py", *PKG.rglob("*.py")]
    hits = _hits(sources, SWAP_CALLS)
    fn = next(
        n for n in ast.parse(IO.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "replace_parquet"
    )
    assert hits
    assert all(p == IO and fn.lineno <= i <= fn.end_lineno for p, i in hits), hits


def test_parquet_reads_only_in_io_and_tables():
    hits = _hits([ROOT / "__spark_entry__.py", *PKG.rglob("*.py")], READ_CALLS)
    assert hits
    assert {p for p, _ in hits} <= {IO, PKG / "tables.py"}, hits


def test_no_local_list_frames_in_sources_or_engine():
    sources = [*(PKG / "sources").rglob("*.py"), PKG / "engine.py"]
    assert not _hits(sources, ("createDataFrame(",))
