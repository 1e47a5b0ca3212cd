"""Every parquet directory the package replaces is published through
``io.replace_parquet``: the rename and symlink calls that make a swap
appear nowhere else (read from source, no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
IO = ROOT / "revtron_utils_spark" / "io.py"
SWAP_CALLS = ("os.replace(", "symlink_to(", ".rename(")


def test_swap_calls_only_in_replace_parquet():
    sources = [ROOT / "__spark_entry__.py", *(ROOT / "revtron_utils_spark").rglob("*.py")]
    hits = [
        (p, i)
        for p in sources
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(call in line for call in SWAP_CALLS)
    ]
    fn = next(
        n for n in ast.parse(IO.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "replace_parquet"
    )
    assert hits
    assert all(p == IO and fn.lineno <= i <= fn.end_lineno for p, i in hits), hits
