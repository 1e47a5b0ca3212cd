"""Every stream in the package and the registry starts through
``streaming.runner.run_available_now`` (read from source, no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RUNNER = ROOT / "revtron_utils_spark" / "streaming" / "runner.py"


def test_available_now_trigger_only_in_runner():
    sources = [ROOT / "__spark_entry__.py", *(ROOT / "revtron_utils_spark").rglob("*.py")]
    hits = [
        (p, i)
        for p in sources
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "availableNow=True" in line
    ]
    fn = next(
        n for n in ast.parse(RUNNER.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_available_now"
    )
    assert len(hits) == 1, hits
    (path, line), = hits
    assert path == RUNNER and fn.lineno <= line <= fn.end_lineno, hits
