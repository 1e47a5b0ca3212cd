"""Each recurring plan pattern is written once, in its helper: the spread
of a narrow scan, the per-round lineage cut, the bounded-spine gate, the
MinHash featurizer, the exact-Jaccard verifier and the chunked Hamming
join (read from source, no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
OPS = ROOT / "revtron_utils_spark" / "operators"
SOURCES = [ROOT / "__spark_entry__.py", *(ROOT / "revtron_utils_spark").rglob("*.py")]

# token -> the functions (file, name) allowed to hold it
HOMES = {
    "defaultParallelism": [
        (OPS / "dedup.py", "_spread_if_narrow"),
        (OPS / "dedup.py", "_repartition_for_compute"),
        (OPS / "curation.py", "distributed_rank"),
    ],
    "setCheckpointDir(": [(OPS / "graph.py", "_lineage_cutter")],
    ".checkpoint(": [(OPS / "graph.py", "_lineage_cutter")],
    "_spine_gate": [(OPS / "guards.py", "require_bounded_spines")],
    "array_union(": [(OPS / "dedup.py", "_verify_jaccard")],
    "hamming64(": [
        (OPS / "dedup.py", "_hamming_pairs"),
        (ROOT / "revtron_utils_spark" / "functions" / "text.py", "hamming64"),
    ],
    # the factory's own definition line is its home too
    "minhash_banded_arrow(": [
        (OPS / "dedup.py", "_minhash_features"),
        (OPS / "dedup.py", "minhash_banded_arrow"),
    ],
    "minhash_poly_features_arrow(": [
        (OPS / "dedup.py", "_minhash_features"),
        (OPS / "dedup.py", "minhash_poly_features_arrow"),
    ],
}


def _span(path: Path, name: str) -> range:
    fn = next(
        n for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == name
    )
    return range(fn.lineno, fn.end_lineno + 1)


@pytest.mark.parametrize("token", sorted(HOMES))
def test_token_only_inside_its_helper(token):
    homes = [(p, _span(p, name)) for p, name in HOMES[token]]
    hits = [
        (p, i)
        for p in SOURCES
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if token in line
    ]
    assert hits
    stray = [
        (str(p), i)
        for p, i in hits
        if not any(p == hp and i in span for hp, span in homes)
    ]
    assert not stray, stray
