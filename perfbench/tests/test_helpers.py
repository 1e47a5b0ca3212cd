"""Tests of the benchmark's own helpers; no Spark session is started.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from perfbench import datagen
from perfbench.stats import fingerprint, self_times, supported_tail
from perfbench.trace import Tracer, outermost_time


def _span(i, start, end, parent=None, name="f", layer="engine"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "layer": layer}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps span 2: 1..6 counted once
        _span(4, 8.0, 12.0, parent=1),  # runs past the parent: only 8..10 counts
        _span(5, 2.0, 3.0, parent=2),  # a grandchild is not the parent's child
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(1.0)


def test_self_time_of_disjoint_children_is_the_gap():
    spans = [_span(1, 0.0, 5.0), _span(2, 0.0, 1.0, 1), _span(3, 4.0, 5.0, 1)]
    assert self_times(spans)[1] == pytest.approx(3.0)


@pytest.mark.parametrize(
    "n, q",
    [(110, 90.0), (100, 90.0), (99, 75.0), (200, 95.0), (1000, 99.0), (20, 50.0), (19, None)],
)
def test_supported_tail_leaves_ten_samples_beyond(n, q):
    assert supported_tail(n) == q


def test_fingerprint_ignores_row_and_column_order():
    cols = ["a", "b", "c"]
    rows = [(1, 2.5, "x"), (2, None, "y"), (3, 1.0, "z")]
    fp = fingerprint(cols, rows)
    perm = [2, 0, 1]
    shuffled = [tuple(r[i] for i in perm) for r in reversed(rows)]
    assert fingerprint([cols[i] for i in perm], shuffled) == fp
    assert fingerprint(cols, rows[:2]) != fp
    assert fingerprint(cols, [(1, 2.5, "x"), (2, None, "y"), (3, 1.5, "z")]) != fp
    assert fingerprint(["a", "b", "d"], rows) != fp


def test_fingerprint_treats_integral_floats_as_integers():
    assert fingerprint(["n"], [(3.0,)]) == fingerprint(["n"], [(3,)])


def test_sync_batches_are_seed_deterministic():
    a = datagen.sync_batches(7, 1_000, 3, 100)
    b = datagen.sync_batches(7, 1_000, 3, 100)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(datagen.sync_batches(8, 1_000, 3, 100)[0])


def test_sync_batches_mix_recent_updates_with_new_high_keys():
    hi = 1_000
    for batch in datagen.sync_batches(3, hi, 3, 100):
        keys = batch["k"].to_pylist()
        assert len(set(keys)) == len(keys)
        new = [k for k in keys if k >= hi]
        assert len(new) == 20
        assert new == list(range(hi, hi + 20))
        assert min(keys) >= hi - max(hi // 5, 100)
        hi += 20


def test_generated_tables_are_seed_deterministic():
    a = datagen.generate_tables(5, 0.001)
    b = datagen.generate_tables(5, 0.001)
    assert a.keys() == b.keys() == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert datagen.rest_records(5, 50).equals(datagen.rest_records(5, 50))
    assert datagen.update_batch(5, 100, 10).equals(datagen.update_batch(5, 100, 10))
    assert not a["lineitem"].equals(datagen.generate_tables(6, 0.001)["lineitem"])


def test_tracer_spans_nest_and_attribute_self_time_by_layer(monkeypatch):
    import perfbench.trace as trace_mod

    clock = iter(range(100))
    monkeypatch.setattr(trace_mod.time, "perf_counter", lambda: float(next(clock)))
    tracer = Tracer()
    tracer.active = True
    tracer.op = "op"

    def outer():
        return tracer.span("io", "read", lambda: 1) + 1

    assert tracer.span("engine", "Engine.get", outer) == 2
    monkeypatch.undo()
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["read"]["parent"] == by_name["Engine.get"]["id"]
    # Engine.get runs 0..3 and read 1..2
    own = self_times(tracer.spans)
    assert own[by_name["Engine.get"]["id"]] == 2.0 and own[by_name["read"]["id"]] == 1.0
    assert outermost_time(tracer.spans, {"Engine.get", "read"}) == 3.0


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    assert tracer.span("engine", "f", lambda: 5) == 5
    assert tracer.spans == []


def test_write_parquet_splits_into_key_ordered_files(tmp_path):
    from perfbench.workloads import _write_parquet

    t = pa.table({"k": list(range(10))})
    assert _write_parquet(t, tmp_path / "one.parquet") > 0
    _write_parquet(t, tmp_path / "many", files=3)
    files = sorted((tmp_path / "many").iterdir())
    assert len(files) == 3
    import pyarrow.parquet as pq

    assert sum((pq.read_table(f)["k"].to_pylist() for f in files), []) == list(range(10))

