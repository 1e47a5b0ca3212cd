"""``tools/harness.py`` modes, driven in-process (``get_spark`` reuses
the test session, so no new JVM starts)."""

from __future__ import annotations

import re

import pytest

from tools import harness


def test_harness_build_and_time_modes(spark, sf_dir, capsys):
    harness.main(["build", "--sf-dir", sf_dir, "--profile", "count_star,where_theta"])
    out = capsys.readouterr().out
    assert "===== count_star =====" in out and "===== where_theta =====" in out
    assert "function calls" in out  # the cProfile table

    harness.main(["time", "count_star,where_theta", "--sf-dir", sf_dir, "--reps", "2"])
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split(":")[0] for ln in lines] == [
        "count_star rep0", "count_star rep1", "where_theta rep0", "where_theta rep1"
    ]
    line_re = r"\S+ rep\d: \d+\.\d\ds codegen=(\d+) jit=\d+\.\d\ds"
    fields = [re.fullmatch(line_re, ln) for ln in lines]
    assert all(fields), lines
    # a repeat of the same query finds every generated class in the cache
    assert [int(f.group(1)) for f in fields[1::2]] == [0, 0]


def test_harness_unknown_query_name_exits_naming_it(sf_dir, capsys):
    with pytest.raises(SystemExit) as exc:
        harness.main(["build", "--sf-dir", sf_dir, "--profile", "groupby_q1,no_such_query"])
    assert exc.value.code == 2
    assert "no_such_query" in capsys.readouterr().err
