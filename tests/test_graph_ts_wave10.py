"""Round-10 graph/timeseries/causal wave: Newman modularity, grouped
ACF at lags 1..k, per-point OLS influence (leverage + Cook's D), and
the Mantel-Haenszel pooled odds ratio."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- modularity


def test_modularity_two_cliques_hand_checked(spark):
    """Two disjoint triangles with matching communities: m=6, each
    community has e_c=3, d_c=6 → Q_c = 3/6 − (6/12)² = 1/4 each."""
    from revtron_utils_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(n, "a" if n <= 3 else "b") for n in range(1, 7)],
        "node long, community string",
    )
    rows = {r["community"]: r for r in modularity(edges, comm).collect()}
    for c in ("a", "b"):
        assert rows[c]["internal_edges"] == 3
        assert rows[c]["degree_sum"] == 6
        assert rows[c]["q_contrib"] == 0.25


def test_modularity_random_partition_near_zero(spark):
    """Putting each triangle's nodes in DIFFERENT communities destroys
    the structure: total Q must drop below the clique partition's 0.5."""
    from revtron_utils_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(n, "a" if n % 2 == 0 else "b") for n in range(1, 7)],
        "node long, community string",
    )
    q = sum(r["q_contrib"] for r in modularity(edges, comm).collect())
    assert q < 0.1


def test_modularity_missing_node_raises(spark):
    from revtron_utils_spark.operators.graph import modularity

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    comm = spark.createDataFrame([(1, "a")], "node long, community string")
    # r12: the check rides in-plan (raise_error behind a 1-row
    # broadcast), so it surfaces as a Spark execution error at the
    # first action — the require_bounded_spines convention
    with pytest.raises(Exception, match="missing from the"):
        modularity(edges, comm).collect()


def test_modularity_matches_oracle(spark):
    from revtron_utils_spark.operators.graph import (
        modularity,
        modularity_oracle_sql,
    )

    e_rows = [(i, (i * 7) % 40) for i in range(40)] + [
        (i, (i + 1) % 40) for i in range(40)
    ]
    e_rows = [(a, b) for a, b in e_rows if a != b]
    c_rows = [(n, n % 5) for n in range(40)]
    edges = spark.createDataFrame(e_rows, "src long, dst long")
    comm = spark.createDataFrame(c_rows, "node long, community long")
    got = sorted(map(tuple, modularity(edges, comm).collect()))
    con = duckdb.connect()
    # table names must not collide with the oracle's own CTE names
    con.execute("CREATE TABLE edges_t (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges_t VALUES (?, ?)", e_rows)
    con.execute("CREATE TABLE comm_t (node BIGINT, community BIGINT)")
    con.executemany("INSERT INTO comm_t VALUES (?, ?)", c_rows)
    want = sorted(
        map(
            tuple,
            con.execute(
                modularity_oracle_sql(
                    "SELECT * FROM edges_t", "SELECT * FROM comm_t"
                )
            ).fetchall(),
        )
    )
    assert got == want


# ------------------------------------------------------------------ acf_lags


def test_acf_alternating_series(spark):
    """x = +1/−1 alternating: acf(1) ≈ −1, acf(2) ≈ +1 (up to the
    finite-sample truncation — signs must be exact)."""
    from revtron_utils_spark.operators.timeseries import acf_lags

    rows = [("g", t, 1 if t % 2 == 0 else -1) for t in range(40)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = {r["lag"]: r["acf"] for r in acf_lags(df, "g", "t", "x", max_lag=3).collect()}
    assert out[1] < -0.9 and out[2] > 0.85 and out[3] < -0.8


def test_acf_constant_series_null(spark):
    from revtron_utils_spark.operators.timeseries import acf_lags

    rows = [("g", t, 7) for t in range(10)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    for r in acf_lags(df, "g", "t", "x", max_lag=2).collect():
        assert r["acf"] is None  # zero variance


def test_acf_duplicate_bucket_raises(spark):
    from revtron_utils_spark.operators.timeseries import acf_lags

    rows = [("g", 1, 1), ("g", 1, 2), ("g", 2, 3)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    with pytest.raises(ValueError, match="duplicate"):
        acf_lags(df, "g", "t", "x")


def test_acf_matches_oracle(spark):
    from revtron_utils_spark.operators.timeseries import (
        acf_lags,
        acf_lags_oracle_sql,
    )

    rows = [
        ("g" + str(g), t, ((t * 13 + g * 7) % 21) - 10)
        for g in range(3)
        for t in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    got = sorted(map(tuple, acf_lags(df, "g", "t", "x", max_lag=4).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, t BIGINT, x BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = sorted(
        map(
            tuple,
            con.execute(
                acf_lags_oracle_sql("SELECT * FROM t", "g", "t", "x", max_lag=4)
            ).fetchall(),
        )
    )
    assert got == want


def test_acf_width_guard_trips(spark):
    from revtron_utils_spark.operators.timeseries import acf_lags

    rows = [("g", t, 10**15) for t in range(1000)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    with pytest.raises(ValueError, match="overflow"):
        acf_lags(df, "g", "t", "x")


# ------------------------------------------------------ regression_influence


def test_regression_influence_flags_the_outlier(spark):
    """A clean y=2x line plus one far-off point: the outlier must rank
    first with the dominant Cook's distance."""
    from revtron_utils_spark.operators.profile import regression_influence

    rows = [("g", i, i, 2 * i) for i in range(1, 11)] + [("g", 99, 5, 100)]
    df = spark.createDataFrame(rows, "g string, id long, x long, y long")
    out = regression_influence(df, "g", "x", "y", "id", top_n=3).collect()
    assert out[0]["id"] == 99 and out[0]["rnk"] == 1
    assert out[0]["cooks_d"] > 5 * out[1]["cooks_d"]


def test_regression_influence_leverage_endpoint(spark):
    """On an evenly spaced x grid the extreme-x points carry the top
    leverage."""
    from revtron_utils_spark.operators.profile import regression_influence

    rows = [("g", i, i, 3 * i + (1 if i % 2 else -1)) for i in range(1, 12)]
    df = spark.createDataFrame(rows, "g string, id long, x long, y long")
    out = regression_influence(df, "g", "x", "y", "id", top_n=11).collect()
    lev = {r["id"]: r["leverage"] for r in out}
    assert max(lev, key=lev.get) in (1, 11)


def test_regression_influence_degenerate_groups_empty(spark):
    """n ≤ 2 or zero x variance: no rows (not a crash, not NaNs)."""
    from revtron_utils_spark.operators.profile import regression_influence

    rows = [("tiny", 1, 1, 1), ("tiny", 2, 2, 2),
            ("flat", 1, 5, 1), ("flat", 2, 5, 2), ("flat", 3, 5, 3)]
    df = spark.createDataFrame(rows, "g string, id long, x long, y long")
    assert regression_influence(df, "g", "x", "y", "id").count() == 0


def test_regression_influence_matches_oracle(spark):
    from revtron_utils_spark.operators.profile import (
        regression_influence,
        regression_influence_oracle_sql,
    )

    rows = [
        ("g" + str(i % 4), i, (i * 7) % 50, ((i * 13) % 90) - 20)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, id long, x long, y long")
    got = sorted(
        map(tuple, regression_influence(df, "g", "x", "y", "id").collect())
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, id BIGINT, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    want = sorted(
        map(
            tuple,
            con.execute(
                regression_influence_oracle_sql(
                    "SELECT * FROM t", "g", "x", "y", "id"
                )
            ).fetchall(),
        )
    )
    assert got == want


# ----------------------------------------------------------- mantel_haenszel


def test_mantel_haenszel_hand_checked(spark):
    """Two strata, textbook cells. s1: a=3,b=1,c=1,d=3 (n=8);
    s2: a=2,b=2,c=2,d=2 (n=8). OR_MH = (9/8 + 4/8)/(1/8 + 4/8) = 13/5."""
    from revtron_utils_spark.operators.profile import mantel_haenszel

    rows = (
        [("s1", 1, 1)] * 3 + [("s1", 1, 0)] + [("s1", 0, 1)] + [("s1", 0, 0)] * 3
        + [("s2", 1, 1)] * 2 + [("s2", 1, 0)] * 2
        + [("s2", 0, 1)] * 2 + [("s2", 0, 0)] * 2
    )
    df = spark.createDataFrame(rows, "q string, t int, o int")
    r = mantel_haenszel(df, "q", "t", "o").collect()[0]
    assert r["n_strata"] == 2 and r["n"] == 16
    assert abs(r["or_mh"] - round(13.0 / 5.0, 6)) < 1e-9


def test_mantel_haenszel_simpsons_paradox(spark):
    """Confounded design: within each stratum treatment HALVES the
    odds (OR=0.5), but stratum sizes make the crude OR exceed 1 —
    or_mh must stay below 1 while or_crude goes above."""
    from revtron_utils_spark.operators.profile import mantel_haenszel

    rows = []
    # stratum A (high base rate, mostly treated): OR = 2/4 = 0.5
    rows += [("A", 1, 1)] * 40 + [("A", 1, 0)] * 20
    rows += [("A", 0, 1)] * 8 + [("A", 0, 0)] * 2
    # stratum B (low base rate, mostly control): OR = .25/.5 = 0.5
    rows += [("B", 1, 1)] * 2 + [("B", 1, 0)] * 8
    rows += [("B", 0, 1)] * 20 + [("B", 0, 0)] * 40
    # crude: (42*42)/(28*28) = 2.25 — sign flips vs the stratified 0.5
    df = spark.createDataFrame(rows, "q string, t int, o int")
    r = mantel_haenszel(df, "q", "t", "o").collect()[0]
    assert r["or_mh"] < 1.0 < r["or_crude"]


def test_mantel_haenszel_matches_oracle(spark):
    from revtron_utils_spark.operators.profile import (
        mantel_haenszel,
        mantel_haenszel_oracle_sql,
    )

    rows = [
        ("q" + str(i % 6), (i * 7) % 3 % 2, (i * 11) % 5 % 2)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "q string, t int, o int")
    got = tuple(mantel_haenszel(df, "q", "t", "o").collect()[0])
    con = duckdb.connect()
    con.execute("CREATE TABLE t (q VARCHAR, t INTEGER, o INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = con.execute(
        mantel_haenszel_oracle_sql("SELECT * FROM t", "q", "t", "o")
    ).fetchone()
    assert got == want


def test_mantel_haenszel_zero_denominator_null(spark):
    """No control-arm events anywhere: Σb·c/n = 0 → or_mh NULL."""
    from revtron_utils_spark.operators.profile import mantel_haenszel

    rows = [("s", 1, 1)] * 3 + [("s", 0, 0)] * 3
    df = spark.createDataFrame(rows, "q string, t int, o int")
    r = mantel_haenszel(df, "q", "t", "o").collect()[0]
    assert r["or_mh"] is None
