"""Unit tests for the round-8 operator additions: readability, RAKE
keywords, HITS, permutation test, tf-idf cosine pairs, HBOS."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_readability_known_counts(spark):
    from revtron_utils_spark.operators.textstats import readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The cat ran!"),
            (2, "hello"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in readability(df).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # the/cat/sat/the/cat/ran → 1 syllable each
    assert r1["n_syllables"] == 6
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r1["flesch"] - round(expected, 4)) < 1e-9
    r2 = rows[2]
    assert r2["n_words"] == 1 and r2["n_sentences"] == 1
    # "hello" → e, o → 2 vowel groups
    assert r2["n_syllables"] == 2
    r3 = rows[3]
    assert r3["n_words"] == 0 and r3["flesch"] is None


def test_rake_scores_hand_checked(spark):
    from revtron_utils_spark.operators.textstats import rake_keywords

    # phrases: "deep learning", "deep learning", "systems"
    df = spark.createDataFrame(
        [
            (1, "deep learning is the deep learning of systems"),
        ],
        "doc_id long, text string",
    )
    rows = rake_keywords(df, top_k=10, scale=100).collect()
    by_phrase = {r["phrase"]: r for r in rows}
    # deep: freq 2, deg 4 → score 200; learning: same → phrase 400
    dl = by_phrase["deep learning"]
    assert dl["n_occurrences"] == 2 and dl["n_words"] == 2
    assert dl["score_int"] == 400
    s = by_phrase["systems"]
    assert s["score_int"] == 100  # deg 1 / freq 1
    assert rows[0]["phrase"] == "deep learning"  # highest score first


def test_rake_punctuation_delimits(spark):
    from revtron_utils_spark.operators.textstats import rake_keywords

    df = spark.createDataFrame(
        [(1, "Fast, robust engines. fast robust engines")],
        "doc_id long, text string",
    )
    rows = rake_keywords(df, top_k=10).collect()
    phrases = {r["phrase"] for r in rows}
    # classic RAKE: punctuation is a HARD phrase boundary — the comma
    # ends "fast", the period ends "robust engines"
    assert "robust engines" in phrases and "fast robust engines" in phrases
    assert "fast" in phrases


def test_hits_star_graph(spark):
    """One hub pointing at 3 authorities: the center must out-hub the
    leaves; the leaves must out-authority the center."""
    from revtron_utils_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (9, 1)], "src long, dst long"
    )
    r = {row["node"]: row for row in hits(edges, iterations=3).collect()}
    assert r[0]["hub_int"] > r[1]["hub_int"]
    assert r[0]["hub_int"] > r[9]["hub_int"]  # 3 targets beat 1
    assert r[1]["auth_int"] > r[2]["auth_int"]  # two pointers beat one
    assert r[1]["auth_int"] > r[0]["auth_int"]
    # L1 renormalization keeps total mass ≈ n_nodes·scale bounded
    assert all(0 <= row["hub_int"] <= 10**10 for row in r.values())


def test_hits_matches_oracle_small(spark):
    import duckdb

    from revtron_utils_spark.operators.graph import hits, hits_oracle_sql

    edges = [(i, (i * 3 + 1) % 7) for i in range(20)] + [(3, 5), (5, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["node"], r["hub_int"], r["auth_int"])
        for r in hits(df, iterations=4).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE edges_t (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges_t VALUES (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.execute(
            hits_oracle_sql("SELECT src, dst FROM edges_t", iterations=4)
        ).fetchall()
    )
    assert got == want


def test_permutation_test_null_vs_signal(spark):
    from revtron_utils_spark.operators.bootstrap import permutation_test

    # identical distributions → non-small p; disjoint → tiny p
    rows = [(i, 10 + (i % 5), "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "uid long, v long, g string")
    null_p = permutation_test(df, "uid", "v", "g", "a", "b", n_perm=99).collect()[0]
    assert null_p["p_value"] > 0.05

    rows2 = [(i, (100 if i % 2 == 0 else 10), "a" if i % 2 == 0 else "b") for i in range(200)]
    df2 = spark.createDataFrame(rows2, "uid long, v long, g string")
    sig = permutation_test(df2, "uid", "v", "g", "a", "b", n_perm=99).collect()[0]
    assert sig["p_value"] <= 0.02
    assert sig["mean_a"] == 100.0 and sig["mean_b"] == 10.0


def test_tfidf_cosine_duplicate_docs_score_one(spark):
    from revtron_utils_spark.operators.retrieval import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta"),
            (4, "alpha beta something else"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, threshold=0.1, df_cap=10).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs  # no shared vocabulary
    assert 0.1 <= pairs[(1, 4)] < 1.0


def test_tfidf_cosine_df_cap_drops_hot_terms(spark):
    from revtron_utils_spark.operators.retrieval import tfidf_cosine_pairs

    # "common" appears in every doc; with df_cap=2 it can't pair docs
    df = spark.createDataFrame(
        [(i, f"common word{i}") for i in range(5)],
        "doc_id long, text string",
    )
    out = tfidf_cosine_pairs(df, threshold=0.01, df_cap=2).collect()
    assert out == []


def test_hbos_sparse_bin_scores_highest(spark):
    from revtron_utils_spark.operators.profile import hbos_scores

    rows = [(i, 10, 10) for i in range(99)] + [(99, 500, 500)]
    df = spark.createDataFrame(rows, "uid long, x long, y long")
    out = hbos_scores(df, "uid", {"x": 50, "y": 50}, top_k=3).collect()
    assert out[0]["uid"] == 99  # the lone far point is most anomalous
    assert out[0]["score_int"] > out[1]["score_int"]


def test_hbos_negative_values_floor_bin(spark):
    from revtron_utils_spark.operators.profile import hbos_scores

    df = spark.createDataFrame(
        [(1, -1), (2, -50), (3, 1)], "uid long, x long"
    )
    rows = {r["uid"]: r["x_bin"] for r in hbos_scores(df, "uid", {"x": 50}).collect()}
    assert rows[1] == -1 and rows[2] == -1 and rows[3] == 0


def test_hbos_feature_count_bounds(spark):
    from revtron_utils_spark.operators.profile import hbos_scores

    df = spark.createDataFrame([(1, 1, 1, 1, 1)], "uid long, a long, b long, c long, d long")
    with pytest.raises(ValueError, match="1-3 features"):
        hbos_scores(df, "uid", {"a": 1, "b": 1, "c": 1, "d": 1})


def test_dawid_skene_downweights_confused_rater(spark):
    """Three reliable raters + one adversarial rater who always inverts:
    DS must recover the reliable majority on every item, and on the
    item where the adversary creates a 2-2 split against two reliable
    raters... the confusion model must side with the reliable pair."""
    from revtron_utils_spark.operators.annotation import dawid_skene

    votes = []
    # items 0..9: true label alternates x/y; raters 1-3 truthful,
    # rater 4 always inverts
    for i in range(10):
        truth = "x" if i % 2 == 0 else "y"
        inv = "y" if truth == "x" else "x"
        for r in (1, 2, 3):
            votes.append((i, r, truth))
        votes.append((i, 4, inv))
    df = spark.createDataFrame(votes, "item long, rater int, label string")
    out = {r["item"]: r for r in dawid_skene(df, "item", "rater", "label").collect()}
    for i in range(10):
        want = "x" if i % 2 == 0 else "y"
        assert out[i]["ds_label"] == want
        assert out[i]["n_raters"] == 4
        # posterior should be confident (> 0.9 of scale)
        assert out[i]["q_int"] > 9000


def test_dawid_skene_matches_oracle_small(spark):
    import duckdb

    from revtron_utils_spark.operators.annotation import (
        dawid_skene,
        dawid_skene_oracle_sql,
    )

    votes = [
        (i, r, ["a", "b", "c"][(i * r + (1 if r == 5 else 0)) % 3])
        for i in range(30)
        for r in range(1, 6)
    ]
    df = spark.createDataFrame(votes, "item long, rater int, label string")
    got = sorted(
        (r["item"], r["ds_label"], r["q_int"], r["n_raters"])
        for r in dawid_skene(df, "item", "rater", "label").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE votes_t (item BIGINT, rater INT, label VARCHAR)")
    con.executemany("INSERT INTO votes_t VALUES (?, ?, ?)", votes)
    want = sorted(
        tuple(r)
        for r in con.execute(
            dawid_skene_oracle_sql(
                "SELECT item, rater, label FROM votes_t",
                "item",
                "rater",
                "label",
            )
        ).fetchall()
    )
    assert got == want


def test_dawid_skene_panel_guard(spark):
    from revtron_utils_spark.operators.annotation import dawid_skene

    votes = [(1, r, "x") for r in range(12)]
    df = spark.createDataFrame(votes, "item long, rater int, label string")
    with pytest.raises(ValueError, match="max_raters"):
        dawid_skene(df, "item", "rater", "label")
    # lower scale widens the exact product bound
    out = dawid_skene(df, "item", "rater", "label", scale=100, max_raters=16)
    assert out.collect()[0]["ds_label"] == "x"


def test_dawid_skene_label_catalog_many_items_few_labels(spark):
    """The label catalog is deduped between the probe's two aggregation
    levels: many items voting over a few labels still yield the ASC
    catalog the oracle uses, and the ``max_labels`` guard counts the same
    distinct labels, NULL among them."""
    import duckdb

    from revtron_utils_spark.operators.annotation import (
        dawid_skene,
        dawid_skene_oracle_sql,
    )

    labels = ["b", "a", "c"]
    votes = [(i, r, labels[(i * 7 + r * (i % 4)) % 3]) for i in range(600) for r in range(3)]
    schema = "item long, rater int, label string"
    df = spark.createDataFrame(votes, schema)
    with pytest.raises(ValueError, match="3 distinct labels exceed max_labels=2"):
        dawid_skene(df, "item", "rater", "label", max_labels=2)
    with_null = spark.createDataFrame(votes + [(600, 0, None)], schema)
    with pytest.raises(ValueError, match="4 distinct labels exceed max_labels=3"):
        dawid_skene(with_null, "item", "rater", "label", max_labels=3)

    got = sorted(
        tuple(r)
        for r in dawid_skene(df, "item", "rater", "label", iterations=1)
        .select("item", "ds_label", "q_int", "n_raters")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE votes_t (item BIGINT, rater INT, label VARCHAR)")
    con.executemany("INSERT INTO votes_t VALUES (?, ?, ?)", votes)
    want = sorted(
        tuple(r)
        for r in con.execute(
            dawid_skene_oracle_sql(
                "SELECT item, rater, label FROM votes_t",
                "item",
                "rater",
                "label",
                iterations=1,
            )
        ).fetchall()
    )
    assert got == want


def test_dawid_skene_null_label_is_a_vote(spark):
    """A NULL label is a vote, in the engine and its DuckDB twin alike:
    an item with three votes, one of them NULL, has ``n_raters = 3``, and
    NULL can win the MAP pick like any label — on a tie too, where it
    sorts first."""
    import duckdb

    from revtron_utils_spark.operators.annotation import (
        dawid_skene,
        dawid_skene_oracle_sql,
    )

    def both(votes):
        df = spark.createDataFrame(votes, "item long, rater int, label string")
        got = sorted(
            tuple(r) for r in dawid_skene(df, "item", "rater", "label").collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE votes_t (item BIGINT, rater INT, label VARCHAR)")
        con.executemany("INSERT INTO votes_t VALUES (?, ?, ?)", votes)
        want = sorted(
            tuple(r)
            for r in con.execute(
                dawid_skene_oracle_sql(
                    "SELECT item, rater, label FROM votes_t", "item", "rater", "label"
                )
            ).fetchall()
        )
        assert got == want
        return {r[0]: r for r in got}

    votes = [(0, 1, "a"), (0, 2, "a"), (0, 3, None)]
    votes += [(1, 1, None), (1, 2, None), (1, 3, "b")]
    votes += [(i, r, ["a", "b", None][(i + r) % 3]) for i in range(2, 40) for r in (1, 2, 3)]
    by_item = both(votes)
    assert by_item[0][3] == 3 and by_item[0][1] == "a"
    assert by_item[1][3] == 3 and by_item[1][1] is None
    # two symmetric raters, one 'a' and one NULL: the posteriors tie
    # every round, and the tie goes to NULL (label ASC, NULL first)
    tie = both([(0, 1, "a"), (0, 2, None)])
    assert tie[0][1] is None and tie[0][3] == 2


def test_cuped_reduces_to_group_means_when_uncorrelated(spark):
    """θ from exact moments; with a constant covariate var=0 → NULL θ;
    with a perfectly correlated covariate the adjustment removes the
    between-group x imbalance."""
    from revtron_utils_spark.operators.profile import cuped_adjustment

    const = spark.createDataFrame(
        [(1, 5, "a"), (2, 5, "b"), (3, 5, "a")], "uid long, x long, g string"
    ).withColumn("y", F.lit(7).cast("long"))
    out = cuped_adjustment(const, "x", "y", "g").collect()
    assert all(r["theta"] is None and r["adj_mean"] is None for r in out)

    # y = x exactly; group a has higher x. adjusted means must equalize
    rows = [(i, i, i, "a" if i < 50 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "uid long, x long, y long, g string")
    got = {r["g"]: r for r in cuped_adjustment(df, "x", "y", "g").collect()}
    assert abs(got["a"]["theta"] - 1.0) < 1e-9
    assert abs(got["a"]["adj_mean"] - got["b"]["adj_mean"]) < 1e-6


def test_seasonal_outliers_flags_hot_month(spark):
    from datetime import datetime

    from revtron_utils_spark.operators.timeseries import seasonal_outliers

    rows = []
    for year in (2022, 2023, 2024):
        for month in (1, 2):
            v = 100
            if year == 2024 and month == 1:
                v = 1000  # 2024 January runs ~2.7x the Jan average
            rows.append((datetime(year, month, 15), v, "g"))
    df = spark.createDataFrame(rows, "ts timestamp, v long, g string")
    out = {
        (r["year"], r["month"]): r
        for r in seasonal_outliers(df, "ts", "v", ["g"]).collect()
    }
    assert out[(2024, 1)]["is_outlier"] is True
    assert out[(2023, 2)]["is_outlier"] is False
    # Februaries are identical across years → ratio exactly 1
    assert out[(2023, 2)]["ratio"] == 1.0


def test_conformal_bounds_covers(spark):
    """The (1-α) residual quantile must cover ≈(1-α) of a fresh sample
    drawn from the same deterministic distribution."""
    from revtron_utils_spark.operators.quantiles import conformal_bounds

    rows = [(i, 100 + (i * 37) % 21, "g") for i in range(2000)]
    df = spark.createDataFrame(rows, "uid long, y long, g string")
    out = conformal_bounds(df, "uid", "y", ["g"], alpha=0.1).collect()[0]
    assert out["n_train"] + out["n_cal"] == 2000
    # values span 100..120 uniformly; pred ≈ 110, 90% residual bound ≈ 9
    assert 105 <= out["pred"] <= 115
    covered = sum(
        1 for _, y, _g in rows if abs(y - out["pred"]) <= out["q_bound"]
    )
    assert covered >= 0.85 * len(rows)


def test_entity_resolution_gate_golden_records(spark, sf_dir):
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["entity_resolution"](spark, sf_dir)
    rows = out.collect()
    assert rows, "no entities"
    # entity ids are cluster-min part keys; members >= 1; names non-null
    assert all(r["n_members"] >= 1 and r["canonical_name"] for r in rows)
    # total membership equals the part count (every part in exactly one entity)
    total = sum(r["n_members"] for r in rows)
    from revtron_utils_spark.io import read_table

    assert total == read_table(spark, sf_dir, "part").count()


def test_markov_attribution_removal_semantics(spark):
    """Hand-checkable journeys: every conversion passes through B, so
    removing B zeroes conversions; removing A leaves only the B-start
    path (P = 0.2 * 0.75 = 0.15)."""
    from revtron_utils_spark.operators.funnel import markov_attribution

    data = [
        (1, ["A", "B", "purchase"]),
        (2, ["A"]),
        (3, ["B", "purchase"]),
        (4, ["A", "B"]),
        (5, ["A", "B", "purchase"]),
    ]
    rows = []
    for u, path in data:
        for i, c in enumerate(path):
            rows.append((u, i, i, c))
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    out = {r["channel"]: r for r in markov_attribution(df, k_steps=12).collect()}
    assert out["B"]["removed_conv"] == 0.0
    assert out["A"]["removed_conv"] == 0.15
    assert abs(out["A"]["base_conv"] - 0.6) < 1e-9
    assert out["B"]["removal_effect"] > out["A"]["removal_effect"]
    assert abs(out["A"]["share"] + out["B"]["share"] - 1.0) < 1e-5


def test_markov_attribution_matches_oracle(spark):
    import duckdb

    from revtron_utils_spark.operators.funnel import (
        markov_attribution,
        markov_attribution_oracle_sql,
    )

    rows = []
    for u in range(40):
        path = ["view", "click"][: 1 + u % 2] + (
            ["purchase"] if u % 3 == 0 else []
        )
        for i, c in enumerate(path):
            rows.append((u, i, i, c))
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    got = sorted(tuple(r) for r in markov_attribution(df, k_steps=6).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev_t (user_id BIGINT, ts BIGINT, event_id BIGINT,"
        " event_type VARCHAR)"
    )
    con.executemany("INSERT INTO ev_t VALUES (?,?,?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            markov_attribution_oracle_sql("SELECT * FROM ev_t", k_steps=6)
        ).fetchall()
    )
    assert got == want


def test_markov_attribution_channel_cap(spark):
    from revtron_utils_spark.operators.funnel import markov_attribution

    rows = [(u, 0, 0, f"ch{u}") for u in range(40)]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    with pytest.raises(ValueError, match="max_channels"):
        markov_attribution(df, max_channels=10)


def test_tfidf_width_guard_trips(spark):
    from revtron_utils_spark.operators.retrieval import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="scale"):
        # (max_tf·n·scale)²·terms = (1·2·10¹⁹)²·2 ≥ 10³⁸
        tfidf_cosine_pairs(df, scale=10**19)


def test_tfidf_width_guard_measures_tf(spark):
    """The round-9 guard folds the OBSERVED max tf in: a corpus whose
    n_docs·scale fits the old 1e17 budget still overflows Σw² when one
    doc repeats a term ~200×. The old guard let this through to a
    silent-NULL-norm divergence; the measured guard raises."""
    from revtron_utils_spark.operators.retrieval import tfidf_cosine_pairs

    scale = 25 * 10**15  # n_docs·scale = 5e16 — passes the OLD bound
    df = spark.createDataFrame(
        [(1, " ".join(["t"] * 200)), (2, "t u")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_tf"):
        tfidf_cosine_pairs(df, scale=scale)
    # same corpus with tf=1 everywhere is inside the budget
    ok = spark.createDataFrame(
        [(1, "t v"), (2, "t u")], "doc_id long, text string"
    )
    assert tfidf_cosine_pairs(ok, scale=scale, threshold=0.0).count() >= 1


def test_permutation_test_decimal_threshold_exact(spark):
    """The DECIMAL cross-multiply must agree with the small-scale int64
    form: p-values on a 200-unit fixture are unchanged vs the oracle."""
    import duckdb

    from revtron_utils_spark.operators.bootstrap import (
        permutation_test,
        permutation_test_oracle_sql,
    )

    rows = [(i, 10 + (i * 7) % 13, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "uid long, v long, g string")
    got = permutation_test(df, "uid", "v", "g", "a", "b", n_perm=50).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE u_t (uid BIGINT, v BIGINT, g VARCHAR)")
    con.executemany("INSERT INTO u_t VALUES (?,?,?)", rows)
    want = con.execute(
        permutation_test_oracle_sql(
            "SELECT * FROM u_t", "uid", "v", "g", "a", "b", n_perm=50
        )
    ).fetchone()
    assert tuple(got) == want


def test_hits_overflow_scale_raises(spark):
    """A scale that would overflow int64 on the per-round raw sums must
    RAISE (with the max safe value in the message), never silently
    clamp — the oracle SQL is generated with the caller's scale, so a
    clamp guarantees a bit-exactness mismatch."""
    import pytest

    from revtron_utils_spark.operators.graph import hits

    edges = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(ValueError, match="pass scale<="):
        hits(df, iterations=1, scale=2**62)


def test_hbos_width_guard():
    """(n_rows·SCALE)^n_features ≥ 10³⁸ must raise: with 3 features the
    singleton-bin product crosses DECIMAL(38,0) near n_rows ≈ 4.6e8 —
    the docstring's old 'factors ≤ 10¹⁶ each so the product fits' claim
    was wrong (10¹⁶ cubed = 10⁴⁸) and the overflow silently NULLs the
    MOST anomalous rows under non-ANSI Spark."""
    from revtron_utils_spark.operators.profile import _hbos_width_guard

    _hbos_width_guard(460_000_000, 3, 10_000)  # just under: fine
    with pytest.raises(ValueError, match="overflow DECIMAL"):
        _hbos_width_guard(500_000_000, 3, 10_000)
    with pytest.raises(ValueError, match="overflow DECIMAL"):
        _hbos_width_guard(10**34, 1, 10_000)
    _hbos_width_guard(10**33, 1, 10_000)
