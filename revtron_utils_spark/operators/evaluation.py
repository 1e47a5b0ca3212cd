"""Model/labeler evaluation metrics over corpus-scale predictions —
the readouts a training-data pipeline runs to accept a classifier
(language ID, quality gate, PII detector) before trusting it on 100 TB:

* ``classification_report`` — per-class confusion counts +
  precision/recall/F1 from ONE pass over (actual, predicted) pairs.
* ``rank_auc`` — ROC AUC via the Mann-Whitney U statistic with exact
  tie handling (average ranks), the threshold-free quality-score
  acceptance test.

Engine-exact by the house discipline: confusion cells and rank sums are
integers (average ranks kept integral by doubling — AUC is
rank-scale-invariant after the matching correction term), DECIMAL
accumulation where int64 could wrap, one final division per metric —
every readout hash-matches its DuckDB oracle twin.

Scale shape: ``classification_report`` is one (actual, predicted)
partial-aggregated shuffle plus an O(classes) rollup.  ``rank_auc`` is
one global rank window (a single total-order sort — the honest price of
exact tie-corrected AUC; sampled AUC is the 100-TB shortcut and changes
the answer) plus one map-side-combined aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classification_report(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-class precision/recall/F1 over (actual, predicted) pairs.

    Returns one row per class appearing on EITHER side:
    ``(label, support, tp, fp, fn, precision, recall, f1)``. F1 uses the
    single-division form ``2·tp / (2·tp + fp + fn)`` (algebraically
    equal to the harmonic mean but ONE pinned float op, so engines
    can't disagree on intermediate rounding). Zero-denominator metrics
    (class never predicted / never present) are NULL, not 0 — absence
    of evidence reads differently from measured-zero. NULL
    actual/predicted rows are dropped (score a sentinel class upstream
    if NULLs are meaningful).
    """
    base = df.select(
        F.col(actual_col).alias("_a"), F.col(pred_col).alias("_p")
    ).where(F.col(actual_col).isNotNull() & F.col(pred_col).isNotNull())
    cm = base.groupBy("_a", "_p").agg(F.count(F.lit(1)).alias("c"))
    per_actual = cm.groupBy(F.col("_a").alias("label")).agg(
        F.sum("c").alias("support"),
        F.sum(F.when(F.col("_a") == F.col("_p"), F.col("c")).otherwise(0)).alias(
            "_tp_a"
        ),
    )
    per_pred = cm.groupBy(F.col("_p").alias("label")).agg(
        F.sum("c").alias("_pred_n"),
        F.sum(F.when(F.col("_a") == F.col("_p"), F.col("c")).otherwise(0)).alias(
            "_tp_p"
        ),
    )
    j = per_actual.join(per_pred, "label", "full_outer")
    tp = F.coalesce(F.col("_tp_a"), F.col("_tp_p"), F.lit(0)).cast("long")
    support = F.coalesce(F.col("support"), F.lit(0)).cast("long")
    pred_n = F.coalesce(F.col("_pred_n"), F.lit(0)).cast("long")
    fp = pred_n - tp
    fn = support - tp
    prec = F.when(pred_n > 0, tp.cast("double") / pred_n.cast("double"))
    rec = F.when(support > 0, tp.cast("double") / support.cast("double"))
    f1 = F.when(
        (2 * tp + fp + fn) > 0,
        (F.lit(2.0) * tp.cast("double"))
        / (2 * tp + fp + fn).cast("double"),
    )
    return j.select(
        "label",
        support.alias("support"),
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(f1, round_to).alias("f1"),
    )


def classification_report_oracle_sql(
    pairs_sql: str, actual_col: str, pred_col: str, round_to: int = 6
) -> str:
    """DuckDB twin: same confusion counts, same single-division forms.
    ``pairs_sql`` produces the (actual, predicted) pairs."""
    return f"""
WITH b AS (
  SELECT {actual_col} AS a, {pred_col} AS p FROM ({pairs_sql})
  WHERE {actual_col} IS NOT NULL AND {pred_col} IS NOT NULL
), cm AS (SELECT a, p, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY a, p),
pa AS (
  SELECT a AS label, SUM(c) AS support,
         SUM(CASE WHEN a = p THEN c ELSE 0 END) AS tp_a
  FROM cm GROUP BY a
), pp AS (
  SELECT p AS label, SUM(c) AS pred_n,
         SUM(CASE WHEN a = p THEN c ELSE 0 END) AS tp_p
  FROM cm GROUP BY p
), j AS (
  SELECT COALESCE(pa.label, pp.label) AS label,
         CAST(COALESCE(support, 0) AS BIGINT) AS support,
         CAST(COALESCE(tp_a, tp_p, 0) AS BIGINT) AS tp,
         CAST(COALESCE(pred_n, 0) AS BIGINT) AS pred_n
  FROM pa FULL OUTER JOIN pp ON pa.label = pp.label
)
SELECT label, support, tp,
       pred_n - tp AS fp,
       support - tp AS fn,
       ROUND(CASE WHEN pred_n > 0
             THEN CAST(tp AS DOUBLE) / CAST(pred_n AS DOUBLE) END, {round_to}) AS precision,
       ROUND(CASE WHEN support > 0
             THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END, {round_to}) AS recall,
       ROUND(CASE WHEN 2 * tp + (pred_n - tp) + (support - tp) > 0
             THEN (2.0 * CAST(tp AS DOUBLE))
                  / CAST(2 * tp + (pred_n - tp) + (support - tp) AS DOUBLE)
             END, {round_to}) AS f1
FROM j
"""


def rank_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """ROC AUC per group via Mann-Whitney U with exact tie handling.

    ``label_col`` must be boolean-like (true = positive). With average
    ranks ``r`` over the ascending score order,
    ``AUC = (Σ_pos r − n_pos·(n_pos+1)/2) / (n_pos·n_neg)``; doubling
    the ranks (``R2 = 2·RANK() + ties − 1``, integral) doubles both the
    rank sum and the correction term, so
    ``AUC = (Σ_pos R2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg)`` — exact
    integers (DECIMAL sums; rank sums wrap int64 past ~3e9 rows) until
    ONE division. Groups without both classes return NULL.

    One group-keyed rank window + one aggregate. The window is a
    per-group total-order sort — the honest price of exact AUC.
    """
    from pyspark.sql import Window

    by = list(by or [])
    base = df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
    w = Window.partitionBy(*by).orderBy(F.col(score_col).asc())
    tw = Window.partitionBy(*by, score_col)
    ranked = base.select(
        *by,
        F.col(label_col).cast("boolean").alias("_y"),
        (2 * F.rank().over(w) + F.count(F.lit(1)).over(tw) - 1).alias("_r2"),
    )
    agg = ranked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("n_pos"),
        F.sum(
            F.when(F.col("_y"), F.col("_r2")).otherwise(F.lit(0)).cast("decimal(38,0)")
        ).alias("_rsum"),
    )
    np_ = F.col("n_pos").cast("double")
    nn = (F.col("n") - F.col("n_pos")).cast("double")
    auc = (
        F.col("_rsum").cast("double") - np_ * (np_ + F.lit(1.0))
    ) / (F.lit(2.0) * np_ * nn)
    return agg.select(
        *by,
        "n",
        "n_pos",
        F.round(
            F.when((F.col("n_pos") > 0) & (F.col("n") > F.col("n_pos")), auc),
            round_to,
        ).alias("auc"),
    )


def rank_auc_oracle_sql(
    scored_sql: str,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical doubled ranks, HUGEINT rank sum, same
    fixed-order expression."""
    by = list(by or [])
    gc = ", ".join(by)
    gsel = f"{gc}, " if by else ""
    gby = f"GROUP BY {gc}" if by else ""
    pb = f"PARTITION BY {gc}" if by else ""
    pbt = f"PARTITION BY {gc + ', ' if by else ''}{score_col}"
    return f"""
WITH b AS (
  SELECT * FROM ({scored_sql})
  WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
), rk AS (
  SELECT {gsel}CAST({label_col} AS BOOLEAN) AS y,
         2 * RANK() OVER ({pb} ORDER BY {score_col} ASC)
           + COUNT(*) OVER ({pbt}) - 1 AS r2
  FROM b
), a AS (
  SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         SUM(CASE WHEN y THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS rsum
  FROM rk {gby}
)
SELECT {gsel}n, n_pos,
       ROUND(CASE WHEN n_pos > 0 AND n > n_pos
             THEN (CAST(rsum AS DOUBLE)
                   - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0))
                  / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
             END, {round_to}) AS auc
FROM a
"""


def calibration_curve(
    df: DataFrame,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability curve for an integer-rational score: bin documents by
    ``num/den`` (the house engine-exact score shape — e.g. the hashed
    linear classifier's weight-sum numerator over its token count) and
    report the observed positive rate per bin — the accept-the-scorer
    readout that AUC's single number hides (a scorer can rank well and
    still be wildly mis-calibrated).

    ``bin = clamp(floor((num − score_min·den)·n_bins / ((score_max −
    score_min + 1)·den)))`` — products of exact integers in double
    (exact below 2^53), one correctly-rounded division whose floor
    cannot straddle an integer (adjacent rationals differ by ≥
    1/span·den, orders of magnitude above ulp(n_bins)), identical in
    the oracle. Output: ``(bin, n_docs, n_pos, pos_rate)`` — one
    map-side-combined aggregation.
    """
    nb = int(n_bins)
    num = F.col(num_col).cast("double")
    den = F.col(den_col).cast("double")
    span = float(score_max - score_min + 1)
    raw = F.floor((num - F.lit(float(score_min)) * den) * F.lit(float(nb)) / (F.lit(span) * den))
    b = F.greatest(F.lit(0), F.least(F.lit(nb - 1), raw)).cast("int")
    base = df.where(
        F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
        & (F.col(den_col) > 0)
        & F.col(label_col).isNotNull()
    )
    agg = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(label_col).cast("boolean").cast("int")).alias("n_pos"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "n_pos",
        F.round(
            F.col("n_pos").cast("double") / F.col("n_docs").cast("double"), round_to
        ).alias("pos_rate"),
    )


def calibration_curve_oracle_sql(
    scored_sql: str,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical double bin arithmetic and clamps."""
    nb = int(n_bins)
    span = float(score_max - score_min + 1)
    binx = (
        f"CAST(GREATEST(0, LEAST({nb - 1}, "
        f"FLOOR((CAST({num_col} AS DOUBLE) - {float(score_min)} * CAST({den_col} AS DOUBLE))"
        f" * {float(nb)} / ({span} * CAST({den_col} AS DOUBLE))))) AS INT)"
    )
    return f"""
WITH b AS (
  SELECT {binx} AS bin, {label_col} AS y
  FROM ({scored_sql})
  WHERE {num_col} IS NOT NULL AND {den_col} IS NOT NULL
    AND {den_col} > 0 AND {label_col} IS NOT NULL
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), {round_to}) AS pos_rate
FROM b GROUP BY bin
"""


def gini_split_gain(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Best decision-stump split of a bucketed numeric feature against
    a binary label, scored by Gini-impurity reduction — the log-free
    feature-usefulness readout (information gain needs logarithms;
    Gini gain is rational in the counts, so it is engine-exact):

        parent = (n² − pos² − neg²) / n²
        child  = [(n_l²−p_l²−q_l²)·n_r + (n_r²−p_r²−q_r²)·n_l] / (n_l·n_r·n)
        gain(t) = parent − child(t),  split: x ≤ t

    — the weighted-child form collapses to ONE division via the common
    denominator n_l·n_r·n. Thresholds are the bucket values with a
    non-empty right side; the best split breaks ties toward the
    smallest threshold. Plan: one (group, bucket) partial-agg shuffle +
    cumsum windows over the caller-bounded histogram; DECIMAL
    everywhere (squares wrap int64 at corpus scale). Output per group:
    ``(*by, n, pos, parent_gini, best_threshold, n_left, n_right,
    best_gain)`` (NULL threshold when no valid split exists).
    """
    from pyspark.sql import Window

    keys = list(by or [])
    lb = F.col(label_col).cast("long")
    per = df.groupBy(*keys, F.col(feature_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(lb).alias("_p"),
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    cum = per.select(
        *keys,
        "_k",
        F.sum("_c").over(wcum).alias("_nl"),
        F.sum("_p").over(wcum).alias("_pl"),
        F.sum("_c").over(wall).alias("_n"),
        F.sum("_p").over(wall).alias("_pos"),
    ).where(F.col("_nl") < F.col("_n"))
    dec = lambda c: c.cast("decimal(38,0)")

    def imp_num(n, p):
        q = n - p
        return dec(n) * dec(n) - dec(p) * dec(p) - dec(q) * dec(q)

    nl, pl = F.col("_nl"), F.col("_pl")
    nr, pr = F.col("_n") - nl, F.col("_pos") - pl
    child_num = imp_num(nl, pl) * dec(nr) + imp_num(nr, pr) * dec(nl)
    child = child_num.cast("double") / (dec(nl) * dec(nr) * dec(F.col("_n"))).cast(
        "double"
    )
    parent = imp_num(F.col("_n"), F.col("_pos")).cast("double") / (
        dec(F.col("_n")) * dec(F.col("_n"))
    ).cast("double")
    scored = cum.select(
        *keys,
        "_k",
        "_nl",
        "_n",
        "_pos",
        (parent - child).alias("_gain"),
        parent.alias("_parent"),
    )
    pick = Window.partitionBy(*keys).orderBy(
        F.col("_gain").desc(), F.col("_k").asc()
    )
    best = scored.withColumn("_r", F.row_number().over(pick)).where(
        F.col("_r") == 1
    )
    return best.select(
        *keys,
        F.col("_n").alias("n"),
        F.col("_pos").alias("pos"),
        F.round(F.col("_parent"), round_to).alias("parent_gini"),
        F.col("_k").alias("best_threshold"),
        F.col("_nl").alias("n_left"),
        (F.col("_n") - F.col("_nl")).alias("n_right"),
        F.round(F.col("_gain"), round_to).alias("best_gain"),
    ).orderBy(*keys)


def gini_split_gain_oracle_sql(
    values_sql: str,
    feature_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT impurity numerators, same
    common-denominator single divisions, same argmax tie-break."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = f"{gc}, " if keys else ""
    part = f"PARTITION BY {gc}" if keys else ""
    # args are parenthesized before substitution: n/p arrive as compound
    # expressions (`_n - _nl`) and `CAST(n - p AS ...)` would otherwise
    # re-associate the subtraction
    imp = lambda n, p: (
        f"(CAST(({n}) AS HUGEINT) * CAST(({n}) AS HUGEINT)"
        f" - CAST(({p}) AS HUGEINT) * CAST(({p}) AS HUGEINT)"
        f" - CAST(({n}) - ({p}) AS HUGEINT) * CAST(({n}) - ({p}) AS HUGEINT))"
    )
    child_num = (
        f"({imp('_nl', '_pl')} * CAST(_n - _nl AS HUGEINT)"
        f" + {imp('_n - _nl', '_pos - _pl')} * CAST(_nl AS HUGEINT))"
    )
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {sel}{feature_col} AS _k, CAST(COUNT(*) AS BIGINT) AS _c,
         CAST(SUM(CAST({label_col} AS BIGINT)) AS BIGINT) AS _p
  FROM vals GROUP BY {sel}{feature_col}
),
cum AS (
  SELECT {sel}_k,
         SUM(_c) OVER ({part} ORDER BY _k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _nl,
         SUM(_p) OVER ({part} ORDER BY _k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _pl,
         SUM(_c) OVER ({part}) AS _n,
         SUM(_p) OVER ({part}) AS _pos
  FROM per
),
scored AS (
  SELECT {sel}_k, _nl, _n, _pos,
         CAST({imp('_n', '_pos')} AS DOUBLE)
           / CAST(CAST(_n AS HUGEINT) * CAST(_n AS HUGEINT) AS DOUBLE) AS _parent,
         CAST({imp('_n', '_pos')} AS DOUBLE)
           / CAST(CAST(_n AS HUGEINT) * CAST(_n AS HUGEINT) AS DOUBLE)
         - CAST({child_num} AS DOUBLE)
           / CAST(CAST(_nl AS HUGEINT) * CAST(_n - _nl AS HUGEINT)
                  * CAST(_n AS HUGEINT) AS DOUBLE) AS _gain
  FROM cum WHERE _nl < _n
),
best AS (
  SELECT * FROM scored
  QUALIFY ROW_NUMBER() OVER ({part} ORDER BY _gain DESC, _k ASC) = 1
)
SELECT {sel}CAST(_n AS BIGINT) AS n, CAST(_pos AS BIGINT) AS pos,
       ROUND(_parent, {round_to}) AS parent_gini,
       _k AS best_threshold,
       CAST(_nl AS BIGINT) AS n_left,
       CAST(_n - _nl AS BIGINT) AS n_right,
       ROUND(_gain, {round_to}) AS best_gain
FROM best
"""


def mcnemar_test(
    df: DataFrame,
    correct_a_col: str,
    correct_b_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """McNemar's paired-classifier test — "is model A actually better
    than model B on the SAME examples": only the discordant pairs
    matter (b = A right & B wrong, c = A wrong & B right), and

        χ² = (b − c)² / (b + c)

    exact integers and ONE division (NULL when b + c = 0 — the
    classifiers never disagree). The right test when two labelers are
    compared on one eval set (`prop_ztest` is for UNPAIRED samples —
    using it on paired predictions overstates the variance). One
    map-side-combined count pass. Output per group: ``(*by, n, both_ok,
    only_a, only_b, neither_ok, chi2)`` (both/neither are DuckDB
    reserved words).
    """
    keys = list(by or [])
    a = F.col(correct_a_col).cast("boolean")
    b = F.col(correct_b_col).cast("boolean")
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a & b).cast("long")).alias("both_ok"),
        F.sum((a & ~b).cast("long")).alias("only_a"),
        F.sum((~a & b).cast("long")).alias("only_b"),
        F.sum((~a & ~b).cast("long")).alias("neither_ok"),
    )
    d = F.col("only_a") - F.col("only_b")
    s = F.col("only_a") + F.col("only_b")
    chi2 = (
        (d.cast("decimal(38,0)") * d.cast("decimal(38,0)")).cast("double")
        / s.cast("double")
    )
    out = agg.select(
        *keys,
        "n",
        "both_ok",
        "only_a",
        "only_b",
        "neither_ok",
        F.round(F.when(s > 0, chi2), round_to).alias("chi2"),
    )
    return out.orderBy(*keys) if keys else out


def mcnemar_test_oracle_sql(
    pairs_sql: str,
    correct_a_col: str,
    correct_b_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same discordant counts, same single division."""
    keys = list(by or [])
    sel = f"{', '.join(keys)}, " if keys else ""
    grp = f"GROUP BY {', '.join(keys)}" if keys else ""
    return f"""
WITH pairs AS ({pairs_sql}),
agg AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN {correct_a_col} AND {correct_b_col} THEN 1 ELSE 0 END) AS BIGINT) AS both_ok,
         CAST(SUM(CASE WHEN {correct_a_col} AND NOT {correct_b_col} THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
         CAST(SUM(CASE WHEN NOT {correct_a_col} AND {correct_b_col} THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
         CAST(SUM(CASE WHEN NOT {correct_a_col} AND NOT {correct_b_col} THEN 1 ELSE 0 END) AS BIGINT) AS neither_ok
  FROM pairs {grp}
)
SELECT {sel}n, both_ok, only_a, only_b, neither_ok,
       ROUND(CASE WHEN only_a + only_b > 0 THEN
         CAST(CAST(only_a - only_b AS HUGEINT)
              * CAST(only_a - only_b AS HUGEINT) AS DOUBLE)
         / CAST(only_a + only_b AS DOUBLE) END, {round_to}) AS chi2
FROM agg
"""


def gain_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Cumulative-gains (CAP) curve over the bounded score histogram —
    "scanning from the highest score down, what share of the positives
    has been captured at each score level": the targeting readout
    behind `rank_auc`'s single number (AUC says HOW separable; the
    gain curve says WHERE to cut).

    One (group, score) partial-agg shuffle + descending-score cumsum
    windows over the caller-bounded histogram; exact integer counts,
    ONE division per share. Output one row per (group, score):
    ``(*by, score, n_at, pos_at, cum_share, cum_capture)`` where
    cum_share is the population fraction scanned and cum_capture the
    positive fraction captured (NULL when the group has no
    positives). The bounded-histogram contract is enforced by
    ``guards.require_bounded_spines`` (fail fast instead of
    single-task-sorting raw float scores; ``max_buckets=None``
    vouches).
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    keys = list(by or [])
    df = require_bounded_spines(
        df, [(score_col, max_buckets, score_col)], "gain_curve", by=keys
    )
    per = df.groupBy(*keys, F.col(score_col).alias("score")).agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum(F.col(label_col).cast("long")).alias("pos_at"),
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    cum = per.select(
        *keys,
        "score",
        "n_at",
        "pos_at",
        F.sum("n_at").over(wcum).alias("_cn"),
        F.sum("pos_at").over(wcum).alias("_cp"),
        F.sum("n_at").over(wall).alias("_n"),
        F.sum("pos_at").over(wall).alias("_p"),
    )
    return cum.select(
        *keys,
        "score",
        "n_at",
        "pos_at",
        F.round(
            F.col("_cn").cast("double") / F.col("_n").cast("double"), round_to
        ).alias("cum_share"),
        F.round(
            F.when(
                F.col("_p") > 0,
                F.col("_cp").cast("double") / F.col("_p").cast("double"),
            ),
            round_to,
        ).alias("cum_capture"),
    ).orderBy(*keys, F.col("score").desc())


def gain_curve_oracle_sql(
    scored_sql: str,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same descending cumsums, same single divisions."""
    keys = list(by or [])
    sel = f"{', '.join(keys)}, " if keys else ""
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    grp = f"{', '.join(keys)}, " if keys else ""
    return f"""
WITH scored AS ({scored_sql}),
per AS (
  SELECT {sel}{score_col} AS score, CAST(COUNT(*) AS BIGINT) AS n_at,
         CAST(SUM(CAST({label_col} AS BIGINT)) AS BIGINT) AS pos_at
  FROM scored GROUP BY {grp}{score_col}
)
SELECT {sel}score, n_at, pos_at,
       ROUND(CAST(SUM(n_at) OVER ({part} ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(n_at) OVER ({part}) AS DOUBLE), {round_to}) AS cum_share,
       ROUND(CASE WHEN SUM(pos_at) OVER ({part}) > 0 THEN
         CAST(SUM(pos_at) OVER ({part} ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(pos_at) OVER ({part}) AS DOUBLE) END, {round_to}) AS cum_capture
FROM per
"""


def expected_calibration_error(
    df: DataFrame,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Expected Calibration Error over the :func:`calibration_curve`
    bins — the single-number companion to the reliability curve
    (Naeini et al., AAAI 2015), in the MIDPOINT convention:

        ECE = Σ_b (n_b / N) · | pos_rate_b − midpoint_b |

    where ``midpoint_b = score_min + (b + 0.5)·span/n_bins`` mapped to
    the [0, 1] score range — a CONSTANT per bin, which is what keeps
    the readout engine-exact: the usual mean-confidence convention
    averages per-row rational scores (an order-dependent float sum);
    midpoints need no per-row float at all. The binning is byte-
    identical to `calibration_curve`'s.

    Exactness: per-bin counts are exact integers; the weighted sum
    folds over the bin-sorted array (≤ n_bins terms, ordered — the
    ewma precedent); two pinned divisions per term. Output one row:
    ``(n_docs, n_bins_hit, ece)``.
    """
    nb = int(n_bins)
    num = F.col(num_col).cast("double")
    den = F.col(den_col).cast("double")
    span = float(score_max - score_min + 1)
    raw = F.floor(
        (num - F.lit(float(score_min)) * den) * F.lit(float(nb)) / (F.lit(span) * den)
    )
    b = F.greatest(F.lit(0), F.least(F.lit(nb - 1), raw)).cast("int")
    base = df.where(
        F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
        & (F.col(den_col) > 0)
        & F.col(label_col).isNotNull()
    )
    per = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(label_col).cast("boolean").cast("int")).alias("_p"),
    )
    # midpoint of bin b in [0, 1]: (b + 0.5) / n_bins (the score range
    # normalizes out — pos_rate is already a probability)
    mid = (F.col("bin").cast("double") + F.lit(0.5)) / F.lit(float(nb))
    term = F.col("_n").cast("double") * F.abs(
        F.col("_p").cast("double") / F.col("_n").cast("double") - mid
    )
    agg = per.agg(
        F.sum("_n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_bins_hit"),
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), term.alias("t")))
        ).alias("_terms"),
    )
    ece = F.aggregate(
        F.col("_terms"), F.lit(0.0), lambda a, x: a + x["t"]
    ) / F.col("n_docs").cast("double")
    return agg.select(
        "n_docs",
        "n_bins_hit",
        F.round(F.when(F.col("n_docs") > 0, ece), round_to).alias("ece"),
    )


def expected_calibration_error_oracle_sql(
    scored_sql: str,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical bin arithmetic, identical bin-ordered
    fold of the identical per-bin terms."""
    nb = int(n_bins)
    span = float(score_max - score_min + 1)
    return f"""
WITH scored AS ({scored_sql}),
base AS (
  SELECT * FROM scored
  WHERE {num_col} IS NOT NULL AND {den_col} IS NOT NULL
    AND {den_col} > 0 AND {label_col} IS NOT NULL
),
per AS (
  SELECT CAST(GREATEST(0, LEAST({nb - 1},
           FLOOR((CAST({num_col} AS DOUBLE) - {float(score_min)!r} * CAST({den_col} AS DOUBLE))
                 * {float(nb)!r} / ({span!r} * CAST({den_col} AS DOUBLE))))) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS _n,
         CAST(SUM(CASE WHEN CAST({label_col} AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS _p
  FROM base GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(_n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_bins_hit,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_n AS DOUBLE)
                * ABS(CAST(_p AS DOUBLE) / CAST(_n AS DOUBLE)
                      - (CAST(bin AS DOUBLE) + 0.5) / {float(nb)!r})
                ORDER BY bin)),
           (a, b) -> a + b) AS _tsum
  FROM per
)
SELECT n_docs, n_bins_hit,
       ROUND(CASE WHEN n_docs > 0 THEN _tsum / CAST(n_docs AS DOUBLE) END,
             {round_to}) AS ece
FROM agg
"""


def _dcg_weights(k: int) -> list[float]:
    """The k DCG position weights 1/log2(pos+1) as PYTHON floats: both
    engines receive the identical IEEE doubles (Spark as literals in an
    array, the oracle as their repr — shortest-repr round-trips), so no
    engine ever evaluates log2 itself (Spark's StrictMath vs DuckDB's
    libm could differ in the last bit)."""
    import math

    return [1.0 / math.log2(p + 1) for p in range(1, k + 1)]


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Per-query NDCG@k over a scored candidate list — the graded
    ranking-quality readout for the retrieval family (``bm25_topk``,
    ``hybrid_search``, the ANN gates): DCG@k of the score-ranked list
    divided by the ideal (relevance-ranked) DCG@k.

    Exactness: ranks are ``row_number`` with a deterministic
    (score DESC, id ASC) tie-break; the 1/log2(pos+1) weights are k
    PYTHON float literals shared with the oracle (neither engine calls
    log2 — see ``_dcg_weights``); each query's DCG is an ORDERED fold
    over its ≤k position-sorted terms (cross-row float sums are
    order-dependent — the house rule). Output: one row per query
    ``(query, dcg, idcg, ndcg)``, NULL ndcg when idcg = 0 (no relevant
    candidate).

    Scale: two query-partitioned windows + one grouped fold — fully
    distributed, no global sort; per-query lists are ≤k by the filter.
    """
    from pyspark.sql import Window as W

    w = _dcg_weights(k)
    warr = F.array(*[F.lit(x) for x in w])
    rel = F.col(rel_col).cast("long")
    base = df.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_s"),
        rel.alias("_rel"),
    )
    byq = W.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_id").asc())
    byi = W.partitionBy("_q").orderBy(F.col("_rel").desc(), F.col("_id").asc())
    ranked = base.withColumn("_p", F.row_number().over(byq)).withColumn(
        "_ip", F.row_number().over(byi)
    )
    fold = lambda c: F.aggregate(
        F.sort_array(c), F.lit(0.0), lambda a, x: a + x["t"]
    )
    out = (
        ranked.where((F.col("_p") <= k) | (F.col("_ip") <= k))
        .groupBy(F.col("_q").alias(query_col))
        .agg(
            fold(
                F.collect_list(
                    F.when(
                        F.col("_p") <= k,
                        F.struct(
                            F.col("_p").alias("p"),
                            (
                                F.col("_rel").cast("double")
                                * F.element_at(warr, F.col("_p"))
                            ).alias("t"),
                        ),
                    )
                )
            ).alias("_dcg"),
            fold(
                F.collect_list(
                    F.when(
                        F.col("_ip") <= k,
                        F.struct(
                            F.col("_ip").alias("p"),
                            (
                                F.col("_rel").cast("double")
                                * F.element_at(warr, F.col("_ip"))
                            ).alias("t"),
                        ),
                    )
                )
            ).alias("_idcg"),
        )
    )
    return out.select(
        query_col,
        F.round(F.col("_dcg"), round_to).alias("dcg"),
        F.round(F.col("_idcg"), round_to).alias("idcg"),
        F.round(
            F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")),
            round_to,
        ).alias("ndcg"),
    )


def ndcg_at_k_oracle_sql(
    candidates_sql: str,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same deterministic row_number ranks, the SAME k
    weight literals (repr of the Python doubles), same position-ordered
    folds."""
    w = _dcg_weights(k)
    case = (
        "CASE _p "
        + " ".join(f"WHEN {p + 1} THEN {w[p]!r}" for p in range(k))
        + " END"
    )
    case_i = case.replace("_p", "_ip")
    return f"""
WITH base AS (
  SELECT {query_col} AS _q, {id_col} AS _id, {score_col} AS _s,
         CAST({rel_col} AS BIGINT) AS _rel
  FROM ({candidates_sql})
),
ranked AS (
  SELECT _q, _rel,
         ROW_NUMBER() OVER (PARTITION BY _q ORDER BY _s DESC, _id ASC) AS _p,
         ROW_NUMBER() OVER (PARTITION BY _q ORDER BY _rel DESC, _id ASC) AS _ip
  FROM base
),
agg AS (
  SELECT _q AS {query_col},
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_rel AS DOUBLE) * ({case}) ORDER BY _p)
             FILTER (WHERE _p <= {k})),
           (a, b) -> a + b) AS _dcg,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_rel AS DOUBLE) * ({case_i}) ORDER BY _ip)
             FILTER (WHERE _ip <= {k})),
           (a, b) -> a + b) AS _idcg
  FROM ranked WHERE _p <= {k} OR _ip <= {k}
  GROUP BY _q
)
SELECT {query_col}, ROUND(_dcg, {round_to}) AS dcg,
       ROUND(_idcg, {round_to}) AS idcg,
       ROUND(CASE WHEN _idcg > 0 THEN _dcg / _idcg END, {round_to}) AS ndcg
FROM agg
"""


def mean_avg_precision(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-query Average Precision over a scored candidate list with
    BINARY relevance — the order-sensitive companion to :func:`rank_auc`
    (AUC scores the global ranking; AP front-loads it: a relevant doc
    at position 1 is worth more than at position 50):

        AP = (1/R) · Σ_{p: rel_p = 1} hits@p / p.

    Exactness: hits@p is an exact integer cumulative count over the
    deterministic (score DESC, id ASC) ranking; each hit's precision
    hits@p/p is one pinned division; the AP sum is an ORDERED fold over
    the position-sorted hit list. Output: one row per query
    ``(query, n_candidates, n_relevant, ap)`` — NULL ap when the query
    has no relevant candidate.

    Scale: the contract is a CANDIDATE LIST per query (a retrieval
    stage's top-N output, bounded by construction), not a corpus scan —
    per-query state is O(candidates). Fully distributed across queries.
    """
    from pyspark.sql import Window as W

    rel = F.col(rel_col).cast("int")
    base = df.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_s"),
        rel.alias("_rel"),
    )
    byq = W.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_id").asc())
    cum = W.partitionBy("_q").orderBy(F.col("_p").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = base.withColumn("_p", F.row_number().over(byq)).withColumn(
        "_hits", F.sum("_rel").over(cum)
    )
    out = ranked.groupBy(F.col("_q").alias(query_col)).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("_rel").cast("long").alias("n_relevant"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rel") == 1,
                        F.struct(
                            F.col("_p").alias("p"),
                            (
                                F.col("_hits").cast("double")
                                / F.col("_p").cast("double")
                            ).alias("t"),
                        ),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["t"],
        ).alias("_apsum"),
    )
    return out.select(
        query_col,
        "n_candidates",
        "n_relevant",
        F.round(
            F.when(
                F.col("n_relevant") > 0,
                F.col("_apsum") / F.col("n_relevant").cast("double"),
            ),
            round_to,
        ).alias("ap"),
    )


def mean_avg_precision_oracle_sql(
    candidates_sql: str,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same deterministic ranking, integer hits@p cumsum,
    position-ordered precision fold, one final division."""
    return f"""
WITH base AS (
  SELECT {query_col} AS _q, {id_col} AS _id, {score_col} AS _s,
         CAST({rel_col} AS INTEGER) AS _rel
  FROM ({candidates_sql})
),
ranked AS (
  SELECT _q, _rel,
         ROW_NUMBER() OVER (PARTITION BY _q ORDER BY _s DESC, _id ASC) AS _p
  FROM base
),
hits AS (
  SELECT _q, _rel, _p,
         SUM(_rel) OVER (PARTITION BY _q ORDER BY _p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _hits
  FROM ranked
),
agg AS (
  SELECT _q AS {query_col},
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(_rel) AS BIGINT) AS n_relevant,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_hits AS DOUBLE) / CAST(_p AS DOUBLE) ORDER BY _p)
             FILTER (WHERE _rel = 1)),
           (a, b) -> a + b) AS _apsum
  FROM hits
  GROUP BY _q
)
SELECT {query_col}, n_candidates, n_relevant,
       ROUND(CASE WHEN n_relevant > 0
             THEN _apsum / CAST(n_relevant AS DOUBLE) END, {round_to}) AS ap
FROM agg
"""


def matthews_corr(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Matthews correlation coefficient per segment — the single-number
    binary-classifier readout that stays honest under class imbalance
    (accuracy and F1 both inflate when one class dominates, the normal
    condition for PII/quality/contamination gates):

        MCC = (TP·TN − FP·FN) /
              sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)).

    Exactness: four integer confusion cells from one conditional
    aggregation, DECIMAL(38,0) cross products, one pinned sqrt tail —
    NULL when any marginal is 0 (the undefined case). Output per
    segment: ``(*by, tp, fp, tn, fn, mcc)``.
    """
    keys = list(by or [])
    a = F.col(actual_col).cast("boolean")
    p = F.col(pred_col).cast("boolean")
    per = df.groupBy(*keys).agg(
        F.sum(F.when(a & p, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~a & p, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~a & ~p, 1).otherwise(0)).alias("tn"),
        F.sum(F.when(a & ~p, 1).otherwise(0)).alias("fn"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    num = (dec(tp) * dec(tn) - dec(fp) * dec(fn)).cast("double")
    m1, m2, m3, m4 = tp + fp, tp + fn, tn + fp, tn + fn
    den = F.sqrt(
        (dec(m1) * dec(m2)).cast("double") * (dec(m3) * dec(m4)).cast("double")
    )
    ok = (m1 > 0) & (m2 > 0) & (m3 > 0) & (m4 > 0)
    out = per.select(
        *keys, "tp", "fp", "tn", "fn",
        F.round(F.when(ok, num / den), round_to).alias("mcc"),
    )
    return out.orderBy(*keys) if keys else out


def matthews_corr_oracle_sql(
    pairs_sql: str,
    actual_col: str,
    pred_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same four cells, HUGEINT cross products, same
    pinned sqrt tail and zero-marginal NULL guard."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    a = f"CAST({actual_col} AS BOOLEAN)"
    p = f"CAST({pred_col} AS BOOLEAN)"
    return f"""
WITH pairs AS ({pairs_sql}),
per AS (
  SELECT {sel}
         CAST(SUM(CASE WHEN {a} AND {p} THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN NOT {a} AND {p} THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN NOT {a} AND NOT {p} THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(SUM(CASE WHEN {a} AND NOT {p} THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pairs {("GROUP BY " + gc) if keys else ""}
)
SELECT {sel}tp, fp, tn, fn,
       ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
             THEN CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
                       - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE)
                  / SQRT(CAST(CAST(tp + fp AS HUGEINT) * CAST(tp + fn AS HUGEINT) AS DOUBLE)
                         * CAST(CAST(tn + fp AS HUGEINT) * CAST(tn + fn AS HUGEINT) AS DOUBLE))
             END, {round_to}) AS mcc
FROM per {order}
"""


def brier_decomposition(
    df: DataFrame,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Murphy (1973) decomposition of the binned Brier score —
    reliability − resolution + uncertainty, the WHY behind the single
    numbers :func:`expected_calibration_error` and
    :func:`calibration_curve` report (a scorer can have low ECE by
    being uselessly uniform; resolution is what says it actually
    separates the classes):

        brier       = (1/N) Σ_b [k_b·(mid_b − 1)² + (n_b − k_b)·mid_b²]
        reliability = (1/N) Σ_b n_b·(mid_b − acc_b)²
        resolution  = (1/N) Σ_b n_b·(acc_b − ȳ)²
        uncertainty = ȳ·(1 − ȳ)

    in the same MIDPOINT convention as `expected_calibration_error`
    (per-row rational confidences would be an order-dependent float
    sum; bin midpoints are constants), over binning byte-identical to
    `calibration_curve`. The Murphy identity
    ``brier = reliability − resolution + uncertainty`` then holds
    EXACTLY (it is algebraic for any bin-constant confidence), which
    doubles as the acceptance test. Per-bin counts are exact integers,
    each term folds bin-ordered (≤ n_bins terms), divisions pinned.
    Output one row: ``(n_docs, n_bins_hit, brier, reliability,
    resolution, uncertainty)``.
    """
    nb = int(n_bins)
    num = F.col(num_col).cast("double")
    den = F.col(den_col).cast("double")
    span = float(score_max - score_min + 1)
    raw = F.floor(
        (num - F.lit(float(score_min)) * den) * F.lit(float(nb)) / (F.lit(span) * den)
    )
    b = F.greatest(F.lit(0), F.least(F.lit(nb - 1), raw)).cast("int")
    base = df.where(
        F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
        & (F.col(den_col) > 0)
        & F.col(label_col).isNotNull()
    )
    per = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(label_col).cast("boolean").cast("int")).alias("_p"),
    )
    mid = (F.col("bin").cast("double") + F.lit(0.5)) / F.lit(float(nb))
    nd_ = F.col("_n").cast("double")
    pd_ = F.col("_p").cast("double")
    acc = pd_ / nd_
    t_brier = pd_ * (mid - F.lit(1.0)) * (mid - F.lit(1.0)) + (nd_ - pd_) * mid * mid
    t_rel = nd_ * (mid - acc) * (mid - acc)
    agg = per.agg(
        F.sum("_n").alias("n_docs"),
        F.sum("_p").alias("_k"),
        F.count(F.lit(1)).alias("n_bins_hit"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("bin"),
                    t_brier.alias("tb"),
                    t_rel.alias("tr"),
                    nd_.alias("n"),
                    acc.alias("acc"),
                )
            )
        ).alias("_terms"),
    )
    n_all = F.col("n_docs").cast("double")
    ybar = F.col("_k").cast("double") / n_all
    fold = lambda expr: F.aggregate(F.col("_terms"), F.lit(0.0), expr)
    agg = agg.withColumn("_brier", fold(lambda a, x: a + x["tb"]) / n_all)
    agg = agg.withColumn("_rel", fold(lambda a, x: a + x["tr"]) / n_all)
    agg = agg.withColumn(
        "_res",
        fold(lambda a, x: a + x["n"] * (x["acc"] - ybar) * (x["acc"] - ybar))
        / n_all,
    )
    ok = F.col("n_docs") > 0
    return agg.select(
        "n_docs",
        "n_bins_hit",
        F.round(F.when(ok, F.col("_brier")), round_to).alias("brier"),
        F.round(F.when(ok, F.col("_rel")), round_to).alias("reliability"),
        F.round(F.when(ok, F.col("_res")), round_to).alias("resolution"),
        F.round(F.when(ok, ybar * (F.lit(1.0) - ybar)), round_to).alias(
            "uncertainty"
        ),
    )


def brier_decomposition_oracle_sql(
    scored_sql: str,
    num_col: str,
    den_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical binning, identical bin-ordered folds of
    the identical per-bin terms, same pinned tails."""
    nb = int(n_bins)
    span = float(score_max - score_min + 1)
    mid = f"(CAST(bin AS DOUBLE) + 0.5) / {float(nb)!r}"
    return f"""
WITH scored AS ({scored_sql}),
base AS (
  SELECT * FROM scored
  WHERE {num_col} IS NOT NULL AND {den_col} IS NOT NULL
    AND {den_col} > 0 AND {label_col} IS NOT NULL
),
per AS (
  SELECT CAST(GREATEST(0, LEAST({nb - 1},
           FLOOR((CAST({num_col} AS DOUBLE) - {float(score_min)!r} * CAST({den_col} AS DOUBLE))
                 * {float(nb)!r} / ({span!r} * CAST({den_col} AS DOUBLE))))) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS _n,
         CAST(SUM(CASE WHEN CAST({label_col} AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS _p
  FROM base GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(_n) AS BIGINT) AS n_docs,
         CAST(SUM(_p) AS BIGINT) AS _k,
         CAST(COUNT(*) AS BIGINT) AS n_bins_hit,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_p AS DOUBLE) * ({mid} - 1.0) * ({mid} - 1.0)
                + (CAST(_n AS DOUBLE) - CAST(_p AS DOUBLE)) * {mid} * {mid}
                ORDER BY bin)), (a, b) -> a + b) AS _tb,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_n AS DOUBLE)
                * ({mid} - CAST(_p AS DOUBLE) / CAST(_n AS DOUBLE))
                * ({mid} - CAST(_p AS DOUBLE) / CAST(_n AS DOUBLE))
                ORDER BY bin)), (a, b) -> a + b) AS _tr,
         list(struct_pack(bin := bin, n := CAST(_n AS DOUBLE),
                          acc := CAST(_p AS DOUBLE) / CAST(_n AS DOUBLE))
              ORDER BY bin) AS _rows
  FROM per
),
calc AS (
  SELECT n_docs, n_bins_hit,
         _tb / CAST(n_docs AS DOUBLE) AS _brier,
         _tr / CAST(n_docs AS DOUBLE) AS _rel,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(_rows, x ->
             x.n * (x.acc - CAST(_k AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * (x.acc - CAST(_k AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
           (a, b) -> a + b) / CAST(n_docs AS DOUBLE) AS _res,
         CAST(_k AS DOUBLE) / CAST(n_docs AS DOUBLE)
           * (1.0 - CAST(_k AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS _unc
  FROM agg
)
SELECT n_docs, n_bins_hit,
       ROUND(CASE WHEN n_docs > 0 THEN _brier END, {round_to}) AS brier,
       ROUND(CASE WHEN n_docs > 0 THEN _rel END, {round_to}) AS reliability,
       ROUND(CASE WHEN n_docs > 0 THEN _res END, {round_to}) AS resolution,
       ROUND(CASE WHEN n_docs > 0 THEN _unc END, {round_to}) AS uncertainty
FROM calc
"""


def mrr_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Mean Reciprocal Rank @ k — the first-hit ranking readout that
    completes the retrieval-eval family (:func:`ndcg_at_k` grades the
    whole list, :func:`mean_avg_precision` order-weights every hit; MRR
    is the "how fast does the user reach ONE good result" number that
    navigational queries are judged by):

        MRR = (1/|Q|) Σ_q 1 / rank_q(first relevant in top k),  0 if none.

    Exactness: ranks are ``row_number`` with the deterministic
    (score DESC, id ASC) tiebreak; the first relevant rank per query is
    an exact integer (MIN over an integer column); each 1/rank is one
    correctly-rounded division and the cross-query mean runs as a
    QUERY-ORDERED float fold (cross-row float sums are order-dependent
    — the house rule). Output one row: ``(n_queries, n_hit, mrr)``.
    Plan: one query-partitioned rank window → per-query min → one
    bounded fold row (queries = a bounded eval set by contract, the
    ndcg/map precedent).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(query_col).alias("_q"),
        F.row_number().over(w).alias("_p"),
        F.col(rel_col).cast("boolean").alias("_rel"),
    ).where(F.col("_p") <= k)
    per = ranked.groupBy("_q").agg(
        F.min(F.when(F.col("_rel"), F.col("_p"))).alias("_first")
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.when(F.col("_first").isNotNull(), 1).otherwise(0)).alias(
            "n_hit"
        ),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_q").alias("q"),
                    F.when(
                        F.col("_first").isNotNull(),
                        F.lit(1.0) / F.col("_first").cast("double"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("rr"),
                )
            )
        ).alias("_terms"),
    )
    mrr = F.aggregate(
        F.col("_terms"), F.lit(0.0), lambda a, x: a + x["rr"]
    ) / F.col("n_queries").cast("double")
    return agg.select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.round(F.when(F.col("n_queries") > 0, mrr), round_to).alias("mrr"),
    )


def mrr_at_k_oracle_sql(
    candidates_sql: str,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same deterministic ranks, same per-query first-hit
    minimum, same query-ordered reciprocal fold."""
    return f"""
WITH cand AS ({candidates_sql}),
ranked AS (
  SELECT {query_col} AS _q,
         row_number() OVER (PARTITION BY {query_col}
                            ORDER BY {score_col} DESC, {id_col} ASC) AS _p,
         CAST({rel_col} AS BOOLEAN) AS _rel
  FROM cand
  QUALIFY _p <= {k}
),
per AS (
  SELECT _q, MIN(CASE WHEN _rel THEN _p END) AS _first
  FROM ranked GROUP BY _q
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(CASE WHEN _first IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CASE WHEN _first IS NOT NULL
                THEN 1.0 / CAST(_first AS DOUBLE) ELSE 0.0 END ORDER BY _q)),
           (a, b) -> a + b) AS _rrsum
  FROM per
)
SELECT n_queries, n_hit,
       ROUND(CASE WHEN n_queries > 0
             THEN _rrsum / CAST(n_queries AS DOUBLE) END, {round_to}) AS mrr
FROM agg
"""
