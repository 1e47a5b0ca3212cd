"""Categorical association and correlation — chi², effect-size
variants, trend tests, and rank correlations, split out of
``profile.py`` (round 12). ``operators.profile`` re-exports every name
here, so existing imports keep working.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T  # noqa: F401

from .guards import integral_long  # noqa: F401


def contingency_chi2(
    df: DataFrame,
    row_col: str,
    col_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Pearson chi-square contribution table for a two-way contingency:
    observed counts, independence-expected counts ``row_tot·col_tot/N``,
    and per-cell ``(O−E)²/E`` — the categorical drift/independence
    screen (e.g. does the label distribution shift across sources?).
    Summing ``chi2_term`` gives the statistic with
    ``(rows−1)(cols−1)`` degrees of freedom.

    One count aggregate + two O(categories) broadcast joins; all counts
    are exact integers and the float math is a fixed expression, so the
    table hash-matches a SQL oracle. Cells absent from the data (O=0
    but both margins positive) are included via the margin cross join —
    their ``(0−E)²/E = E`` contribution is part of the statistic.
    """
    base = df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
    cells = base.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("observed"))
    rows = base.groupBy(row_col).agg(F.count(F.lit(1)).alias("_rt"))
    cols = base.groupBy(col_col).agg(F.count(F.lit(1)).alias("_ct"))
    n = base.agg(F.count(F.lit(1)).alias("_n"))
    full = (
        rows.crossJoin(F.broadcast(cols))
        .join(F.broadcast(cells), [row_col, col_col], "left")
        .crossJoin(F.broadcast(n))
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)))
    )
    # fixed order: (rt·ct)/n with the numerator an exact int64 product
    # (rt, ct ≤ n ≤ 3e9 keeps rt·ct < 2^63; cast to double once)
    expected = (F.col("_rt") * F.col("_ct")).cast("double") / F.col("_n").cast("double")
    dev = F.col("observed").cast("double") - expected
    return full.select(
        row_col,
        col_col,
        "observed",
        F.round(expected, round_to).alias("expected"),
        F.round(dev * dev / expected, round_to).alias("chi2_term"),
    )


def contingency_chi2_oracle_sql(
    table_expr: str, row_col: str, col_col: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`contingency_chi2`."""
    return f"""
WITH b AS (
  SELECT {row_col} AS r, {col_col} AS c FROM {table_expr}
  WHERE {row_col} IS NOT NULL AND {col_col} IS NOT NULL
), cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS observed FROM b GROUP BY r, c),
rt AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS rtot FROM b GROUP BY r),
ct AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS ctot FROM b GROUP BY c),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
grid AS (
  SELECT rt.r, ct.c, COALESCE(cells.observed, 0) AS observed, rt.rtot, ct.ctot, nn.n
  FROM rt CROSS JOIN ct
  LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c
  CROSS JOIN nn
)
SELECT r AS {row_col}, c AS {col_col}, observed,
       ROUND(CAST(rtot * ctot AS DOUBLE) / CAST(n AS DOUBLE), {round_to}) AS expected,
       ROUND((CAST(observed AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(observed AS DOUBLE) - CAST(rtot * ctot AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rtot * ctot AS DOUBLE) / CAST(n AS DOUBLE)), {round_to}) AS chi2_term
FROM grid
"""


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cramér's V — the [0, 1] effect-size normalization of
    :func:`contingency_chi2` (χ² alone grows with N, so "is this
    association big" needs V = sqrt(χ² / (N·(min(r,c)−1)))). Chosen
    over mutual information because sqrt is IEEE exactly-rounded while
    MI's logarithms are not — the same determinism argument as
    `hellinger_drift`.

    One pass through the chi2 contribution table (same two margin
    broadcasts), then one scalar aggregate. Output one row:
    ``(n, n_rows, n_cols, chi2, dof, v)`` (V NULL for degenerate 1×k
    tables).
    """
    terms = contingency_chi2(df, row_col, col_col, round_to=12)
    base = df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
    n = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(row_col).alias("n_rows"),
        F.countDistinct(col_col).alias("n_cols"),
    )
    chi2 = terms.agg(F.sum("chi2_term").alias("_chi2"))
    joined = n.crossJoin(F.broadcast(chi2))
    k = F.least(F.col("n_rows"), F.col("n_cols")) - F.lit(1)
    dof = (F.col("n_rows") - F.lit(1)) * (F.col("n_cols") - F.lit(1))
    v = F.sqrt(
        F.col("_chi2") / (F.col("n").cast("double") * k.cast("double"))
    )
    return joined.select(
        "n",
        "n_rows",
        "n_cols",
        F.round(F.col("_chi2"), round_to).alias("chi2"),
        dof.cast("long").alias("dof"),
        F.round(F.when(k > 0, v), round_to).alias("v"),
    )


def cramers_v_oracle_sql(
    table_expr: str, row_col: str, col_col: str, round_to: int = 6
) -> str:
    """DuckDB twin: the contingency oracle's chi2 sum, same
    normalization and exactly-rounded sqrt."""
    chi2_sql = contingency_chi2_oracle_sql(table_expr, row_col, col_col, round_to=12)
    return f"""
WITH terms AS ({chi2_sql}),
base AS (SELECT * FROM {table_expr}
         WHERE {row_col} IS NOT NULL AND {col_col} IS NOT NULL),
nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT {row_col}) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT {col_col}) AS BIGINT) AS n_cols
  FROM base
),
c2 AS (SELECT SUM(chi2_term) AS _chi2 FROM terms)
SELECT n, n_rows, n_cols,
       ROUND(_chi2, {round_to}) AS chi2,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
       ROUND(CASE WHEN LEAST(n_rows, n_cols) > 1 THEN
         SQRT(_chi2 / (CAST(n AS DOUBLE)
                       * CAST(LEAST(n_rows, n_cols) - 1 AS DOUBLE))) END,
         {round_to}) AS v
FROM nn CROSS JOIN c2
"""


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cochran-Armitage trend test: is a binary outcome's rate
    MONOTONICALLY drifting across ordered integer dose buckets (score
    deciles, time buckets, exposure counts)? The ordered-category
    sibling of :func:`prop_ztest` (which compares two unordered arms):

        T = Σ_i s_i·k_i − S·(Σ_i n_i·k_i)/N
        Var(T) = p(1−p)·[Σ n_i·k_i² − (Σ n_i·k_i)²/N],  p = S/N
        z = T / sqrt(Var)

    where k_i is the integer dose, n_i/s_i the trials/successes in
    bucket i. Exactness: the five moments (N, S, Σnk, Σnk², Σsk) come
    from ONE map-side-combined aggregation as exact integers (DECIMAL
    for the k² products — int64 wraps at ~10⁹ rows of 10⁵ doses); the
    z tail is the pinned float sequence reproduced token-for-token in
    the oracle. z is NULL when the variance is 0 (single dose level or
    degenerate rates). Output one row: ``(n, s, n_doses, z)``.
    """
    k = F.col(dose_col).cast("long")
    s = F.col(success_col).cast("boolean").cast("int").cast("long")
    dec = lambda c: c.cast("decimal(38,0)")
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(s).alias("_s"),
        F.sum(dec(k)).alias("_nk"),
        F.sum(dec(k) * dec(k)).alias("_nk2"),
        F.sum(dec(s * k)).alias("_sk"),
        F.countDistinct(k).alias("n_doses"),
    )
    nd = F.col("_n").cast("double")
    sd = F.col("_s").cast("double")
    nk = F.col("_nk").cast("double")
    nk2 = F.col("_nk2").cast("double")
    sk = F.col("_sk").cast("double")
    p = sd / nd
    t = sk - sd * nk / nd
    var = p * (F.lit(1.0) - p) * (nk2 - nk * nk / nd)
    z = t / F.sqrt(var)
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_s").alias("s"),
        "n_doses",
        F.round(F.when(var > 0, z), round_to).alias("z"),
    )


def cochran_armitage_oracle_sql(
    units_sql: str,
    dose_col: str,
    success_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same five HUGEINT moments, same pinned float tail."""
    return f"""
WITH units AS ({units_sql}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS _n,
         CAST(SUM(CASE WHEN CAST({success_col} AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS _s,
         SUM(CAST({dose_col} AS HUGEINT)) AS _nk,
         SUM(CAST({dose_col} AS HUGEINT) * CAST({dose_col} AS HUGEINT)) AS _nk2,
         SUM(CASE WHEN CAST({success_col} AS BOOLEAN)
             THEN CAST({dose_col} AS HUGEINT) ELSE 0 END) AS _sk,
         CAST(COUNT(DISTINCT CAST({dose_col} AS BIGINT)) AS BIGINT) AS n_doses
  FROM units
)
SELECT _n AS n, _s AS s, n_doses,
       ROUND(CASE WHEN (CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))
                       * (1.0 - CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))
                       * (CAST(_nk2 AS DOUBLE)
                          - CAST(_nk AS DOUBLE) * CAST(_nk AS DOUBLE)
                            / CAST(_n AS DOUBLE)) > 0
             THEN (CAST(_sk AS DOUBLE)
                   - CAST(_s AS DOUBLE) * CAST(_nk AS DOUBLE) / CAST(_n AS DOUBLE))
                  / SQRT((CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))
                         * (1.0 - CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))
                         * (CAST(_nk2 AS DOUBLE)
                            - CAST(_nk AS DOUBLE) * CAST(_nk AS DOUBLE)
                              / CAST(_n AS DOUBLE))) END, {round_to}) AS z
FROM agg
"""


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-segment 2×2 effect sizes — odds ratio and relative risk with
    their log-scale standard errors, the epidemiology-standard
    companion readouts to :func:`contingency_chi2` (chi² says "is
    there an association"; OR/RR say how big and which way):

        OR = (a·d)/(b·c),   RR = [a/(a+b)] / [c/(c+d)]
        se_ln_or = sqrt(1/a + 1/b + 1/c + 1/d)

    with a=exposed∧outcome, b=exposed∧¬outcome, c=¬exposed∧outcome,
    d=¬exposed∧¬outcome. One conditional aggregation of exact integer
    counts per segment; every statistic is a pinned float expression
    over those four ints (DECIMAL cross-products for OR's numerator /
    denominator — a·d wraps int64 at ~3e9² cells), NULL whenever a
    zero cell makes it undefined (no Haldane fudge — callers who want
    +0.5 smoothing can add it to the counts explicitly). Output:
    ``(*by, a, b, c, d, odds_ratio, relative_risk, se_ln_or)``.
    """
    keys = list(by or [])
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    cell = lambda ec, oc, name: F.sum(
        F.when(e.eqNullSafe(ec) & o.eqNullSafe(oc), 1).otherwise(0)
    ).alias(name)
    per = df.groupBy(*keys).agg(
        cell(True, True, "a"),
        cell(True, False, "b"),
        cell(False, True, "c"),
        cell(False, False, "d"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    a, b, c, d = (F.col(x) for x in "abcd")
    orr = (dec(a) * dec(d)).cast("double") / (dec(b) * dec(c)).cast("double")
    rr = (
        a.cast("double") / (a + b).cast("double")
    ) / (c.cast("double") / (c + d).cast("double"))
    se = F.sqrt(
        F.lit(1.0) / a.cast("double")
        + F.lit(1.0) / b.cast("double")
        + F.lit(1.0) / c.cast("double")
        + F.lit(1.0) / d.cast("double")
    )
    allpos = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    out = per.select(
        *keys,
        "a",
        "b",
        "c",
        "d",
        F.round(F.when(allpos, orr), round_to).alias("odds_ratio"),
        F.round(
            F.when((a + b > 0) & (c > 0) & (c + d > 0), rr), round_to
        ).alias("relative_risk"),
        F.round(F.when(allpos, se), round_to).alias("se_ln_or"),
    )
    return out.orderBy(*keys) if keys else out


def odds_ratio_oracle_sql(
    units_sql: str,
    exposure_col: str,
    outcome_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same four HUGEINT cells, same pinned expressions
    and zero-cell NULL guards."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = f"{gc}, " if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    e = f"CAST({exposure_col} AS BOOLEAN)"
    o = f"CAST({outcome_col} AS BOOLEAN)"
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {sel}
         CAST(SUM(CASE WHEN {e} AND {o} THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN {e} AND NOT {o} THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT {e} AND {o} THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN NOT {e} AND NOT {o} THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM units {("GROUP BY " + gc) if keys else ""}
)
SELECT {sel}a, b, c, d,
       ROUND(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN CAST(CAST(a AS HUGEINT) * CAST(d AS HUGEINT) AS DOUBLE)
                  / CAST(CAST(b AS HUGEINT) * CAST(c AS HUGEINT) AS DOUBLE)
             END, {round_to}) AS odds_ratio,
       ROUND(CASE WHEN a + b > 0 AND c > 0 AND c + d > 0
             THEN (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                  / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE))
             END, {round_to}) AS relative_risk,
       ROUND(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN SQRT(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                       + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))
             END, {round_to}) AS se_ln_or
FROM per {order}
"""


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
    round_to: int = 6,
    max_strata: int | None = 10_000,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata — the
    confounder-adjusted completion of :func:`odds_ratio` (crude OR
    answers "does treatment associate with outcome"; MH answers it
    WITHIN each stratum and pools, the classic Simpson's-paradox
    guard):

        OR_MH = Σ_i (a_i·d_i / n_i) / Σ_i (b_i·c_i / n_i),

    reported next to the CRUDE pooled OR (Σa·Σd)/(Σb·Σc) — the two
    disagreeing is the confounding readout. Exactness: the four cells
    per stratum are exact integers; each a·d/n term is one pinned
    division folded in STRATUM ORDER (bounded catalog by contract,
    ``max_strata`` guard); the crude OR is exact DECIMAL products with
    one division. Output one row: ``(n_strata, n, or_crude, or_mh)`` —
    NULL ORs when a denominator is 0.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(stratum_col, max_strata, stratum_col)], "mantel_haenszel"
    )
    dec = lambda c: c.cast("decimal(38,0)")
    t = F.col(treat_col).cast("int")
    o = F.col(outcome_col).cast("int")
    per = df.groupBy(F.col(stratum_col).alias("_q")).agg(
        F.sum(F.when((t == 1) & (o == 1), 1).otherwise(0)).alias("_a"),
        F.sum(F.when((t == 1) & (o == 0), 1).otherwise(0)).alias("_b"),
        F.sum(F.when((t == 0) & (o == 1), 1).otherwise(0)).alias("_c"),
        F.sum(F.when((t == 0) & (o == 0), 1).otherwise(0)).alias("_d"),
    )
    ni = F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")
    term = lambda p, q: (dec(p) * dec(q)).cast("double") / ni.cast("double")
    agg = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(ni).alias("n"),
        F.sum(dec(F.col("_a"))).alias("_sa"),
        F.sum(dec(F.col("_b"))).alias("_sb"),
        F.sum(dec(F.col("_c"))).alias("_sc"),
        F.sum(dec(F.col("_d"))).alias("_sd"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_q").alias("q"),
                    term(F.col("_a"), F.col("_d")).alias("ad"),
                    term(F.col("_b"), F.col("_c")).alias("bc"),
                )
            )
        ).alias("_terms"),
    )
    folded = agg.withColumn(
        "_sad",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["ad"]),
    ).withColumn(
        "_sbc",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["bc"]),
    )
    crude_num = (F.col("_sa") * F.col("_sd")).cast("double")
    crude_den = (F.col("_sb") * F.col("_sc")).cast("double")
    return folded.select(
        "n_strata",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when(crude_den > 0, crude_num / crude_den), round_to
        ).alias("or_crude"),
        F.round(
            F.when(F.col("_sbc") > 0, F.col("_sad") / F.col("_sbc")),
            round_to,
        ).alias("or_mh"),
    )


def mantel_haenszel_oracle_sql(
    units_sql: str,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same per-stratum cells, same stratum-ordered
    a·d/n and b·c/n folds, same crude-OR DECIMAL products."""
    t = f"CAST({treat_col} AS INTEGER)"
    o = f"CAST({outcome_col} AS INTEGER)"
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {stratum_col} AS _q,
         CAST(SUM(CASE WHEN {t} = 1 AND {o} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _a,
         CAST(SUM(CASE WHEN {t} = 1 AND {o} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS _b,
         CAST(SUM(CASE WHEN {t} = 0 AND {o} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _c,
         CAST(SUM(CASE WHEN {t} = 0 AND {o} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS _d
  FROM units GROUP BY {stratum_col}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(_a + _b + _c + _d) AS BIGINT) AS n,
         SUM(CAST(_a AS HUGEINT)) AS _sa, SUM(CAST(_b AS HUGEINT)) AS _sb,
         SUM(CAST(_c AS HUGEINT)) AS _sc, SUM(CAST(_d AS HUGEINT)) AS _sd,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(CAST(_a AS HUGEINT) * CAST(_d AS HUGEINT) AS DOUBLE)
                / CAST(_a + _b + _c + _d AS DOUBLE) ORDER BY _q)),
           (x, y) -> x + y) AS _sad,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(CAST(_b AS HUGEINT) * CAST(_c AS HUGEINT) AS DOUBLE)
                / CAST(_a + _b + _c + _d AS DOUBLE) ORDER BY _q)),
           (x, y) -> x + y) AS _sbc
  FROM per
)
SELECT n_strata, n,
       ROUND(CASE WHEN CAST(_sb * _sc AS DOUBLE) > 0
             THEN CAST(_sa * _sd AS DOUBLE) / CAST(_sb * _sc AS DOUBLE)
             END, {round_to}) AS or_crude,
       ROUND(CASE WHEN _sbc > 0 THEN _sad / _sbc END, {round_to}) AS or_mh
FROM agg
"""


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation with average ranks for ties —
    the scorer-agreement readout (how consistently do two quality
    signals order the same corpus?). Engine-exact: the average rank
    ``RANK() + (ties−1)/2`` is kept integral by DOUBLING it
    (``2·RANK() + ties − 1``; Pearson is affine-invariant, so rho is
    unchanged), the five moment sums accumulate in DECIMAL(38,0), and
    the closed form is the fixed expression of `grouped_linreg` —
    hash-matches SQL. Constant-valued sides (zero rank variance) return
    NULL.

    Plan: two rank windows per group (each one shuffle on the group
    key — the second reuses the first's partitioning) + one map-side-
    combined moment aggregation.
    """
    from pyspark.sql import Window

    by = list(by or [])
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    wx = Window.partitionBy(*by).orderBy(F.col(x_col).asc())
    wy = Window.partitionBy(*by).orderBy(F.col(y_col).asc())
    tx = Window.partitionBy(*by, x_col)
    ty = Window.partitionBy(*by, y_col)
    ranked = base.select(
        *by,
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(tx) - 1).alias("_rx"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(ty) - 1).alias("_ry"),
    )
    rx = F.col("_rx").cast("long")
    ry = F.col("_ry").cast("long")
    agg = ranked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("_sx"),
        F.sum(ry).alias("_sy"),
        F.sum((rx * rx).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((rx * ry).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((ry * ry).cast("decimal(38,0)")).alias("_syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cov_n = nd * F.col("_sxy").cast("double") - sx * sy
    varx_n = nd * F.col("_sxx").cast("double") - sx * sx
    vary_n = nd * F.col("_syy").cast("double") - sy * sy
    rho = cov_n / (F.sqrt(varx_n) * F.sqrt(vary_n))
    return agg.select(
        *by,
        "n",
        F.round(F.when((varx_n > 0) & (vary_n > 0), rho), round_to).alias("rho"),
    )


def spearman_corr_oracle_sql(
    table_expr: str,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical doubled average ranks, HUGEINT-exact
    moment sums, same fixed-order float expression."""
    by = list(by or [])
    gc = ", ".join(by)
    gsel = f"{gc}, " if by else ""
    gby = f"GROUP BY {gc}" if by else ""
    pb = f"PARTITION BY {gc}" if by else ""
    pbx = f"PARTITION BY {gc + ', ' if by else ''}{x_col}"
    pby = f"PARTITION BY {gc + ', ' if by else ''}{y_col}"
    return f"""
WITH b AS (
  SELECT * FROM {table_expr}
  WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
), rk AS (
  SELECT {gsel}
         2 * RANK() OVER ({pb} ORDER BY {x_col} ASC) + COUNT(*) OVER ({pbx}) - 1 AS rx,
         2 * RANK() OVER ({pb} ORDER BY {y_col} ASC) + COUNT(*) OVER ({pby}) - 1 AS ry
  FROM b
), a AS (
  SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
         SUM(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
         SUM(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
  FROM rk {gby}
), d AS (
  SELECT {gsel}n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n
  FROM a
)
SELECT {gsel}n,
       ROUND(CASE WHEN varx_n > 0 AND vary_n > 0
             THEN cov_n / (sqrt(varx_n) * sqrt(vary_n)) END, {round_to}) AS rho
FROM d
"""


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 6,
    max_x_buckets: int | None = 1000,
    max_y_buckets: int | None = 1000,
    max_cells: int | None = 25_000,
) -> DataFrame:
    """Kendall's τ-b rank correlation over two BOUNDED-spine columns —
    the concordance companion to the Spearman/Pearson correlations the
    repo already carries (Spearman measures monotone fit via ranks;
    τ-b counts concordant vs discordant PAIRS, the more robust readout
    under heavy ties):

        τ_b = (C − D) / sqrt((n0 − n1)(n0 − n2)),
        n0 = n(n−1)/2, n1 = Σ t_x(t_x−1)/2, n2 = Σ t_y(t_y−1)/2.

    Exactness AND scale: naive τ is O(n²) over ROWS — undistributable.
    Over bucketed spines it collapses to the joint histogram: C and D
    are cell-pair sums Σ n_a·n_b over V² CELL pairs (V = distinct
    JOINT cells, guarded by ``max_cells`` — the per-axis caps alone
    would admit V up to their product), every count/product an exact
    DECIMAL(38,0), with the single pinned sqrt tail at the end. The
    cell self-join is restricted to x_b > x_a (each unordered pair
    counted once; x-ties contribute to neither C nor D). Output one
    row: ``(n, concordant, discordant, tau_b)``.
    """
    from .guards import require_bounded_spines

    # the per-axis caps bound each margin, but the concordance self-join
    # is over JOINT cells: V distinct (x,y) cells cost ~V²/2 compared
    # pairs in the x-range join, so V must be guarded directly or the
    # defaults admit a 5e11-pair blowup. All three bounds fold into ONE
    # aggregate gate (r13: stacked gates multiplied input scans)
    df = require_bounded_spines(
        df,
        [
            (x_col, max_x_buckets, x_col),
            (y_col, max_y_buckets, y_col),
            (F.struct(F.col(x_col), F.col(y_col)), max_cells, "_cell"),
        ],
        "kendall_tau",
    )
    dec = lambda c: c.cast("decimal(38,0)")
    cells = df.groupBy(
        integral_long(df, x_col, "kendall_tau").alias("_x"),
        integral_long(df, y_col, "kendall_tau").alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    a = cells.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"), F.col("_c").alias("_cb")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    # coalesce: an all-tied-x input has ZERO x-ordered cell pairs and
    # the empty-join sums must read 0, not NULL
    pairs = a.join(b, F.col("_xb") > F.col("_xa")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_yb") > F.col("_ya"),
                    dec(F.col("_ca")) * dec(F.col("_cb")),
                ).otherwise(zero)
            ),
            zero,
        ).alias("concordant"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_yb") < F.col("_ya"),
                    dec(F.col("_ca")) * dec(F.col("_cb")),
                ).otherwise(zero)
            ),
            zero,
        ).alias("discordant"),
    )
    margins = cells.agg(
        F.sum("_c").alias("n"),
        F.sum(dec(F.col("_c")) * dec(F.col("_c") - F.lit(1))).alias("_txy2"),
    )
    tx = (
        cells.groupBy("_x")
        .agg(F.sum("_c").alias("_t"))
        .agg(F.sum(dec(F.col("_t")) * dec(F.col("_t") - F.lit(1))).alias("_tx2"))
    )
    ty = (
        cells.groupBy("_y")
        .agg(F.sum("_c").alias("_t"))
        .agg(F.sum(dec(F.col("_t")) * dec(F.col("_t") - F.lit(1))).alias("_ty2"))
    )
    out = pairs.crossJoin(margins).crossJoin(tx).crossJoin(ty)
    n = F.col("n")
    n02 = dec(n) * dec(n - F.lit(1))  # 2·n0
    den = F.sqrt(
        (n02 - F.col("_tx2")).cast("double") * (n02 - F.col("_ty2")).cast("double")
    )
    num = F.lit(2.0) * (
        F.col("concordant").cast("double") - F.col("discordant").cast("double")
    )
    return out.select(
        "n",
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(
            F.when((n > 1) & ((n02 - F.col("_tx2")) > 0) & ((n02 - F.col("_ty2")) > 0), num / den),
            round_to,
        ).alias("tau_b"),
    )


def kendall_tau_oracle_sql(
    values_sql: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same joint-histogram cell-pair concordance counts
    (HUGEINT), same doubled-n0 tie margins, same pinned 2(C−D)/sqrt
    tail."""
    return f"""
WITH vals AS ({values_sql}),
cells AS MATERIALIZED (
  SELECT CAST({x_col} AS BIGINT) AS _x, CAST({y_col} AS BIGINT) AS _y,
         CAST(COUNT(*) AS BIGINT) AS _c
  FROM vals GROUP BY 1, 2
),
pairs AS (
  SELECT
    COALESCE(SUM(CASE WHEN b._y > a._y
             THEN CAST(a._c AS HUGEINT) * CAST(b._c AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS concordant,
    COALESCE(SUM(CASE WHEN b._y < a._y
             THEN CAST(a._c AS HUGEINT) * CAST(b._c AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS discordant
  FROM cells a JOIN cells b ON b._x > a._x
),
margins AS (
  SELECT CAST(SUM(_c) AS BIGINT) AS n FROM cells
),
tx AS (
  SELECT SUM(CAST(_t AS HUGEINT) * CAST(_t - 1 AS HUGEINT)) AS _tx2
  FROM (SELECT CAST(SUM(_c) AS BIGINT) AS _t FROM cells GROUP BY _x)
),
ty AS (
  SELECT SUM(CAST(_t AS HUGEINT) * CAST(_t - 1 AS HUGEINT)) AS _ty2
  FROM (SELECT CAST(SUM(_c) AS BIGINT) AS _t FROM cells GROUP BY _y)
)
SELECT n, CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       ROUND(CASE WHEN n > 1
             AND CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) - _tx2 > 0
             AND CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) - _ty2 > 0
             THEN 2.0 * (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
                  / SQRT(CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) - _tx2 AS DOUBLE)
                         * CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) - _ty2 AS DOUBLE))
             END, {round_to}) AS tau_b
FROM pairs, margins, tx, ty
"""


def correlation_matrix(
    df: DataFrame,
    value_cols: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlations over k integer metrics in ONE
    aggregation pass — the multi-column extension of `grouped_linreg`'s
    moment algebra (k(k−1)/2 correlations from one scan instead of one
    job per pair; the screen a feature pipeline runs before shipping a
    redundant column set):

        r_ij = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)).

    Exactness: all moments (Σx_i, Σx_i², Σx_i·x_j) are exact
    DECIMAL(38,0) sums; each r is the pinned rational-over-sqrt tail.
    Output one row per unordered pair (i < j by position):
    ``(col_a, col_b, n, r)`` — r NULL when either variance is 0. Plan:
    one scan, one reduce (k(k+3)/2 accumulators), a literal-exploded
    readout; no joins, no windows.
    """
    from .guards import integral_long, require_sum_sq_width_multi

    k = len(value_cols)
    if k < 2:
        raise ValueError("correlation_matrix: need at least two columns")
    # One combined width pass for all k columns; per-column bounds also
    # cover the Σx_i·x_j cross moments (Cauchy–Schwarz, see guards).
    require_sum_sq_width_multi(df, value_cols, "correlation_matrix")
    dec = lambda c: c.cast("decimal(38,0)")
    vs = [
        dec(integral_long(df, c, "correlation_matrix")).alias(f"_v{i}")
        for i, c in enumerate(value_cols)
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(k):
        aggs.append(F.sum(F.col(f"_v{i}")).alias(f"_s{i}"))
        aggs.append(F.sum(F.col(f"_v{i}") * F.col(f"_v{i}")).alias(f"_q{i}"))
    for i in range(k):
        for j in range(i + 1, k):
            aggs.append(
                F.sum(F.col(f"_v{i}") * F.col(f"_v{j}")).alias(f"_p{i}_{j}")
            )
    mom = df.select(*vs).agg(*aggs)
    n = F.col("_n")
    pairs = []
    for i in range(k):
        for j in range(i + 1, k):
            num = dec(n) * F.col(f"_p{i}_{j}") - F.col(f"_s{i}") * F.col(f"_s{j}")
            vi = dec(n) * F.col(f"_q{i}") - F.col(f"_s{i}") * F.col(f"_s{i}")
            vj = dec(n) * F.col(f"_q{j}") - F.col(f"_s{j}") * F.col(f"_s{j}")
            r = num.cast("double") / F.sqrt(vi.cast("double") * vj.cast("double"))
            pairs.append(
                F.struct(
                    F.lit(value_cols[i]).alias("col_a"),
                    F.lit(value_cols[j]).alias("col_b"),
                    n.cast("long").alias("n"),
                    F.round(
                        F.when((vi > 0) & (vj > 0), r), round_to
                    ).alias("r"),
                )
            )
    return mom.select(F.explode(F.array(*pairs)).alias("_e")).select(
        "_e.col_a", "_e.col_b", "_e.n", "_e.r"
    )


def correlation_matrix_oracle_sql(
    values_sql: str,
    value_cols: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same one-pass HUGEINT moments, same pinned
    rational-over-sqrt tails, rows unioned in the same (i, j) order."""
    k = len(value_cols)
    moms = ["CAST(COUNT(*) AS HUGEINT) AS _n"]
    for i, c in enumerate(value_cols):
        moms.append(f"SUM(CAST(CAST({c} AS BIGINT) AS HUGEINT)) AS _s{i}")
        moms.append(
            f"SUM(CAST(CAST({c} AS BIGINT) AS HUGEINT) * CAST({c} AS BIGINT)) AS _q{i}"
        )
    for i in range(k):
        for j in range(i + 1, k):
            moms.append(
                f"SUM(CAST(CAST({value_cols[i]} AS BIGINT) AS HUGEINT)"
                f" * CAST({value_cols[j]} AS BIGINT)) AS _p{i}_{j}"
            )
    rows = []
    for i in range(k):
        for j in range(i + 1, k):
            vi = f"(_n * _q{i} - _s{i} * _s{i})"
            vj = f"(_n * _q{j} - _s{j} * _s{j})"
            num = f"(_n * _p{i}_{j} - _s{i} * _s{j})"
            rows.append(
                f"SELECT '{value_cols[i]}' AS col_a, '{value_cols[j]}' AS col_b, "
                f"CAST(_n AS BIGINT) AS n, "
                f"ROUND(CASE WHEN {vi} > 0 AND {vj} > 0 THEN "
                f"CAST({num} AS DOUBLE) / SQRT(CAST({vi} AS DOUBLE) * CAST({vj} AS DOUBLE)) "
                f"END, {round_to}) AS r FROM mom"
            )
    return f"""
WITH vals AS ({values_sql}),
mom AS (SELECT {", ".join(moms)} FROM vals)
{" UNION ALL ".join(rows)}
"""


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """First-order partial correlation r_xy·z per segment — the
    confound-screening step past :func:`correlation_matrix` (a raw
    r_xy that vanishes once z is partialled out was the z-effect in
    disguise; the standard recursion over the pairwise correlations):

        r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²)).

    Exactness: the nine moments (Σa, Σa², Σab for the three columns)
    are exact DECIMAL(38,0) from ONE aggregation (width measured via
    the multi-column guard — per-column bounds cover the cross
    products by Cauchy–Schwarz); each pairwise r and the recursion
    are fixed-order double tails token-identical in the oracle.
    Output per segment: ``(*by, n, r_xy, r_xz, r_yz, partial_r)`` —
    NULL r's when a variance is 0; NULL partial when either
    1 − r² factor is ≤ 0.
    """
    from .guards import require_sum_sq_width_multi

    cols = [x_col, y_col, z_col]
    require_sum_sq_width_multi(df, cols, "partial_correlation")
    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    a = dec(integral_long(df, x_col, "partial_correlation"))
    b = dec(integral_long(df, y_col, "partial_correlation"))
    c = dec(integral_long(df, z_col, "partial_correlation"))
    per = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(a).alias("_sx"),
        F.sum(b).alias("_sy"),
        F.sum(c).alias("_sz"),
        F.sum(a * a).alias("_qx"),
        F.sum(b * b).alias("_qy"),
        F.sum(c * c).alias("_qz"),
        F.sum(a * b).alias("_pxy"),
        F.sum(a * c).alias("_pxz"),
        F.sum(b * c).alias("_pyz"),
    )
    n = dec(F.col("_n"))

    def rr(p, s1, s2, q1, q2):
        num = (n * F.col(p) - F.col(s1) * F.col(s2)).cast("double")
        v1 = (n * F.col(q1) - F.col(s1) * F.col(s1)).cast("double")
        v2 = (n * F.col(q2) - F.col(s2) * F.col(s2)).cast("double")
        return num / F.sqrt(v1 * v2), (v1 > 0) & (v2 > 0)

    r_xy, ok_xy = rr("_pxy", "_sx", "_sy", "_qx", "_qy")
    r_xz, ok_xz = rr("_pxz", "_sx", "_sz", "_qx", "_qz")
    r_yz, ok_yz = rr("_pyz", "_sy", "_sz", "_qy", "_qz")
    d1 = F.lit(1.0) - r_xz * r_xz
    d2 = F.lit(1.0) - r_yz * r_yz
    ok_all = ok_xy & ok_xz & ok_yz
    ok_p = ok_all & (d1 > 0) & (d2 > 0)
    partial = (r_xy - r_xz * r_yz) / F.sqrt(d1 * d2)
    out = per.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.round(F.when(ok_xy, r_xy), round_to).alias("r_xy"),
        F.round(F.when(ok_xz, r_xz), round_to).alias("r_xz"),
        F.round(F.when(ok_yz, r_yz), round_to).alias("r_yz"),
        F.round(F.when(ok_p, partial), round_to).alias("partial_r"),
    )
    return out.orderBy(*keys) if keys else out


def partial_correlation_oracle_sql(
    values_sql: str,
    x_col: str,
    y_col: str,
    z_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same one-pass HUGEINT moments, token-identical
    pairwise r's and partial recursion."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    h = lambda col: f"CAST(CAST({col} AS BIGINT) AS HUGEINT)"

    def rr(p, s1, s2, q1, q2):
        num = f"CAST(CAST(_n AS HUGEINT) * {p} - {s1} * {s2} AS DOUBLE)"
        v1 = f"CAST(CAST(_n AS HUGEINT) * {q1} - {s1} * {s1} AS DOUBLE)"
        v2 = f"CAST(CAST(_n AS HUGEINT) * {q2} - {s2} * {s2} AS DOUBLE)"
        return f"({num} / SQRT({v1} * {v2}))", f"({v1} > 0 AND {v2} > 0)"

    r_xy, ok_xy = rr("_pxy", "_sx", "_sy", "_qx", "_qy")
    r_xz, ok_xz = rr("_pxz", "_sx", "_sz", "_qx", "_qz")
    r_yz, ok_yz = rr("_pyz", "_sy", "_sz", "_qy", "_qz")
    d1 = f"(1.0 - {r_xz} * {r_xz})"
    d2 = f"(1.0 - {r_yz} * {r_yz})"
    ok_p = f"{ok_xy} AND {ok_xz} AND {ok_yz} AND {d1} > 0 AND {d2} > 0"
    partial = f"(({r_xy} - {r_xz} * {r_yz}) / SQRT({d1} * {d2}))"
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS _n,
         SUM({h(x_col)}) AS _sx, SUM({h(y_col)}) AS _sy, SUM({h(z_col)}) AS _sz,
         SUM({h(x_col)} * CAST({x_col} AS BIGINT)) AS _qx,
         SUM({h(y_col)} * CAST({y_col} AS BIGINT)) AS _qy,
         SUM({h(z_col)} * CAST({z_col} AS BIGINT)) AS _qz,
         SUM({h(x_col)} * CAST({y_col} AS BIGINT)) AS _pxy,
         SUM({h(x_col)} * CAST({z_col} AS BIGINT)) AS _pxz,
         SUM({h(y_col)} * CAST({z_col} AS BIGINT)) AS _pyz
  FROM vals {group}
)
SELECT {sel}_n AS n,
       ROUND(CASE WHEN {ok_xy} THEN {r_xy} END, {round_to}) AS r_xy,
       ROUND(CASE WHEN {ok_xz} THEN {r_xz} END, {round_to}) AS r_xz,
       ROUND(CASE WHEN {ok_yz} THEN {r_yz} END, {round_to}) AS r_yz,
       ROUND(CASE WHEN {ok_p} THEN {partial} END, {round_to}) AS partial_r
FROM per {order}
"""


def gamma_somers_d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 6,
    max_x_buckets: int | None = 1000,
    max_y_buckets: int | None = 1000,
    max_cells: int | None = 25_000,
) -> DataFrame:
    """Goodman–Kruskal gamma and Somers' d_yx over two bounded ordinal
    columns — the tie-aware ordinal-association pair that completes
    :func:`kendall_tau` (τ-b symmetrizes the tie correction; gamma
    drops tied pairs entirely, Somers' D conditions on the predictor —
    the statistic behind "does raising the score band raise the
    outcome band"):

        gamma = (C − D) / (C + D),
        d_yx  = (C − D) / (n0 − n1),   n0 = n(n−1)/2, n1 = Σ t_x(t_x−1)/2.

    Exactness AND scale: the identical joint-histogram cell-pair
    machinery as kendall_tau (concordance over V² CELL pairs, guarded
    by ``max_cells``; never O(rows²)); C, D, and both denominators
    are exact DECIMAL(38,0) (the halves clear by doubling: both
    ratios are computed as 2(C−D) over the DOUBLED pair counts), each
    statistic ONE pinned division. Output one row: ``(n, concordant,
    discordant, gamma, somers_dyx)`` — NULL when a denominator is 0.
    """
    from .guards import require_bounded_spines

    # one folded gate for all three bounds (r13: stacked gates
    # multiplied input scans)
    df = require_bounded_spines(
        df,
        [
            (x_col, max_x_buckets, x_col),
            (y_col, max_y_buckets, y_col),
            (F.struct(F.col(x_col), F.col(y_col)), max_cells, "_cell"),
        ],
        "gamma_somers_d",
    )
    dec = lambda c: c.cast("decimal(38,0)")
    cells = df.groupBy(
        integral_long(df, x_col, "gamma_somers_d").alias("_x"),
        integral_long(df, y_col, "gamma_somers_d").alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    a = cells.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"), F.col("_c").alias("_cb")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    pairs = a.join(b, F.col("_xb") > F.col("_xa")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_yb") > F.col("_ya"),
                    dec(F.col("_ca")) * dec(F.col("_cb")),
                ).otherwise(zero)
            ),
            zero,
        ).alias("concordant"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_yb") < F.col("_ya"),
                    dec(F.col("_ca")) * dec(F.col("_cb")),
                ).otherwise(zero)
            ),
            zero,
        ).alias("discordant"),
    )
    margins = cells.agg(F.sum("_c").alias("n"))
    tx = (
        cells.groupBy("_x")
        .agg(F.sum("_c").alias("_t"))
        .agg(F.sum(dec(F.col("_t")) * dec(F.col("_t") - F.lit(1))).alias("_tx2"))
    )
    out = pairs.crossJoin(margins).crossJoin(tx)
    n = F.col("n")
    n02 = dec(n) * dec(n - F.lit(1))  # 2·n0
    cd = F.col("concordant") - F.col("discordant")
    gden = F.col("concordant") + F.col("discordant")
    dden = n02 - F.col("_tx2")  # 2·(n0 − n1)
    return out.select(
        "n",
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(
            F.when(gden > 0, cd.cast("double") / gden.cast("double")),
            round_to,
        ).alias("gamma"),
        F.round(
            F.when(
                dden > 0,
                F.lit(2.0) * cd.cast("double") / dden.cast("double"),
            ),
            round_to,
        ).alias("somers_dyx"),
    )


def gamma_somers_d_oracle_sql(
    values_sql: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same joint-histogram concordance counts, same
    doubled-denominator pinned divisions."""
    return f"""
WITH vals AS (SELECT CAST({x_col} AS BIGINT) AS _x, CAST({y_col} AS BIGINT) AS _y
              FROM ({values_sql})),
cells AS MATERIALIZED (
  SELECT _x, _y, CAST(COUNT(*) AS BIGINT) AS _c FROM vals GROUP BY _x, _y
),
pairs AS (
  SELECT COALESCE(SUM(CASE WHEN b._y > a._y
                 THEN CAST(a._c AS HUGEINT) * b._c ELSE 0 END), 0) AS concordant,
         COALESCE(SUM(CASE WHEN b._y < a._y
                 THEN CAST(a._c AS HUGEINT) * b._c ELSE 0 END), 0) AS discordant
  FROM cells a JOIN cells b ON b._x > a._x
),
margins AS (SELECT CAST(SUM(_c) AS BIGINT) AS n FROM cells),
tx AS (
  SELECT SUM(CAST(_t AS HUGEINT) * (_t - 1)) AS _tx2
  FROM (SELECT CAST(SUM(_c) AS BIGINT) AS _t FROM cells GROUP BY _x)
)
SELECT n,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       ROUND(CASE WHEN concordant + discordant > 0
             THEN CAST(concordant - discordant AS DOUBLE)
                  / CAST(concordant + discordant AS DOUBLE) END,
             {round_to}) AS gamma,
       ROUND(CASE WHEN CAST(n AS HUGEINT) * (n - 1) - _tx2 > 0
             THEN 2.0 * CAST(concordant - discordant AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * (n - 1) - _tx2 AS DOUBLE) END,
             {round_to}) AS somers_dyx
FROM pairs CROSS JOIN margins CROSS JOIN tx
"""


def risk_ratios(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Epidemiological 2×2 risk readouts per stratum — the
    absolute-scale companion to :func:`odds_ratio` (an OR of 3 on a
    rare outcome and an OR of 3 on a common one are very different
    decisions; risk difference and risk ratio say what actually
    changes):

        RD = a/n₁ − c/n₀,   RR = a·n₀ / (c·n₁),
        Wald CI: RD ± z·sqrt(a·b/n₁³ + c·d/n₀³),

    with a,b,c,d the exposed/unexposed × outcome/no-outcome cells,
    n₁ = a+b, n₀ = c+d. The z quantile is a fixed PYTHON literal (no
    inverse normal CDF on either engine).

    Exactness: the four cells are exact integers from ONE conditional
    aggregation; RR is a ratio of exact DECIMAL(38,0) products with
    ONE pinned division; RD and its CI are fixed-order double tails
    (a·b and n₁³ stay exact integers until the final casts). Output
    per stratum: ``(*by, n_exposed, n_unexposed, risk_exposed,
    risk_unexposed, risk_diff, rd_lo, rd_hi, risk_ratio)`` — NULLs
    when a margin (or RR's denominator) is 0. Booleans/0-1 ints both
    accepted: any nonzero/true outcome counts as an event.
    """
    keys = list(by or [])
    exp_ = F.col(exposure_col).cast("boolean")
    out_ = F.col(outcome_col).cast("boolean")
    base = df.filter(exp_.isNotNull() & out_.isNotNull())
    cell = lambda e, o: F.sum(
        F.when((exp_ == e) & (out_ == o), 1).otherwise(0)
    )
    per = base.groupBy(*keys).agg(
        cell(True, True).alias("_a"),
        cell(True, False).alias("_b"),
        cell(False, True).alias("_cc"),
        cell(False, False).alias("_d"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    n1 = F.col("_a") + F.col("_b")
    n0 = F.col("_cc") + F.col("_d")
    n1d, n0d = n1.cast("double"), n0.cast("double")
    p1 = F.col("_a").cast("double") / n1d
    p0 = F.col("_cc").cast("double") / n0d
    rd = p1 - p0
    # a·b/n1³ + c·d/n0³ with exact integer numerators/denominators
    var1 = (dec(F.col("_a")) * dec(F.col("_b"))).cast("double") / (
        dec(n1) * dec(n1) * dec(n1)
    ).cast("double")
    var0 = (dec(F.col("_cc")) * dec(F.col("_d"))).cast("double") / (
        dec(n0) * dec(n0) * dec(n0)
    ).cast("double")
    half = F.lit(float(z_crit)) * F.sqrt(var1 + var0)
    rr_num = dec(F.col("_a")) * dec(n0)
    rr_den = dec(F.col("_cc")) * dec(n1)
    both = (n1 > 0) & (n0 > 0)
    out = per.select(
        *keys,
        n1.cast("long").alias("n_exposed"),
        n0.cast("long").alias("n_unexposed"),
        F.round(F.when(n1 > 0, p1), round_to).alias("risk_exposed"),
        F.round(F.when(n0 > 0, p0), round_to).alias("risk_unexposed"),
        F.round(F.when(both, rd), round_to).alias("risk_diff"),
        F.round(F.when(both, rd - half), round_to).alias("rd_lo"),
        F.round(F.when(both, rd + half), round_to).alias("rd_hi"),
        F.round(
            F.when(
                both & (rr_den > 0),
                rr_num.cast("double") / rr_den.cast("double"),
            ),
            round_to,
        ).alias("risk_ratio"),
    )
    return out.orderBy(*keys) if keys else out


def risk_ratios_oracle_sql(
    units_sql: str,
    exposure_col: str,
    outcome_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same 2×2 cells, same exact-integer RR ratio and
    fixed-order Wald CI with the shared z literal."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    z = repr(float(z_crit))
    p1 = "(CAST(_a AS DOUBLE) / CAST(_a + _b AS DOUBLE))"
    p0 = "(CAST(_cc AS DOUBLE) / CAST(_cc + _d AS DOUBLE))"
    rd = f"({p1} - {p0})"
    var1 = (
        "(CAST(CAST(_a AS HUGEINT) * _b AS DOUBLE)"
        " / CAST(CAST(_a + _b AS HUGEINT) * (_a + _b) * (_a + _b) AS DOUBLE))"
    )
    var0 = (
        "(CAST(CAST(_cc AS HUGEINT) * _d AS DOUBLE)"
        " / CAST(CAST(_cc + _d AS HUGEINT) * (_cc + _d) * (_cc + _d) AS DOUBLE))"
    )
    half = f"({z} * SQRT({var1} + {var0}))"
    both = "(_a + _b > 0 AND _cc + _d > 0)"
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({exposure_col} AS BOOLEAN) AS _e, CAST({outcome_col} AS BOOLEAN) AS _o
  FROM units WHERE {exposure_col} IS NOT NULL AND {outcome_col} IS NOT NULL
),
per AS (
  SELECT {sel}
         CAST(SUM(CASE WHEN _e AND _o THEN 1 ELSE 0 END) AS BIGINT) AS _a,
         CAST(SUM(CASE WHEN _e AND NOT _o THEN 1 ELSE 0 END) AS BIGINT) AS _b,
         CAST(SUM(CASE WHEN NOT _e AND _o THEN 1 ELSE 0 END) AS BIGINT) AS _cc,
         CAST(SUM(CASE WHEN NOT _e AND NOT _o THEN 1 ELSE 0 END) AS BIGINT) AS _d
  FROM base {group}
)
SELECT {sel}
       CAST(_a + _b AS BIGINT) AS n_exposed,
       CAST(_cc + _d AS BIGINT) AS n_unexposed,
       ROUND(CASE WHEN _a + _b > 0 THEN {p1} END, {round_to}) AS risk_exposed,
       ROUND(CASE WHEN _cc + _d > 0 THEN {p0} END, {round_to}) AS risk_unexposed,
       ROUND(CASE WHEN {both} THEN {rd} END, {round_to}) AS risk_diff,
       ROUND(CASE WHEN {both} THEN {rd} - {half} END, {round_to}) AS rd_lo,
       ROUND(CASE WHEN {both} THEN {rd} + {half} END, {round_to}) AS rd_hi,
       ROUND(CASE WHEN {both} AND CAST(_cc AS HUGEINT) * (_a + _b) > 0
             THEN CAST(CAST(_a AS HUGEINT) * (_cc + _d) AS DOUBLE)
                  / CAST(CAST(_cc AS HUGEINT) * (_a + _b) AS DOUBLE) END,
             {round_to}) AS risk_ratio
FROM per {order}
"""


def bland_altman(
    df: DataFrame,
    m1_col: str,
    m2_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Bland–Altman method agreement per segment — the readout for "do
    two MEASUREMENTS of the same thing agree", which correlation
    cannot answer (two thermometers 10° apart correlate perfectly;
    Bland & Altman 1986 made the mean difference ± limits of
    agreement the standard):

        d_i = m1_i − m2_i,
        LoA = d̄ ± z·s_d,
        pct_within = share of units with |d_i − d̄| ≤ z·s_d.

    Exactness: d is an exact integer per unit; n, Σd, Σd² are exact
    DECIMAL(38,0); d̄, s_d, and the LoA bounds are fixed-order double
    tails with the shared z literal; the within-LoA indicator compares
    the integer d_i against the token-identical float bounds, so both
    engines flag the same units and pct_within is one more pinned
    division. Plan: one aggregation + one broadcast-back conditional
    count. Output per segment: ``(*by, n, mean_diff, sd_diff,
    loa_lo, loa_hi, pct_within)`` — NULL sd/LoA/pct when n ≤ 1.
    """
    keys = list(by or [])
    m1 = integral_long(df, m1_col, "bland_altman")
    m2 = integral_long(df, m2_col, "bland_altman")
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(*keys, (m1 - m2).alias("_d")).where(
        F.col("_d").isNotNull()
    )
    per = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(F.col("_d"))).alias("_s"),
        F.sum(dec(F.col("_d")) * dec(F.col("_d"))).alias("_q"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / nd
    var = (dec(F.col("_n")) * F.col("_q") - F.col("_s") * F.col("_s")).cast(
        "double"
    ) / (nd * (nd - F.lit(1.0)))
    sd = F.sqrt(var)
    half = F.lit(float(z_crit)) * sd
    stats = per.select(
        *keys,
        F.col("_n").alias("_n"),
        mean.alias("_mean"),
        F.when(F.col("_n") > 1, sd).alias("_sd"),
        F.when(F.col("_n") > 1, mean - half).alias("_lo"),
        F.when(F.col("_n") > 1, mean + half).alias("_hi"),
    )
    jb = (
        base.join(F.broadcast(stats), keys)
        if keys
        else base.crossJoin(F.broadcast(stats))
    )
    within = (F.col("_d").cast("double") >= F.col("_lo")) & (
        F.col("_d").cast("double") <= F.col("_hi")
    )
    out = jb.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.max("_mean").alias("_m"),
        F.max("_sd").alias("_sdv"),
        F.max("_lo").alias("_lov"),
        F.max("_hi").alias("_hiv"),
        F.sum(F.when(within, 1).otherwise(0)).alias("_nin"),
    )
    return (
        out.select(
            *keys,
            F.col("n").cast("long").alias("n"),
            F.round(F.col("_m"), round_to).alias("mean_diff"),
            F.round(F.col("_sdv"), round_to).alias("sd_diff"),
            F.round(F.col("_lov"), round_to).alias("loa_lo"),
            F.round(F.col("_hiv"), round_to).alias("loa_hi"),
            F.round(
                F.when(
                    F.col("n") > 1,
                    F.col("_nin").cast("double") / F.col("n").cast("double"),
                ),
                round_to,
            ).alias("pct_within"),
        ).orderBy(*keys)
        if keys
        else out.select(
            F.col("n").cast("long").alias("n"),
            F.round(F.col("_m"), round_to).alias("mean_diff"),
            F.round(F.col("_sdv"), round_to).alias("sd_diff"),
            F.round(F.col("_lov"), round_to).alias("loa_lo"),
            F.round(F.col("_hiv"), round_to).alias("loa_hi"),
            F.round(
                F.when(
                    F.col("n") > 1,
                    F.col("_nin").cast("double") / F.col("n").cast("double"),
                ),
                round_to,
            ).alias("pct_within"),
        )
    )


def bland_altman_oracle_sql(
    units_sql: str,
    m1_col: str,
    m2_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact difference moments, token-identical LoA
    bounds and within-LoA recount."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    bsel = (", ".join(f"b.{k}" for k in keys) + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    joincond = (
        " AND ".join(f"b.{k} = s.{k}" for k in keys) if keys else "TRUE"
    )
    bgroup = (
        ("GROUP BY " + ", ".join(f"b.{k}" for k in keys)) if keys else ""
    )
    border = (
        ("ORDER BY " + ", ".join(f"b.{k}" for k in keys)) if keys else ""
    )
    z = repr(float(z_crit))
    mean = "(CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))"
    var = (
        "(CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)"
        " / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0)))"
    )
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({m1_col} AS BIGINT) - CAST({m2_col} AS BIGINT) AS _d
  FROM units WHERE {m1_col} IS NOT NULL AND {m2_col} IS NOT NULL
),
per AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(_d AS HUGEINT)) AS _s,
         SUM(CAST(_d AS HUGEINT) * _d) AS _q
  FROM base {group}
),
stats AS (
  SELECT {sel}_n,
         {mean} AS _mean,
         CASE WHEN _n > 1 THEN SQRT({var}) END AS _sd,
         CASE WHEN _n > 1 THEN {mean} - {z} * SQRT({var}) END AS _lo,
         CASE WHEN _n > 1 THEN {mean} + {z} * SQRT({var}) END AS _hi
  FROM per
)
SELECT {bsel}
       CAST(MAX(s._n) AS BIGINT) AS n,
       ROUND(MAX(s._mean), {round_to}) AS mean_diff,
       ROUND(MAX(s._sd), {round_to}) AS sd_diff,
       ROUND(MAX(s._lo), {round_to}) AS loa_lo,
       ROUND(MAX(s._hi), {round_to}) AS loa_hi,
       ROUND(CASE WHEN MAX(s._n) > 1 THEN
         CAST(SUM(CASE WHEN CAST(b._d AS DOUBLE) >= s._lo
                        AND CAST(b._d AS DOUBLE) <= s._hi THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(MAX(s._n) AS DOUBLE) END, {round_to}) AS pct_within
FROM base b JOIN stats s ON {joincond}
{bgroup} {border}
"""
