"""Experiment design and causal-effect estimators — CUPED,
difference-in-differences, propensity strata, instrumental variables,
OLS, multiple-testing control, and power planning, split out of
``profile.py`` (round 12). ``operators.profile`` re-exports every name
here, so existing imports keep working.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T  # noqa: F401

from .guards import integral_long  # noqa: F401
from .guards import require_sum_sq_width


def grouped_linreg(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares fit ``y ≈ slope·x + intercept``
    with ``r2`` — the one-pass closed form over the five moment sums,
    map-side combined like any hash aggregate (no per-group
    collection, no second scan).

    Engine-exact determinism: ``x_col``/``y_col`` must be INTEGRAL so
    the distributed sums are exact integers (Σx² / Σxy / Σy² are summed
    as DECIMAL(38,0) — int64 would overflow at ~10⁶ rows of 10⁷-unit
    values; Spark's decimal sum and the oracle's HUGEINT sum are both
    exact, and both cast to double with one correctly-rounded
    conversion). The closed-form float math is a fixed expression of
    exactly-rounded IEEE ops, so results hash-match a SQL oracle.

    Degenerate groups (zero x-variance) return NULL slope/intercept/r2
    rather than dividing by zero.
    """
    by = list(by or [])
    for c in (x_col, y_col):
        dt = dict(zip(df.schema.names, [f.dataType.simpleString() for f in df.schema.fields]))[c]
        if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
            raise ValueError(
                f"grouped_linreg needs integral columns for exact sums; got {c}: {dt}"
            )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.filter(x.isNotNull() & y.isNotNull())
    agg = base.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((x * y).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("_syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    # fixed-order expressions, textually mirrored by the oracle:
    # cov_n = n·Σxy − Σx·Σy ; varx_n = n·Σxx − Σx·Σx ; vary_n likewise
    cov_n = nd * sxy - sx * sy
    varx_n = nd * sxx - sx * sx
    vary_n = nd * syy - sy * sy
    slope = cov_n / varx_n
    intercept = (sy - (cov_n / varx_n) * sx) / nd
    r2 = (cov_n * cov_n) / (varx_n * vary_n)
    guard = varx_n > 0
    return agg.select(
        *by,
        "n",
        F.round(F.when(guard, slope), round_to).alias("slope"),
        F.round(F.when(guard, intercept), round_to).alias("intercept"),
        F.round(F.when(guard & (vary_n > 0), r2), round_to).alias("r2"),
    )


def grouped_linreg_oracle_sql(
    table_expr: str,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`grouped_linreg`: HUGEINT-exact sums, the
    same fixed-order float expressions."""
    by = list(by or [])
    gc = ", ".join(by)
    gsel = f"{gc}, " if by else ""
    gby = f"GROUP BY {gc}" if by else ""
    return f"""
WITH a AS (
  SELECT {gsel}CAST(COUNT(*) AS BIGINT) AS n,
         SUM({x_col}) AS sx, SUM({y_col}) AS sy,
         SUM({x_col} * {x_col}) AS sxx,
         SUM({x_col} * {y_col}) AS sxy,
         SUM({y_col} * {y_col}) AS syy
  FROM {table_expr}
  WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
  {gby}
), d AS (
  SELECT {gsel}n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM a
)
SELECT {gsel}n,
       ROUND(CASE WHEN varx_n > 0 THEN cov_n / varx_n END, {round_to}) AS slope,
       ROUND(CASE WHEN varx_n > 0
             THEN (syd - (cov_n / varx_n) * sxd) / CAST(n AS DOUBLE) END, {round_to}) AS intercept,
       ROUND(CASE WHEN varx_n > 0 AND vary_n > 0
             THEN (cov_n * cov_n) / (varx_n * vary_n) END, {round_to}) AS r2
FROM d
"""


def cuped_adjustment(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
    round_to: int = 6,
) -> DataFrame:
    """CUPED variance-reduced group means (Deng, Xu, Kohavi & Walker,
    "Improving the sensitivity of online controlled experiments by
    utilizing pre-experiment data", WSDM 2013): adjust each group's
    experiment-metric mean with the pooled pre-period covariate,

        ŷ_g = ȳ_g − θ·(x̄_g − x̄),   θ = cov(x, y) / var(x)  (pooled)

    — the standard A/B readout that removes pre-existing user-level
    variance so smaller effects clear the same test. Pairs with
    `ab_test`/`permutation_test`, which consume the adjusted metric.

    Exactness (the `grouped_linreg` discipline): ``x_col``/``y_col``
    must be INTEGRAL; θ comes from exact DECIMAL(38,0) moment sums with
    ONE division, and the adjustment is a fixed-order double
    expression, so the readout hash-matches the oracle. Zero pooled
    x-variance → NULL θ and adjusted means.

    Plan: one pooled map-side-combined aggregate (1 row, broadcast) +
    one per-group aggregate. Output: ``(group_col, n, mean_x, mean_y,
    theta, adj_mean)``.
    """
    for c in (x_col, y_col):
        dt = df.schema[c].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
            raise ValueError(
                f"cuped_adjustment needs integral columns for exact "
                f"sums; got {c}: {dt}"
            )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.filter(x.isNotNull() & y.isNotNull())
    pooled = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((x * y).cast("decimal(38,0)")).alias("_sxy"),
    )
    per = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_gx"),
        F.sum(y).alias("_gy"),
    )
    j = per.crossJoin(F.broadcast(pooled))
    nd = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    # fixed-order, textually mirrored by the oracle
    cov_n = nd * sxy - sx * sy
    varx_n = nd * sxx - sx * sx
    theta = cov_n / varx_n
    gnd = F.col("n").cast("double")
    mean_x = F.col("_gx").cast("double") / gnd
    mean_y = F.col("_gy").cast("double") / gnd
    adj = mean_y - (cov_n / varx_n) * (mean_x - sx / nd)
    guard = varx_n > 0
    return j.select(
        group_col,
        "n",
        F.round(mean_x, round_to).alias("mean_x"),
        F.round(mean_y, round_to).alias("mean_y"),
        F.round(F.when(guard, theta), round_to).alias("theta"),
        F.round(F.when(guard, adj), round_to).alias("adj_mean"),
    )


def cuped_adjustment_oracle_sql(
    units_sql: str,
    x_col: str,
    y_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: HUGEINT-exact pooled moments, identical fixed-order
    adjustment expression."""
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {group_col}, CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y
  FROM units WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
),
pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(x) AS _sx, SUM(y) AS _sy,
         SUM(CAST(x AS HUGEINT) * x) AS _sxx,
         SUM(CAST(x AS HUGEINT) * y) AS _sxy
  FROM base
),
per AS (
  SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS _gx, SUM(y) AS _gy
  FROM base GROUP BY {group_col}
)
SELECT {group_col}, n,
  ROUND(CAST(_gx AS DOUBLE) / CAST(n AS DOUBLE), {round_to}) AS mean_x,
  ROUND(CAST(_gy AS DOUBLE) / CAST(n AS DOUBLE), {round_to}) AS mean_y,
  ROUND(CASE WHEN CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
                  - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE) > 0 THEN
    (CAST(_n AS DOUBLE) * CAST(_sxy AS DOUBLE)
     - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
    / (CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
       - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) END, {round_to}) AS theta,
  ROUND(CASE WHEN CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
                  - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE) > 0 THEN
    CAST(_gy AS DOUBLE) / CAST(n AS DOUBLE)
    - ((CAST(_n AS DOUBLE) * CAST(_sxy AS DOUBLE)
        - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
       / (CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
          - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)))
      * (CAST(_gx AS DOUBLE) / CAST(n AS DOUBLE)
         - CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE)) END, {round_to}) AS adj_mean
FROM per CROSS JOIN pooled
"""


def did_estimate(
    df: DataFrame,
    cohort_col: str,
    period_col: str,
    value_col: str,
    treated,
    control,
    post,
    pre,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences estimator — the quasi-experimental
    companion to :func:`cuped_adjustment` (CUPED reduces variance when
    you randomized; DiD removes the shared time trend when you could
    NOT randomize and only have a before/after on treated vs control
    cohorts):

        DID = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    One map-side-combined aggregation collects all four cells' exact
    integer sums/counts (callers pass integer metrics — cents/counts);
    the four means are pinned single divisions and DID is three
    float subtractions in a fixed order — reproduced token-for-token
    in the oracle. Any empty cell NULLs the estimate instead of
    silently reading a 3-cell design as a DiD. Output one row:
    ``(n_tpost, n_tpre, n_cpost, n_cpre, mean_tpost, mean_tpre,
    mean_cpost, mean_cpre, did)``.
    """
    c, p = F.col(cohort_col), F.col(period_col)
    v = F.col(value_col).cast("long")

    def cell(cv, pv, tag):
        m = (c == F.lit(cv)) & (p == F.lit(pv))
        return [
            F.sum(F.when(m, 1).otherwise(0)).alias(f"_n{tag}"),
            F.sum(F.when(m, v).otherwise(F.lit(0))).alias(f"_s{tag}"),
        ]

    agg = df.agg(
        *cell(treated, post, "tp"),
        *cell(treated, pre, "tq"),
        *cell(control, post, "cp"),
        *cell(control, pre, "cq"),
    )
    mean = {
        t: F.col(f"_s{t}").cast("double") / F.col(f"_n{t}").cast("double")
        for t in ("tp", "tq", "cp", "cq")
    }
    did = (mean["tp"] - mean["tq"]) - (mean["cp"] - mean["cq"])
    nonempty = (
        (F.col("_ntp") > 0)
        & (F.col("_ntq") > 0)
        & (F.col("_ncp") > 0)
        & (F.col("_ncq") > 0)
    )
    return agg.select(
        F.col("_ntp").alias("n_tpost"),
        F.col("_ntq").alias("n_tpre"),
        F.col("_ncp").alias("n_cpost"),
        F.col("_ncq").alias("n_cpre"),
        F.round(F.when(F.col("_ntp") > 0, mean["tp"]), round_to).alias("mean_tpost"),
        F.round(F.when(F.col("_ntq") > 0, mean["tq"]), round_to).alias("mean_tpre"),
        F.round(F.when(F.col("_ncp") > 0, mean["cp"]), round_to).alias("mean_cpost"),
        F.round(F.when(F.col("_ncq") > 0, mean["cq"]), round_to).alias("mean_cpre"),
        F.round(F.when(nonempty, did), round_to).alias("did"),
    )


def did_estimate_oracle_sql(
    units_sql: str,
    cohort_col: str,
    period_col: str,
    value_col: str,
    treated_sql: str,
    control_sql: str,
    post_sql: str,
    pre_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same four-cell conditional aggregation, same pinned
    division/subtraction order."""

    def cell(cv, pv, tag):
        m = f"{cohort_col} = {cv} AND {period_col} = {pv}"
        return (
            f"CAST(SUM(CASE WHEN {m} THEN 1 ELSE 0 END) AS BIGINT) AS _n{tag},\n"
            f"         SUM(CASE WHEN {m} THEN CAST({value_col} AS BIGINT)"
            f" ELSE 0 END) AS _s{tag}"
        )

    means = {
        t: f"CAST(_s{t} AS DOUBLE) / CAST(_n{t} AS DOUBLE)"
        for t in ("tp", "tq", "cp", "cq")
    }
    did = f"({means['tp']} - {means['tq']}) - ({means['cp']} - {means['cq']})"
    return f"""
WITH units AS ({units_sql}),
agg AS (
  SELECT {cell(treated_sql, post_sql, "tp")},
         {cell(treated_sql, pre_sql, "tq")},
         {cell(control_sql, post_sql, "cp")},
         {cell(control_sql, pre_sql, "cq")}
  FROM units
)
SELECT _ntp AS n_tpost, _ntq AS n_tpre, _ncp AS n_cpost, _ncq AS n_cpre,
       ROUND(CASE WHEN _ntp > 0 THEN {means['tp']} END, {round_to}) AS mean_tpost,
       ROUND(CASE WHEN _ntq > 0 THEN {means['tq']} END, {round_to}) AS mean_tpre,
       ROUND(CASE WHEN _ncp > 0 THEN {means['cp']} END, {round_to}) AS mean_cpost,
       ROUND(CASE WHEN _ncq > 0 THEN {means['cq']} END, {round_to}) AS mean_cpre,
       ROUND(CASE WHEN _ntp > 0 AND _ntq > 0 AND _ncp > 0 AND _ncq > 0
             THEN {did} END, {round_to}) AS did
FROM agg
"""


def bh_fdr(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
    round_to: int = 6,
    max_tests: int | None = 100_000,
) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over a family of test p-values —
    the multiple-testing gate downstream of the per-segment tests this
    repo emits (`prop_ztest` pairs, `permutation_test` replays,
    `mcnemar_test` panels): reject H_(1..k*) where

        k* = max { k : p_(k) ≤ k·α/m }.

    Pure rank arithmetic: p-values sort ASC (ties by test id — total
    order), the step-up condition is evaluated per rank, and the
    cutoff k* propagates back as a running max from the bottom (the
    classic step-up), so a test with p above its own line is still
    rejected when a later rank passes. The comparison
    ``p·m ≤ k·α`` is two float multiplies in pinned order on BOTH
    engines — no division. m is the family size (NULL p-values are
    excluded from m and reported unrejected, matching R's p.adjust
    contract of complete-case testing).

    The family is a bounded spine by contract
    (``guards.require_bounded_spines`` on ``test_col``; a family of 10⁶⁺
    tests is a modeling smell, not a scale feature). Output one row
    per test: ``(test, p_value, rank, m, rejected)``.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(df, [(test_col, max_tests, test_col)], "bh_fdr")
    base = df.select(
        F.col(test_col).alias("test"), F.col(p_col).cast("double").alias("p_value")
    )
    ok = base.where(F.col("p_value").isNotNull())
    w = Window.orderBy(F.col("p_value").asc(), F.col("test").asc())
    ranked = ok.select(
        "test",
        "p_value",
        F.row_number().over(w).alias("rank"),
        F.count(F.lit(1)).over(
            Window.orderBy("p_value").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    passes = F.col("p_value") * F.col("m").cast("double") <= F.col(
        "rank"
    ).cast("double") * F.lit(float(alpha))
    wdown = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = ranked.select(
        "test",
        F.round("p_value", round_to).alias("p_value"),
        "rank",
        "m",
        (F.max(passes.cast("int")).over(wdown) == 1).alias("rejected"),
    )
    nulls = base.where(F.col("p_value").isNull()).select(
        "test",
        F.lit(None).cast("double").alias("p_value"),
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("long").alias("m"),
        F.lit(False).alias("rejected"),
    )
    return out.unionByName(nulls).orderBy(F.col("rank").asc_nulls_last(), "test")


def bh_fdr_oracle_sql(
    tests_sql: str,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same (p ASC, test ASC) rank, same pinned ``p·m ≤
    k·α`` comparison, same bottom-up running-max step-up."""
    return f"""
WITH tests AS ({tests_sql}),
base AS (SELECT {test_col} AS test, CAST({p_col} AS DOUBLE) AS p_value FROM tests),
ok AS (
  SELECT test, p_value,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value ASC, test ASC) AS INTEGER) AS rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM base WHERE p_value IS NOT NULL
),
flag AS (
  SELECT *, CASE WHEN p_value * CAST(m AS DOUBLE)
                      <= CAST(rank AS DOUBLE) * {float(alpha)!r}
            THEN 1 ELSE 0 END AS ok_k
  FROM ok
)
SELECT test, ROUND(p_value, {round_to}) AS p_value, rank, m,
       MAX(ok_k) OVER (ORDER BY rank DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       AS rejected
FROM flag
UNION ALL
SELECT test, NULL, NULL, NULL, FALSE FROM base WHERE p_value IS NULL
"""


def loo_group_influence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Leave-one-group-out influence — the cheapest honest data-
    valuation readout for a grouped corpus ("which SOURCE moves the
    global metric, and which way"): for each group g,

        influence(g) = mean(all) − mean(all \\ g)
                     = S/N − (S − s_g)/(N − n_g)

    A positive influence means the group PULLS THE MEAN UP (removing
    it drops the metric). One map-side-combined aggregation collects
    every group's exact integer ``(n_g, s_g)``; the global ``(N, S)``
    is the one-row sum of that frame broadcast back — the corpus is
    scanned ONCE regardless of group count, where the naive
    leave-one-out loop scans it G times. Means are pinned single
    divisions; ``loo_mean`` is NULL for a group that IS the whole
    corpus. Output: ``(group, n, group_mean, loo_mean, influence)``.
    """
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("long")).alias("_s"),
    )
    tot = per.agg(
        F.sum("n").alias("_nn"), F.sum("_s").alias("_ss")
    )
    j = per.crossJoin(F.broadcast(tot))
    gmean = F.col("_s").cast("double") / F.col("n").cast("double")
    allmean = F.col("_ss").cast("double") / F.col("_nn").cast("double")
    loo = (F.col("_ss") - F.col("_s")).cast("double") / (
        F.col("_nn") - F.col("n")
    ).cast("double")
    return j.select(
        "group",
        "n",
        F.round(gmean, round_to).alias("group_mean"),
        F.round(F.when(F.col("_nn") > F.col("n"), loo), round_to).alias(
            "loo_mean"
        ),
        F.round(
            F.when(F.col("_nn") > F.col("n"), allmean - loo), round_to
        ).alias("influence"),
    )


def loo_group_influence_oracle_sql(
    units_sql: str,
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same one-pass group sums, same pinned divisions and
    whole-corpus NULL."""
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {group_col} AS "group", CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST({value_col} AS BIGINT)) AS BIGINT) AS _s
  FROM units GROUP BY {group_col}
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS _nn, CAST(SUM(_s) AS BIGINT) AS _ss FROM per)
SELECT "group", n,
       ROUND(CAST(_s AS DOUBLE) / CAST(n AS DOUBLE), {round_to}) AS group_mean,
       ROUND(CASE WHEN _nn > n THEN CAST(_ss - _s AS DOUBLE)
             / CAST(_nn - n AS DOUBLE) END, {round_to}) AS loo_mean,
       ROUND(CASE WHEN _nn > n THEN CAST(_ss AS DOUBLE) / CAST(_nn AS DOUBLE)
             - CAST(_ss - _s AS DOUBLE) / CAST(_nn - n AS DOUBLE) END,
             {round_to}) AS influence
FROM per CROSS JOIN tot
"""


def propensity_strata_effect(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    value_col: str,
    round_to: int = 6,
    max_strata: int | None = 10_000,
) -> DataFrame:
    """Stratified treatment-effect estimator (propensity-score
    subclassification, Rosenbaum & Rubin 1984): callers bucket units
    into strata (propensity-score quantiles, or any confounder
    bucketing), and the effect is the stratum-size-weighted mean of
    within-stratum arm differences:

        ATE ≈ Σ_q (n_q / N_valid) · (ȳ_treated,q − ȳ_control,q)

    over strata with BOTH arms present; one-armed strata are excluded
    from the estimate and surfaced via ``coverage`` (share of ALL
    units that live in valid strata — an estimate covering 60% of the
    population should say so). The causal companion to
    :func:`did_estimate` (before/after) and :func:`cuped_adjustment`
    (variance reduction).

    Exactness: one (stratum, arm) conditional aggregation of integer
    sums; per-stratum means are pinned divisions; the weighted sum
    Σ n_q·(m1−m0) runs as an ORDERED fold over the stratum-sorted
    array (cross-row float sums are order-dependent — the ewma/
    fmix precedent), then ONE division by N_valid — the oracle folds
    the identical list in the identical _q order. Strata are a
    bounded spine by contract (``guards.require_bounded_spines``;
    propensity bucketing is quantile-grid-sized by construction).
    Output one row: ``(n_total, n_valid, n_strata_valid, att_effect,
    coverage)``.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(stratum_col, max_strata, stratum_col)], "propensity_strata_effect"
    )
    t = F.col(treat_col).cast("int")
    v = F.col(value_col).cast("long")
    per = df.groupBy(F.col(stratum_col).alias("_q")).agg(
        F.sum(F.when(t == 1, 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(t == 1, v).otherwise(F.lit(0))).alias("_s1"),
        F.sum(F.when(t == 0, 1).otherwise(0)).alias("_n0"),
        F.sum(F.when(t == 0, v).otherwise(F.lit(0))).alias("_s0"),
    )
    valid = (F.col("_n1") > 0) & (F.col("_n0") > 0)
    diff = F.col("_s1").cast("double") / F.col("_n1").cast("double") - F.col(
        "_s0"
    ).cast("double") / F.col("_n0").cast("double")
    nq = F.col("_n1") + F.col("_n0")
    agg = per.agg(
        F.sum(nq).alias("n_total"),
        F.sum(F.when(valid, nq).otherwise(F.lit(0))).alias("n_valid"),
        F.sum(F.when(valid, 1).otherwise(0)).alias("n_strata_valid"),
        # collect_list drops the NULLs the invalid strata produce;
        # sort_array orders by _q, so the fold order is total
        F.sort_array(
            F.collect_list(
                F.when(
                    valid,
                    F.struct(
                        F.col("_q").alias("q"),
                        (nq.cast("double") * diff).alias("wd"),
                    ),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_wsum",
        F.aggregate(
            F.col("_terms"), F.lit(0.0), lambda a, x: a + x["wd"]
        ),
    )
    return agg.select(
        "n_total",
        "n_valid",
        "n_strata_valid",
        F.round(
            F.when(
                F.col("n_valid") > 0,
                F.col("_wsum") / F.col("n_valid").cast("double"),
            ),
            round_to,
        ).alias("att_effect"),
        F.round(
            F.col("n_valid").cast("double") / F.col("n_total").cast("double"),
            round_to,
        ).alias("coverage"),
    )


def propensity_strata_effect_oracle_sql(
    units_sql: str,
    stratum_col: str,
    treat_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same (stratum, arm) sums, same both-arms validity
    filter, same pinned weighted-difference arithmetic."""
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {stratum_col} AS _q,
         CAST(SUM(CASE WHEN CAST({treat_col} AS INTEGER) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _n1,
         SUM(CASE WHEN CAST({treat_col} AS INTEGER) = 1 THEN CAST({value_col} AS BIGINT) ELSE 0 END) AS _s1,
         CAST(SUM(CASE WHEN CAST({treat_col} AS INTEGER) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS _n0,
         SUM(CASE WHEN CAST({treat_col} AS INTEGER) = 0 THEN CAST({value_col} AS BIGINT) ELSE 0 END) AS _s0
  FROM units GROUP BY {stratum_col}
),
agg AS (
  SELECT CAST(SUM(_n1 + _n0) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN _n1 > 0 AND _n0 > 0 THEN _n1 + _n0 ELSE 0 END) AS BIGINT) AS n_valid,
         CAST(SUM(CASE WHEN _n1 > 0 AND _n0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_strata_valid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_n1 + _n0 AS DOUBLE)
                * (CAST(_s1 AS DOUBLE) / CAST(_n1 AS DOUBLE)
                   - CAST(_s0 AS DOUBLE) / CAST(_n0 AS DOUBLE))
                ORDER BY _q)
             FILTER (WHERE _n1 > 0 AND _n0 > 0)),
           (a, b) -> a + b) AS _wsum
  FROM per
)
SELECT n_total, n_valid, n_strata_valid,
       ROUND(CASE WHEN n_valid > 0 THEN _wsum / CAST(n_valid AS DOUBLE) END,
             {round_to}) AS att_effect,
       ROUND(CAST(n_valid AS DOUBLE) / CAST(n_total AS DOUBLE), {round_to}) AS coverage
FROM agg
"""


def effect_sizes(
    df: DataFrame,
    treat_col: str,
    value_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Standardized mean-difference effect sizes per segment — Cohen's d
    with the Hedges small-sample correction, the "how BIG is the
    difference" companion the `ab_test` z/p readout needs next to it
    (a p-value at corpus n is always significant; d says whether anyone
    should care):

        d = (x̄₁ − x̄₀) / s_pooled,
        s²_pooled = ((n₁−1)s₁² + (n₀−1)s₀²) / (n₁+n₀−2),
        g = d · (1 − 3/(4(n₁+n₀) − 9))      (Hedges & Olkin).

    Exactness: per-arm n, Σx, Σx² are exact DECIMAL(38,0) sums from ONE
    conditional aggregation; every later step (sample variances, the
    pooled blend, d, g) is the pinned float tail, token-identical in
    the oracle. Output per segment: ``(*by, n1, n0, mean_diff,
    cohens_d, hedges_g)`` — NULL d/g when either arm has < 2 rows or
    the pooled variance is 0.
    """
    require_sum_sq_width(df, value_col, "effect_sizes")
    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    t = F.col(treat_col).cast("int")
    v = dec(integral_long(df, value_col, "effect_sizes"))
    per = df.groupBy(*keys).agg(
        F.sum(F.when(t == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(t == 1, v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_s1"),
        F.sum(F.when(t == 1, v * v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_q1"),
        F.sum(F.when(t == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(t == 0, v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_s0"),
        F.sum(F.when(t == 0, v * v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_q0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    n1d, n0d = n1.cast("double"), n0.cast("double")
    var1 = (dec(n1) * F.col("_q1") - F.col("_s1") * F.col("_s1")).cast(
        "double"
    ) / (n1d * (n1d - F.lit(1.0)))
    var0 = (dec(n0) * F.col("_q0") - F.col("_s0") * F.col("_s0")).cast(
        "double"
    ) / (n0d * (n0d - F.lit(1.0)))
    sp2 = ((n1d - F.lit(1.0)) * var1 + (n0d - F.lit(1.0)) * var0) / (
        n1d + n0d - F.lit(2.0)
    )
    diff = F.col("_s1").cast("double") / n1d - F.col("_s0").cast("double") / n0d
    d = diff / F.sqrt(sp2)
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1d + n0d) - F.lit(9.0)))
    ok = (n1 > 1) & (n0 > 1) & (sp2 > 0)
    out = per.select(
        *keys,
        n1.cast("long").alias("n1"),
        n0.cast("long").alias("n0"),
        F.round(F.when((n1 > 0) & (n0 > 0), diff), round_to).alias("mean_diff"),
        F.round(F.when(ok, d), round_to).alias("cohens_d"),
        F.round(F.when(ok, g), round_to).alias("hedges_g"),
    )
    return out.orderBy(*keys) if keys else out


def effect_sizes_oracle_sql(
    units_sql: str,
    treat_col: str,
    value_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same one-pass HUGEINT arm moments, same pinned
    variance/pool/d/g tail."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    t = f"CAST({treat_col} AS INTEGER)"
    v = f"CAST({value_col} AS BIGINT)"
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {sel}
         CAST(SUM(CASE WHEN {t} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         SUM(CASE WHEN {t} = 1 THEN CAST({v} AS HUGEINT) ELSE 0 END) AS _s1,
         SUM(CASE WHEN {t} = 1 THEN CAST({v} AS HUGEINT) * CAST({v} AS HUGEINT) ELSE 0 END) AS _q1,
         CAST(SUM(CASE WHEN {t} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         SUM(CASE WHEN {t} = 0 THEN CAST({v} AS HUGEINT) ELSE 0 END) AS _s0,
         SUM(CASE WHEN {t} = 0 THEN CAST({v} AS HUGEINT) * CAST({v} AS HUGEINT) ELSE 0 END) AS _q0
  FROM units {("GROUP BY " + gc) if keys else ""}
),
calc AS (
  SELECT {sel}n1, n0,
         CAST(_s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(_s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS _diff,
         ((CAST(n1 AS DOUBLE) - 1.0)
            * (CAST(CAST(n1 AS HUGEINT) * _q1 - _s1 * _s1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
          + (CAST(n0 AS DOUBLE) - 1.0)
            * (CAST(CAST(n0 AS HUGEINT) * _q0 - _s0 * _s0 AS DOUBLE)
               / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))))
         / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0) AS _sp2
  FROM per
)
SELECT {sel}n1, n0,
       ROUND(CASE WHEN n1 > 0 AND n0 > 0 THEN _diff END, {round_to}) AS mean_diff,
       ROUND(CASE WHEN n1 > 1 AND n0 > 1 AND _sp2 > 0
             THEN _diff / SQRT(_sp2) END, {round_to}) AS cohens_d,
       ROUND(CASE WHEN n1 > 1 AND n0 > 1 AND _sp2 > 0
             THEN (_diff / SQRT(_sp2))
                  * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) - 9.0))
             END, {round_to}) AS hedges_g
FROM calc {order}
"""


def regression_influence(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
    top_n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Per-point OLS influence diagnostics for each group's y~x fit —
    leverage and Cook's distance, surfacing the ``top_n`` most
    fit-distorting points per group. The row-level companion to
    :func:`grouped_linreg` (the fit) and :func:`loo_group_influence`
    (group-level leave-out): "which individual records are bending this
    source's trend line".

    Exactness (exact one-scan algebra, not per-point refits): with the
    integer group moments S_x, S_y, S_xx, S_xy, S_yy,

        βnum = n·S_xy − S_x·S_y,  βden = n·S_xx − S_x²,
        R_i  = βden·(n·y_i − S_y) − βnum·(n·x_i − S_x)   (∝ residual),

    every quantity above is an exact DECIMAL(38,0) integer (width
    MEASURED fail-fast: 8·n³·max|x|²·max|y| < 10³⁸); leverage
    h_i = 1/n + (n·x_i − S_x)²/(n·βden), the residual e_i = R_i/(n·βden),
    s² = SSE/(n−2) and Cook's D_i = e_i²·h_i/(2·s²·(1−h_i)²) are the
    pinned float tail, token-identical in the oracle. The per-group
    top-n window orders by (cooks_d DESC, id ASC) — both engines rank
    identical doubles identically.

    Output: ``(group, id, x, y, leverage, cooks_d, rnk)`` for the
    ``top_n`` rows per group (groups need n > 2, nonzero x variance and
    SSE > 0 — degenerate groups yield no rows).
    """
    from pyspark.sql import Window

    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        integral_long(df, x_col, "regression_influence").alias("_x"),
        integral_long(df, y_col, "regression_influence").alias("_y"),
    )
    stats = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(F.col("_x"))).alias("_sx"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x"))).alias("_sxx"),
        F.sum(dec(F.col("_x")) * dec(F.col("_y"))).alias("_sxy"),
        F.sum(dec(F.col("_y")) * dec(F.col("_y"))).alias("_syy"),
        F.max(F.abs(F.col("_x"))).alias("_mx"),
        F.max(F.abs(F.col("_y"))).alias("_my"),
    )
    w = stats.agg(
        F.max("_n").alias("_n"),
        F.max("_mx").alias("_mx"),
        F.max("_my").alias("_my"),
    ).first()
    n_w, mx_w, my_w = (int(w[c] or 0) for c in ("_n", "_mx", "_my"))
    if 8 * (n_w**3) * (mx_w**2) * max(my_w, mx_w) >= 10**38:
        raise ValueError(
            f"regression_influence: 8·n³·max|x|²·max(|y|,|x|) = "
            f"8·{n_w}³·{mx_w}²·{max(my_w, mx_w)} would overflow the "
            "DECIMAL(38,0) residual numerators — rescale x/y or "
            "pre-aggregate"
        )
    j = base.join(stats.drop("_mx", "_my"), "_g")
    n = F.col("_n")
    bnum = dec(n) * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    bden = dec(n) * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    dx = dec(n) * dec(F.col("_x")) - F.col("_sx")
    dy = dec(n) * dec(F.col("_y")) - F.col("_sy")
    r_i = bden * dy - bnum * dx
    syyc = dec(n) * F.col("_syy") - F.col("_sy") * F.col("_sy")
    nd = n.cast("double")
    nbden = (dec(n) * bden).cast("double")
    h = F.lit(1.0) / nd + (dx * dx).cast("double") / nbden
    e = r_i.cast("double") / nbden
    sse = syyc.cast("double") / nd - (
        bnum.cast("double") * bnum.cast("double")
    ) / nbden
    s2 = sse / (nd - F.lit(2.0))
    cooks = (e * e * h) / (
        F.lit(2.0) * s2 * (F.lit(1.0) - h) * (F.lit(1.0) - h)
    )
    ok = (n > 2) & (bden > 0) & (sse > 0) & (h < 1.0)
    scored = j.where(ok).select(
        "_g",
        "_id",
        "_x",
        "_y",
        h.alias("_h"),
        cooks.alias("_cd"),
    )
    rnk = F.row_number().over(
        Window.partitionBy("_g").orderBy(
            F.col("_cd").desc(), F.col("_id").asc()
        )
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= top_n)
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_x").alias(x_col),
            F.col("_y").alias(y_col),
            F.round(F.col("_h"), round_to).alias("leverage"),
            F.round(F.col("_cd"), round_to).alias("cooks_d"),
            "rnk",
        )
    )


def regression_influence_oracle_sql(
    points_sql: str,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
    top_n: int = 3,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments/residual numerators, same
    pinned leverage/Cook's tail, same (cooks DESC, id ASC) QUALIFY
    top-n."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, {id_col} AS _id,
         CAST({x_col} AS BIGINT) AS _x, CAST({y_col} AS BIGINT) AS _y
  FROM ({points_sql})
),
stats AS (
  SELECT _g, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(_x AS HUGEINT)) AS _sx, SUM(CAST(_y AS HUGEINT)) AS _sy,
         SUM(CAST(_x AS HUGEINT) * CAST(_x AS HUGEINT)) AS _sxx,
         SUM(CAST(_x AS HUGEINT) * CAST(_y AS HUGEINT)) AS _sxy,
         SUM(CAST(_y AS HUGEINT) * CAST(_y AS HUGEINT)) AS _syy
  FROM base GROUP BY _g
),
scored AS (
  SELECT b._g, b._id, b._x, b._y,
         1.0 / CAST(s._n AS DOUBLE)
         + CAST((CAST(s._n AS HUGEINT) * b._x - s._sx)
                * (CAST(s._n AS HUGEINT) * b._x - s._sx) AS DOUBLE)
           / CAST(CAST(s._n AS HUGEINT)
                  * (CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx) AS DOUBLE)
         AS _h,
         CAST((CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx)
              * (CAST(s._n AS HUGEINT) * b._y - s._sy)
              - (CAST(s._n AS HUGEINT) * s._sxy - s._sx * s._sy)
                * (CAST(s._n AS HUGEINT) * b._x - s._sx) AS DOUBLE)
         / CAST(CAST(s._n AS HUGEINT)
                * (CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx) AS DOUBLE)
         AS _e,
         CAST(CAST(s._n AS HUGEINT) * s._syy - s._sy * s._sy AS DOUBLE)
           / CAST(s._n AS DOUBLE)
         - (CAST(CAST(s._n AS HUGEINT) * s._sxy - s._sx * s._sy AS DOUBLE)
            * CAST(CAST(s._n AS HUGEINT) * s._sxy - s._sx * s._sy AS DOUBLE))
           / CAST(CAST(s._n AS HUGEINT)
                  * (CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx) AS DOUBLE)
         AS _sse,
         s._n AS _n,
         CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx AS _bden
  FROM base b JOIN stats s ON b._g = s._g
),
flagged AS (
  SELECT _g, _id, _x, _y, _h,
         (_e * _e * _h)
         / (2.0 * (_sse / (CAST(_n AS DOUBLE) - 2.0))
            * (1.0 - _h) * (1.0 - _h)) AS _cd
  FROM scored
  WHERE _n > 2 AND _bden > 0 AND _sse > 0 AND _h < 1.0
)
SELECT _g AS {group_col}, _id AS {id_col}, _x AS {x_col}, _y AS {y_col},
       ROUND(_h, {round_to}) AS leverage, ROUND(_cd, {round_to}) AS cooks_d,
       CAST(ROW_NUMBER() OVER (PARTITION BY _g ORDER BY _cd DESC, _id ASC)
            AS INTEGER) AS rnk
FROM flagged
QUALIFY rnk <= {top_n}
"""


def iv_wald(
    df: DataFrame,
    outcome_col: str,
    exposure_col: str,
    instrument_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Instrumental-variable Wald estimator per segment — the causal
    readout when treatment is CONFOUNDED but an instrument exists
    (encouragement assigned, offer shown): the effect of exposure on
    outcome identified through the instrument,

        β_IV = (ȳ₁ − ȳ₀) / (x̄₁ − x̄₀)

    (intent-to-treat effect over first-stage compliance — the
    two-stage-least-squares estimate with one binary instrument). The
    companion to `did_estimate`/`cuped`: DiD needs parallel trends,
    CUPED a pre-period; IV needs only the exclusion restriction.

    Exactness: the six conditional sums (n, Σy, Σx per instrument arm)
    are exact DECIMAL(38,0) from ONE aggregation; each difference of
    means is the exact integer cross product over one pinned division;
    β is one more. Output per segment: ``(*by, n1, n0, itt, first_stage,
    beta_iv)`` — NULL β when the first stage is 0 (weak-instrument
    degenerate) or either arm is empty.
    """
    from .guards import integral_long

    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    z = F.col(instrument_col).cast("int")
    y = dec(integral_long(df, outcome_col, "iv_wald"))
    x = dec(integral_long(df, exposure_col, "iv_wald"))
    zero = F.lit(0).cast("decimal(38,0)")
    per = df.groupBy(*keys).agg(
        F.sum(F.when(z == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(z == 1, y).otherwise(zero)).alias("_y1"),
        F.sum(F.when(z == 1, x).otherwise(zero)).alias("_x1"),
        F.sum(F.when(z == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(z == 0, y).otherwise(zero)).alias("_y0"),
        F.sum(F.when(z == 0, x).otherwise(zero)).alias("_x0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    itt_num = dec(n0) * F.col("_y1") - dec(n1) * F.col("_y0")
    fs_num = dec(n0) * F.col("_x1") - dec(n1) * F.col("_x0")
    den = (dec(n1) * dec(n0)).cast("double")
    itt = itt_num.cast("double") / den
    fs = fs_num.cast("double") / den
    both = (n1 > 0) & (n0 > 0)
    return per.select(
        *keys,
        n1.cast("long").alias("n1"),
        n0.cast("long").alias("n0"),
        F.round(F.when(both, itt), round_to).alias("itt"),
        F.round(F.when(both, fs), round_to).alias("first_stage"),
        F.round(
            F.when(both & (fs_num != 0), itt / fs), round_to
        ).alias("beta_iv"),
    ).orderBy(*keys) if keys else per.select(
        n1.cast("long").alias("n1"),
        n0.cast("long").alias("n0"),
        F.round(F.when(both, itt), round_to).alias("itt"),
        F.round(F.when(both, fs), round_to).alias("first_stage"),
        F.round(
            F.when(both & (fs_num != 0), itt / fs), round_to
        ).alias("beta_iv"),
    )


def iv_wald_oracle_sql(
    units_sql: str,
    outcome_col: str,
    exposure_col: str,
    instrument_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same six HUGEINT conditional sums, same exact cross
    products and pinned divisions."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    z = f"CAST({instrument_col} AS INTEGER)"
    y = f"CAST(CAST({outcome_col} AS BIGINT) AS HUGEINT)"
    x = f"CAST(CAST({exposure_col} AS BIGINT) AS HUGEINT)"
    return f"""
WITH units AS ({units_sql}),
per AS (
  SELECT {sel}
         CAST(SUM(CASE WHEN {z} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         SUM(CASE WHEN {z} = 1 THEN {y} ELSE 0 END) AS _y1,
         SUM(CASE WHEN {z} = 1 THEN {x} ELSE 0 END) AS _x1,
         CAST(SUM(CASE WHEN {z} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         SUM(CASE WHEN {z} = 0 THEN {y} ELSE 0 END) AS _y0,
         SUM(CASE WHEN {z} = 0 THEN {x} ELSE 0 END) AS _x0
  FROM units {group}
)
SELECT {sel}n1, n0,
       ROUND(CASE WHEN n1 > 0 AND n0 > 0 THEN
         CAST(CAST(n0 AS HUGEINT) * _y1 - CAST(n1 AS HUGEINT) * _y0 AS DOUBLE)
         / CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE) END, {round_to}) AS itt,
       ROUND(CASE WHEN n1 > 0 AND n0 > 0 THEN
         CAST(CAST(n0 AS HUGEINT) * _x1 - CAST(n1 AS HUGEINT) * _x0 AS DOUBLE)
         / CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE) END, {round_to}) AS first_stage,
       ROUND(CASE WHEN n1 > 0 AND n0 > 0
                   AND (CAST(n0 AS HUGEINT) * _x1 - CAST(n1 AS HUGEINT) * _x0) <> 0
         THEN (CAST(CAST(n0 AS HUGEINT) * _y1 - CAST(n1 AS HUGEINT) * _y0 AS DOUBLE)
               / CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE))
              / (CAST(CAST(n0 AS HUGEINT) * _x1 - CAST(n1 AS HUGEINT) * _x0 AS DOUBLE)
                 / CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE))
         END, {round_to}) AS beta_iv
FROM per {order}
"""


def srm_check(
    df: DataFrame,
    arm_col: str,
    round_to: int = 6,
    max_arms: int | None = 1_000,
) -> DataFrame:
    """Sample-ratio-mismatch check for an equal-allocation experiment —
    the integrity gate that runs BEFORE any effect readout (`ab_test`,
    `effect_sizes`, `cuped` are all invalid if assignment itself is
    broken): a chi-square of the observed arm counts against the equal
    split,

        χ² = Σ_a (o_a − n/k)² / (n/k)  =  (k·Σo² − n²) / n

    — which the right-hand algebra makes EXACT: k·Σo² − n² is an exact
    DECIMAL integer, χ² is ONE pinned division. Output one row:
    ``(k, n, chi2)`` plus the max/min arm counts (the "which arm leaks"
    readout); NULL χ² when n = 0 or k < 2. One map-side-combined
    aggregation; the arm catalog is bounded (``max_arms``).
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(df, [(arm_col, max_arms, arm_col)], "srm_check")
    dec = lambda c: c.cast("decimal(38,0)")
    arms = df.groupBy(F.col(arm_col).alias("_a")).agg(
        F.count(F.lit(1)).alias("_o")
    )
    agg = arms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_o").alias("n"),
        F.sum(dec(F.col("_o")) * dec(F.col("_o"))).alias("_osq"),
        F.max("_o").alias("max_arm"),
        F.min("_o").alias("min_arm"),
    )
    k, n = F.col("k"), F.col("n")
    chi2 = (dec(k) * F.col("_osq") - dec(n) * dec(n)).cast("double") / n.cast(
        "double"
    )
    ok = (n > 0) & (k > 1)
    return agg.select(
        k.cast("long").alias("k"),
        n.cast("long").alias("n"),
        F.col("max_arm").cast("long").alias("max_arm"),
        F.col("min_arm").cast("long").alias("min_arm"),
        F.round(F.when(ok, chi2), round_to).alias("chi2"),
    )


def srm_check_oracle_sql(
    units_sql: str,
    arm_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact k·Σo² − n² numerator, one division."""
    return f"""
WITH units AS ({units_sql}),
arms AS (
  SELECT {arm_col} AS _a, CAST(COUNT(*) AS BIGINT) AS _o FROM units GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(_o) AS BIGINT) AS n,
         SUM(CAST(_o AS HUGEINT) * _o) AS _osq,
         CAST(MAX(_o) AS BIGINT) AS max_arm, CAST(MIN(_o) AS BIGINT) AS min_arm
  FROM arms
)
SELECT k, n, max_arm, min_arm,
       ROUND(CASE WHEN n > 0 AND k > 1 THEN
         CAST(CAST(k AS HUGEINT) * _osq - CAST(n AS HUGEINT) * n AS DOUBLE)
         / CAST(n AS DOUBLE) END, {round_to}) AS chi2
FROM agg
"""


def ols_two_factor(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Two-regressor OLS with intercept per segment — the multivariate
    step past :func:`grouped_linreg` (one regressor can't separate
    correlated drivers; two + Cramer's rule is the largest normal-
    equation system whose closed form stays a readable pinned tail):

        [n    Σx₁   Σx₂ ] [β₀]   [Σy  ]
        [Σx₁  Σx₁²  Σx₁x₂] [β₁] = [Σx₁y]
        [Σx₂  Σx₁x₂ Σx₂² ] [β₂]   [Σx₂y]

    solved by Cramer determinants. Exactness: all nine moments are
    exact DECIMAL(38,0) from ONE aggregation; each 3×3 determinant is
    the PINNED fixed-order float expression a(ei−fh) − b(di−fg) +
    c(dh−eg) over the exact moments cast to double (a determinant of
    38-digit integers exceeds any fixed-precision decimal — the pinned
    tail is the honest exact-prefix/float-suffix boundary, token-
    identical in the oracle); each β is one division. Output per
    segment: ``(*by, n, b0, b1, b2)`` — NULL βs when the system is
    singular (|det| = 0: collinear regressors or degenerate n).
    """
    from .guards import integral_long, require_sum_sq_width_multi

    require_sum_sq_width_multi(df, [y_col, x1_col, x2_col], "ols_two_factor")
    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    y = dec(integral_long(df, y_col, "ols_two_factor"))
    x1 = dec(integral_long(df, x1_col, "ols_two_factor"))
    x2 = dec(integral_long(df, x2_col, "ols_two_factor"))
    per = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x1).alias("_s1"),
        F.sum(x2).alias("_s2"),
        F.sum(x1 * x1).alias("_s11"),
        F.sum(x1 * x2).alias("_s12"),
        F.sum(x2 * x2).alias("_s22"),
        F.sum(y).alias("_sy"),
        F.sum(x1 * y).alias("_s1y"),
        F.sum(x2 * y).alias("_s2y"),
    )
    d = lambda c: F.col(c).cast("double")
    n = F.col("_n").cast("double")

    def det3(a, b, c, dd, e, f, g, h, i):
        return (
            a * (e * i - f * h) - b * (dd * i - f * g) + c * (dd * h - e * g)
        )

    den = det3(
        n, d("_s1"), d("_s2"),
        d("_s1"), d("_s11"), d("_s12"),
        d("_s2"), d("_s12"), d("_s22"),
    )
    num0 = det3(
        d("_sy"), d("_s1"), d("_s2"),
        d("_s1y"), d("_s11"), d("_s12"),
        d("_s2y"), d("_s12"), d("_s22"),
    )
    num1 = det3(
        n, d("_sy"), d("_s2"),
        d("_s1"), d("_s1y"), d("_s12"),
        d("_s2"), d("_s2y"), d("_s22"),
    )
    num2 = det3(
        n, d("_s1"), d("_sy"),
        d("_s1"), d("_s11"), d("_s1y"),
        d("_s2"), d("_s12"), d("_s2y"),
    )
    ok = den != 0.0
    out = per.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.round(F.when(ok, num0 / den), round_to).alias("b0"),
        F.round(F.when(ok, num1 / den), round_to).alias("b1"),
        F.round(F.when(ok, num2 / den), round_to).alias("b2"),
    )
    return out.orderBy(*keys) if keys else out


def ols_two_factor_oracle_sql(
    points_sql: str,
    y_col: str,
    x1_col: str,
    x2_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same nine HUGEINT moments, the token-identical
    pinned Cramer determinants and divisions."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    h = lambda c: f"CAST(CAST({c} AS BIGINT) AS HUGEINT)"

    def det3(a, b, c, dd, e, f, g, i1, i2):
        return (
            f"({a} * ({e} * {i2} - {f} * {i1}) "
            f"- {b} * ({dd} * {i2} - {f} * {g}) "
            f"+ {c} * ({dd} * {i1} - {e} * {g}))"
        )

    D = lambda c: f"CAST({c} AS DOUBLE)"
    n, s1, s2 = D("_n"), D("_s1"), D("_s2")
    s11, s12, s22 = D("_s11"), D("_s12"), D("_s22")
    sy, s1y, s2y = D("_sy"), D("_s1y"), D("_s2y")
    den = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    num0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    num1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    num2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    return f"""
WITH pts AS ({points_sql}),
per AS (
  SELECT {sel}
         CAST(COUNT(*) AS BIGINT) AS _n,
         SUM({h(x1_col)}) AS _s1, SUM({h(x2_col)}) AS _s2,
         SUM({h(x1_col)} * {h(x1_col)}) AS _s11,
         SUM({h(x1_col)} * {h(x2_col)}) AS _s12,
         SUM({h(x2_col)} * {h(x2_col)}) AS _s22,
         SUM({h(y_col)}) AS _sy,
         SUM({h(x1_col)} * {h(y_col)}) AS _s1y,
         SUM({h(x2_col)} * {h(y_col)}) AS _s2y
  FROM pts {group}
)
SELECT {sel}_n AS n,
       ROUND(CASE WHEN {den} <> 0.0 THEN {num0} / {den} END, {round_to}) AS b0,
       ROUND(CASE WHEN {den} <> 0.0 THEN {num1} / {den} END, {round_to}) AS b1,
       ROUND(CASE WHEN {den} <> 0.0 THEN {num2} / {den} END, {round_to}) AS b2
FROM per {order}
"""


def sample_size_power(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    mde_pct: float = 2.0,
    z_alpha: float = 1.959963984540054,  # two-sided 5%
    z_beta: float = 0.8416212335729143,  # 80% power
    round_to: int = 6,
) -> DataFrame:
    """Per-segment A/B sample-size requirement — the planning readout
    that belongs BEFORE `ab_test`/`effect_sizes` ship (an experiment
    that can't reach power is a decision already made): the classic
    two-arm normal-approximation formula at a relative minimum
    detectable effect,

        n/arm = 2 σ² (z_α/2 + z_β)² / (MDE·x̄)²,

    with σ², x̄ from the segment's own history. The z quantiles are
    fixed PYTHON literals (the ndcg DCG-weight precedent — neither
    engine evaluates an inverse normal CDF, which libm could disagree
    on in the last bit).

    Exactness: n, Σx, Σx² are exact DECIMAL(38,0) from one
    aggregation; variance, mean, and the n-per-arm tail are pinned
    float ops token-identical in the oracle. Output per segment:
    ``(*by, n_hist, mean, variance, n_per_arm)`` — NULL when the
    segment has < 2 rows, zero variance, or zero mean (relative MDE
    undefined). ``n_per_arm`` is ceiled to a whole unit.
    """
    from .guards import integral_long

    require_sum_sq_width(df, value_col, "sample_size_power")
    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    v = dec(integral_long(df, value_col, "sample_size_power"))
    per = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / nd
    varnum = (dec(F.col("_n")) * F.col("_q") - F.col("_s") * F.col("_s")).cast(
        "double"
    )
    var = varnum / (nd * (nd - F.lit(1.0)))
    delta = F.lit(float(mde_pct) / 100.0) * mean
    zsum = F.lit(float(z_alpha) + float(z_beta))
    n_arm = F.ceil(F.lit(2.0) * var * zsum * zsum / (delta * delta))
    ok = (F.col("_n") > 1) & (varnum > 0) & (mean != 0.0)
    out = per.select(
        *keys,
        F.col("_n").cast("long").alias("n_hist"),
        F.round(mean, round_to).alias("mean"),
        F.round(F.when(F.col("_n") > 1, var), round_to).alias("variance"),
        F.when(ok, n_arm).cast("long").alias("n_per_arm"),
    )
    return out.orderBy(*keys) if keys else out


def sample_size_power_oracle_sql(
    values_sql: str,
    value_col: str,
    by: list[str] | None = None,
    mde_pct: float = 2.0,
    z_alpha: float = 1.959963984540054,
    z_beta: float = 0.8416212335729143,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments, same literal z sum, same
    pinned tail and ceil."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    zsum = float(z_alpha) + float(z_beta)
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {sel}
         CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(CAST({value_col} AS BIGINT) AS HUGEINT)) AS _s,
         SUM(CAST(CAST({value_col} AS BIGINT) AS HUGEINT) * CAST({value_col} AS BIGINT)) AS _q
  FROM vals {group}
),
calc AS (
  SELECT {sel}_n,
         CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE) AS _mean,
         CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE) AS _varnum,
         CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)
           / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0)) AS _var
  FROM per
)
SELECT {sel}_n AS n_hist,
       ROUND(_mean, {round_to}) AS mean,
       ROUND(CASE WHEN _n > 1 THEN _var END, {round_to}) AS variance,
       CAST(CASE WHEN _n > 1 AND _varnum > 0 AND _mean <> 0.0 THEN
         CEIL(2.0 * _var * {zsum!r} * {zsum!r}
              / (({float(mde_pct) / 100.0!r} * _mean) * ({float(mde_pct) / 100.0!r} * _mean)))
       END AS BIGINT) AS n_per_arm
FROM calc {order}
"""


def regression_adjustment(
    df: DataFrame,
    x_col: str,
    y_col: str,
    arm_col: str,
    treated,
    control,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """ANCOVA / regression-adjusted treatment effect per segment — the
    post-stratified sibling of :func:`cuped_adjustment` (CUPED shifts
    each arm's mean by the POOLED covariate slope; regression
    adjustment fits the within-arm pooled slope, the classic ANCOVA
    ATE that is consistent under randomization even when arms differ
    on the covariate by chance):

        β = Σ_arm SS_xy(arm) / Σ_arm SS_xx(arm)   (pooled WITHIN-arm),
        ATE_adj = (ȳ_t − ȳ_c) − β·(x̄_t − x̄_c).

    Exactness: both β terms clear their per-arm 1/n by cross-scaling
    with the OTHER arm's n —

        Nβ = n_c·(n_t·Σxy_t − Σx_t·Σy_t) + n_t·(n_c·Σxy_c − Σx_c·Σy_c),
        Dβ = n_c·(n_t·Σx²_t − Σx_t²)     + n_t·(n_c·Σx²_c − Σx_c²),

    so β = Nβ/Dβ is a ratio of exact DECIMAL(38,0) integers (ONE
    pinned division), and ATE_adj is a fixed-order double tail
    token-identical in the oracle. Width is MEASURED (n³·mx·my bound
    vs 10³⁸) before the aggregation is scheduled. Plan: one
    conditional aggregation per segment (map-side combined), no join.
    Output: ``(*by, n_t, n_c, diff_raw, beta, ate_adj)``; NULL
    beta/ate when either arm is empty or Dβ ≤ 0 (no within-arm
    x-variance).
    """
    keys = list(by or [])
    for c in (x_col, y_col):
        dt = df.schema[c].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
            raise ValueError(
                f"regression_adjustment needs integral columns for exact "
                f"sums; got {c}: {dt}"
            )
    # measured width guard: the cross-scaled products are ≤ n³·mx·my
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.max(F.abs(F.col(x_col))).alias("_mx"),
        F.max(F.abs(F.col(y_col))).alias("_my"),
    ).first()
    n_all, mx, my = (row["_n"] or 0), (row["_mx"] or 0), (row["_my"] or 0)
    if n_all and int(n_all) ** 3 * int(mx) * max(int(mx), int(my)) >= 10**38:
        raise ValueError(
            f"regression_adjustment: n³·max(x)·max(x,y) = "
            f"{n_all}³·{mx}·{max(mx, my)} would overflow DECIMAL(38,0) — "
            "rescale the metric or pre-aggregate"
        )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    arm = F.col(arm_col)
    base = df.filter(x.isNotNull() & y.isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")

    def cell(val, tag):
        m = arm == F.lit(val)
        z = F.lit(0).cast("decimal(38,0)")
        return [
            F.sum(F.when(m, 1).otherwise(0)).alias(f"_n{tag}"),
            F.sum(F.when(m, dec(x)).otherwise(z)).alias(f"_sx{tag}"),
            F.sum(F.when(m, dec(y)).otherwise(z)).alias(f"_sy{tag}"),
            F.sum(F.when(m, dec(x) * dec(x)).otherwise(z)).alias(f"_sxx{tag}"),
            F.sum(F.when(m, dec(x) * dec(y)).otherwise(z)).alias(f"_sxy{tag}"),
        ]

    per = base.groupBy(*keys).agg(*cell(treated, "t"), *cell(control, "c"))
    nt, nc = dec(F.col("_nt")), dec(F.col("_nc"))
    nbeta = nc * (nt * F.col("_sxyt") - F.col("_sxt") * F.col("_syt")) + nt * (
        nc * F.col("_sxyc") - F.col("_sxc") * F.col("_syc")
    )
    dbeta = nc * (nt * F.col("_sxxt") - F.col("_sxt") * F.col("_sxt")) + nt * (
        nc * F.col("_sxxc") - F.col("_sxc") * F.col("_sxc")
    )
    ntd = F.col("_nt").cast("double")
    ncd = F.col("_nc").cast("double")
    diff_raw = F.col("_syt").cast("double") / ntd - F.col("_syc").cast("double") / ncd
    diff_x = F.col("_sxt").cast("double") / ntd - F.col("_sxc").cast("double") / ncd
    beta = nbeta.cast("double") / dbeta.cast("double")
    ok = (F.col("_nt") > 0) & (F.col("_nc") > 0) & (dbeta > 0)
    both = (F.col("_nt") > 0) & (F.col("_nc") > 0)
    out = per.select(
        *keys,
        F.col("_nt").cast("long").alias("n_t"),
        F.col("_nc").cast("long").alias("n_c"),
        F.round(F.when(both, diff_raw), round_to).alias("diff_raw"),
        F.round(F.when(ok, beta), round_to).alias("beta"),
        F.round(F.when(ok, diff_raw - beta * diff_x), round_to).alias("ate_adj"),
    )
    return out.orderBy(*keys) if keys else out


def regression_adjustment_oracle_sql(
    units_sql: str,
    x_col: str,
    y_col: str,
    arm_col: str,
    treated_sql: str,
    control_sql: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same cross-scaled HUGEINT β ratio, same fixed-order
    double tail."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""

    def cell(val, tag):
        m = f"{arm_col} = {val}"
        h = f"CAST(x AS HUGEINT)"
        hy = f"CAST(y AS HUGEINT)"
        return (
            f"CAST(SUM(CASE WHEN {m} THEN 1 ELSE 0 END) AS BIGINT) AS _n{tag},\n"
            f"         SUM(CASE WHEN {m} THEN {h} ELSE 0 END) AS _sx{tag},\n"
            f"         SUM(CASE WHEN {m} THEN {hy} ELSE 0 END) AS _sy{tag},\n"
            f"         SUM(CASE WHEN {m} THEN {h} * x ELSE 0 END) AS _sxx{tag},\n"
            f"         SUM(CASE WHEN {m} THEN {h} * y ELSE 0 END) AS _sxy{tag}"
        )

    nbeta = (
        "(CAST(_nc AS HUGEINT) * (CAST(_nt AS HUGEINT) * _sxyt - _sxt * _syt)"
        " + CAST(_nt AS HUGEINT) * (CAST(_nc AS HUGEINT) * _sxyc - _sxc * _syc))"
    )
    dbeta = (
        "(CAST(_nc AS HUGEINT) * (CAST(_nt AS HUGEINT) * _sxxt - _sxt * _sxt)"
        " + CAST(_nt AS HUGEINT) * (CAST(_nc AS HUGEINT) * _sxxc - _sxc * _sxc))"
    )
    diff_raw = (
        "(CAST(_syt AS DOUBLE) / CAST(_nt AS DOUBLE)"
        " - CAST(_syc AS DOUBLE) / CAST(_nc AS DOUBLE))"
    )
    diff_x = (
        "(CAST(_sxt AS DOUBLE) / CAST(_nt AS DOUBLE)"
        " - CAST(_sxc AS DOUBLE) / CAST(_nc AS DOUBLE))"
    )
    beta = f"(CAST({nbeta} AS DOUBLE) / CAST({dbeta} AS DOUBLE))"
    ok = f"_nt > 0 AND _nc > 0 AND {dbeta} > 0"
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}{arm_col}, CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y
  FROM units WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
),
per AS (
  SELECT {sel}{cell(treated_sql, "t")},
         {cell(control_sql, "c")}
  FROM base {group}
)
SELECT {sel}_nt AS n_t, _nc AS n_c,
       ROUND(CASE WHEN _nt > 0 AND _nc > 0 THEN {diff_raw} END, {round_to}) AS diff_raw,
       ROUND(CASE WHEN {ok} THEN {beta} END, {round_to}) AS beta,
       ROUND(CASE WHEN {ok} THEN {diff_raw} - {beta} * {diff_x} END, {round_to}) AS ate_adj
FROM per {order}
"""


# O'Brien–Fleming-type two-sided group-sequential z boundaries for
# K = 4 equally-spaced looks at overall α = 0.05 — textbook values
# (Jennison & Turnbull, "Group Sequential Methods", Table 2.3; also
# Pocock 1977 for the constant-boundary alternative). Shipped as fixed
# PYTHON float literals (the ndcg DCG-weight precedent): neither engine
# evaluates an inverse normal CDF, so the boundary constants cannot
# drift between engines in the last bit.
OBF_4LOOK_005 = [4.048591, 2.862786, 2.337455, 2.024407]


def group_sequential_check(
    df: DataFrame,
    look_col: str,
    arm_col: str,
    value_col: str,
    treated,
    control,
    boundaries: list[float] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Group-sequential boundary check — the interim-analysis companion
    to :func:`~.concentration.srm_check` (SRM asks "is the assignment
    broken?"; this asks "has the experiment already crossed its
    early-stopping boundary at look k?"). At each look the CUMULATIVE
    two-sample pooled-variance z statistic is compared against the
    caller's alpha-spending boundary sequence (default: the K=4
    O'Brien–Fleming two-sided 5% z values, shipped as pinned float
    literals — no inverse normal CDF on either engine):

        z_k = (ȳ_t − ȳ_c) / sqrt( s²_p · (1/n_t + 1/n_c) ),
        s²_p = (SS_t + SS_c) / (n_t + n_c − 2)     (cumulative cells).

    Exactness: per-look per-arm (n, Σy, Σy²) are exact DECIMAL(38,0);
    cumulation over looks is integer adds inside a window over the
    AGGREGATED ≤K-row frame (bounded by construction — K is the number
    of looks, not data); every SS/variance/z is a fixed-order double
    tail token-identical in the oracle; the boundary lookup indexes a
    shared literal array. Output per look: ``(look, n_t, n_c,
    info_frac, z, boundary, crossed)`` — z NULL when either
    cumulative arm is empty or the pooled variance is ≤ 0 or df ≤ 0;
    ``info_frac`` is the exact (n_t+n_c)/(N_t+N_c) ratio as ONE
    pinned division.
    """
    from pyspark.sql import Window

    bounds = [float(b) for b in (boundaries or OBF_4LOOK_005)]
    K = len(bounds)
    look = F.col(look_col).cast("long")
    v = F.col(value_col).cast("long")
    arm = F.col(arm_col)
    dec = lambda c: c.cast("decimal(38,0)")
    z0 = F.lit(0).cast("decimal(38,0)")

    def cell(val, tag):
        m = arm == F.lit(val)
        return [
            F.sum(F.when(m, 1).otherwise(0)).alias(f"_n{tag}"),
            F.sum(F.when(m, dec(v)).otherwise(z0)).alias(f"_s{tag}"),
            F.sum(F.when(m, dec(v) * dec(v)).otherwise(z0)).alias(f"_q{tag}"),
        ]

    per = (
        df.filter(v.isNotNull() & look.isNotNull() & (look >= 1) & (look <= K))
        .groupBy(look.alias("look"))
        .agg(*cell(treated, "t"), *cell(control, "c"))
    )
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "look",
        F.sum("_nt").over(w).alias("_cnt"),
        F.sum("_st").over(w).alias("_cst"),
        F.sum("_qt").over(w).alias("_cqt"),
        F.sum("_nc").over(w).alias("_cnc"),
        F.sum("_sc").over(w).alias("_csc"),
        F.sum("_qc").over(w).alias("_cqc"),
        (F.sum("_nt").over(wall) + F.sum("_nc").over(wall)).alias("_ntot"),
    )
    ntd = F.col("_cnt").cast("double")
    ncd = F.col("_cnc").cast("double")
    mt = F.col("_cst").cast("double") / ntd
    mc = F.col("_csc").cast("double") / ncd
    sst = (dec(F.col("_cnt")) * F.col("_cqt") - F.col("_cst") * F.col("_cst")).cast("double") / ntd
    ssc = (dec(F.col("_cnc")) * F.col("_cqc") - F.col("_csc") * F.col("_csc")).cast("double") / ncd
    dfree = ntd + ncd - F.lit(2.0)
    sp2 = (sst + ssc) / dfree
    z = (mt - mc) / F.sqrt(sp2 * (F.lit(1.0) / ntd + F.lit(1.0) / ncd))
    bexpr = F.element_at(F.array(*[F.lit(b) for b in bounds]), F.col("look").cast("int"))
    ok = (
        (F.col("_cnt") > 0)
        & (F.col("_cnc") > 0)
        & (dfree > 0)
        & (sst + ssc > 0)
    )
    return cum.select(
        F.col("look"),
        F.col("_cnt").cast("long").alias("n_t"),
        F.col("_cnc").cast("long").alias("n_c"),
        F.round(
            (F.col("_cnt") + F.col("_cnc")).cast("double")
            / F.col("_ntot").cast("double"),
            round_to,
        ).alias("info_frac"),
        F.round(F.when(ok, z), round_to).alias("z"),
        bexpr.alias("boundary"),
        F.when(ok, F.abs(z) >= bexpr).alias("crossed"),
    ).orderBy("look")


def group_sequential_check_oracle_sql(
    units_sql: str,
    look_col: str,
    arm_col: str,
    value_col: str,
    treated_sql: str,
    control_sql: str,
    boundaries: list[float] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same per-look HUGEINT cells, same bounded cumsum,
    token-identical z tail and literal boundary array."""
    bounds = [float(b) for b in (boundaries or OBF_4LOOK_005)]
    K = len(bounds)
    # CAST each element: a bare DuckDB list literal of decimals types as
    # DECIMAL, which would diverge from Spark's double boundary column
    blist = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bounds)
    mt = "(CAST(_cst AS DOUBLE) / CAST(_cnt AS DOUBLE))"
    mc = "(CAST(_csc AS DOUBLE) / CAST(_cnc AS DOUBLE))"
    sst = (
        "(CAST(CAST(_cnt AS HUGEINT) * _cqt - _cst * _cst AS DOUBLE)"
        " / CAST(_cnt AS DOUBLE))"
    )
    ssc = (
        "(CAST(CAST(_cnc AS HUGEINT) * _cqc - _csc * _csc AS DOUBLE)"
        " / CAST(_cnc AS DOUBLE))"
    )
    dfree = "(CAST(_cnt AS DOUBLE) + CAST(_cnc AS DOUBLE) - 2.0)"
    sp2 = f"(({sst} + {ssc}) / {dfree})"
    z = (
        f"(({mt} - {mc}) / SQRT({sp2} * (1.0 / CAST(_cnt AS DOUBLE)"
        f" + 1.0 / CAST(_cnc AS DOUBLE))))"
    )
    ok = f"_cnt > 0 AND _cnc > 0 AND {dfree} > 0 AND {sst} + {ssc} > 0"
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT CAST({look_col} AS BIGINT) AS look, {arm_col} AS arm,
         CAST({value_col} AS BIGINT) AS v
  FROM units
  WHERE {value_col} IS NOT NULL AND {look_col} IS NOT NULL
    AND CAST({look_col} AS BIGINT) BETWEEN 1 AND {K}
),
per AS (
  SELECT look,
         CAST(SUM(CASE WHEN arm = {treated_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _nt,
         SUM(CASE WHEN arm = {treated_sql} THEN CAST(v AS HUGEINT) ELSE 0 END) AS _st,
         SUM(CASE WHEN arm = {treated_sql} THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS _qt,
         CAST(SUM(CASE WHEN arm = {control_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _nc,
         SUM(CASE WHEN arm = {control_sql} THEN CAST(v AS HUGEINT) ELSE 0 END) AS _sc,
         SUM(CASE WHEN arm = {control_sql} THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS _qc
  FROM base GROUP BY look
),
cum AS (
  SELECT look,
         SUM(_nt) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cnt,
         SUM(_st) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cst,
         SUM(_qt) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cqt,
         SUM(_nc) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cnc,
         SUM(_sc) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _csc,
         SUM(_qc) OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cqc,
         SUM(_nt + _nc) OVER () AS _ntot
  FROM per
)
SELECT look,
       CAST(_cnt AS BIGINT) AS n_t,
       CAST(_cnc AS BIGINT) AS n_c,
       ROUND(CAST(_cnt + _cnc AS DOUBLE) / CAST(_ntot AS DOUBLE), {round_to}) AS info_frac,
       ROUND(CASE WHEN {ok} THEN {z} END, {round_to}) AS z,
       ([{blist}])[CAST(look AS INTEGER)] AS boundary,
       CASE WHEN {ok} THEN ABS({z}) >= ([{blist}])[CAST(look AS INTEGER)] END AS crossed
FROM cum ORDER BY look
"""


def ratio_metric_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Delta-method confidence interval for a per-segment RATIO metric
    (clicks/views, revenue/sessions — the metrics whose unit of
    analysis is the USER but whose readout is a ratio of totals, where
    a naive per-row proportion CI is simply wrong; Deng, Knoblich & Lu
    2018 give this estimator its A/B-testing form):

        R = Σy / Σx,
        Var(R) ≈ (s²_y − 2R·s_xy + R²·s²_x) / (n·x̄²),
        CI = R ± z·sqrt(Var).

    Exactness: n, Σx, Σy, Σx², Σxy, Σy² are exact DECIMAL(38,0) from
    ONE aggregation (width measured); R is a ratio of exact integers
    with ONE pinned division; the variance is a fixed-order double
    tail over the n-scaled exact moment differences, token-identical
    in the oracle; z is a shared Python float literal. Output per
    segment: ``(*by, n, sum_num, sum_den, ratio, se, ci_lo,
    ci_hi)`` — NULLs when n ≤ 1, Σx = 0, or the variance estimate is
    negative (degenerate inputs).
    """
    from .guards import require_sum_sq_width_multi

    require_sum_sq_width_multi(df, [num_col, den_col], "ratio_metric_ci")
    keys = list(by or [])
    for c in (num_col, den_col):
        dt = df.schema[c].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
            raise ValueError(
                f"ratio_metric_ci needs integral columns for exact sums; "
                f"got {c}: {dt}"
            )
    x = F.col(den_col).cast("long")
    y = F.col(num_col).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.filter(x.isNotNull() & y.isNotNull())
    per = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(dec(x) * dec(x)).alias("_sxx"),
        F.sum(dec(x) * dec(y)).alias("_sxy"),
        F.sum(dec(y) * dec(y)).alias("_syy"),
    )
    n = F.col("_n")
    nd = n.cast("double")
    nden = nd * (nd - F.lit(1.0))
    sx2 = (dec(n) * F.col("_sxx") - dec(F.col("_sx")) * dec(F.col("_sx"))).cast("double") / nden
    sy2 = (dec(n) * F.col("_syy") - dec(F.col("_sy")) * dec(F.col("_sy"))).cast("double") / nden
    sxy = (dec(n) * F.col("_sxy") - dec(F.col("_sx")) * dec(F.col("_sy"))).cast("double") / nden
    r = F.col("_sy").cast("double") / F.col("_sx").cast("double")
    xbar = F.col("_sx").cast("double") / nd
    varr = (sy2 - F.lit(2.0) * r * sxy + r * r * sx2) / (nd * xbar * xbar)
    ok = (n > 1) & (F.col("_sx") != 0)
    okv = ok & (varr >= 0)
    half = F.lit(float(z_crit)) * F.sqrt(varr)
    out = per.select(
        *keys,
        n.cast("long").alias("n"),
        F.col("_sy").cast("long").alias("sum_num"),
        F.col("_sx").cast("long").alias("sum_den"),
        F.round(F.when(F.col("_sx") != 0, r), round_to).alias("ratio"),
        F.round(F.when(okv, F.sqrt(varr)), round_to).alias("se"),
        F.round(F.when(okv, r - half), round_to).alias("ci_lo"),
        F.round(F.when(okv, r + half), round_to).alias("ci_hi"),
    )
    return out.orderBy(*keys) if keys else out


def ratio_metric_ci_oracle_sql(
    units_sql: str,
    num_col: str,
    den_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments, token-identical delta-method
    tail and shared z literal."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    z = repr(float(z_crit))
    nden = "(CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0))"
    sx2 = f"(CAST(CAST(_n AS HUGEINT) * _sxx - CAST(_sx AS HUGEINT) * _sx AS DOUBLE) / {nden})"
    sy2 = f"(CAST(CAST(_n AS HUGEINT) * _syy - CAST(_sy AS HUGEINT) * _sy AS DOUBLE) / {nden})"
    sxy = f"(CAST(CAST(_n AS HUGEINT) * _sxy - CAST(_sx AS HUGEINT) * _sy AS DOUBLE) / {nden})"
    r = "(CAST(_sy AS DOUBLE) / CAST(_sx AS DOUBLE))"
    xbar = "(CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE))"
    varr = (
        f"(({sy2} - 2.0 * {r} * {sxy} + {r} * {r} * {sx2})"
        f" / (CAST(_n AS DOUBLE) * {xbar} * {xbar}))"
    )
    ok = "_n > 1 AND _sx <> 0"
    okv = f"{ok} AND {varr} >= 0"
    half = f"({z} * SQRT({varr}))"
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({den_col} AS BIGINT) AS x, CAST({num_col} AS BIGINT) AS y
  FROM units WHERE {den_col} IS NOT NULL AND {num_col} IS NOT NULL
),
per AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(x) AS _sx, SUM(y) AS _sy,
         SUM(CAST(x AS HUGEINT) * x) AS _sxx,
         SUM(CAST(x AS HUGEINT) * y) AS _sxy,
         SUM(CAST(y AS HUGEINT) * y) AS _syy
  FROM base {group}
)
SELECT {sel}_n AS n,
       CAST(_sy AS BIGINT) AS sum_num,
       CAST(_sx AS BIGINT) AS sum_den,
       ROUND(CASE WHEN _sx <> 0 THEN {r} END, {round_to}) AS ratio,
       ROUND(CASE WHEN {okv} THEN SQRT({varr}) END, {round_to}) AS se,
       ROUND(CASE WHEN {okv} THEN {r} - {half} END, {round_to}) AS ci_lo,
       ROUND(CASE WHEN {okv} THEN {r} + {half} END, {round_to}) AS ci_hi
FROM per {order}
"""


def wilson_ci(
    df: DataFrame,
    success_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Wilson score interval for a per-segment proportion — the CI the
    Wald interval pretends to be (Wald collapses to zero width at
    p̂ ∈ {0,1} and undercovers badly at small n; Wilson inverts the
    score test and needs only sqrt, which IEEE requires exactly
    rounded — no beta quantiles, no logs):

        center = (p̂ + z²/2n) / (1 + z²/n),
        half   = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n).

    Exactness: n and successes are exact integers from one
    aggregation; p̂ is ONE pinned division and the interval is a
    fixed-order double tail with the shared z literal. NULL successes
    dropped first; any nonzero/true value counts as a success. Output
    per segment: ``(*by, n, successes, p_hat, ci_lo, ci_hi)`` — NULL
    CI when n = 0.
    """
    keys = list(by or [])
    s = F.col(success_col).cast("boolean")
    base = df.filter(s.isNotNull())
    per = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(s, 1).otherwise(0)).alias("_s"),
    )
    z = float(z_crit)
    nd = F.col("_n").cast("double")
    p = F.col("_s").cast("double") / nd
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(z)
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    ok = F.col("_n") > 0
    out = per.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.col("_s").cast("long").alias("successes"),
        F.round(F.when(ok, p), round_to).alias("p_hat"),
        F.round(F.when(ok, center - half), round_to).alias("ci_lo"),
        F.round(F.when(ok, center + half), round_to).alias("ci_hi"),
    )
    return out.orderBy(*keys) if keys else out


def wilson_ci_oracle_sql(
    units_sql: str,
    success_col: str,
    by: list[str] | None = None,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact counts, token-identical Wilson tail
    with the shared z literal."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    z = repr(float(z_crit))
    nd = "CAST(_n AS DOUBLE)"
    p = f"(CAST(_s AS DOUBLE) / {nd})"
    z2 = f"({z} * {z})"
    denom = f"(1.0 + {z2} / {nd})"
    center = f"(({p} + {z2} / (2.0 * {nd})) / {denom})"
    half = (
        f"({z} * SQRT({p} * (1.0 - {p}) / {nd}"
        f" + {z2} / (4.0 * {nd} * {nd})) / {denom})"
    )
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({success_col} AS BOOLEAN) AS _x
  FROM units WHERE {success_col} IS NOT NULL
),
per AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS _n,
         CAST(SUM(CASE WHEN _x THEN 1 ELSE 0 END) AS BIGINT) AS _s
  FROM base {group}
)
SELECT {sel}_n AS n, _s AS successes,
       ROUND(CASE WHEN _n > 0 THEN {p} END, {round_to}) AS p_hat,
       ROUND(CASE WHEN _n > 0 THEN {center} - {half} END, {round_to}) AS ci_lo,
       ROUND(CASE WHEN _n > 0 THEN {center} + {half} END, {round_to}) AS ci_hi
FROM per {order}
"""
