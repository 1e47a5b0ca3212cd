"""Poisson-bootstrap confidence intervals — uncertainty quantification
that actually works at 100 TB. The classical bootstrap resamples n rows
WITH replacement B times, which is undistributable (a resample needs
global coordination); the Poisson bootstrap (Chamandy et al., "Estimating
Uncertainty for Massive Data Streams", Google 2012; also Kleiner et al.'s
bag-of-little-bootstraps line) gives each row an INDEPENDENT Poisson(1)
replication count per resample — one scan, embarrassingly parallel,
and the resample means converge to the same sampling distribution.

Reference parity: no counterpart in the reference engine — the
statistics extension alongside `profile.ab_test` (Welch) and
`evaluation.calibration_curve`.

Determinism: no RNG. The per-(row, replicate) weight derives from a
pinned integer hash ``h = ((id mod p)·A + (b+1)·B₁) · A₂ mod p`` (p =
999999937 < 2³⁰, every product < 2⁶¹ — safe under ANSI overflow
checks), mapped through the Poisson(1) inverse CDF with literal
cumulative thresholds. The DuckDB oracle computes the identical integer
arithmetic, so weights — and therefore every resample mean — agree
exactly.

Scale posture: the B-fold replication happens INSIDE the scan
(`explode(sequence(...))` before a partially-aggregated groupBy), so
the shuffle carries O(groups × B) partial sums, never B× the corpus.
Weighted sums stay exact integers (callers pass integer metrics —
cents/counts); each resample mean is ONE double division; the CI is a
rank pick over the bounded B-row-per-group frame.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .guards import require_integral_id

_P = 999_999_937
_A = 2_654_435_761 % _P
_B1 = 40_503
_A2 = 97_003_999

# Poisson(1) inverse-CDF thresholds: P(X <= k) for k = 0..5; weights cap
# at 6 (P(X > 6) ~ 8e-5, bias negligible and identical on both engines).
_POISSON_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)

# Exact integer crossovers of the oracle's double comparison: for every
# integer h in [0, P), ``h/P >= _POISSON_CDF[k]`` (IEEE double division,
# which is monotone in h) holds iff ``h >= _POISSON_CDF_H[k]``. Derived
# by binary search over the same division and asserted at import, so the
# Spark side can stay in pure int64 per exploded row while remaining
# bit-identical to the oracle's float path (guide §2.3: cheaper per-row
# work on the B-fold-amplified scan).
_POISSON_CDF_H = (
    367879418,
    735758836,
    919698545,
    981011782,
    996340091,
    999405753,
)
for _t, _h in zip(_POISSON_CDF, _POISSON_CDF_H):
    assert (_h - 1) / _P < _t <= _h / _P, "poisson threshold drift"


def _hash_pre(id_col: str):
    """Replicate-invariant hash prefix ``((id mod p) mod p) · A`` —
    computed ONCE per unit before the B-fold explode instead of once per
    (unit, replicate). ((id % P) + P) % P: a negative id would otherwise
    make h (and u) negative, zero-weighting the unit in EVERY replicate —
    silently excluded from all resample means yet still counted in
    point_mean. The product stays < P·A < 2^60, inside int64."""
    nid = ((F.col(id_col).cast("long") % _P) + _P) % _P
    return nid * _A


def _weight_expr(pre_col: str, b_col: str):
    """Poisson(1) weight from the precomputed :func:`_hash_pre` column.
    Identical value to the oracle's ``CAST(h AS DOUBLE)/P >= t`` chain:
    the comparisons use the exact integer crossovers ``_POISSON_CDF_H``,
    so every op on the exploded frame is int64 (no per-row double
    division, no decimal)."""
    h = (
        F.col(pre_col)
        + (F.col(b_col).cast("long") + F.lit(1)) * _B1
    ) % _P
    h = (h * _A2) % _P
    w = F.lit(0)
    for t in _POISSON_CDF_H:
        w = w + (h >= F.lit(t)).cast("int")
    return w


def _weight_sql(id_expr: str, b_expr: str) -> str:
    nid = f"((({id_expr}) % {_P}) + {_P}) % {_P}"
    h = f"(({nid}) * {_A} + (({b_expr}) + 1) * {_B1}) % {_P}"
    h = f"(({h}) * {_A2}) % {_P}"
    u = f"CAST({h} AS DOUBLE) / CAST({_P} AS DOUBLE)"
    return " + ".join(
        f"CASE WHEN {u} >= {t!r} THEN 1 ELSE 0 END" for t in _POISSON_CDF
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    by: list[str],
    n_boot: int = 100,
    alpha: float = 0.05,
    round_to: int = 4,
) -> DataFrame:
    """Percentile bootstrap CI for the per-group MEAN of an exact
    integer metric. ``df`` has one row per unit: a unique integer
    ``id_col`` (the hash seed), integer ``value_col``, group columns.

    Output one row per group: ``(*by, n_units, point_mean, ci_lo,
    ci_hi)`` where the bounds are the ⌈B·α/2⌉-th and ⌈B·(1−α/2)⌉-th
    smallest of the B resample means (ties broken by replicate index,
    so the rank pick is total).
    """
    require_integral_id(df, id_col, "deterministic bootstrap hash")
    keys = list(by)
    lo_rank = math.ceil(n_boot * alpha / 2)
    hi_rank = math.ceil(n_boot * (1 - alpha / 2))
    rep = df.select(
        *keys,
        _hash_pre(id_col).alias("_hp"),
        F.col(value_col).cast("long").alias("_x"),
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("_b"),
    ).withColumn("_w", _weight_expr("_hp", "_b"))
    means = (
        rep.groupBy(*keys, "_b")
        .agg(
            F.sum(F.col("_w").cast("long") * F.col("_x")).alias("_wx"),
            F.sum(F.col("_w").cast("long")).alias("_wn"),
        )
        .where(F.col("_wn") > 0)  # an all-zero-weight resample has no
        # mean; dropped on BOTH engines (NULL sort order differs
        # between Spark and DuckDB, so a NULL must never reach the rank)
        .select(
            *keys,
            "_b",
            (F.col("_wx").cast("double") / F.col("_wn").cast("double")).alias(
                "_m"
            ),
        )
    )
    rank_w = Window.partitionBy(*keys).orderBy(F.col("_m").asc(), F.col("_b").asc())
    ranked = means.withColumn("_r", F.row_number().over(rank_w))
    ci = ranked.groupBy(*keys).agg(
        F.min(F.when(F.col("_r") == lo_rank, F.col("_m"))).alias("_lo"),
        F.min(F.when(F.col("_r") == hi_rank, F.col("_m"))).alias("_hi"),
    )
    point = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.col(value_col).cast("long")).alias("_sx"),
    )
    return (
        point.join(ci, on=keys)
        .select(
            *keys,
            "n_units",
            F.round(
                F.col("_sx").cast("double") / F.col("n_units").cast("double"),
                round_to,
            ).alias("point_mean"),
            F.round(F.col("_lo"), round_to).alias("ci_lo"),
            F.round(F.col("_hi"), round_to).alias("ci_hi"),
        )
        .orderBy(*keys)
    )


def poisson_bootstrap_ci_oracle_sql(
    units_sql: str,
    id_col: str,
    value_col: str,
    by: list[str],
    n_boot: int = 100,
    alpha: float = 0.05,
    round_to: int = 4,
) -> str:
    """DuckDB twin: identical integer hash → weight mapping, identical
    resample means and rank picks."""
    keys = list(by)
    gc = ", ".join(keys)
    lo_rank = math.ceil(n_boot * alpha / 2)
    hi_rank = math.ceil(n_boot * (1 - alpha / 2))
    w = _weight_sql("_id", "_b")
    return f"""
WITH units AS ({units_sql}),
rep AS (
  SELECT {gc}, CAST({id_col} AS BIGINT) AS _id,
         CAST({value_col} AS BIGINT) AS _x, u._b
  FROM units, UNNEST(range(0, {n_boot})) AS u(_b)
),
weighted AS (SELECT {gc}, _b, _x, CAST({w} AS BIGINT) AS _w FROM rep),
means AS (
  SELECT {gc}, _b,
         CAST(SUM(_w * _x) AS DOUBLE) / CAST(SUM(_w) AS DOUBLE) AS _m
  FROM weighted GROUP BY {gc}, _b
  HAVING SUM(_w) > 0
),
ranked AS (
  SELECT {gc}, _m,
         ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY _m ASC, _b ASC) AS _r
  FROM means
),
ci AS (
  SELECT {gc},
         MIN(CASE WHEN _r = {lo_rank} THEN _m END) AS _lo,
         MIN(CASE WHEN _r = {hi_rank} THEN _m END) AS _hi
  FROM ranked GROUP BY {gc}
),
pt AS (
  SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(CAST({value_col} AS BIGINT)) AS BIGINT) AS _sx
  FROM units GROUP BY {gc}
)
SELECT pt.* EXCLUDE (_sx),
       ROUND(CAST(_sx AS DOUBLE) / CAST(n_units AS DOUBLE), {round_to}) AS point_mean,
       ROUND(_lo, {round_to}) AS ci_lo,
       ROUND(_hi, {round_to}) AS ci_hi
FROM pt JOIN ci USING ({gc})
"""


def permutation_test(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_perm: int = 200,
    round_to: int = 6,
) -> DataFrame:
    """Deterministic two-sample randomization test for the difference
    of means — the non-parametric companion to `profile.ab_test`
    (Welch assumes near-normal sampling distributions; the permutation
    test's null is "labels are exchangeable", which holds for heavy-
    tailed revenue/latency metrics where t-tests mislead).

    Design (the :func:`poisson_bootstrap_ci` playbook): classical
    permutation fixes the group sizes per resample, which needs a
    global shuffle per replicate — undistributable. This runs the
    RANDOMIZATION-test variant: replicate ``b`` reassigns every unit to A
    with probability n_a/(n_a+n_b) via the pinned integer hash (no
    RNG), so every replicate is one branch-free projection and the
    whole test is ONE scan: explode ``n_perm`` replicates inside the
    scan, partial-aggregate (replicate → integer sums), one double
    subtraction per replicate. Shuffle carries O(n_perm) rows.

    p-value = (#{b: |d_b| ≥ |d_obs|} + 1) / (n_perm + 1) — the
    add-one-smoothed two-sided estimate (Phipson & Smyth 2010), exact
    integer comparison on both engines after rounding |d| to
    ``round_to``. Output one row: ``(n_a, n_b, mean_a, mean_b,
    diff_obs, p_value)``.

    ``value_col`` must be an exact integer metric (cents/counts), like
    the bootstrap.
    """
    require_integral_id(df, id_col, "deterministic bootstrap hash")
    g = F.col(group_col)
    base = df.where(g.isin([group_a, group_b])).select(
        _hash_pre(id_col).alias("_hp"),
        F.col(value_col).cast("long").alias("_x"),
        (g == F.lit(group_a)).alias("_is_a"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("_is_a"), F.col("_x"))).alias("_sa"),
        F.sum(F.when(~F.col("_is_a"), F.col("_x"))).alias("_sb"),
    )
    rep = base.select(
        "_hp",
        "_x",
        F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("_b"),
    )
    # reassignment: unit i joins A in replicate b iff
    # hash(i, b) * (n_a + n_b) < n_a * P. The cross-multiply needs more
    # than int64 (h < 2^30 but n_a+n_b is the CORPUS unit count, so the
    # product wraps past ~8e9 units under ANSI). Instead of a
    # DECIMAL(38,0) multiply on every (unit, replicate) row, fold the
    # inequality into ONE int64 threshold computed on the 1-row obs
    # frame (guide §2.3 — shrink per-row work on the B-fold-amplified
    # scan): for integers, h·n < n_a·P  ⟺  h ≤ (n_a·P − 1) div n; the
    # n_a = 0 edge is pinned to −1 because decimal div truncates toward
    # zero ((−1) div n = 0 would wrongly admit h = 0).
    h = (F.col("_hp") + (F.col("_b") + F.lit(1)) * _B1) % _P
    h = (h * _A2) % _P
    na, nb = F.col("n_a"), F.col("n_b")
    thr = obs.select(
        "n_a",
        "n_b",
        F.when(
            na > 0,
            F.expr(
                f"(CAST(n_a AS DECIMAL(38,0)) * {_P} - 1)"
                " div (CAST(n_a AS DECIMAL(38,0)) + CAST(n_b AS DECIMAL(38,0)))"
            ),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("_thr"),
    )
    flips = (
        rep.crossJoin(F.broadcast(thr))
        .withColumn("_to_a", h <= F.col("_thr"))
        .groupBy("_b")
        .agg(
            F.sum(F.when(F.col("_to_a"), F.col("_x"))).alias("_pa"),
            F.sum(F.when(~F.col("_to_a"), F.col("_x"))).alias("_pb"),
            F.sum(F.when(F.col("_to_a"), 1).otherwise(0)).alias("_ka"),
            F.sum(F.when(~F.col("_to_a"), 1).otherwise(0)).alias("_kb"),
        )
        .where((F.col("_ka") > 0) & (F.col("_kb") > 0))
    )
    d_perm = F.round(
        F.abs(
            F.col("_pa").cast("double") / F.col("_ka").cast("double")
            - F.col("_pb").cast("double") / F.col("_kb").cast("double")
        ),
        round_to,
    )
    d_obs = F.round(
        F.abs(
            F.col("_sa").cast("double") / F.col("n_a").cast("double")
            - F.col("_sb").cast("double") / F.col("n_b").cast("double")
        ),
        round_to,
    )
    extreme = (
        flips.crossJoin(F.broadcast(obs))
        .where(d_perm >= d_obs)
        .agg(F.count(F.lit(1)).alias("_ge"))
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("_sa").cast("double") / F.col("n_a").cast("double"), round_to
            ).alias("mean_a"),
            F.round(
                F.col("_sb").cast("double") / F.col("n_b").cast("double"), round_to
            ).alias("mean_b"),
            F.round(
                F.col("_sa").cast("double") / F.col("n_a").cast("double")
                - F.col("_sb").cast("double") / F.col("n_b").cast("double"),
                round_to,
            ).alias("diff_obs"),
            F.round(
                (F.col("_ge").cast("double") + F.lit(1.0))
                / F.lit(float(n_perm + 1)),
                round_to,
            ).alias("p_value"),
        )
    )


def permutation_test_oracle_sql(
    units_sql: str,
    id_col: str,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_perm: int = 200,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical hash reassignment, identical integer
    sums, identical rounded-double comparisons."""

    def lit(v) -> str:
        return f"'{str(v).replace(chr(39), chr(39) * 2)}'" if isinstance(v, str) else str(v)

    h = (
        f"((((((_id % {_P}) + {_P}) % {_P}) * {_A}"
        f" + (_b + 1) * {_B1}) % {_P}) * {_A2}) % {_P}"
    )
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT CAST({id_col} AS BIGINT) AS _id, CAST({value_col} AS BIGINT) AS _x,
         {group_col} = {lit(group_a)} AS _is_a
  FROM units WHERE {group_col} IN ({lit(group_a)}, {lit(group_b)})
),
obs AS (
  SELECT CAST(SUM(CASE WHEN _is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT _is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN _is_a THEN _x END) AS _sa,
         SUM(CASE WHEN NOT _is_a THEN _x END) AS _sb
  FROM base
),
rep AS (
  SELECT _id, _x, u._b FROM base, UNNEST(range(0, {n_perm})) AS u(_b)
),
flips AS (
  SELECT _b,
         SUM(CASE WHEN _to_a THEN _x END) AS _pa,
         SUM(CASE WHEN NOT _to_a THEN _x END) AS _pb,
         SUM(CASE WHEN _to_a THEN 1 ELSE 0 END) AS _ka,
         SUM(CASE WHEN NOT _to_a THEN 1 ELSE 0 END) AS _kb
  FROM (
    SELECT rep.*, CAST(({h}) AS HUGEINT) * (o.n_a + o.n_b)
                  < CAST(o.n_a AS HUGEINT) * {_P} AS _to_a
    FROM rep CROSS JOIN obs o
  ) GROUP BY _b
  HAVING SUM(CASE WHEN _to_a THEN 1 ELSE 0 END) > 0
     AND SUM(CASE WHEN NOT _to_a THEN 1 ELSE 0 END) > 0
),
ge AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS _ge FROM flips CROSS JOIN obs o
  WHERE ROUND(ABS(CAST(_pa AS DOUBLE) / CAST(_ka AS DOUBLE)
                  - CAST(_pb AS DOUBLE) / CAST(_kb AS DOUBLE)), {round_to})
        >= ROUND(ABS(CAST(o._sa AS DOUBLE) / CAST(o.n_a AS DOUBLE)
                     - CAST(o._sb AS DOUBLE) / CAST(o.n_b AS DOUBLE)), {round_to})
)
SELECT n_a, n_b,
       ROUND(CAST(_sa AS DOUBLE) / CAST(n_a AS DOUBLE), {round_to}) AS mean_a,
       ROUND(CAST(_sb AS DOUBLE) / CAST(n_b AS DOUBLE), {round_to}) AS mean_b,
       ROUND(CAST(_sa AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(_sb AS DOUBLE) / CAST(n_b AS DOUBLE), {round_to}) AS diff_obs,
       ROUND((CAST(_ge AS DOUBLE) + 1.0) / {float(n_perm + 1)!r}, {round_to}) AS p_value
FROM obs CROSS JOIN ge
"""
