"""Time-series structural readouts over bucketed metric series —
CUSUM changepoint location and the Mann-Kendall monotone-trend test.
The "did this source's volume shift, and when" audit a pipeline runs
over per-domain ingest rates before retraining on a new crawl.

Reference parity: the reference engine has no time-series operators;
this extends the analytics family (`profile.rolling_zscore`,
`funnel.cohort_retention`) with offline changepoint/trend detection.

Hash-match discipline: inputs are exact integers (callers pass cents /
counts); every cumulative sum and pairwise sign count stays integral
(DECIMAL where products can wrap int64); each emitted statistic is ONE
IEEE double division from exact integers, reproduced token-for-token in
the DuckDB oracles.

Scale posture: both operators run per group over a BOUNDED bucket spine
(daily/monthly calendar buckets — callers bucket precisely so the
per-group frame is O(spine), never O(rows)). CUSUM is one partial-agg
shuffle + one per-group window; Mann-Kendall's pairwise self-join is
O(spine²) per group — bounded by construction (84 months → 3.5k pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cusum_changepoint(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 4,
) -> DataFrame:
    """Offline CUSUM: per group, the bucket where the cumulative
    deviation from the group mean peaks — the classic single-changepoint
    location estimate (Page 1954; at a level shift, |S_i| is maximal at
    the change).

    ``df`` has one row per observation: ``time_col`` (orderable bucket),
    ``value_col`` (exact integer — cents/counts), ``by`` groups. With
    bucket sums x_1..x_n (time order) and T = Σx:

        S_i = (Σ_{j≤i} x_j) − i·T/n

    Exact integer cumsums and DECIMAL i·T (wraps int64 at corpus scale);
    ONE division by n. Output one row per group: ``(*by, n_buckets,
    peak_t, peak_cusum, total)`` where peak is argmax |S_i| with the
    deterministic (|S| DESC, t ASC) tie-break.
    """
    keys = list(by)
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    scored = per.select(
        *keys,
        "t",
        F.sum("x").over(wcum).alias("cum"),
        F.row_number().over(Window.partitionBy(*keys).orderBy("t")).alias("i"),
        F.sum("x").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select(
        *keys,
        "t",
        "total",
        "n",
        (
            F.col("cum").cast("double")
            - (
                F.col("i").cast("decimal(38,0)")
                * F.col("total").cast("decimal(38,0)")
            ).cast("double")
            / F.col("n").cast("double")
        ).alias("s"),
    )
    pick = Window.partitionBy(*keys).orderBy(
        F.abs(F.col("s")).desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(pick))
        .where(F.col("_r") == 1)
        .select(
            *keys,
            F.col("n").alias("n_buckets"),
            F.col("t").alias("peak_t"),
            F.round(F.col("s"), round_to).alias("peak_cusum"),
            "total",
        )
        .orderBy(*keys)
    )


def cusum_changepoint_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 4,
) -> str:
    """DuckDB twin: same integral cumsum, HUGEINT i·T, one division,
    same (|S| DESC, t ASC) pick."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
scored AS (
  SELECT {gc}, t,
         SUM(x) OVER (PARTITION BY {gc}) AS total,
         COUNT(*) OVER (PARTITION BY {gc}) AS n,
         CAST(SUM(x) OVER (PARTITION BY {gc} ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
         - CAST(CAST(ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY t)
                     AS HUGEINT)
                * CAST(SUM(x) OVER (PARTITION BY {gc}) AS HUGEINT) AS DOUBLE)
           / CAST(COUNT(*) OVER (PARTITION BY {gc}) AS DOUBLE) AS s
  FROM per
),
picked AS (
  SELECT {gc}, t, s, total, n,
         ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY ABS(s) DESC, t ASC) AS r
  FROM scored
)
SELECT {gc}, CAST(n AS BIGINT) AS n_buckets, t AS peak_t,
       ROUND(s, {round_to}) AS peak_cusum, CAST(total AS BIGINT) AS total
FROM picked WHERE r = 1
"""


def mann_kendall(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per group: the exact integer

        S = Σ_{i<j} sign(x_j − x_i)

    over the time-ordered bucket sums, plus Kendall's tau-a
    ``S / (n(n−1)/2)`` — the nonparametric "is this metric drifting"
    readout that needs no distributional assumption and tolerates ties.

    Pairwise self-join on the group keys with ``t_i < t_j`` — O(spine²)
    per group, bounded because callers pass calendar buckets. S and the
    pair count are exact integers; tau is ONE division. Output:
    ``(*by, n_buckets, s_stat, tau)``.
    """
    keys = list(by)
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    a = per.select(*keys, F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = per.select(*keys, F.col("t").alias("tj"), F.col("x").alias("xj"))
    pairs = a.join(b, on=keys).where(F.col("ti") < F.col("tj"))
    agg = pairs.groupBy(*keys).agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("long")).alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    # n from pair count: n_pairs = n(n-1)/2 — but recover n directly
    # from the bucket frame to keep the output self-explanatory.
    nper = per.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_buckets"))
    return (
        agg.join(nper, on=keys)
        .select(
            *keys,
            "n_buckets",
            "s_stat",
            F.round(
                F.col("s_stat").cast("double")
                / F.col("n_pairs").cast("double"),
                round_to,
            ).alias("tau"),
        )
        .orderBy(*keys)
    )


def mann_kendall_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same pairwise sign sum, same single division."""
    gc = ", ".join(by)
    on = " AND ".join(f"a.{k} = b.{k}" for k in by)
    ga = ", ".join(f"a.{k}" for k in by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
pairs AS (
  SELECT {ga}, CAST(SIGN(b.x - a.x) AS BIGINT) AS sg
  FROM per a JOIN per b ON {on} AND a.t < b.t
),
agg AS (
  SELECT {gc}, CAST(SUM(sg) AS BIGINT) AS s_stat,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY {gc}
),
nper AS (SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM per GROUP BY {gc})
SELECT n.*, a.s_stat,
       ROUND(CAST(a.s_stat AS DOUBLE) / CAST(a.n_pairs AS DOUBLE), {round_to}) AS tau
FROM nper n JOIN agg a USING ({gc})
"""


def ewma(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.3,
    round_to: int = 4,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Exponentially weighted moving average per group over the bounded
    bucket spine — the smoothed-level readout behind drift dashboards
    and the denominator of "is today off-trend" checks.

    Standard recursion E_1 = x_1, E_i = α·x_i + (1−α)·E_{i−1},
    evaluated as a left fold over the ascending-time value array — the
    `survival.kaplan_meier` prefix-fold pattern, reproduced in the
    DuckDB oracle with an identical ``list_reduce`` (same IEEE ops,
    same order → same doubles). O(T²) doubles per group, T bounded by
    the caller's bucketing. Output one row per bucket:
    ``(*by, t, x, ewma)``. The bounded-spine contract is enforced by
    ``guards.require_bounded_spines`` (an unbucketed time column would
    make the per-group fold row O(T²) — fail fast;
    ``max_buckets=None`` vouches).
    """
    from .guards import require_bounded_spines

    keys = list(by)
    df = require_bounded_spines(
        df, [(time_col, max_buckets, time_col)], "ewma", by=keys
    )
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    arr = per.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct("t", "x"))).alias("_a")
    )
    # ONE array-building fold per group (r13): the old shape exploded
    # positions first and re-folded each position's PREFIX (slice +
    # aggregate per row) — O(T²) interpreted lambda evaluations per
    # group. Appending E_i to the accumulator computes the identical
    # double sequence (E_1 = x_1, E_i = α·x_i + (1−α)·E_{i−1}, same op
    # order) in one O(T) pass, then a zip_with+posexplode emits the
    # same rows. Oracle unchanged — hash-exact by construction.
    # internal aliases prefixed to avoid colliding with caller group
    # column names (a group column literally named "s" — or "a" —
    # used to make the struct/array reference ambiguous)
    xs = F.transform(F.col("_a"), lambda s: s["x"])
    es = F.aggregate(
        F.slice(xs, F.lit(2), F.greatest(F.size(xs) - F.lit(1), F.lit(0))),
        F.array(F.element_at(xs, 1).cast("double")),
        lambda acc, x: F.array_append(
            acc,
            F.lit(alpha) * x.cast("double")
            + F.lit(1.0 - alpha) * F.element_at(acc, F.lit(-1)),
        ),
    )
    ex = arr.select(
        *keys,
        F.posexplode(
            F.zip_with(
                "_a",
                es,
                lambda s, ev: F.struct(
                    s["t"].alias("t"), s["x"].alias("x"), ev.alias("e")
                ),
            )
        ).alias("_i", "_z"),
    )
    return ex.select(
        *keys,
        F.col("_z.t").alias("t"),
        F.col("_z.x").alias("x"),
        F.round(F.col("_z.e"), round_to).alias("ewma"),
    ).orderBy(*keys, "t")


def ewma_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.3,
    round_to: int = 4,
) -> str:
    """DuckDB twin: identical ascending-time fold — list_reduce seeds
    from the first element exactly like the Spark init."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
arr AS (
  SELECT {gc}, list(t ORDER BY t) AS ts,
         list(CAST(x AS DOUBLE) ORDER BY t) AS xs,
         list(x ORDER BY t) AS xi
  FROM per GROUP BY {gc}
)
SELECT {gc}, ts[i] AS t, xi[i] AS x,
       ROUND(list_reduce(xs[1:i],
             (a, b) -> {alpha!r} * b + {1.0 - alpha!r} * a), {round_to}) AS ewma
FROM arr, UNNEST(range(1, len(ts) + 1)) AS u(i)
"""


def theil_sen(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Theil-Sen robust slope per group: the LOWER MEDIAN of all
    pairwise slopes (x_j − x_i)/(j − i) over the time-ordered bucket
    index — the outlier-proof trend magnitude that pairs with
    `mann_kendall`'s trend direction (same pairwise O(spine²) budget,
    bounded by the caller's bucketing).

    The time axis is the 1-based rank of the bucket (integer
    denominators stay exact even when bucket timestamps are irregular);
    each slope is ONE IEEE division; the median is a deterministic rank
    pick (slope ASC, i, j) at position ⌈m/2⌉. Output: ``(*by,
    n_buckets, n_pairs, slope)``.
    """
    keys = list(by)
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    idx = per.select(
        *keys,
        "x",
        F.row_number()
        .over(Window.partitionBy(*keys).orderBy("t"))
        .alias("i"),
    )
    a = idx.select(*keys, F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(*keys, F.col("i").alias("ib"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, on=keys)
        .where(F.col("ia") < F.col("ib"))
        .select(
            *keys,
            "ia",
            "ib",
            (
                (F.col("xb") - F.col("xa")).cast("double")
                / (F.col("ib") - F.col("ia")).cast("double")
            ).alias("sl"),
        )
    )
    rank_w = Window.partitionBy(*keys).orderBy(
        F.col("sl").asc(), F.col("ia").asc(), F.col("ib").asc()
    )
    ranked = slopes.withColumn("_r", F.row_number().over(rank_w)).withColumn(
        "_m", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    med = ranked.where(
        F.col("_r") == F.ceil(F.col("_m").cast("double") / F.lit(2.0)).cast("long")
    )
    nb = per.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_buckets"))
    return (
        nb.join(med.select(*keys, F.col("_m").alias("n_pairs"), "sl"), on=keys)
        .select(
            *keys, "n_buckets", "n_pairs", F.round(F.col("sl"), round_to).alias("slope")
        )
        .orderBy(*keys)
    )


def theil_sen_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same rank axis, same single-division slopes, same
    lower-median rank pick."""
    gc = ", ".join(by)
    on = " AND ".join(f"a.{k} = b.{k}" for k in by)
    ga = ", ".join(f"a.{k}" for k in by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
idx AS (
  SELECT {gc}, x,
         ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY t) AS i
  FROM per
),
slopes AS (
  SELECT {ga}, a.i AS ia, b.i AS ib,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS sl
  FROM idx a JOIN idx b ON {on} AND a.i < b.i
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY sl ASC, ia ASC, ib ASC) AS _r,
         COUNT(*) OVER (PARTITION BY {gc}) AS _m
  FROM slopes
),
med AS (
  SELECT {gc}, CAST(_m AS BIGINT) AS n_pairs, sl FROM ranked
  WHERE _r = CAST(CEIL(CAST(_m AS DOUBLE) / 2.0) AS BIGINT)
),
nb AS (SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM per GROUP BY {gc})
SELECT nb.*, med.n_pairs, ROUND(med.sl, {round_to}) AS slope
FROM nb JOIN med USING ({gc})
"""


def seasonality_index(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Month-of-year seasonal index per group: the ratio of each
    calendar month's average observation value to the group's overall
    average — >1 months run hot, <1 run cold. The "is December real or
    generator noise" readout before deseasonalizing a trend.

    index_m = (sum_m · n_total) / (n_m · sum_total): DECIMAL-exact
    cross products (both wrap int64 at corpus scale), ONE division.
    One (group, month) partial-agg shuffle + a bounded ≤12-row window.
    Output: ``(*by, month, n_obs, index)``.
    """
    keys = list(by)
    per = df.groupBy(
        *keys, F.month(F.col(time_col)).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col(value_col).cast("long")).alias("_s"),
    )
    wall = Window.partitionBy(*keys)
    tot = per.select(
        *keys,
        "month",
        "n_obs",
        "_s",
        F.sum("n_obs").over(wall).alias("_nt"),
        F.sum("_s").over(wall).alias("_st"),
    )
    num = F.col("_s").cast("decimal(38,0)") * F.col("_nt").cast("decimal(38,0)")
    den = F.col("n_obs").cast("decimal(38,0)") * F.col("_st").cast("decimal(38,0)")
    return tot.select(
        *keys,
        "month",
        "n_obs",
        F.round(num.cast("double") / den.cast("double"), round_to).alias("index"),
    ).orderBy(*keys, "month")


def seasonality_index_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT cross products, same single division."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, CAST(MONTH({time_col}) AS INTEGER) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM({value_col}) AS BIGINT) AS _s
  FROM series GROUP BY {gc}, MONTH({time_col})
)
SELECT {gc}, month, n_obs,
       ROUND(CAST(CAST(_s AS HUGEINT)
                  * CAST(SUM(n_obs) OVER (PARTITION BY {gc}) AS HUGEINT) AS DOUBLE)
             / CAST(CAST(n_obs AS HUGEINT)
                    * CAST(SUM(_s) OVER (PARTITION BY {gc}) AS HUGEINT) AS DOUBLE),
             {round_to}) AS index
FROM per
"""


def dispersion_index(
    df: DataFrame,
    time_col: str,
    by: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Burstiness per group: the index of dispersion (Fano factor)
    of per-bucket EVENT COUNTS — variance/mean, where 1 ≈ Poisson
    arrivals, ≫1 = bursty (bot/spam/batch-replay signature), <1 =
    metronome-regular. The per-source arrival-shape audit run before
    trusting engagement counts.

    With per-bucket counts c_1..c_n: D = (n·Σc² − (Σc)²) / (n·Σc) —
    population variance over mean collapsed to ONE division, DECIMAL
    moments (Σc² wraps int64 at corpus scale). One (group, bucket)
    partial-agg shuffle + one moment aggregate. Output: ``(*by,
    n_buckets, n_events, dispersion)`` (NULL when no events).
    """
    keys = list(by)
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("c").alias("n_events"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
        ).alias("_c2"),
    )
    n = F.col("n_buckets").cast("decimal(38,0)")
    num = (n * F.col("_c2") - F.col("n_events").cast("decimal(38,0)")
           * F.col("n_events").cast("decimal(38,0)"))
    den = n * F.col("n_events").cast("decimal(38,0)")
    return agg.select(
        *keys,
        "n_buckets",
        "n_events",
        F.round(
            F.when(
                F.col("n_events") > 0, num.cast("double") / den.cast("double")
            ),
            round_to,
        ).alias("dispersion"),
    ).orderBy(*keys)


def dispersion_index_oracle_sql(
    series_sql: str,
    time_col: str,
    by: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments, same single division."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(COUNT(*) AS BIGINT) AS c
  FROM series GROUP BY {gc}, {time_col}
),
agg AS (
  SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(c) AS BIGINT) AS n_events,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS _c2
  FROM per GROUP BY {gc}
)
SELECT {gc}, n_buckets, n_events,
       ROUND(CASE WHEN n_events > 0 THEN
         CAST(CAST(n_buckets AS HUGEINT) * _c2
              - CAST(n_events AS HUGEINT) * CAST(n_events AS HUGEINT) AS DOUBLE)
         / CAST(CAST(n_buckets AS HUGEINT) * CAST(n_events AS HUGEINT) AS DOUBLE)
       END, {round_to}) AS dispersion
FROM agg
"""


def holt_linear(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.3,
    beta: float = 0.1,
    round_to: int = 4,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Holt double-exponential smoothing per group — level + trend
    state and the one-step-ahead forecast, the "what does next month
    look like" readout on top of :func:`ewma`'s level-only smoothing.

    Standard recursion, l₁ = x₁, b₁ = x₂ − x₁, then for t ≥ 2:

        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}

    evaluated as ONE left fold with a (level, trend) struct accumulator
    over the ascending-time bucket array — O(spine) per group (cheaper
    than the O(spine²) per-step folds: only the FINAL state is
    emitted). The DuckDB oracle folds the identical struct recursion
    (every literal cast to DOUBLE — DuckDB float literals are DECIMAL),
    so the doubles agree bit-for-bit. Groups with one bucket emit a
    NULL trend/forecast. Output: ``(*by, n_buckets, level, trend,
    forecast)``. The bounded-spine contract is enforced by
    ``guards.require_bounded_spines`` (an unbucketed time column would
    collect a multi-GB array row per group — fail fast;
    ``max_buckets=None`` vouches).
    """
    from .guards import require_bounded_spines

    keys = list(by)
    df = require_bounded_spines(
        df, [(time_col, max_buckets, time_col)], "holt_linear", by=keys
    )
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    arr = per.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct("t", "x"))).alias("_a")
    )
    xs = F.transform(F.col("_a"), lambda s: s["x"].cast("double"))
    x1 = F.try_element_at(xs, F.lit(1))
    # try_: single-bucket groups have no x2 (NULL trend), and ANSI
    # element_at throws on the out-of-range access
    x2 = F.try_element_at(xs, F.lit(2))
    init = F.struct(x1.alias("l"), (x2 - x1).alias("b"))
    # 1−α / 1−β precomputed in python and injected as literals on BOTH
    # engines (DuckDB would otherwise compute them in DECIMAL)
    a_, b_ = F.lit(alpha), F.lit(beta)
    oma, omb = F.lit(1.0 - alpha), F.lit(1.0 - beta)

    def step(acc, x):
        lnew = a_ * x + oma * (acc["l"] + acc["b"])
        bnew = b_ * (
            (a_ * x + oma * (acc["l"] + acc["b"])) - acc["l"]
        ) + omb * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    state = F.aggregate(
        F.slice(xs, F.lit(2), F.greatest(F.size(xs) - F.lit(1), F.lit(0))),
        init,
        step,
    )
    out = arr.select(
        *keys,
        F.size("_a").alias("n_buckets"),
        state["l"].alias("_l"),
        state["b"].alias("_b"),
    )
    return out.select(
        *keys,
        "n_buckets",
        F.round(F.col("_l"), round_to).alias("level"),
        F.round(F.col("_b"), round_to).alias("trend"),
        F.round(F.col("_l") + F.col("_b"), round_to).alias("forecast"),
    ).orderBy(*keys)


def holt_linear_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.3,
    beta: float = 0.1,
    round_to: int = 4,
) -> str:
    """DuckDB twin: identical fold with a TWO-ELEMENT LIST accumulator
    ``[level, trend]`` — NOT a struct: DuckDB 1.0's ``list_reduce``
    computes wrong values for multi-field struct accumulators (the
    second field sees corrupted state; reproduced and pinned by
    tests/test_timeseries.py::test_holt_oracle_uses_list_accumulator),
    while the list form folds correctly. Elements are lifted to
    ``[x, 0.0]`` because list_reduce requires accumulator-typed
    elements; every literal is cast to DOUBLE (DuckDB float literals
    are DECIMAL)."""
    gc = ", ".join(by)
    a_, b_ = repr(alpha), repr(beta)
    oma, omb = repr(1.0 - alpha), repr(1.0 - beta)
    lnew = (
        f"CAST({a_} AS DOUBLE) * cur[1] "
        f"+ CAST({oma} AS DOUBLE) * (acc[1] + acc[2])"
    )
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
arr AS (
  SELECT {gc}, list(CAST(x AS DOUBLE) ORDER BY t) AS xs
  FROM per GROUP BY {gc}
),
folded AS (
  SELECT {gc}, len(xs) AS n_buckets,
         list_reduce(
           list_prepend(
             [xs[1], xs[2] - xs[1]],
             list_transform(xs[2:], x -> [x, CAST(0.0 AS DOUBLE)])
           ),
           (acc, cur) -> [
             {lnew},
             CAST({b_} AS DOUBLE) * (({lnew}) - acc[1])
             + CAST({omb} AS DOUBLE) * acc[2]
           ]
         ) AS st
  FROM arr
)
SELECT {gc}, CAST(n_buckets AS INTEGER) AS n_buckets,
       ROUND(st[1], {round_to}) AS level,
       ROUND(st[2], {round_to}) AS trend,
       ROUND(st[1] + st[2], {round_to}) AS forecast
FROM folded
"""


def seasonal_outliers(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    thr_num: int = 3,
    thr_den: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Month-over-years anomaly flags — "is THIS December unusual vs
    other Decembers": for every (group, year, month) bucket, the ratio
    of its total to the month-of-year average across years,

        ratio = s_{y,m} · k_m / t_m      (k_m years observed, t_m = Σ_y s_{y,m})

    flagged when the ratio leaves ``[den/num, num/den]``. Seasonal
    structure cancels by construction (each month is compared only to
    itself), so this complements :func:`seasonality_index` (which
    measures the structure) and :func:`cusum_changepoint` (which finds
    level shifts) without needing a decomposition.

    Exactness: both flag comparisons are INTEGER cross-multiplies in
    DECIMAL(38,0) (``s·k·den > num·t`` — no division, no doubles), and
    the reported ratio is one rounded double division. One
    (group, year, month) partial-agg shuffle + one (group, month)
    re-aggregation joined back — bounded by the calendar, not the
    corpus. Output: ``(*by, year, month, bucket_total, ratio,
    is_outlier)``.
    """
    keys = list(by)
    per = df.groupBy(
        *keys,
        F.year(F.col(time_col)).alias("year"),
        F.month(F.col(time_col)).alias("month"),
    ).agg(F.sum(F.col(value_col).cast("long")).alias("_s"))
    mon = per.groupBy(*keys, "month").agg(
        F.sum("_s").alias("_t"), F.count(F.lit(1)).alias("_k")
    )
    j = per.join(mon, keys + ["month"])
    dec = lambda c: c.cast("decimal(38,0)")
    sk = (dec(F.col("_s")) * dec(F.col("_k"))).cast("decimal(38,0)")
    hi = sk * F.lit(thr_den).cast("decimal(38,0)") > dec(F.col("_t")) * F.lit(
        thr_num
    ).cast("decimal(38,0)")
    lo = sk * F.lit(thr_num).cast("decimal(38,0)") < dec(F.col("_t")) * F.lit(
        thr_den
    ).cast("decimal(38,0)")
    return j.select(
        *keys,
        "year",
        "month",
        F.col("_s").alias("bucket_total"),
        F.round(sk.cast("double") / F.col("_t").cast("double"), round_to).alias(
            "ratio"
        ),
        (hi | lo).alias("is_outlier"),
    )


def seasonal_outliers_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    thr_num: int = 3,
    thr_den: int = 2,
    round_to: int = 6,
) -> str:
    """DuckDB twin: identical HUGEINT cross-multiplied flags, identical
    single division."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, CAST(YEAR({time_col}) AS INTEGER) AS year,
         CAST(MONTH({time_col}) AS INTEGER) AS month,
         CAST(SUM(CAST({value_col} AS BIGINT)) AS BIGINT) AS s
  FROM series GROUP BY {gc}, YEAR({time_col}), MONTH({time_col})
),
mon AS (
  SELECT {gc}, month, SUM(s) AS t, CAST(COUNT(*) AS BIGINT) AS k
  FROM per GROUP BY {gc}, month
)
SELECT p.{', p.'.join(by)}, p.year, p.month, p.s AS bucket_total,
       ROUND(CAST(CAST(p.s AS HUGEINT) * m.k AS DOUBLE)
             / CAST(m.t AS DOUBLE), {round_to}) AS ratio,
       (CAST(p.s AS HUGEINT) * m.k * {thr_den} > CAST(m.t AS HUGEINT) * {thr_num}
        OR CAST(p.s AS HUGEINT) * m.k * {thr_num} < CAST(m.t AS HUGEINT) * {thr_den})
       AS is_outlier
FROM per p JOIN mon m ON {' AND '.join(f'p.{k} = m.{k}' for k in by)}
     AND p.month = m.month
"""


def page_hinkley(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 4,
) -> DataFrame:
    """Offline Page-Hinkley drift statistic per group — the one-number
    "did the level shift upward, and when" alarm (Page 1954's other
    test; CUSUM locates the |deviation| peak, PH measures the maximal
    RISE of the cumulative deviation above its running minimum, the
    classic mean-increase detector):

        PH = max_t (C_t − min_{s≤t} C_s),   C_t = Σ_{j≤t} (x_j − x̄)

    over the time-ordered bucket sums. Exactness: deviations are
    scaled by n (``d_t = x_t·n − T``, exact integers — no mean
    division inside the scan); cumsum and running-min are integer
    windows over the group-partitioned bounded spine; ONE final
    division by n. ``alarm_t`` is the bucket achieving the max (ties →
    earliest). Output: ``(*by, n_buckets, ph_stat, alarm_t)``.
    """
    keys = list(by)
    per = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("x")
    )
    wall = Window.partitionBy(*keys)
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = lambda c: c.cast("decimal(38,0)")
    scored = per.select(
        *keys,
        "t",
        F.count(F.lit(1)).over(wall).alias("n"),
        (dec(F.col("x")) * dec(F.count(F.lit(1)).over(wall))).alias("_xn"),
        dec(F.sum("x").over(wall)).alias("_tot"),
    ).select(
        *keys,
        "t",
        "n",
        F.sum(F.col("_xn") - F.col("_tot")).over(wcum).alias("_c"),
    )
    rise = F.col("_c") - F.min("_c").over(wcum)
    pick = Window.partitionBy(*keys).orderBy(
        F.col("_rise").desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("_rise", rise)
        .withColumn("_r", F.row_number().over(pick))
        .where(F.col("_r") == 1)
        .select(
            *keys,
            F.col("n").alias("n_buckets"),
            F.round(
                F.col("_rise").cast("double") / F.col("n").cast("double"),
                round_to,
            ).alias("ph_stat"),
            F.col("t").alias("alarm_t"),
        )
        .orderBy(*keys)
    )


def page_hinkley_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    by: list[str],
    round_to: int = 4,
) -> str:
    """DuckDB twin: same n-scaled integer cumsum/running-min windows,
    same (rise DESC, t ASC) pick, one division."""
    gc = ", ".join(by)
    return f"""
WITH series AS ({series_sql}),
per AS (
  SELECT {gc}, {time_col} AS t, CAST(SUM({value_col}) AS BIGINT) AS x
  FROM series GROUP BY {gc}, {time_col}
),
ann AS (
  SELECT {gc}, t, x,
         COUNT(*) OVER (PARTITION BY {gc}) AS n,
         SUM(x) OVER (PARTITION BY {gc}) AS tot
  FROM per
),
scored AS (
  SELECT {gc}, t, n,
         SUM(CAST(x AS HUGEINT) * CAST(n AS HUGEINT) - CAST(tot AS HUGEINT))
           OVER (PARTITION BY {gc} ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _c
  FROM ann
),
risen AS (
  SELECT {gc}, t, n,
         _c - MIN(_c) OVER (PARTITION BY {gc} ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _rise
  FROM scored
),
picked AS (
  SELECT {gc}, t, n, _rise,
         ROW_NUMBER() OVER (PARTITION BY {gc} ORDER BY _rise DESC, t ASC) AS _r
  FROM risen
)
SELECT {gc}, CAST(n AS BIGINT) AS n_buckets,
       ROUND(CAST(_rise AS DOUBLE) / CAST(n AS DOUBLE), {round_to}) AS ph_stat,
       t AS alarm_t
FROM picked WHERE _r = 1
"""


def acf_lags(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    max_lag: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Per-group sample autocorrelation at lags 1..``max_lag`` over a
    bucketed series — the "does yesterday predict today" readout that
    sits before the ewma/holt smoothers (a flat ACF says don't bother;
    a spike at lag 7 says the seasonality index will work):

        acf_k = Σ_t (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)².

    Exactness (the n-SCALED deviation trick, the page_hinkley
    precedent): dev_t = n·x_t − S is an INTEGER, the lag products
    Σ dev_t·dev_{t−k} and the denominator Σ dev_t² are exact
    DECIMAL(38,0) — n² cancels in the ratio, so ONE pinned division per
    lag is the only float op. Width is MEASURED fail-fast
    (4·n³·max|x|² < 10³⁸), and duplicate (group, time) buckets raise —
    a silent duplicate would corrupt every lag alignment.

    Scale: everything is group-partitioned (stats join + one ordered
    lag window per group); no unpartitioned window, no driver loop.
    Output: ``(group, lag, n, acf)`` — acf NULL when the group has
    ≤ lag points or zero variance.
    """
    from .guards import integral_long

    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).alias("_t"),
        integral_long(df, value_col, "acf_lags").alias("_x"),
    )
    stats = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_s"),
        F.max(F.abs(F.col("_x"))).alias("_mx"),
    )
    # ONE probe action (r13): the duplicate-bucket gate and the
    # decimal-width gate used to run as two separate build-time scans
    # of the input (guide §1.2); both fold out of one two-level
    # aggregate — per-bucket counts roll up to per-group totals, whose
    # maxima are exactly the old probes' values
    wrow = (
        base.groupBy("_g", "_t")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.max(F.abs(F.col("_x"))).alias("_mb"),
        )
        .groupBy("_g")
        .agg(
            F.sum("_c").alias("_ng"),
            F.max("_c").alias("_dupg"),
            F.max("_mb").alias("_mxg"),
        )
        .agg(
            F.max("_dupg").alias("_dup"),
            F.max("_ng").alias("_n"),
            F.max("_mxg").alias("_mx"),
        )
        .first()
    )
    if (wrow["_dup"] or 0) > 1:
        raise ValueError(
            "acf_lags: duplicate (group, time) buckets — pre-aggregate "
            "the series (one row per bucket) or the lag alignment is "
            "meaningless"
        )
    n_w, mx_w = int(wrow["_n"] or 0), int(wrow["_mx"] or 0)
    if 4 * (n_w**3) * (mx_w**2) >= 10**38:
        raise ValueError(
            f"acf_lags: 4·n³·max(x)² = 4·{n_w}³·{mx_w}² would overflow "
            "the DECIMAL(38,0) lag-product sums — bucket the series "
            "coarser or rescale the metric"
        )
    dec = lambda c: c.cast("decimal(38,0)")
    dev = base.join(stats.select("_g", "_n", "_s"), "_g").select(
        "_g",
        "_t",
        "_n",
        (dec(F.col("_n")) * dec(F.col("_x")) - dec(F.col("_s"))).alias("_d"),
    )
    w = Window.partitionBy("_g").orderBy("_t")
    lag_terms = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                (F.col("_d") * F.lag("_d", k).over(w)).alias("prod"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    exploded = (
        dev.withColumn("_terms", lag_terms)
        .select("_g", "_n", "_d", F.explode("_terms").alias("_e"))
        .select(
            "_g",
            "_n",
            "_d",
            F.col("_e.lag").alias("lag"),
            F.col("_e.prod").alias("_prod"),
        )
    )
    per = exploded.groupBy("_g", "lag", "_n").agg(
        F.sum("_prod").alias("_num"),
        # each row contributes its dev² once per lag slot; divide back
        F.sum(F.col("_d") * F.col("_d")).alias("_densum"),
    )
    den = F.col("_densum")  # Σ dev² (identical for every lag of a group)
    return per.select(
        F.col("_g").alias(group_col),
        "lag",
        F.col("_n").cast("long").alias("n"),
        F.round(
            F.when(
                (F.col("_n") > F.col("lag")) & (den > 0),
                F.col("_num").cast("double") / den.cast("double"),
            ),
            round_to,
        ).alias("acf"),
    )


def acf_lags_oracle_sql(
    series_sql: str,
    group_col: str,
    time_col: str,
    value_col: str,
    max_lag: int = 5,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same n-scaled integer deviations, same per-lag
    HUGEINT products via group-partitioned LAG windows, same single
    pinned division per lag."""
    lag_rows = " UNION ALL ".join(f"SELECT {k} AS lag" for k in range(1, max_lag + 1))
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, {time_col} AS _t,
         CAST({value_col} AS BIGINT) AS _x
  FROM ({series_sql})
),
stats AS (
  SELECT _g, CAST(COUNT(*) AS BIGINT) AS _n, SUM(CAST(_x AS HUGEINT)) AS _s
  FROM base GROUP BY _g
),
dev AS MATERIALIZED (
  SELECT b._g, b._t, s._n,
         CAST(s._n AS HUGEINT) * CAST(b._x AS HUGEINT) - s._s AS _d
  FROM base b JOIN stats s ON b._g = s._g
),
lags AS ({lag_rows}),
terms AS (
  SELECT d._g, d._n, l.lag, d._d,
         d._d * LAG(d._d, l.lag) OVER (PARTITION BY d._g, l.lag ORDER BY d._t)
         AS _prod
  FROM dev d CROSS JOIN lags l
),
per AS (
  SELECT _g, lag, _n, SUM(_prod) AS _num, SUM(_d * _d) AS _densum
  FROM terms GROUP BY _g, lag, _n
)
SELECT _g AS {group_col}, lag, _n AS n,
       ROUND(CASE WHEN _n > lag AND _densum > 0
             THEN CAST(_num AS DOUBLE) / CAST(_densum AS DOUBLE) END,
             {round_to}) AS acf
FROM per
"""


def durbin_watson(
    df: DataFrame,
    group_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
    max_points: int | None = 100_000,
) -> DataFrame:
    """Durbin-Watson autocorrelation-of-residuals statistic per group —
    the "is this trend line hiding serial structure" check that sits
    between :func:`..profile.grouped_linreg` (the fit) and
    :func:`acf_lags` (the raw-series ACF): DW ≈ 2 means independent
    residuals, → 0 positive serial correlation (the fit is too smooth),
    → 4 negative:

        DW = Σ_t (e_t − e_{t−1})² / Σ_t e_t².

    Exactness: residuals are the exact INTEGER numerators
    R_t = βden·(n·y_t − S_y) − βnum·(n·x_t − S_x) of the one-scan OLS
    algebra (the `regression_influence` machinery) — DW is
    scale-invariant, so the common factor cancels and no division
    happens until the end. R_t² exceeds DECIMAL width, so each term is
    squared in DOUBLE (pinned: both engines cast the identical exact
    DECIMAL to the identical double) and summed as a TIME-ORDERED fold
    per group (cross-row float sums are order-dependent). Output:
    ``(group, n, dw)`` — NULL when n < 3, zero x variance, or zero
    residual energy (perfect fit).

    The series is bounded per group by contract
    (``require_bounded_spines`` on the time bucket — the acf_lags
    convention; the fold is one array per group).
    """
    from .dedup import _persist
    from ..operators.guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(time_col, max_points, time_col)], "durbin_watson", by=[group_col]
    )
    from .guards import integral_long

    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).alias("_t"),
        integral_long(df, x_col, "durbin_watson").alias("_x"),
        integral_long(df, y_col, "durbin_watson").alias("_y"),
    )
    stats = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        # duplicate (group, time) buckets make the LAG alignment
        # nondeterministic (the acf_lags precedent: Spark's struct-sort
        # tiebreak and DuckDB's unspecified list order would diverge on
        # the ordered float folds) — counted here, raised below, at zero
        # extra passes (the width scan already runs)
        F.count_distinct(F.col("_t")).alias("_nt"),
        F.sum(dec(F.col("_x"))).alias("_sx"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x"))).alias("_sxx"),
        F.sum(dec(F.col("_x")) * dec(F.col("_y"))).alias("_sxy"),
        F.max(F.abs(F.col("_x"))).alias("_mx"),
        F.max(F.abs(F.col("_y"))).alias("_my"),
    )
    w = stats.agg(
        F.max("_n").alias("_n"),
        F.max("_mx").alias("_mx"),
        F.max("_my").alias("_my"),
        F.max(F.col("_n") - F.col("_nt")).alias("_dups"),
    ).first()
    n_w, mx_w, my_w = (int(w[c] or 0) for c in ("_n", "_mx", "_my"))
    if int(w["_dups"] or 0) > 0:
        raise ValueError(
            "durbin_watson: duplicate (group, time) buckets — "
            "pre-aggregate the series (one row per bucket) or the "
            "residual lag alignment is meaningless"
        )
    # 16x, not the influence guard's 8x: the DW numerator takes the
    # DIFFERENCE of two residual numerators (|R_t − R_{t−1}| ≤ 2·|R|),
    # so the width bound doubles
    if 16 * (n_w**3) * (mx_w**2) * max(my_w, mx_w) >= 10**38:
        raise ValueError(
            f"durbin_watson: 16·n³·max|x|²·max(|y|,|x|) = "
            f"16·{n_w}³·{mx_w}²·{max(my_w, mx_w)} would overflow the "
            "DECIMAL(38,0) residual-difference numerators — rescale x/y "
            "or bucket coarser"
        )
    n = F.col("_n")
    bnum = dec(n) * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    bden = dec(n) * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    j = base.join(stats.select("_g", "_n", "_sx", "_sy", "_sxx", "_sxy"), "_g")
    r_t = (
        bden * (dec(n) * dec(F.col("_y")) - F.col("_sy"))
        - bnum * (dec(n) * dec(F.col("_x")) - F.col("_sx"))
    )
    res = j.select(
        "_g", "_t", "_n", r_t.alias("_r"), bden.alias("_bden")
    )
    wlag = Window.partitionBy("_g").orderBy("_t")
    res = res.withColumn("_rp", F.lag("_r", 1).over(wlag))
    per = res.groupBy("_g", "_n", "_bden").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_t").alias("t"),
                        (F.col("_r").cast("double") * F.col("_r").cast("double")).alias(
                            "v"
                        ),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("_den"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rp").isNotNull(),
                        F.struct(
                            F.col("_t").alias("t"),
                            (
                                (F.col("_r") - F.col("_rp")).cast("double")
                                * (F.col("_r") - F.col("_rp")).cast("double")
                            ).alias("v"),
                        ),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("_num"),
    )
    ok = (F.col("_n") > 2) & (F.col("_bden") > 0) & (F.col("_den") > 0)
    return per.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round(F.when(ok, F.col("_num") / F.col("_den")), round_to).alias("dw"),
    )


def durbin_watson_oracle_sql(
    points_sql: str,
    group_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact HUGEINT residual numerators, same
    time-ordered double folds, same pinned division."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, {time_col} AS _t,
         CAST({x_col} AS BIGINT) AS _x, CAST({y_col} AS BIGINT) AS _y
  FROM ({points_sql})
),
stats AS (
  SELECT _g, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(_x AS HUGEINT)) AS _sx, SUM(CAST(_y AS HUGEINT)) AS _sy,
         SUM(CAST(_x AS HUGEINT) * CAST(_x AS HUGEINT)) AS _sxx,
         SUM(CAST(_x AS HUGEINT) * CAST(_y AS HUGEINT)) AS _sxy
  FROM base GROUP BY _g
),
res AS MATERIALIZED (
  SELECT b._g, b._t, s._n,
         CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx AS _bden,
         (CAST(s._n AS HUGEINT) * s._sxx - s._sx * s._sx)
           * (CAST(s._n AS HUGEINT) * b._y - s._sy)
         - (CAST(s._n AS HUGEINT) * s._sxy - s._sx * s._sy)
           * (CAST(s._n AS HUGEINT) * b._x - s._sx) AS _r
  FROM base b JOIN stats s ON b._g = s._g
),
lagged AS (
  SELECT _g, _t, _n, _bden, _r,
         LAG(_r, 1) OVER (PARTITION BY _g ORDER BY _t) AS _rp
  FROM res
),
per AS (
  SELECT _g, _n, _bden,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_r AS DOUBLE) * CAST(_r AS DOUBLE) ORDER BY _t)),
           (a, b) -> a + b) AS _den,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_r - _rp AS DOUBLE) * CAST(_r - _rp AS DOUBLE) ORDER BY _t)
             FILTER (WHERE _rp IS NOT NULL)),
           (a, b) -> a + b) AS _num
  FROM lagged GROUP BY _g, _n, _bden
)
SELECT _g AS {group_col}, _n AS n,
       ROUND(CASE WHEN _n > 2 AND _bden > 0 AND _den > 0
             THEN _num / _den END, {round_to}) AS dw
FROM per
"""


def runs_test(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Wald-Wolfowitz runs test per group — "is this series random
    noise around its median, or does it clump" (too FEW runs = sticky
    regimes, too MANY = oscillation): the distribution-free cousin of
    :func:`durbin_watson` that needs no fitted line.

    Median-dichotomize (values EQUAL to the median are dropped, the
    standard convention), count runs, compare to the exact null
    moments:

        μ = 1 + 2n₁n₂/n,   σ² = 2n₁n₂(2n₁n₂ − n) / (n²(n−1)),
        z = (R − μ)/σ.

    Exactness: the DOUBLED per-group median (two middle order
    statistics from the per-group cumulative histogram — the
    brown_forsythe machinery) keeps the dichotomy integer-exact
    (2x vs m2); runs are an integer lag count over the time order;
    μ/σ/z are the pinned tail from integer n₁/n₂/R. All windows are
    group-partitioned; the value spine is caller-bounded
    (``require_bounded_spines``). Output per group:
    ``(group, n1, n2, runs, z)`` — NULL z when either side is empty or
    σ² ≤ 0.
    """
    from ..operators.guards import require_bounded_spines

    df = require_bounded_spines(df, [(value_col, max_buckets, value_col)], "runs_test")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).alias("_t"),
        F.col(value_col).cast("long").alias("_x"),
    )
    hist = base.groupBy("_g", "_x").agg(F.count(F.lit(1)).alias("_c"))
    wg = Window.partitionBy("_g").orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_g",
        "_x",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_ng"),
    )
    med = cum.groupBy("_g").agg(
        (
            F.min(F.when(F.col("_cum") >= F.expr("(_ng + 1) div 2"), F.col("_x")))
            + F.min(F.when(F.col("_cum") >= F.expr("_ng div 2 + 1"), F.col("_x")))
        ).alias("_m2")
    )
    marked = (
        base.join(med, "_g")
        .where(F.lit(2) * F.col("_x") != F.col("_m2"))
        .withColumn("_hi", (F.lit(2) * F.col("_x") > F.col("_m2")).cast("int"))
    )
    wt = Window.partitionBy("_g").orderBy("_t")
    flips = marked.withColumn("_prev", F.lag("_hi", 1).over(wt))
    per = flips.groupBy("_g").agg(
        F.sum("_hi").alias("n1"),
        F.sum(F.lit(1) - F.col("_hi")).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("_prev").isNotNull() & (F.col("_prev") != F.col("_hi")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    mu = F.lit(1.0) + F.lit(2.0) * n1d * n2d / nd
    var = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0)
    return per.select(
        F.col("_g").alias(group_col),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("runs").cast("long").alias("runs"),
        F.round(
            F.when(ok, (F.col("runs").cast("double") - mu) / F.sqrt(var)),
            round_to,
        ).alias("z"),
    )


def runs_test_oracle_sql(
    series_sql: str,
    group_col: str,
    time_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled per-group median dichotomy, same
    integer run count over the time order, same pinned z tail."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, {time_col} AS _t,
         CAST({value_col} AS BIGINT) AS _x
  FROM ({series_sql})
),
cum AS (
  SELECT _g, _x,
         SUM(_c) OVER (PARTITION BY _g ORDER BY _x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         SUM(_c) OVER (PARTITION BY _g) AS _ng
  FROM (SELECT _g, _x, CAST(COUNT(*) AS BIGINT) AS _c FROM base GROUP BY 1, 2)
),
med AS (
  SELECT _g,
         MIN(CASE WHEN _cum >= (_ng + 1) // 2 THEN _x END)
         + MIN(CASE WHEN _cum >= _ng // 2 + 1 THEN _x END) AS _m2
  FROM cum GROUP BY _g
),
marked AS (
  SELECT b._g, b._t,
         CASE WHEN 2 * b._x > m._m2 THEN 1 ELSE 0 END AS _hi
  FROM base b JOIN med m ON b._g = m._g
  WHERE 2 * b._x != m._m2
),
flips AS (
  SELECT _g, _hi,
         LAG(_hi, 1) OVER (PARTITION BY _g ORDER BY _t) AS _prev
  FROM marked
),
per AS (
  SELECT _g, CAST(SUM(_hi) AS BIGINT) AS n1,
         CAST(SUM(1 - _hi) AS BIGINT) AS n2,
         CAST(1 + SUM(CASE WHEN _prev IS NOT NULL AND _prev != _hi
                      THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM flips GROUP BY _g
)
SELECT _g AS {group_col}, n1, n2, runs,
       ROUND(CASE WHEN n1 > 0 AND n2 > 0 AND
         2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
            - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
            * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0)) > 0
         THEN (CAST(runs AS DOUBLE)
               - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
              / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                     / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0)))
         END, {round_to}) AS z
FROM per
"""


def ffill_series(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    max_points: int | None = 100_000,
) -> DataFrame:
    """Densify a sparse integer-bucketed series and forward-fill — the
    spine-repair step every calendar readout silently assumes (`ewma`,
    `holt_linear`, `acf_lags` all treat consecutive rows as consecutive
    PERIODS; a sparse month with no orders would otherwise compress
    time): per group, generate every bucket from the group's min to its
    max, left-join the observed values, and carry the last observation
    forward.

        filled_t = v_t if observed else v_{t'} for the max t' < t observed.

    Exactness: bucket spines are integer `sequence`s, the fill is
    `last(value, ignorenulls)` over the time-ordered group window —
    deterministic (one observed value per bucket enforced by a
    duplicate fail-fast, the acf_lags rule). Output: ``(group, time,
    value, filled, is_observed)``; leading missing buckets (nothing to
    carry) stay NULL.

    Scale: spine generation is one row per group exploded to its own
    range (bounded per group by ``max_points`` via
    ``require_bounded_spines``), the join is group+time keyed, the fill
    window is group-partitioned — nothing global anywhere.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(time_col, max_points, time_col)], "ffill_series", by=[group_col]
    )
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(time_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
    )
    chk = base.groupBy("_g", "_t").agg(F.count(F.lit(1)).alias("_c")).agg(
        F.max("_c").alias("_dup")
    ).first()
    if int(chk["_dup"] or 0) > 1:
        raise ValueError(
            "ffill_series: duplicate (group, time) buckets — pre-aggregate "
            "the series (one row per bucket) before densifying"
        )
    spine = (
        base.groupBy("_g")
        .agg(F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
        .select(
            "_g", F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_t")
        )
    )
    joined = spine.join(base, ["_g", "_t"], "left")
    w = Window.partitionBy("_g").orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        F.col("_g").alias(group_col),
        F.col("_t").alias(time_col),
        F.col("_v").alias(value_col),
        F.last("_v", ignorenulls=True).over(w).alias("filled"),
        F.col("_v").isNotNull().alias("is_observed"),
    )


def ffill_series_oracle_sql(
    series_sql: str,
    group_col: str,
    time_col: str,
    value_col: str,
) -> str:
    """DuckDB twin: same per-group generate_series spine, same
    IGNORE NULLS last-value carry."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, CAST({time_col} AS BIGINT) AS _t,
         CAST({value_col} AS BIGINT) AS _v
  FROM ({series_sql})
),
bounds AS (
  SELECT _g, MIN(_t) AS _lo, MAX(_t) AS _hi FROM base GROUP BY _g
),
spine AS (
  -- list-function range (not the generate_series table function: that
  -- one rejects lateral column parameters in DuckDB)
  SELECT _g, CAST(unnest(range(_lo, _hi + 1)) AS BIGINT) AS _t
  FROM bounds
),
joined AS (
  SELECT s._g, s._t, base._v
  FROM spine s LEFT JOIN base ON s._g = base._g AND s._t = base._t
)
SELECT _g AS {group_col}, _t AS {time_col}, _v AS {value_col},
       LAST_VALUE(_v IGNORE NULLS) OVER (
         PARTITION BY _g ORDER BY _t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       _v IS NOT NULL AS is_observed
FROM joined
"""


def seasonal_naive_eval(
    df: DataFrame,
    time_col: str,
    value_col: str,
    period: int,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Seasonal-naive forecast baseline with in-sample error readout —
    the benchmark every real forecaster (`holt_linear`,
    `seasonal_outliers`' decomposition) must beat before it ships
    (Hyndman & Koehler 2006: MASE scales a model's MAE by the naive
    method's, so "MASE < 1" is the universal "better than doing
    nothing" bar):

        ŷ_t(seasonal) = y_{t−m},   ŷ_t(naive) = y_{t−1},
        MASE = MAE_seasonal / MAE_naive
             = (Σ|e_s| · n_naive) / (Σ|e_n| · n_seasonal).

    Exactness: both error sums are exact integer |y − lag(y)| sums;
    MASE clears the two 1/n factors by cross-multiplying counts, so it
    is a ratio of exact DECIMAL(38,0) integers with ONE pinned
    division; MAEs and RMSE are single pinned divisions (sqrt pinned).
    Contract: ``time_col`` is UNIQUE per group (a bucketed series —
    the lag is positional over the time order, so duplicate times
    would make it nondeterministic); NULL values are dropped first.
    Plan: one per-group lag window (distributed per-group sort), one
    aggregation. Output per group: ``(*by, n, mae_seasonal,
    mae_naive, mase, rmse_seasonal)`` — NULLs when a term's
    evaluation span is empty or the naive error sum is 0.
    """
    if period < 2:
        raise ValueError("seasonal_naive_eval: period must be ≥ 2")
    keys = list(by or [])
    t = F.col(time_col)
    v = F.col(value_col).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.filter(v.isNotNull() & t.isNotNull()).select(
        *keys, t.alias("_t"), v.alias("_v")
    )
    w = Window.partitionBy(*keys).orderBy("_t")
    lagged = base.select(
        *keys,
        "_v",
        F.lag("_v", period).over(w).alias("_ls"),
        F.lag("_v", 1).over(w).alias("_ln"),
    )
    es = F.abs(F.col("_v") - F.col("_ls"))
    en = F.abs(F.col("_v") - F.col("_ln"))
    z = F.lit(0).cast("decimal(38,0)")
    agg = lagged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_ls").isNotNull(), 1).otherwise(0)).alias("_ns"),
        F.sum(F.when(F.col("_ls").isNotNull(), dec(es)).otherwise(z)).alias("_ses"),
        F.sum(F.when(F.col("_ls").isNotNull(), dec(es) * dec(es)).otherwise(z)).alias("_qes"),
        F.sum(F.when(F.col("_ln").isNotNull(), 1).otherwise(0)).alias("_nn"),
        F.sum(F.when(F.col("_ln").isNotNull(), dec(en)).otherwise(z)).alias("_sen"),
    )
    nsd = F.col("_ns").cast("double")
    nnd = F.col("_nn").cast("double")
    mae_s = F.col("_ses").cast("double") / nsd
    mae_n = F.col("_sen").cast("double") / nnd
    mase_num = F.col("_ses") * dec(F.col("_nn"))
    mase_den = F.col("_sen") * dec(F.col("_ns"))
    out = agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(F.when(F.col("_ns") > 0, mae_s), round_to).alias("mae_seasonal"),
        F.round(F.when(F.col("_nn") > 0, mae_n), round_to).alias("mae_naive"),
        F.round(
            F.when(
                (F.col("_ns") > 0) & (mase_den > 0),
                mase_num.cast("double") / mase_den.cast("double"),
            ),
            round_to,
        ).alias("mase"),
        F.round(
            F.when(
                F.col("_ns") > 0,
                F.sqrt(F.col("_qes").cast("double") / nsd),
            ),
            round_to,
        ).alias("rmse_seasonal"),
    )
    return out.orderBy(*keys) if keys else out


def seasonal_naive_eval_oracle_sql(
    series_sql: str,
    time_col: str,
    value_col: str,
    period: int,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same positional lags over the time order, same
    HUGEINT error sums and cross-multiplied MASE ratio."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    part = f"PARTITION BY {gc} " if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    return f"""
WITH series AS ({series_sql}),
base AS (
  SELECT {sel}{time_col} AS _t, CAST({value_col} AS BIGINT) AS _v
  FROM series WHERE {value_col} IS NOT NULL AND {time_col} IS NOT NULL
),
lagged AS (
  SELECT {sel}_v,
         lag(_v, {period}) OVER ({part}ORDER BY _t) AS _ls,
         lag(_v, 1) OVER ({part}ORDER BY _t) AS _ln
  FROM base
),
agg AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN _ls IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS _ns,
         SUM(CASE WHEN _ls IS NOT NULL THEN CAST(ABS(_v - _ls) AS HUGEINT) ELSE 0 END) AS _ses,
         SUM(CASE WHEN _ls IS NOT NULL THEN CAST(ABS(_v - _ls) AS HUGEINT) * ABS(_v - _ls) ELSE 0 END) AS _qes,
         CAST(SUM(CASE WHEN _ln IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS _nn,
         SUM(CASE WHEN _ln IS NOT NULL THEN CAST(ABS(_v - _ln) AS HUGEINT) ELSE 0 END) AS _sen
  FROM lagged {group}
)
SELECT {sel}n,
       ROUND(CASE WHEN _ns > 0 THEN CAST(_ses AS DOUBLE) / CAST(_ns AS DOUBLE) END, {round_to}) AS mae_seasonal,
       ROUND(CASE WHEN _nn > 0 THEN CAST(_sen AS DOUBLE) / CAST(_nn AS DOUBLE) END, {round_to}) AS mae_naive,
       ROUND(CASE WHEN _ns > 0 AND _sen * CAST(_ns AS HUGEINT) > 0
             THEN CAST(_ses * CAST(_nn AS HUGEINT) AS DOUBLE)
                  / CAST(_sen * CAST(_ns AS HUGEINT) AS DOUBLE) END, {round_to}) AS mase,
       ROUND(CASE WHEN _ns > 0 THEN SQRT(CAST(_qes AS DOUBLE) / CAST(_ns AS DOUBLE)) END, {round_to}) AS rmse_seasonal
FROM agg {order}
"""
