"""Hypothesis tests — rank, distribution, and variance tests plus
their post-hoc pair contrasts, split out of ``profile.py`` (round 12;
the module had absorbed ~40 operators / 5.5 kLoC). Import surface is
unchanged: ``operators.profile`` re-exports every name here.

Every operator follows the house exactness rules (integer/DECIMAL(38,0)
moments, ordered float folds, pinned float tails token-identical in the
DuckDB oracle twin) — see each docstring.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T  # noqa: F401

from .guards import integral_long  # noqa: F401
from .guards import require_sum_sq_width


def ks_test(
    df: DataFrame,
    bucket_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance — the sup-norm companion
    to :func:`hellinger_drift` (Hellinger integrates the disagreement,
    KS finds the worst point of it):

        D = max_t |F_a(t) − F_b(t)|

    computed EXACTLY as max_t |cum_a(t)·n_b − cum_b(t)·n_a| over the
    caller-bounded bucket spine (DECIMAL cross products), then ONE
    division by n_a·n_b; the scaled statistic
    ``sqrt(n_a·n_b/(n_a+n_b))·D`` uses the exactly-rounded sqrt. The
    argmax location breaks ties toward the smallest bucket. Plan: one
    (bucket, slice) partial-agg shuffle + cumsum windows over the
    bounded histogram. Output one row: ``(n_a, n_b, ks_at, ks_d,
    ks_stat)``. The bounded-spine contract is enforced by
    ``guards.require_bounded_spines`` (fail fast instead of
    single-task-sorting an unbinned spine; ``max_buckets=None``
    vouches).
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(df, [(bucket_col, max_buckets, bucket_col)], "ks_test")
    s = F.col(slice_col)
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(bucket_col).alias("_k"))
        .agg(
            F.sum(F.when(s == slice_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(s == slice_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    wcum = Window.orderBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("_k").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "_k",
        F.sum("_ca").over(wcum).alias("_cuma"),
        F.sum("_cb").over(wcum).alias("_cumb"),
        F.sum("_ca").over(wall).alias("_na"),
        F.sum("_cb").over(wall).alias("_nb"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    diff = F.abs(
        dec(F.col("_cuma")) * dec(F.col("_nb"))
        - dec(F.col("_cumb")) * dec(F.col("_na"))
    )
    pick = Window.orderBy(F.col("_diff").desc(), F.col("_k").asc())
    best = (
        cum.withColumn("_diff", diff)
        .withColumn("_r", F.row_number().over(pick))
        .where(F.col("_r") == 1)
    )
    d = F.col("_diff").cast("double") / (
        dec(F.col("_na")) * dec(F.col("_nb"))
    ).cast("double")
    stat = (
        F.sqrt(
            (dec(F.col("_na")) * dec(F.col("_nb"))).cast("double")
            / (F.col("_na") + F.col("_nb")).cast("double")
        )
        * d
    )
    return best.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.col("_k").alias("ks_at"),
        F.round(d, round_to).alias("ks_d"),
        F.round(stat, round_to).alias("ks_stat"),
    )


def ks_test_oracle_sql(
    values_sql: str,
    bucket_col: str,
    slice_col: str,
    slice_a_sql: str,
    slice_b_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT cross products, same argmax tie-break,
    same single division and exactly-rounded sqrt."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {bucket_col} AS _k,
         CAST(SUM(CASE WHEN {slice_col} = {slice_a_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _ca,
         CAST(SUM(CASE WHEN {slice_col} = {slice_b_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _cb
  FROM vals WHERE {slice_col} IN ({slice_a_sql}, {slice_b_sql})
  GROUP BY {bucket_col}
),
cum AS (
  SELECT _k,
         SUM(_ca) OVER (ORDER BY _k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cuma,
         SUM(_cb) OVER (ORDER BY _k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cumb,
         SUM(_ca) OVER () AS _na, SUM(_cb) OVER () AS _nb
  FROM per
),
scored AS (
  SELECT _k, _na, _nb,
         ABS(CAST(_cuma AS HUGEINT) * CAST(_nb AS HUGEINT)
             - CAST(_cumb AS HUGEINT) * CAST(_na AS HUGEINT)) AS _diff
  FROM cum
),
best AS (
  SELECT * FROM scored
  QUALIFY ROW_NUMBER() OVER (ORDER BY _diff DESC, _k ASC) = 1
)
SELECT CAST(_na AS BIGINT) AS n_a, CAST(_nb AS BIGINT) AS n_b, _k AS ks_at,
       ROUND(CAST(_diff AS DOUBLE)
             / CAST(CAST(_na AS HUGEINT) * CAST(_nb AS HUGEINT) AS DOUBLE),
             {round_to}) AS ks_d,
       ROUND(SQRT(CAST(CAST(_na AS HUGEINT) * CAST(_nb AS HUGEINT) AS DOUBLE)
                  / CAST(_na + _nb AS DOUBLE))
             * (CAST(_diff AS DOUBLE)
                / CAST(CAST(_na AS HUGEINT) * CAST(_nb AS HUGEINT) AS DOUBLE)),
             {round_to}) AS ks_stat
FROM best
"""


def mann_whitney(
    df: DataFrame,
    bucket_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Two-sample Mann-Whitney U test with midrank tie correction —
    the rank-based companion to :func:`ks_test` (KS finds the worst
    CDF gap; MWU asks whether one sample is stochastically larger):

        U_a = R_a − n_a(n_a+1)/2,
        z = (U_a − n_a·n_b/2) / sqrt(Var U)   with the tie-corrected
        Var U = n_a·n_b/12 · [ (N+1) − Σ(t³−t)/(N(N−1)) ].

    Exactness (the DOUBLED-rank trick): over the caller-bounded value
    spine, the midrank of a tie group is (before + (t+1)/2) — a .5
    rational — so the plan carries 2·midrank = 2·before + t + 1, an
    INTEGER. The doubled rank sum Σ c_a·(2·before+t+1) and
    2U_a = ΣR2 − n_a(n_a+1) stay exact DECIMAL(38,0); the tie term
    Σ(t³−t) and (N+1)N(N−1) are DECIMAL (N³ < 10³⁸ up to 10¹² rows);
    the only float ops are the pinned final sequence
    ``num / (2·sqrt(varnum/varden))`` — token-identical in the oracle.
    z is NULL when the variance is 0 (every value tied). Output one
    row: ``(n_a, n_b, u_a, z)``; ``u_a`` is 2U_a/2 as a double (U can
    be a .5 multiple under midranks).

    The bounded-spine contract is enforced by
    ``guards.require_bounded_spines`` (callers bucket the metric first,
    exactly like `ks_test`; ``max_buckets=None`` vouches).
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(bucket_col, max_buckets, bucket_col)], "mann_whitney"
    )
    s = F.col(slice_col)
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(bucket_col).alias("_k"))
        .agg(
            F.sum(F.when(s == slice_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(s == slice_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    wcum = Window.orderBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = lambda c: c.cast("decimal(38,0)")
    t = F.col("_ca") + F.col("_cb")
    cum = per.select(
        "_k",
        "_ca",
        "_cb",
        t.alias("_t"),
        (F.sum(t).over(wcum) - t).alias("_before"),
    )
    agg = cum.agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        F.sum(
            dec(F.col("_ca"))
            * dec(F.lit(2) * F.col("_before") + F.col("_t") + F.lit(1))
        ).alias("_r2a"),
        F.sum(
            dec(F.col("_t")) * dec(F.col("_t")) * dec(F.col("_t"))
            - dec(F.col("_t"))
        ).alias("_ties"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    n = na + nb
    u2 = F.col("_r2a") - dec(na) * dec(na + F.lit(1))
    num = (u2 - dec(na) * dec(nb)).cast("double")
    varnum = (
        (dec(n + F.lit(1)) * dec(n) * dec(n - F.lit(1)) - F.col("_ties"))
        .cast("double")
        * (dec(na) * dec(nb)).cast("double")
    )
    varden = (F.lit(12.0) * (dec(n) * dec(n - F.lit(1))).cast("double"))
    z = num / (F.lit(2.0) * F.sqrt(varnum / varden))
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        (u2.cast("double") / F.lit(2.0)).alias("u_a"),
        F.round(
            F.when((na > 0) & (nb > 0) & (varnum > 0), z), round_to
        ).alias("z"),
    )


def mann_whitney_oracle_sql(
    values_sql: str,
    bucket_col: str,
    slice_col: str,
    slice_a_sql: str,
    slice_b_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled midranks, HUGEINT rank/tie sums, same
    pinned ``num / (2·sqrt(varnum/varden))`` float tail."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {bucket_col} AS _k,
         CAST(SUM(CASE WHEN {slice_col} = {slice_a_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _ca,
         CAST(SUM(CASE WHEN {slice_col} = {slice_b_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _cb
  FROM vals WHERE {slice_col} IN ({slice_a_sql}, {slice_b_sql})
  GROUP BY {bucket_col}
),
cum AS (
  SELECT _k, _ca, _cb, _ca + _cb AS _t,
         SUM(_ca + _cb) OVER (ORDER BY _k
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - (_ca + _cb) AS _before
  FROM per
),
agg AS (
  SELECT CAST(SUM(_ca) AS BIGINT) AS _na, CAST(SUM(_cb) AS BIGINT) AS _nb,
         SUM(CAST(_ca AS HUGEINT) * CAST(2 * _before + _t + 1 AS HUGEINT)) AS _r2a,
         SUM(CAST(_t AS HUGEINT) * CAST(_t AS HUGEINT) * CAST(_t AS HUGEINT)
             - CAST(_t AS HUGEINT)) AS _ties
  FROM cum
),
calc AS (
  SELECT _na, _nb,
         _r2a - CAST(_na AS HUGEINT) * CAST(_na + 1 AS HUGEINT) AS _u2,
         CAST((CAST(_na + _nb + 1 AS HUGEINT) * CAST(_na + _nb AS HUGEINT)
               * CAST(_na + _nb - 1 AS HUGEINT) - _ties) AS DOUBLE)
         * CAST(CAST(_na AS HUGEINT) * CAST(_nb AS HUGEINT) AS DOUBLE) AS _varnum,
         12.0 * CAST(CAST(_na + _nb AS HUGEINT)
                     * CAST(_na + _nb - 1 AS HUGEINT) AS DOUBLE) AS _varden
  FROM agg
)
SELECT _na AS n_a, _nb AS n_b,
       CAST(_u2 AS DOUBLE) / 2.0 AS u_a,
       ROUND(CASE WHEN _na > 0 AND _nb > 0 AND _varnum > 0
             THEN CAST(_u2 - CAST(_na AS HUGEINT) * CAST(_nb AS HUGEINT) AS DOUBLE)
                  / (2.0 * SQRT(_varnum / _varden)) END, {round_to}) AS z
FROM calc
"""


def kruskal_wallis(
    df: DataFrame,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
    max_groups: int | None = 10_000,
) -> DataFrame:
    """K-sample Kruskal-Wallis H test with midrank ties — the k-group
    extension of :func:`mann_whitney` (MWU asks "is A shifted vs B";
    KW asks "is ANY of the k groups shifted"), the rank-based one-way
    ANOVA a curation pipeline runs before trusting a per-source score
    comparison:

        H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),
        H_corrected = H / (1 − Σ(t³−t)/(N³−N)).

    Exactness: same DOUBLED-rank spine as mann_whitney — per bucket the
    doubled midrank 2·before+t+1 is an INTEGER, per-group doubled rank
    sums R2_g stay DECIMAL(38,0)-exact, and the tie term Σ(t³−t) is an
    exact DECIMAL. Σ R_g²/n_g is a rational with per-group denominators,
    so it runs as an ORDERED float fold over the group-sorted array
    (cross-row float sums are order-dependent — the propensity/ewma
    precedent): term_g = (R2_g·R2_g)/(4·n_g) in doubles, folded in
    group order, then the pinned H tail. Output one row:
    ``(k, n, h, h_corrected)``; both NULL when N < 2 or every value is
    tied (correction denominator 0).

    Bounded contracts: the value spine via
    ``guards.require_bounded_spines`` (bucket the metric first, exactly
    like ks_test/mann_whitney), the group catalog via ``max_groups``
    (the fold is one row wide).
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df,
        [(bucket_col, max_buckets, bucket_col), (group_col, max_groups, group_col)],
        "kruskal_wallis",
    )
    per = df.groupBy(F.col(bucket_col).alias("_k"), F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = Window.orderBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = lambda c: c.cast("decimal(38,0)")
    spine = per.groupBy("_k").agg(F.sum("_c").alias("_t"))
    spine = spine.select(
        "_k", "_t", (F.sum("_t").over(wcum) - F.col("_t")).alias("_before")
    )
    # per-group doubled rank sums: join each (bucket, group) count back
    # to the bucket spine's doubled midrank
    grp = (
        per.join(spine, "_k")
        .groupBy("_g")
        .agg(
            F.sum("_c").alias("_ng"),
            F.sum(
                dec(F.col("_c"))
                * dec(F.lit(2) * F.col("_before") + F.col("_t") + F.lit(1))
            ).alias("_r2g"),
        )
    )
    ties = spine.agg(
        F.sum(
            dec(F.col("_t")) * dec(F.col("_t")) * dec(F.col("_t"))
            - dec(F.col("_t"))
        ).alias("_ties")
    )
    agg = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_ng").alias("n"),
        # ordered fold: Σ (R2_g)² / (4 n_g) in group order
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_g").alias("g"),
                    (
                        F.col("_r2g").cast("double")
                        * F.col("_r2g").cast("double")
                        / (F.lit(4.0) * F.col("_ng").cast("double"))
                    ).alias("term"),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_rsum",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["term"]),
    ).crossJoin(ties)
    n = F.col("n")
    nd = n.cast("double")
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("_rsum")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr_den = F.lit(1.0) - F.col("_ties").cast("double") / (
        dec(n) * dec(n) * dec(n) - dec(n)
    ).cast("double")
    return agg.select(
        "k",
        "n",
        F.round(F.when(n > 1, h), round_to).alias("h"),
        F.round(
            F.when((n > 1) & (corr_den > 0), h / corr_den), round_to
        ).alias("h_corrected"),
    )


def kruskal_wallis_oracle_sql(
    values_sql: str,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled midranks, HUGEINT rank/tie sums, the
    identical group-ordered float fold and pinned H tail."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {bucket_col} AS _k, {group_col} AS _g,
         CAST(COUNT(*) AS BIGINT) AS _c
  FROM vals GROUP BY 1, 2
),
spine AS (
  SELECT _k, _t,
         SUM(_t) OVER (ORDER BY _k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - _t AS _before
  FROM (SELECT _k, CAST(SUM(_c) AS BIGINT) AS _t FROM per GROUP BY _k)
),
grp AS (
  SELECT p._g, CAST(SUM(p._c) AS BIGINT) AS _ng,
         SUM(CAST(p._c AS HUGEINT)
             * CAST(2 * s._before + s._t + 1 AS HUGEINT)) AS _r2g
  FROM per p JOIN spine s ON p._k = s._k
  GROUP BY p._g
),
ties AS (
  SELECT SUM(CAST(_t AS HUGEINT) * CAST(_t AS HUGEINT) * CAST(_t AS HUGEINT)
             - CAST(_t AS HUGEINT)) AS _ties
  FROM spine
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(_ng) AS BIGINT) AS n,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_r2g AS DOUBLE) * CAST(_r2g AS DOUBLE)
                / (4.0 * CAST(_ng AS DOUBLE)) ORDER BY _g)),
           (a, b) -> a + b) AS _rsum
  FROM grp
)
SELECT k, n,
       ROUND(CASE WHEN n > 1 THEN
         12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * _rsum
         - 3.0 * (CAST(n AS DOUBLE) + 1.0) END, {round_to}) AS h,
       ROUND(CASE WHEN n > 1 AND
         1.0 - CAST(_ties AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                    - CAST(n AS HUGEINT) AS DOUBLE) > 0
         THEN (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * _rsum
               - 3.0 * (CAST(n AS DOUBLE) + 1.0))
              / (1.0 - CAST(_ties AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                        - CAST(n AS HUGEINT) AS DOUBLE)) END,
         {round_to}) AS h_corrected
FROM agg, ties
"""


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
    max_groups: int | None = 10_000,
) -> DataFrame:
    """One-way ANOVA F test over an integer metric — "do the k group
    means differ more than within-group noise explains", the parametric
    sibling of :func:`kruskal_wallis` (KW compares rank distributions;
    this compares means, plus the η² effect size a dashboards wants
    next to the p-ready F):

        SSB = Σ_g S_g²/n_g − S²/N,   SSW = Σx² − Σ_g S_g²/n_g,
        F = (SSB/(k−1)) / (SSW/(N−k)),   η² = SSB/(SSB+SSW).

    Exactness: per-group n_g, S_g = Σx and the global Σx² are exact
    DECIMAL(38,0) integer sums (width MEASURED fail-fast); Σ S_g²/n_g
    is the one rational — an ORDERED float fold over the group-sorted
    array, then the pinned F/η² tail. Output one row:
    ``(k, n, f_stat, eta_sq)`` — NULL when k < 2, N ≤ k, or SSW ≤ 0.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(group_col, max_groups, group_col)], "anova_oneway"
    )
    require_sum_sq_width(df, value_col, "anova_oneway")
    dec = lambda c: c.cast("decimal(38,0)")
    v = integral_long(df, value_col, "anova_oneway")
    grp = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(dec(v)).alias("_sg"),
        F.sum(dec(v) * dec(v)).alias("_qg"),
    )
    agg = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_ng").alias("n"),
        F.sum("_sg").alias("_s"),
        F.sum("_qg").alias("_q"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_g").alias("g"),
                    (
                        F.col("_sg").cast("double")
                        * F.col("_sg").cast("double")
                        / F.col("_ng").cast("double")
                    ).alias("term"),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_rs",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["term"]),
    )
    k, n = F.col("k"), F.col("n")
    nd = n.cast("double")
    ssb = F.col("_rs") - F.col("_s").cast("double") * F.col("_s").cast("double") / nd
    ssw = F.col("_q").cast("double") - F.col("_rs")
    fstat = (ssb / (k - F.lit(1)).cast("double")) / (
        ssw / (n - k).cast("double")
    )
    ok = (k > 1) & (n > k) & (ssw > 0)
    return agg.select(
        "k",
        "n",
        F.round(F.when(ok, fstat), round_to).alias("f_stat"),
        F.round(F.when(ok, ssb / (ssb + ssw)), round_to).alias("eta_sq"),
    )


def anova_oneway_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT group sums, same group-ordered float
    fold, same pinned F/η² tail."""
    return f"""
WITH vals AS ({values_sql}),
grp AS (
  SELECT {group_col} AS _g, CAST(COUNT(*) AS BIGINT) AS _ng,
         SUM(CAST({value_col} AS HUGEINT)) AS _sg,
         SUM(CAST({value_col} AS HUGEINT) * CAST({value_col} AS HUGEINT)) AS _qg
  FROM vals GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(_ng) AS BIGINT) AS n,
         SUM(_sg) AS _s, SUM(_qg) AS _q,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_sg AS DOUBLE) * CAST(_sg AS DOUBLE) / CAST(_ng AS DOUBLE)
                ORDER BY _g)),
           (a, b) -> a + b) AS _rs
  FROM grp
),
calc AS (
  SELECT k, n,
         _rs - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE) / CAST(n AS DOUBLE) AS _ssb,
         CAST(_q AS DOUBLE) - _rs AS _ssw
  FROM agg
)
SELECT k, n,
       ROUND(CASE WHEN k > 1 AND n > k AND _ssw > 0 THEN
         (_ssb / CAST(k - 1 AS DOUBLE)) / (_ssw / CAST(n - k AS DOUBLE))
         END, {round_to}) AS f_stat,
       ROUND(CASE WHEN k > 1 AND n > k AND _ssw > 0 THEN
         _ssb / (_ssb + _ssw) END, {round_to}) AS eta_sq
FROM calc
"""


def brown_forsythe(
    df: DataFrame,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
    max_groups: int | None = 10_000,
) -> DataFrame:
    """Brown-Forsythe test for equal variances across k groups — the
    robust Levene variant (deviations from the group MEDIAN, not the
    mean) that guards the ANOVA/t-test family's homoscedasticity
    assumption before anyone trusts its F:

        z_ij = |x_ij − med_g|,   F_BF = one-way ANOVA F over z.

    Exactness: group medians come from the bounded value spine with the
    DOUBLED-median trick — m2_g = v_lo + v_hi (the two middle order
    statistics from the per-group cumulative histogram) is an INTEGER,
    so the deviations d2 = |2·x − m2_g| and all their sums/squares stay
    DECIMAL-exact; only the final F assembly (the same ordered
    Σ S_g²/n_g fold + pinned tail as :func:`anova_oneway`) touches
    floats. Output one row: ``(k, n, f_stat)``.

    The cumulative-histogram window is PARTITIONED by group (ordered by
    the bounded value spine) — no unpartitioned window anywhere.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df,
        [(bucket_col, max_buckets, bucket_col), (group_col, max_groups, group_col)],
        "brown_forsythe",
    )
    dec = lambda c: c.cast("decimal(38,0)")
    per = df.groupBy(
        F.col(group_col).alias("_g"),
        integral_long(df, bucket_col, "brown_forsythe").alias("_v"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    wg = Window.partitionBy("_g").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "_g",
        "_v",
        "_c",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_ng"),
    )
    # doubled median: the two middle order statistics — v_lo at rank
    # ceil(n/2) = (n+1) div 2, v_hi at rank n div 2 + 1 (equal ranks
    # when n is odd, the two middles when even)
    med = cum.groupBy("_g").agg(
        F.min(
            F.when(
                F.col("_cum") >= F.expr("(_ng + 1) div 2"), F.col("_v")
            )
        ).alias("_vlo"),
        F.min(
            F.when(F.col("_cum") >= F.expr("_ng div 2 + 1"), F.col("_v"))
        ).alias("_vhi"),
    ).select("_g", (F.col("_vlo") + F.col("_vhi")).alias("_m2"))
    dev = (
        per.join(med, "_g")
        .select(
            "_g",
            "_c",
            F.abs(F.lit(2) * F.col("_v") - F.col("_m2")).alias("_d2"),
        )
    )
    grp = dev.groupBy("_g").agg(
        F.sum("_c").alias("_ng"),
        F.sum(dec(F.col("_c")) * dec(F.col("_d2"))).alias("_sg"),
        F.sum(dec(F.col("_c")) * dec(F.col("_d2")) * dec(F.col("_d2"))).alias("_qg"),
    )
    agg = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_ng").alias("n"),
        F.sum("_sg").alias("_s"),
        F.sum("_qg").alias("_q"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_g").alias("g"),
                    (
                        F.col("_sg").cast("double")
                        * F.col("_sg").cast("double")
                        / F.col("_ng").cast("double")
                    ).alias("term"),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_rs",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["term"]),
    )
    k, n = F.col("k"), F.col("n")
    nd = n.cast("double")
    ssb = F.col("_rs") - F.col("_s").cast("double") * F.col("_s").cast("double") / nd
    ssw = F.col("_q").cast("double") - F.col("_rs")
    fstat = (ssb / (k - F.lit(1)).cast("double")) / (
        ssw / (n - k).cast("double")
    )
    ok = (k > 1) & (n > k) & (ssw > 0)
    return agg.select(
        "k", "n", F.round(F.when(ok, fstat), round_to).alias("f_stat")
    )


def brown_forsythe_oracle_sql(
    values_sql: str,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled group medians from the per-group
    cumulative histogram, same HUGEINT deviation sums, same ordered
    fold + pinned F tail."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {group_col} AS _g, CAST({bucket_col} AS BIGINT) AS _v,
         CAST(COUNT(*) AS BIGINT) AS _c
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT _g, _v, _c,
         SUM(_c) OVER (PARTITION BY _g ORDER BY _v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         SUM(_c) OVER (PARTITION BY _g) AS _ng
  FROM per
),
med AS (
  SELECT _g,
         MIN(CASE WHEN _cum >= (_ng + 1) // 2 THEN _v END)
         + MIN(CASE WHEN _cum >= _ng // 2 + 1 THEN _v END) AS _m2
  FROM cum GROUP BY _g
),
grp AS (
  SELECT p._g, CAST(SUM(p._c) AS BIGINT) AS _ng,
         SUM(CAST(p._c AS HUGEINT) * CAST(ABS(2 * p._v - m._m2) AS HUGEINT)) AS _sg,
         SUM(CAST(p._c AS HUGEINT) * CAST(ABS(2 * p._v - m._m2) AS HUGEINT)
             * CAST(ABS(2 * p._v - m._m2) AS HUGEINT)) AS _qg
  FROM per p JOIN med m ON p._g = m._g
  GROUP BY p._g
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(_ng) AS BIGINT) AS n,
         SUM(_sg) AS _s, SUM(_qg) AS _q,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_sg AS DOUBLE) * CAST(_sg AS DOUBLE) / CAST(_ng AS DOUBLE)
                ORDER BY _g)),
           (a, b) -> a + b) AS _rs
  FROM grp
),
calc AS (
  SELECT k, n,
         _rs - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE) / CAST(n AS DOUBLE) AS _ssb,
         CAST(_q AS DOUBLE) - _rs AS _ssw
  FROM agg
)
SELECT k, n,
       ROUND(CASE WHEN k > 1 AND n > k AND _ssw > 0 THEN
         (_ssb / CAST(k - 1 AS DOUBLE)) / (_ssw / CAST(n - k AS DOUBLE))
         END, {round_to}) AS f_stat
FROM calc
"""


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
    max_treatments: int | None = 10_000,
) -> DataFrame:
    """Friedman test — k related treatments ranked WITHIN each block
    (the repeated-measures sibling of :func:`kruskal_wallis`: KW
    compares independent groups; Friedman removes the block effect by
    ranking inside each block first). The "do my k scorers disagree
    systematically across the same documents" readout.

    Exactness: within-block midranks use the DOUBLED-rank trick
    (2·midrank = 2·before + t + 1 over the per-block value histogram —
    an INTEGER), and the tie-corrected statistic

        Q = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ_ij R2_ij² − n·k·(k+1)²)

    is integer-exact in BOTH numerator and denominator in the doubled
    scale (the 4s cancel) — one pinned division total, no float fold at
    all. Incomplete blocks (missing or duplicated treatments) are
    DROPPED and counted, the :func:`cronbach_alpha` convention. Output
    one row: ``(k, n_blocks, n_dropped, q)`` — NULL q when k < 2,
    n = 0, or every block is internally tied (denominator 0).

    Scale: per-block windows only (blocks are the partition key); the
    treatment catalog is bounded by contract (``max_treatments``).
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(treatment_col, max_treatments, treatment_col)], "friedman_test"
    )
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_j"),
        integral_long(df, value_col, "friedman_test").alias("_v"),
    )
    from .dedup import _persist

    # persist: the frame feeds the k probe, the block-completeness
    # aggregate, and the rank join — without the cache the caller's
    # upstream (a join in the gate query) re-ran once per pass (r12)
    base = _persist(base)
    k_row = base.select(F.countDistinct("_j").alias("k")).first()
    k = int(k_row["k"] or 0)
    per_block = base.groupBy("_b").agg(
        F.countDistinct("_j").alias("_nj"), F.count(F.lit(1)).alias("_nr")
    )
    is_complete = (F.col("_nj") == F.lit(k)) & (F.col("_nr") == F.lit(k))
    complete = _persist(per_block.where(is_complete).select("_b"))
    # both block counts in ONE action (was two — each a full pass)
    crow = per_block.agg(
        F.count(F.lit(1)).alias("_nt"),
        F.coalesce(
            F.sum(F.when(is_complete, 1).otherwise(0)), F.lit(0)
        ).alias("_nc"),
    ).first()
    n_complete = int(crow["_nc"])
    n_dropped = int(crow["_nt"]) - n_complete
    if n_complete == 0:
        # no complete block anywhere: emit the one-row summary instead
        # of an empty frame (the SQL twin returns 0 rows here — the
        # engines only diverge in this degenerate no-data case, which a
        # gate fixture must not hit anyway)
        from pyspark.sql import types as T

        return df.sparkSession.createDataFrame(
            [(k, 0, n_dropped, None)],
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("n_blocks", T.LongType()),
                    T.StructField("n_dropped", T.LongType()),
                    T.StructField("q", T.DoubleType()),
                ]
            ),
        )
    rows = base.join(complete, "_b")
    # within-block doubled midranks over the (block, value) histogram
    hist = rows.groupBy("_b", "_v").agg(F.count(F.lit(1)).alias("_t"))
    wb = Window.partitionBy("_b").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = hist.select(
        "_b", "_v", "_t", (F.sum("_t").over(wb) - F.col("_t")).alias("_bef")
    )
    ranked = rows.join(hist, ["_b", "_v"]).select(
        "_b",
        "_j",
        (F.lit(2) * F.col("_bef") + F.col("_t") + F.lit(1)).alias("_r2"),
    )
    tr = ranked.groupBy("_j").agg(F.sum(dec(F.col("_r2"))).alias("_r2j"))
    glob = ranked.agg(
        F.countDistinct("_b").alias("n_blocks"),
        F.sum(dec(F.col("_r2")) * dec(F.col("_r2"))).alias("_sumsq"),
    )
    out = (
        tr.crossJoin(glob)
        .select(
            "n_blocks",
            "_sumsq",
            (
                (F.col("_r2j") - dec(F.col("n_blocks")) * dec(F.lit(k + 1)))
                * (F.col("_r2j") - dec(F.col("n_blocks")) * dec(F.lit(k + 1)))
            ).alias("_dev2"),
        )
        .groupBy("n_blocks", "_sumsq")
        .agg(F.sum("_dev2").alias("_num"))
    )
    nb = F.col("n_blocks")
    den = F.col("_sumsq") - dec(nb) * dec(F.lit(k)) * dec(F.lit((k + 1) ** 2))
    q = (dec(F.lit(k - 1)) * F.col("_num")).cast("double") / den.cast("double")
    return out.select(
        F.lit(k).cast("long").alias("k"),
        nb.cast("long").alias("n_blocks"),
        F.lit(n_dropped).cast("long").alias("n_dropped"),
        F.round(F.when((F.lit(k) > 1) & (nb > 0) & (den > 0), q), round_to).alias(
            "q"
        ),
    )


def friedman_test_oracle_sql(
    rows_sql: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same complete-block filter, same doubled within-
    block midranks, same all-integer Q with one pinned division."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {block_col} AS _b, {treatment_col} AS _j,
         CAST({value_col} AS BIGINT) AS _v
  FROM ({rows_sql})
),
nk AS (SELECT COUNT(DISTINCT _j) AS k FROM base),
per_block AS MATERIALIZED (
  SELECT _b, COUNT(DISTINCT _j) AS _nj, COUNT(*) AS _nr
  FROM base GROUP BY _b
),
complete AS MATERIALIZED (
  SELECT _b FROM per_block, nk WHERE _nj = k AND _nr = k
),
dropped AS (
  SELECT (SELECT COUNT(*) FROM per_block) - (SELECT COUNT(*) FROM complete)
         AS n_dropped
),
rows_c AS MATERIALIZED (
  SELECT b.* FROM base b JOIN complete c ON b._b = c._b
),
hist AS (
  SELECT _b, _v, CAST(COUNT(*) AS BIGINT) AS _t,
         SUM(COUNT(*)) OVER (PARTITION BY _b ORDER BY _v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - COUNT(*) AS _bef
  FROM rows_c GROUP BY _b, _v
),
ranked AS MATERIALIZED (
  SELECT r._b, r._j, 2 * h._bef + h._t + 1 AS _r2
  FROM rows_c r JOIN hist h ON r._b = h._b AND r._v = h._v
),
tr AS (
  SELECT _j, SUM(CAST(_r2 AS HUGEINT)) AS _r2j FROM ranked GROUP BY _j
),
gl AS (
  SELECT CAST(COUNT(DISTINCT _b) AS BIGINT) AS n_blocks,
         SUM(CAST(_r2 AS HUGEINT) * CAST(_r2 AS HUGEINT)) AS _sumsq
  FROM ranked
),
num AS (
  SELECT g.n_blocks, g._sumsq,
         SUM((t._r2j - CAST(g.n_blocks AS HUGEINT) * ((SELECT k FROM nk) + 1))
             * (t._r2j - CAST(g.n_blocks AS HUGEINT) * ((SELECT k FROM nk) + 1)))
         AS _num
  FROM tr t, gl g GROUP BY g.n_blocks, g._sumsq
)
SELECT (SELECT k FROM nk) AS k, n_blocks,
       (SELECT n_dropped FROM dropped) AS n_dropped,
       ROUND(CASE WHEN (SELECT k FROM nk) > 1 AND n_blocks > 0
             AND _sumsq - CAST(n_blocks AS HUGEINT) * (SELECT k FROM nk)
                 * ((SELECT k FROM nk) + 1) * ((SELECT k FROM nk) + 1) > 0
             THEN CAST(((SELECT k FROM nk) - 1) * _num AS DOUBLE)
                  / CAST(_sumsq - CAST(n_blocks AS HUGEINT) * (SELECT k FROM nk)
                         * ((SELECT k FROM nk) + 1) * ((SELECT k FROM nk) + 1)
                         AS DOUBLE)
             END, {round_to}) AS q
FROM num
"""


def cochran_q(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    outcome_col: str,
    round_to: int = 6,
    max_treatments: int | None = 10_000,
) -> DataFrame:
    """Cochran's Q — k related BINARY treatments over the same items
    (the 0/1 specialization of :func:`friedman_test`, and the k-arm
    extension of the McNemar pair test): "do my k binary detectors
    fire at systematically different rates on the same documents".

        Q = k(k−1)·[k·Σ_j G_j² − (Σ G)²] / [k·(k·ΣL_i − ΣL_i²)]
          (equivalently k(k−1)Σ(G_j−Ḡ)² / (kΣL − ΣL²))

    with G_j the per-treatment fire counts and L_i the per-item fire
    counts — EVERY term an exact integer; the single division is the
    only float op. Items that fire on all k or none (L_i ∈ {0, k})
    contribute nothing to either side — kept, but Q is NULL when ONLY
    such items exist (denominator 0). Incomplete items are dropped and
    counted (the complete-design convention). Output one row:
    ``(k, n_items, n_dropped, q)``.
    """
    from .dedup import _persist
    from .guards import require_bounded_spines

    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(item_col).alias("_i"),
        F.col(treatment_col).alias("_j"),
        F.col(outcome_col).cast("int").alias("_o"),
    )
    # the operator makes four passes over base (k probe, per-item
    # aggregate, complete filter, per-treatment sums), and the caller's
    # outcome flags are often expression-heavy (the gate query computes
    # lang-ID regexes) — persist base so the flags compute once. A
    # narrow input is the caller's to spread at its file scan
    # (`dedup._spread_if_narrow` looks through projections and filters
    # only, so here, above an explode, it would not find the scan). The
    # spine gate counts the cached base: gating the input instead would
    # re-run its scan, and any spread in it, inside the gate.
    base = require_bounded_spines(
        _persist(base), [("_j", max_treatments, treatment_col)], "cochran_q"
    )
    k_row = base.select(F.countDistinct("_j").alias("k")).first()
    k = int(k_row["k"] or 0)
    per_item = base.groupBy("_i").agg(
        F.countDistinct("_j").alias("_nj"),
        F.count(F.lit(1)).alias("_nr"),
        F.sum("_o").alias("_l"),
    )
    is_complete = (F.col("_nj") == F.lit(k)) & (F.col("_nr") == F.lit(k))
    complete = _persist(per_item.where(is_complete).select("_i", "_l"))
    # dropped-item count rides IN-PLAN as a 1-row crossJoin (r12): the
    # old per_item.count() - complete.count() was two more build-time
    # actions re-scanning the cached base
    dropped = per_item.agg(
        F.coalesce(
            F.sum(F.when(is_complete, 0).otherwise(1)), F.lit(0)
        ).alias("_nd")
    )
    gj = (
        base.join(complete.select("_i"), "_i")
        .groupBy("_j")
        .agg(F.sum("_o").alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_kk"),
            F.sum(dec(F.col("_g"))).alias("_sg"),
            F.sum(dec(F.col("_g")) * dec(F.col("_g"))).alias("_sg2"),
        )
    )
    li = complete.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec(F.col("_l"))).alias("_sl"),
        F.sum(dec(F.col("_l")) * dec(F.col("_l"))).alias("_sl2"),
    )
    out = gj.crossJoin(li).crossJoin(dropped)
    kd = dec(F.lit(k))
    num = kd * (kd - F.lit(1).cast("decimal(38,0)")) * (
        kd * F.col("_sg2") - F.col("_sg") * F.col("_sg")
    )
    den = kd * (kd * F.col("_sl") - F.col("_sl2"))
    return out.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.col("_nd").cast("long").alias("n_dropped"),
        F.round(
            F.when(
                (F.lit(k) > 1) & (den > 0),
                num.cast("double") / den.cast("double"),
            ),
            round_to,
        ).alias("q"),
    )


def cochran_q_oracle_sql(
    rows_sql: str,
    item_col: str,
    treatment_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same complete-item filter and all-integer Q."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {item_col} AS _i, {treatment_col} AS _j,
         CAST({outcome_col} AS INTEGER) AS _o
  FROM ({rows_sql})
),
nk AS (SELECT COUNT(DISTINCT _j) AS k FROM base),
per_item AS MATERIALIZED (
  SELECT _i, COUNT(DISTINCT _j) AS _nj, COUNT(*) AS _nr,
         CAST(SUM(_o) AS BIGINT) AS _l
  FROM base GROUP BY _i
),
complete AS MATERIALIZED (
  SELECT _i, _l FROM per_item, nk WHERE _nj = k AND _nr = k
),
dropped AS (
  SELECT (SELECT COUNT(*) FROM per_item) - (SELECT COUNT(*) FROM complete)
         AS n_dropped
),
gj AS (
  SELECT SUM(CAST(_g AS HUGEINT)) AS _sg,
         SUM(CAST(_g AS HUGEINT) * CAST(_g AS HUGEINT)) AS _sg2
  FROM (
    SELECT b._j, CAST(SUM(b._o) AS BIGINT) AS _g
    FROM base b JOIN complete c ON b._i = c._i
    GROUP BY b._j
  )
),
li AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         SUM(CAST(_l AS HUGEINT)) AS _sl,
         SUM(CAST(_l AS HUGEINT) * CAST(_l AS HUGEINT)) AS _sl2
  FROM complete
)
SELECT (SELECT k FROM nk) AS k, n_items,
       (SELECT n_dropped FROM dropped) AS n_dropped,
       ROUND(CASE WHEN (SELECT k FROM nk) > 1
             AND (SELECT k FROM nk) * ((SELECT k FROM nk) * _sl - _sl2) > 0
             THEN CAST((SELECT k FROM nk) * ((SELECT k FROM nk) - 1)
                       * ((SELECT k FROM nk) * _sg2 - _sg * _sg) AS DOUBLE)
                  / CAST((SELECT k FROM nk)
                         * ((SELECT k FROM nk) * _sl - _sl2) AS DOUBLE)
             END, {round_to}) AS q
FROM gj, li
"""


def welch_anova(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
    max_groups: int | None = 10_000,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — the k-group extension of
    the Welch t-test (`ab_test`) and the variance-honest sibling of
    :func:`anova_oneway`: when :func:`brown_forsythe` rejects equal
    variances, the classic F is invalid and THIS is the test to run.

        w_g = n_g/s_g²,  W = Σw_g,  m = Σ w_g·x̄_g / W,
        F_W = [Σ w_g(x̄_g − m)²/(k−1)] / [1 + 2Λ(k−2)/3],
        Λ   = 3·Σ (1 − w_g/W)²/(n_g−1) / (k²−1),
        df₂ = 1/Λ.

    Exactness: per-group n, Σx, Σx² are exact DECIMAL(38,0); every
    subsequent step is the pinned float tail computed via GROUP-ORDERED
    folds over one collected per-group array (three passes over the
    same sorted array: W, then m, then the two Σ-terms that need m) —
    token-identical in the oracle. Groups with n < 2 or zero variance
    are EXCLUDED (infinite weight) and counted. Output one row:
    ``(k, n, n_excluded, f_welch, df2)`` — NULL when fewer than 2
    usable groups survive.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(df, [(group_col, max_groups, group_col)], "welch_anova")
    require_sum_sq_width(df, value_col, "welch_anova")
    dec = lambda c: c.cast("decimal(38,0)")
    v = integral_long(df, value_col, "welch_anova")
    grp = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(v)).alias("_s"),
        F.sum(dec(v) * dec(v)).alias("_q"),
    )
    nd = F.col("_n").cast("double")
    # guard on the variance NUMERATOR, not the variance: evaluating
    # var for a singleton group divides by n(n-1)=0, which ANSI mode
    # raises on even inside the predicate
    varnum = (dec(F.col("_n")) * F.col("_q") - F.col("_s") * F.col("_s")).cast(
        "double"
    )
    var = varnum / (nd * (nd - F.lit(1.0)))
    usable = (F.col("_n") > 1) & (varnum > 0)
    agg = grp.agg(
        F.sum(F.when(usable, 1).otherwise(0)).alias("k"),
        F.sum(F.when(usable, F.col("_n")).otherwise(F.lit(0))).alias("n"),
        F.sum(F.when(~usable, 1).otherwise(0)).alias("n_excluded"),
        F.sort_array(
            F.collect_list(
                F.when(
                    usable,
                    F.struct(
                        F.col("_g").alias("g"),
                        nd.alias("n"),
                        (nd / var).alias("w"),
                        (F.col("_s").cast("double") / nd).alias("xb"),
                    ),
                )
            )
        ).alias("_t"),
    )
    fold = lambda expr: F.aggregate(F.col("_t"), F.lit(0.0), expr)
    agg = agg.withColumn("_W", fold(lambda a, x: a + x["w"]))
    agg = agg.withColumn(
        "_m", fold(lambda a, x: a + x["w"] * x["xb"]) / F.col("_W")
    )
    agg = agg.withColumn(
        "_num",
        fold(
            lambda a, x: a
            + x["w"] * (x["xb"] - F.col("_m")) * (x["xb"] - F.col("_m"))
        ),
    )
    agg = agg.withColumn(
        "_lam3",
        fold(
            lambda a, x: a
            + (F.lit(1.0) - x["w"] / F.col("_W"))
            * (F.lit(1.0) - x["w"] / F.col("_W"))
            / (x["n"] - F.lit(1.0))
        ),
    )
    k = F.col("k")
    kd = k.cast("double")
    lam = F.lit(3.0) * F.col("_lam3") / (kd * kd - F.lit(1.0))
    fw = (F.col("_num") / (kd - F.lit(1.0))) / (
        F.lit(1.0) + F.lit(2.0) * lam * (kd - F.lit(2.0)) / F.lit(3.0)
    )
    ok = k > 1
    return agg.select(
        k.cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.col("n_excluded").cast("long").alias("n_excluded"),
        F.round(F.when(ok, fw), round_to).alias("f_welch"),
        F.round(F.when(ok & (lam > 0), F.lit(1.0) / lam), round_to).alias("df2"),
    )


def welch_anova_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments, same group-ordered fold
    passes over one list, same pinned Welch tail."""
    core = """
  SELECT {g} AS _g, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST({v} AS HUGEINT)) AS _s,
         SUM(CAST({v} AS HUGEINT) * CAST({v} AS HUGEINT)) AS _q
  FROM vals GROUP BY 1
""".format(g=group_col, v=f"CAST({value_col} AS BIGINT)")
    varnum = "CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)"
    var = (
        "CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)"
        " / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0))"
    )
    return f"""
WITH vals AS ({values_sql}),
grp AS ({core}),
flt AS MATERIALIZED (
  SELECT _g, CAST(_n AS DOUBLE) AS n,
         CAST(_n AS DOUBLE) / ({var}) AS w,
         CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE) AS xb
  FROM grp WHERE _n > 1 AND ({varnum}) > 0
),
meta AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM flt) AS k,
         (SELECT CAST(COALESCE(SUM(_n), 0) AS BIGINT) FROM grp
          WHERE _n > 1 AND ({varnum}) > 0) AS n,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM grp
          WHERE NOT (_n > 1 AND ({varnum}) > 0)) AS n_excluded
),
arr AS (
  SELECT list(struct_pack(g := _g, n := n, w := w, xb := xb) ORDER BY _g) AS t
  FROM flt
),
f1 AS (
  SELECT t, list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(t, x -> x.w)), (a, b) -> a + b) AS W
  FROM arr
),
f2 AS (
  SELECT t, W,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(t, x -> x.w * x.xb)), (a, b) -> a + b) / W AS m
  FROM f1
),
f3 AS (
  SELECT W, m,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(t, x -> x.w * (x.xb - m) * (x.xb - m))),
           (a, b) -> a + b) AS num,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(t, x -> (1.0 - x.w / W) * (1.0 - x.w / W)
                                  / (x.n - 1.0))),
           (a, b) -> a + b) AS lam3
  FROM f2
)
SELECT meta.k, meta.n, meta.n_excluded,
       ROUND(CASE WHEN meta.k > 1 THEN
         (num / (CAST(meta.k AS DOUBLE) - 1.0))
         / (1.0 + 2.0 * (3.0 * lam3 / (CAST(meta.k AS DOUBLE) * CAST(meta.k AS DOUBLE) - 1.0))
                  * (CAST(meta.k AS DOUBLE) - 2.0) / 3.0)
         END, {round_to}) AS f_welch,
       ROUND(CASE WHEN meta.k > 1 AND
         3.0 * lam3 / (CAST(meta.k AS DOUBLE) * CAST(meta.k AS DOUBLE) - 1.0) > 0
         THEN 1.0 / (3.0 * lam3 / (CAST(meta.k AS DOUBLE) * CAST(meta.k AS DOUBLE) - 1.0))
         END, {round_to}) AS df2
FROM f3, meta
"""


def grubbs_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Grubbs' maximum-normed-residual test per group — "is the single
    most extreme value an outlier", the formal companion to the robust
    screens (`hbos_outliers` scores everything; Grubbs tests the worst
    one):

        G = max_i |x_i − x̄| / s.

    Exactness: the argmax runs on the exact INTEGER n-scaled deviation
    |n·x_i − S| (ties → smallest id), so the chosen row is
    deterministic; G = dev_max/n ÷ s with s from the exact moments is
    the pinned float tail. One aggregation + one group-partitioned
    top-1 window. Output per group: ``(group, outlier_id, value,
    g_stat)`` — NULL g_stat when n < 3 or zero variance (those groups
    still report their extreme row).
    """
    from pyspark.sql import Window

    require_sum_sq_width(df, value_col, "grubbs_test")
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        integral_long(df, value_col, "grubbs_test").alias("_x"),
    )
    stats = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(F.col("_x"))).alias("_s"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x"))).alias("_q"),
    )
    j = base.join(stats, "_g").withColumn(
        "_dev", F.abs(dec(F.col("_n")) * dec(F.col("_x")) - F.col("_s"))
    )
    w = Window.partitionBy("_g").orderBy(
        F.col("_dev").desc(), F.col("_id").asc()
    )
    top = j.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    nd = F.col("_n").cast("double")
    var = (dec(F.col("_n")) * F.col("_q") - F.col("_s") * F.col("_s")).cast(
        "double"
    ) / (nd * (nd - F.lit(1.0)))
    g = (F.col("_dev").cast("double") / nd) / F.sqrt(var)
    ok = (F.col("_n") > 2) & (var > 0)
    return top.select(
        F.col("_g").alias(group_col),
        F.col("_id").alias("outlier_id"),
        F.col("_x").alias(value_col),
        F.round(F.when(ok, g), round_to).alias("g_stat"),
    )


def grubbs_test_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    id_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same integer n-scaled deviation argmax, same pinned
    G tail."""
    return f"""
WITH vals AS (
  SELECT {group_col} AS _g, {id_col} AS _id,
         CAST({value_col} AS BIGINT) AS _x
  FROM ({values_sql})
),
stats AS (
  SELECT _g, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(_x AS HUGEINT)) AS _s,
         SUM(CAST(_x AS HUGEINT) * CAST(_x AS HUGEINT)) AS _q
  FROM vals GROUP BY _g
),
j AS (
  SELECT v._g, v._id, v._x, s._n, s._s, s._q,
         ABS(CAST(s._n AS HUGEINT) * v._x - s._s) AS _dev
  FROM vals v JOIN stats s ON v._g = s._g
),
top AS (
  SELECT * FROM j
  QUALIFY ROW_NUMBER() OVER (PARTITION BY _g ORDER BY _dev DESC, _id ASC) = 1
)
SELECT _g AS {group_col}, _id AS outlier_id, _x AS {value_col},
       ROUND(CASE WHEN _n > 2 AND
         CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)
         / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0)) > 0
         THEN (CAST(_dev AS DOUBLE) / CAST(_n AS DOUBLE))
              / SQRT(CAST(CAST(_n AS HUGEINT) * _q - _s * _s AS DOUBLE)
                     / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0)))
         END, {round_to}) AS g_stat
FROM top
"""


def moods_median(
    df: DataFrame,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
    max_groups: int | None = 10_000,
) -> DataFrame:
    """Mood's median test — do the k groups share a common median?
    The maximally-robust k-sample location test (uses only
    above/below-the-grand-median counts, so it shrugs off outliers
    that bend :func:`anova_oneway` and even :func:`kruskal_wallis`):
    a 2×k chi-square on the dichotomized counts.

    Exactness: the DOUBLED grand median comes from the bounded value
    spine's cumulative histogram (exactly :func:`mann_whitney`'s spine
    contract — the one unpartitioned cumsum is over the caller-bounded
    spine, guard-enforced); values equal to the median are dropped
    (the SAS convention); per-group above/below counts are exact
    integers, and the chi-square Σ(O−E)²/E terms are the pinned float
    tail folded in GROUP ORDER. Output one row: ``(k, n, chi2)`` —
    NULL when either margin is empty.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df,
        [(bucket_col, max_buckets, bucket_col), (group_col, max_groups, group_col)],
        "moods_median",
    )
    base = df.select(
        F.col(group_col).alias("_g"),
        integral_long(df, bucket_col, "moods_median").alias("_x"),
    )
    hist = base.groupBy("_x").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_x",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_nt"),
    )
    med = cum.agg(
        (
            F.min(F.when(F.col("_cum") >= F.expr("(_nt + 1) div 2"), F.col("_x")))
            + F.min(F.when(F.col("_cum") >= F.expr("_nt div 2 + 1"), F.col("_x")))
        ).alias("_m2")
    )
    marked = base.crossJoin(med).where(F.lit(2) * F.col("_x") != F.col("_m2"))
    per = marked.groupBy("_g").agg(
        F.sum(F.when(F.lit(2) * F.col("_x") > F.col("_m2"), 1).otherwise(0)).alias(
            "_a"
        ),
        F.sum(F.when(F.lit(2) * F.col("_x") < F.col("_m2"), 1).otherwise(0)).alias(
            "_b"
        ),
    )
    tot = per.agg(
        F.sum("_a").alias("_ta"), F.sum("_b").alias("_tb")
    )
    j = per.crossJoin(tot)
    ngd = (F.col("_a") + F.col("_b")).cast("double")
    nd = (F.col("_ta") + F.col("_tb")).cast("double")
    ea = ngd * F.col("_ta").cast("double") / nd
    eb = ngd * F.col("_tb").cast("double") / nd
    term = (F.col("_a").cast("double") - ea) * (
        F.col("_a").cast("double") - ea
    ) / ea + (F.col("_b").cast("double") - eb) * (
        F.col("_b").cast("double") - eb
    ) / eb
    agg = j.groupBy("_ta", "_tb").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("_a") + F.col("_b")).alias("n"),
        F.sort_array(
            F.collect_list(F.struct(F.col("_g").alias("g"), term.alias("t")))
        ).alias("_terms"),
    ).withColumn(
        "_chi2",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["t"]),
    )
    ok = (F.col("_ta") > 0) & (F.col("_tb") > 0) & (F.col("k") > 1)
    return agg.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(F.when(ok, F.col("_chi2")), round_to).alias("chi2"),
    )


def moods_median_oracle_sql(
    values_sql: str,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled grand median, same integer 2×k cells,
    same group-ordered chi-square fold."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {group_col} AS _g, CAST({bucket_col} AS BIGINT) AS _x
  FROM ({values_sql})
),
cum AS (
  SELECT _x,
         SUM(_c) OVER (ORDER BY _x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         SUM(_c) OVER () AS _nt
  FROM (SELECT _x, CAST(COUNT(*) AS BIGINT) AS _c FROM base GROUP BY 1)
),
med AS (
  SELECT MIN(CASE WHEN _cum >= (_nt + 1) // 2 THEN _x END)
         + MIN(CASE WHEN _cum >= _nt // 2 + 1 THEN _x END) AS _m2
  FROM cum
),
per AS (
  SELECT _g,
         CAST(SUM(CASE WHEN 2 * _x > (SELECT _m2 FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS _a,
         CAST(SUM(CASE WHEN 2 * _x < (SELECT _m2 FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS _b
  FROM base WHERE 2 * _x != (SELECT _m2 FROM med)
  GROUP BY _g
),
tot AS (
  SELECT CAST(SUM(_a) AS BIGINT) AS _ta, CAST(SUM(_b) AS BIGINT) AS _tb FROM per
),
agg AS (
  SELECT t._ta, t._tb, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(p._a + p._b) AS BIGINT) AS n,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(
             (CAST(p._a AS DOUBLE)
              - CAST(p._a + p._b AS DOUBLE) * CAST(t._ta AS DOUBLE)
                / CAST(t._ta + t._tb AS DOUBLE))
             * (CAST(p._a AS DOUBLE)
                - CAST(p._a + p._b AS DOUBLE) * CAST(t._ta AS DOUBLE)
                  / CAST(t._ta + t._tb AS DOUBLE))
             / (CAST(p._a + p._b AS DOUBLE) * CAST(t._ta AS DOUBLE)
                / CAST(t._ta + t._tb AS DOUBLE))
             +
             (CAST(p._b AS DOUBLE)
              - CAST(p._a + p._b AS DOUBLE) * CAST(t._tb AS DOUBLE)
                / CAST(t._ta + t._tb AS DOUBLE))
             * (CAST(p._b AS DOUBLE)
                - CAST(p._a + p._b AS DOUBLE) * CAST(t._tb AS DOUBLE)
                  / CAST(t._ta + t._tb AS DOUBLE))
             / (CAST(p._a + p._b AS DOUBLE) * CAST(t._tb AS DOUBLE)
                / CAST(t._ta + t._tb AS DOUBLE))
             ORDER BY p._g)),
           (a, b) -> a + b) AS _chi2
  FROM per p, tot t
  GROUP BY t._ta, t._tb
)
SELECT k, n,
       ROUND(CASE WHEN _ta > 0 AND _tb > 0 AND k > 1 THEN _chi2 END,
             {round_to}) AS chi2
FROM agg
"""


def cramer_von_mises(
    df: DataFrame,
    bucket_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Two-sample Cramér–von Mises criterion over a caller-bounded
    bucket spine — the INTEGRATED companion to :func:`ks_test` (KS finds
    the worst single point of ECDF disagreement; CvM sums the squared
    disagreement across the whole support, so a broad mild shift that
    never spikes still registers):

        T = (n_a·n_b / N²) · Σ_k t_k · (F_a(k) − F_b(k))².

    Exactness: with D_k = cum_a(k)·n_b − cum_b(k)·n_a (the exact integer
    KS cross-product), F_a − F_b = D_k/(n_a·n_b) and

        T = Σ_k t_k·D_k² / (N² · n_a · n_b)

    — numerator an exact DECIMAL(38,0) sum, ONE pinned division. Width
    is MEASURED fail-fast (Σ t·D² ≤ N·(n_a·n_b)²). Plan: one
    (bucket, slice) partial-agg shuffle + cumsum windows over the
    bounded histogram, a single-row readout. Output:
    ``(n_a, n_b, t_cvm)`` — NULL when either sample is empty.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(bucket_col, max_buckets, bucket_col)], "cramer_von_mises"
    )
    s = F.col(slice_col)
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(bucket_col).alias("_k"))
        .agg(
            F.sum(F.when(s == slice_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(s == slice_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    wcum = Window.orderBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("_k").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "_k",
        (F.col("_ca") + F.col("_cb")).alias("_t"),
        F.sum("_ca").over(wcum).alias("_cuma"),
        F.sum("_cb").over(wcum).alias("_cumb"),
        F.sum("_ca").over(wall).alias("_na"),
        F.sum("_cb").over(wall).alias("_nb"),
    )
    wrow = cum.agg(
        F.max("_na").alias("_na"), F.max("_nb").alias("_nb")
    ).first()
    na_w, nb_w = int(wrow["_na"] or 0), int(wrow["_nb"] or 0)
    if (na_w + nb_w) * (na_w * nb_w) ** 2 >= 10**38:
        raise ValueError(
            f"cramer_von_mises: N·(n_a·n_b)² = "
            f"{na_w + nb_w}·({na_w}·{nb_w})² would overflow the "
            "DECIMAL(38,0) Σ t·D² sum — subsample or stratify first"
        )
    dec = lambda c: c.cast("decimal(38,0)")
    d_k = dec(F.col("_cuma")) * dec(F.col("_nb")) - dec(F.col("_cumb")) * dec(
        F.col("_na")
    )
    agg = cum.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.sum(dec(F.col("_t")) * d_k * d_k).alias("_num"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    nn = dec(na + nb) * dec(na + nb) * dec(na) * dec(nb)
    ok = (na > 0) & (nb > 0)
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(
            F.when(ok, F.col("_num").cast("double") / nn.cast("double")),
            round_to,
        ).alias("t_cvm"),
    )


def cramer_von_mises_oracle_sql(
    values_sql: str,
    bucket_col: str,
    slice_col: str,
    slice_a: str,
    slice_b: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same integer D_k cross products, same HUGEINT
    Σ t·D² numerator, same single pinned division."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {bucket_col} AS _k,
         CAST(SUM(CASE WHEN {slice_col} = '{slice_a}' THEN 1 ELSE 0 END) AS BIGINT) AS _ca,
         CAST(SUM(CASE WHEN {slice_col} = '{slice_b}' THEN 1 ELSE 0 END) AS BIGINT) AS _cb
  FROM vals WHERE {slice_col} IN ('{slice_a}', '{slice_b}')
  GROUP BY 1
),
cum AS (
  SELECT _k, _ca + _cb AS _t,
         SUM(_ca) OVER (ORDER BY _k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cuma,
         SUM(_cb) OVER (ORDER BY _k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cumb,
         SUM(_ca) OVER () AS _na,
         SUM(_cb) OVER () AS _nb
  FROM per
),
agg AS (
  SELECT MAX(_na) AS n_a, MAX(_nb) AS n_b,
         SUM(CAST(_t AS HUGEINT)
             * (CAST(_cuma AS HUGEINT) * _nb - CAST(_cumb AS HUGEINT) * _na)
             * (CAST(_cuma AS HUGEINT) * _nb - CAST(_cumb AS HUGEINT) * _na)) AS _num
  FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(_num AS DOUBLE)
         / CAST(CAST(n_a + n_b AS HUGEINT) * (n_a + n_b) * n_a * n_b AS DOUBLE)
       END, {round_to}) AS t_cvm
FROM agg
"""


def tukey_hsd(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
    max_groups: int | None = 1_000,
) -> DataFrame:
    """Tukey HSD pairwise contrasts — the post-hoc step after
    :func:`anova_oneway` rejects (the F says SOME group differs; HSD
    says WHICH pairs, with the studentized-range q statistic whose
    critical values correct for all k(k−1)/2 comparisons at once):

        q_ij = (x̄_i − x̄_j) / sqrt( s²_w/2 · (1/n_i + 1/n_j) ),
        s²_w = SSW / (N − k)    (the ANOVA within-group variance).

    Exactness: group moments are exact DECIMAL(38,0) (width MEASURED,
    the anova_oneway guard); SSW's Σ S_g²/n_g runs as the same
    group-ordered float fold; each pair's mean difference is the exact
    integer (S_i·n_j − S_j·n_i) over ONE pinned division; the q tail is
    pinned. Output per pair (i < j by group order): ``(group_a,
    group_b, n_a, n_b, mean_diff, q_stat)`` — q NULL when s²_w ≤ 0 or
    N ≤ k. Plan: one group agg (bounded by ``max_groups``), a one-row
    within-variance readout broadcast onto the tiny group-pair
    self-join.
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(df, [(group_col, max_groups, group_col)], "tukey_hsd")
    require_sum_sq_width(df, value_col, "tukey_hsd")
    dec = lambda c: c.cast("decimal(38,0)")
    v = integral_long(df, value_col, "tukey_hsd")
    grp = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(v)).alias("_s"),
        F.sum(dec(v) * dec(v)).alias("_q"),
    )
    within = grp.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").alias("_nt"),
        F.sum("_q").alias("_qt"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_g").alias("g"),
                    (
                        F.col("_s").cast("double")
                        * F.col("_s").cast("double")
                        / F.col("_n").cast("double")
                    ).alias("term"),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_rs",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["term"]),
    )
    ssw = F.col("_qt").cast("double") - F.col("_rs")
    nt, kk = F.col("_nt"), F.col("_k")
    sw2 = ssw / (nt - kk).cast("double")
    wrow = within.select(
        sw2.alias("_sw2"), ((nt > kk) & (ssw > 0)).alias("_ok")
    )
    a = grp.select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("_na"),
        F.col("_s").alias("_sa"),
    )
    b = grp.select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("_nb"),
        F.col("_s").alias("_sb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(
        F.broadcast(wrow)
    )
    nad, nbd = F.col("_na").cast("double"), F.col("_nb").cast("double")
    diff = (
        (dec(F.col("_sa")) * dec(F.col("_nb")) - dec(F.col("_sb")) * dec(F.col("_na")))
        .cast("double")
        / (dec(F.col("_na")) * dec(F.col("_nb"))).cast("double")
    )
    q = diff / F.sqrt(
        F.col("_sw2") / F.lit(2.0) * (F.lit(1.0) / nad + F.lit(1.0) / nbd)
    )
    return pairs.select(
        "group_a",
        "group_b",
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(diff, round_to).alias("mean_diff"),
        F.round(F.when(F.col("_ok"), q), round_to).alias("q_stat"),
    ).orderBy("group_a", "group_b")


def tukey_hsd_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT moments, same group-ordered SSW fold,
    same exact pair numerators and pinned q tail."""
    return f"""
WITH vals AS (SELECT {group_col} AS _g, CAST({value_col} AS BIGINT) AS _v
              FROM ({values_sql})),
grp AS MATERIALIZED (
  SELECT _g, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(_v AS HUGEINT)) AS _s,
         SUM(CAST(_v AS HUGEINT) * CAST(_v AS HUGEINT)) AS _q
  FROM vals GROUP BY _g
),
win AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS _k, CAST(SUM(_n) AS BIGINT) AS _nt,
         CAST(SUM(_q) AS DOUBLE)
         - list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE)
                  ORDER BY _g)), (x, y) -> x + y) AS _ssw
  FROM grp
)
SELECT a._g AS group_a, b._g AS group_b,
       a._n AS n_a, b._n AS n_b,
       ROUND(CAST(a._s * b._n - b._s * a._n AS DOUBLE)
             / CAST(CAST(a._n AS HUGEINT) * b._n AS DOUBLE), {round_to}) AS mean_diff,
       ROUND(CASE WHEN w._nt > w._k AND w._ssw > 0 THEN
         (CAST(a._s * b._n - b._s * a._n AS DOUBLE)
          / CAST(CAST(a._n AS HUGEINT) * b._n AS DOUBLE))
         / SQRT((w._ssw / CAST(w._nt - w._k AS DOUBLE)) / 2.0
                * (1.0 / CAST(a._n AS DOUBLE) + 1.0 / CAST(b._n AS DOUBLE)))
         END, {round_to}) AS q_stat
FROM grp a JOIN grp b ON a._g < b._g CROSS JOIN win w
ORDER BY group_a, group_b
"""


def dunn_test(
    df: DataFrame,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
    max_buckets: int | None = 100_000,
    max_groups: int | None = 1_000,
) -> DataFrame:
    """Dunn's pairwise rank contrasts — the post-hoc step after
    :func:`kruskal_wallis` rejects (H says SOME group's distribution is
    shifted; Dunn says WHICH pairs, on the same pooled midranks, with
    the tie-corrected null variance):

        z_ij = (R̄_i − R̄_j) / sqrt( σ² · (1/n_i + 1/n_j) ),
        σ²   = N(N+1)/12 − Σ(t³−t) / (12(N−1)).

    Exactness: the DOUBLED-midrank spine (the mann_whitney/
    kruskal_wallis machinery) keeps per-group doubled rank sums R2_g
    and the tie term Σ(t³−t) exact DECIMAL(38,0); each pair's mean-rank
    difference is the exact integer (R2_i·n_j − R2_j·n_i) over ONE
    pinned division by 2·n_i·n_j; the σ² tail is pinned. Output per
    pair (i < j by group order): ``(group_a, group_b, n_a, n_b,
    mean_rank_diff, z)`` — z NULL when σ² ≤ 0 (every value tied) or
    N < 2. Bounded contracts as in kruskal_wallis.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df,
        [(bucket_col, max_buckets, bucket_col), (group_col, max_groups, group_col)],
        "dunn_test",
    )
    per = df.groupBy(
        F.col(bucket_col).alias("_k"), F.col(group_col).alias("_g")
    ).agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy("_k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = lambda c: c.cast("decimal(38,0)")
    spine = per.groupBy("_k").agg(F.sum("_c").alias("_t"))
    spine = spine.select(
        "_k", "_t", (F.sum("_t").over(wcum) - F.col("_t")).alias("_before")
    )
    grp = (
        per.join(spine, "_k")
        .groupBy("_g")
        .agg(
            F.sum("_c").alias("_n"),
            F.sum(
                dec(F.col("_c"))
                * dec(F.lit(2) * F.col("_before") + F.col("_t") + F.lit(1))
            ).alias("_r2"),
        )
    )
    ties = spine.agg(
        F.sum("_t").alias("_nt"),
        F.sum(
            dec(F.col("_t")) * dec(F.col("_t")) * dec(F.col("_t"))
            - dec(F.col("_t"))
        ).alias("_ties"),
    )
    a = grp.select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("_na"),
        F.col("_r2").alias("_ra"),
    )
    b = grp.select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("_nb"),
        F.col("_r2").alias("_rb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(
        F.broadcast(ties)
    )
    nt = F.col("_nt")
    ntd = nt.cast("double")
    sig2 = ntd * (ntd + F.lit(1.0)) / F.lit(12.0) - F.col("_ties").cast(
        "double"
    ) / (F.lit(12.0) * (ntd - F.lit(1.0)))
    diff = (
        (dec(F.col("_ra")) * dec(F.col("_nb")) - dec(F.col("_rb")) * dec(F.col("_na")))
        .cast("double")
        / (F.lit(2.0) * (dec(F.col("_na")) * dec(F.col("_nb"))).cast("double"))
    )
    z = diff / F.sqrt(
        sig2
        * (
            F.lit(1.0) / F.col("_na").cast("double")
            + F.lit(1.0) / F.col("_nb").cast("double")
        )
    )
    ok = (nt > 1) & (sig2 > 0)
    return pairs.select(
        "group_a",
        "group_b",
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(diff, round_to).alias("mean_rank_diff"),
        F.round(F.when(ok, z), round_to).alias("z"),
    ).orderBy("group_a", "group_b")


def dunn_test_oracle_sql(
    values_sql: str,
    bucket_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same doubled midranks, HUGEINT rank/tie sums, same
    exact pair numerators and pinned σ²/z tail."""
    return f"""
WITH vals AS (SELECT {bucket_col} AS _k, {group_col} AS _g FROM ({values_sql})),
per AS (
  SELECT _k, _g, CAST(COUNT(*) AS BIGINT) AS _c FROM vals GROUP BY 1, 2
),
spine AS MATERIALIZED (
  SELECT _k, CAST(SUM(_c) AS BIGINT) AS _t,
         CAST(SUM(SUM(_c)) OVER (ORDER BY _k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - SUM(_c)
              AS BIGINT) AS _before
  FROM per GROUP BY _k
),
grp AS MATERIALIZED (
  SELECT p._g, CAST(SUM(p._c) AS BIGINT) AS _n,
         SUM(CAST(p._c AS HUGEINT) * (2 * s._before + s._t + 1)) AS _r2
  FROM per p JOIN spine s USING (_k)
  GROUP BY p._g
),
ties AS (
  SELECT CAST(SUM(_t) AS BIGINT) AS _nt,
         SUM(CAST(_t AS HUGEINT) * _t * _t - _t) AS _ties
  FROM spine
)
SELECT a._g AS group_a, b._g AS group_b, a._n AS n_a, b._n AS n_b,
       ROUND(CAST(a._r2 * b._n - b._r2 * a._n AS DOUBLE)
             / (2.0 * CAST(CAST(a._n AS HUGEINT) * b._n AS DOUBLE)),
             {round_to}) AS mean_rank_diff,
       ROUND(CASE WHEN t._nt > 1 AND
         (CAST(t._nt AS DOUBLE) * (CAST(t._nt AS DOUBLE) + 1.0) / 12.0
          - CAST(t._ties AS DOUBLE) / (12.0 * (CAST(t._nt AS DOUBLE) - 1.0))) > 0
         THEN (CAST(a._r2 * b._n - b._r2 * a._n AS DOUBLE)
               / (2.0 * CAST(CAST(a._n AS HUGEINT) * b._n AS DOUBLE)))
              / SQRT((CAST(t._nt AS DOUBLE) * (CAST(t._nt AS DOUBLE) + 1.0) / 12.0
                      - CAST(t._ties AS DOUBLE) / (12.0 * (CAST(t._nt AS DOUBLE) - 1.0)))
                     * (1.0 / CAST(a._n AS DOUBLE) + 1.0 / CAST(b._n AS DOUBLE)))
         END, {round_to}) AS z
FROM grp a JOIN grp b ON a._g < b._g CROSS JOIN ties t
ORDER BY group_a, group_b
"""


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
    round_to: int = 6,
    max_groups: int | None = 1000,
    max_cells: int | None = 25_000,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative — the trend
    question :func:`kruskal_wallis` cannot ask (KW rejects when "some
    group differs"; JT accumulates the Mann–Whitney exceedances along
    the hypothesized group ORDER, so monotone dose-response designs
    gain power). Groups are ordered by the natural ascending sort of
    ``group_col`` — encode the hypothesized order into the labels:

        J = Σ_{i<j} U_ij,   U_ij = #{x∈g_i, y∈g_j : x < y} + ½·ties,
        z = (J − E₀) / sqrt(Var₀)   (tie-CORRECTED normal null;
        Hollander & Wolfe §6.2: the three-term variance with both
        group-size and value-tie products).

    Exactness AND scale: like kendall_tau the O(rows²) pair count
    collapses to the joint (group, value) histogram — J doubles to
    2J = Σ cell-pairs (2·c_a·c_b [v_b>v_a] + c_a·c_b [v_b=v_a]), an
    exact DECIMAL(38,0) over the ``max_cells``-guarded cell self-join
    restricted to g_b > g_a; 4·E₀ = N² − Σn_i² exactly, so the z
    numerator is the exact integer (2·jt2 − (N² − Σn_i²))/4; every variance
    term is an exact integer sum cast once into a fixed-order double
    tail. Output one row: ``(n, k, jt2, z)`` (``jt2`` = 2J) — z NULL
    when Var₀ ≤ 0 (degenerate: all one group or all one value).
    """
    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df,
        [
            (group_col, max_groups, group_col),
            (F.struct(F.col(group_col), F.col(value_col)), max_cells, "_cell"),
        ],
        "jonckheere_terpstra",
    )
    dec = lambda c: c.cast("decimal(38,0)")
    cells = df.groupBy(
        F.col(group_col).alias("_g"),
        integral_long(df, value_col, "jonckheere_terpstra").alias("_v"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    a = cells.select(
        F.col("_g").alias("_ga"), F.col("_v").alias("_va"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_g").alias("_gb"), F.col("_v").alias("_vb"), F.col("_c").alias("_cb")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    j2 = a.join(b, F.col("_gb") > F.col("_ga")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_vb") > F.col("_va"),
                    F.lit(2).cast("decimal(38,0)") * dec(F.col("_ca")) * dec(F.col("_cb")),
                )
                .when(
                    F.col("_vb") == F.col("_va"),
                    dec(F.col("_ca")) * dec(F.col("_cb")),
                )
                .otherwise(zero)
            ),
            zero,
        ).alias("_j2")
    )
    # margins: group sizes n_i and value-tie sizes t_v (exact sums of
    # the polynomial terms the tie-corrected variance needs)
    gm = (
        cells.groupBy("_g")
        .agg(F.sum("_c").alias("_ni"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("_ni").alias("n"),
            F.sum(dec(F.col("_ni")) * dec(F.col("_ni"))).alias("_gsq"),
            F.sum(
                dec(F.col("_ni"))
                * dec(F.col("_ni") - F.lit(1))
                * dec(F.lit(2) * F.col("_ni") + F.lit(5))
            ).alias("_g25"),
            F.sum(
                dec(F.col("_ni"))
                * dec(F.col("_ni") - F.lit(1))
                * dec(F.col("_ni") - F.lit(2))
            ).alias("_g3"),
            F.sum(dec(F.col("_ni")) * dec(F.col("_ni") - F.lit(1))).alias("_g2"),
        )
    )
    vm = (
        cells.groupBy("_v")
        .agg(F.sum("_c").alias("_tv"))
        .agg(
            F.sum(
                dec(F.col("_tv"))
                * dec(F.col("_tv") - F.lit(1))
                * dec(F.lit(2) * F.col("_tv") + F.lit(5))
            ).alias("_t25"),
            F.sum(
                dec(F.col("_tv"))
                * dec(F.col("_tv") - F.lit(1))
                * dec(F.col("_tv") - F.lit(2))
            ).alias("_t3"),
            F.sum(dec(F.col("_tv")) * dec(F.col("_tv") - F.lit(1))).alias("_t2"),
        )
    )
    out = j2.crossJoin(gm).crossJoin(vm)
    n = F.col("n")
    nd = n.cast("double")
    # q4 = N² − Σn_i² = 2·Σ_{i<j} n_i n_j = 4·E₀, so the z numerator
    # J − E₀ = (2·jt2 − q4)/4 stays an exact integer over 4
    q4 = (dec(n) * dec(n) - F.col("_gsq")).cast("double")
    term1 = (
        dec(n) * dec(n - F.lit(1)) * dec(F.lit(2) * n + F.lit(5))
        - F.col("_g25")
        - F.col("_t25")
    ).cast("double") / F.lit(72.0)
    term2 = (
        F.col("_g3").cast("double") * F.col("_t3").cast("double")
    ) / (
        F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0))
    )
    term3 = (F.col("_g2").cast("double") * F.col("_t2").cast("double")) / (
        F.lit(8.0) * nd * (nd - F.lit(1.0))
    )
    var0 = term1 + term2 + term3
    z = (F.lit(2.0) * F.col("_j2").cast("double") - q4) / (
        F.lit(4.0) * F.sqrt(var0)
    )
    return out.select(
        n.cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.col("_j2").cast("long").alias("jt2"),
        F.round(F.when((n > 2) & (var0 > 0), z), round_to).alias("z"),
    )


def jonckheere_terpstra_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same joint-histogram doubled J, same exact margin
    polynomials and fixed-order tie-corrected variance tail."""
    return f"""
WITH vals AS (SELECT {group_col} AS _g, CAST({value_col} AS BIGINT) AS _v
              FROM ({values_sql})),
cells AS MATERIALIZED (
  SELECT _g, _v, CAST(COUNT(*) AS BIGINT) AS _c FROM vals GROUP BY _g, _v
),
j2 AS (
  SELECT COALESCE(SUM(CASE WHEN b._v > a._v THEN 2 * CAST(a._c AS HUGEINT) * b._c
                           WHEN b._v = a._v THEN CAST(a._c AS HUGEINT) * b._c
                           ELSE 0 END), 0) AS _j2
  FROM cells a JOIN cells b ON b._g > a._g
),
gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(_ni) AS BIGINT) AS n,
         SUM(CAST(_ni AS HUGEINT) * _ni) AS _gsq,
         SUM(CAST(_ni AS HUGEINT) * (_ni - 1) * (2 * _ni + 5)) AS _g25,
         SUM(CAST(_ni AS HUGEINT) * (_ni - 1) * (_ni - 2)) AS _g3,
         SUM(CAST(_ni AS HUGEINT) * (_ni - 1)) AS _g2
  FROM (SELECT CAST(SUM(_c) AS BIGINT) AS _ni FROM cells GROUP BY _g)
),
vm AS (
  SELECT SUM(CAST(_tv AS HUGEINT) * (_tv - 1) * (2 * _tv + 5)) AS _t25,
         SUM(CAST(_tv AS HUGEINT) * (_tv - 1) * (_tv - 2)) AS _t3,
         SUM(CAST(_tv AS HUGEINT) * (_tv - 1)) AS _t2
  FROM (SELECT CAST(SUM(_c) AS BIGINT) AS _tv FROM cells GROUP BY _v)
)
SELECT n, k,
       CAST(_j2 AS BIGINT) AS jt2,
       ROUND(CASE WHEN n > 2 AND
         (CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - _g25 - _t25 AS DOUBLE) / 72.0
          + (CAST(_g3 AS DOUBLE) * CAST(_t3 AS DOUBLE))
            / (36.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 2.0))
          + (CAST(_g2 AS DOUBLE) * CAST(_t2 AS DOUBLE))
            / (8.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) > 0
       THEN (2.0 * CAST(_j2 AS DOUBLE) - CAST(CAST(n AS HUGEINT) * n - _gsq AS DOUBLE))
            / (4.0 * SQRT(
         CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - _g25 - _t25 AS DOUBLE) / 72.0
          + (CAST(_g3 AS DOUBLE) * CAST(_t3 AS DOUBLE))
            / (36.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 2.0))
          + (CAST(_g2 AS DOUBLE) * CAST(_t2 AS DOUBLE))
            / (8.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
       END, {round_to}) AS z
FROM j2 CROSS JOIN gm CROSS JOIN vm
"""


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
    max_treatments: int | None = 10_000,
) -> DataFrame:
    """Page's L trend test — :func:`friedman_test` with an ORDERED
    alternative (Friedman asks "do the k treatments differ at all?";
    Page asks "do they increase along the hypothesized order?", the
    repeated-measures sibling of :func:`jonckheere_terpstra`).
    Treatments are ordered by the natural ascending sort of
    ``treatment_col`` — encode the hypothesized order into the labels:

        L = Σ_j w_j·R_j   (w_j = 1..k in treatment order,
                           R_j = Σ_blocks within-block rank of j),
        z = (L − n·k(k+1)²/4) / sqrt( n·k²(k+1)²(k−1)/144 ).

    Exactness: the same DOUBLED within-block midranks as friedman
    (2·midrank = 2·before + t + 1, integers; ties allowed in L itself),
    weights joined from the sorted treatment catalog (bounded,
    broadcast); L2 = 2L and E2 = n·(k(k+1)²/2) are exact
    DECIMAL(38,0) (k(k+1)² is always even); z is ONE pinned tail over
    the no-tie null variance (the standard normal approximation —
    tie-corrected Page variance is not in the literature; heavy ties
    argue for :func:`friedman_test` instead). Incomplete blocks
    dropped + counted, friedman's convention. Output one row:
    ``(k, n_blocks, n_dropped, l2, z)`` — NULL z when k < 3 or
    n_blocks = 0.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    df = require_bounded_spines(
        df, [(treatment_col, max_treatments, treatment_col)], "page_trend_test"
    )
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_j"),
        integral_long(df, value_col, "page_trend_test").alias("_v"),
    )
    labels = [
        r["_j"]
        for r in base.select("_j").distinct().orderBy("_j").collect()
    ]
    k = len(labels)
    spark = df.sparkSession
    wts = spark.createDataFrame(
        [(lab, i + 1) for i, lab in enumerate(labels)], ["_j", "_w"]
    )
    per_block = base.groupBy("_b").agg(
        F.countDistinct("_j").alias("_nj"), F.count(F.lit(1)).alias("_nr")
    )
    from .dedup import _persist

    complete = _persist(
        per_block.where(
            (F.col("_nj") == F.lit(k)) & (F.col("_nr") == F.lit(k))
        ).select("_b")
    )
    n_complete = complete.count()
    n_dropped = per_block.count() - n_complete
    if n_complete == 0:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [(k, 0, n_dropped, None, None)],
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("n_blocks", T.LongType()),
                    T.StructField("n_dropped", T.LongType()),
                    T.StructField("l2", T.LongType()),
                    T.StructField("z", T.DoubleType()),
                ]
            ),
        )
    rows = base.join(complete, "_b")
    hist = rows.groupBy("_b", "_v").agg(F.count(F.lit(1)).alias("_t"))
    wb = Window.partitionBy("_b").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = hist.select(
        "_b", "_v", "_t", (F.sum("_t").over(wb) - F.col("_t")).alias("_bef")
    )
    ranked = rows.join(hist, ["_b", "_v"]).select(
        "_b",
        "_j",
        (F.lit(2) * F.col("_bef") + F.col("_t") + F.lit(1)).alias("_r2"),
    )
    glob = ranked.join(F.broadcast(wts), "_j").agg(
        F.countDistinct("_b").alias("n_blocks"),
        F.sum(dec(F.col("_r2")) * dec(F.col("_w"))).alias("_l2"),
    )
    # k(k+1)² is even for every k, so E2 = n·(k(k+1)²/2) is exact
    e2c = k * (k + 1) * (k + 1) // 2
    varc = k * k * (k + 1) * (k + 1) * (k - 1) if k > 1 else 0
    nb = F.col("n_blocks")
    var = (dec(nb) * dec(F.lit(varc))).cast("double") / F.lit(144.0)
    z = (F.col("_l2") - dec(nb) * dec(F.lit(e2c))).cast("double") / (
        F.lit(2.0) * F.sqrt(var)
    )
    return glob.select(
        F.lit(k).cast("long").alias("k"),
        nb.cast("long").alias("n_blocks"),
        F.lit(n_dropped).cast("long").alias("n_dropped"),
        F.col("_l2").cast("long").alias("l2"),
        F.round(F.when((F.lit(k) > 2) & (nb > 0), z), round_to).alias("z"),
    )


def page_trend_test_oracle_sql(
    rows_sql: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same complete-block filter and doubled midranks,
    weights from the sorted treatment catalog, token-identical pinned
    z tail over the no-tie null moments."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {block_col} AS _b, {treatment_col} AS _j,
         CAST({value_col} AS BIGINT) AS _v
  FROM ({rows_sql})
),
nk AS (SELECT CAST(COUNT(DISTINCT _j) AS BIGINT) AS k FROM base),
wts AS MATERIALIZED (
  SELECT _j, CAST(row_number() OVER (ORDER BY _j) AS BIGINT) AS _w
  FROM (SELECT DISTINCT _j FROM base)
),
per_block AS MATERIALIZED (
  SELECT _b, COUNT(DISTINCT _j) AS _nj, COUNT(*) AS _nr
  FROM base GROUP BY _b
),
complete AS MATERIALIZED (
  SELECT _b FROM per_block, nk WHERE _nj = k AND _nr = k
),
dropped AS (
  SELECT (SELECT COUNT(*) FROM per_block) - (SELECT COUNT(*) FROM complete)
         AS n_dropped
),
rows_c AS MATERIALIZED (
  SELECT b.* FROM base b JOIN complete c ON b._b = c._b
),
hist AS (
  SELECT _b, _v, CAST(COUNT(*) AS BIGINT) AS _t,
         SUM(COUNT(*)) OVER (PARTITION BY _b ORDER BY _v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - COUNT(*) AS _bef
  FROM rows_c GROUP BY _b, _v
),
ranked AS MATERIALIZED (
  SELECT r._b, r._j, 2 * h._bef + h._t + 1 AS _r2
  FROM rows_c r JOIN hist h ON r._b = h._b AND r._v = h._v
),
gl AS (
  SELECT CAST(COUNT(DISTINCT r._b) AS BIGINT) AS n_blocks,
         SUM(CAST(r._r2 AS HUGEINT) * w._w) AS _l2
  FROM ranked r JOIN wts w ON r._j = w._j
)
SELECT (SELECT k FROM nk) AS k, n_blocks,
       (SELECT n_dropped FROM dropped) AS n_dropped,
       CAST(_l2 AS BIGINT) AS l2,
       ROUND(CASE WHEN (SELECT k FROM nk) > 2 AND n_blocks > 0 THEN
         CAST(_l2 - CAST(n_blocks AS HUGEINT)
              * ((SELECT k FROM nk) * ((SELECT k FROM nk) + 1) * ((SELECT k FROM nk) + 1) // 2)
              AS DOUBLE)
         / (2.0 * SQRT(CAST(CAST(n_blocks AS HUGEINT)
              * ((SELECT k FROM nk) * (SELECT k FROM nk) * ((SELECT k FROM nk) + 1)
                 * ((SELECT k FROM nk) + 1) * ((SELECT k FROM nk) - 1)) AS DOUBLE) / 144.0))
       END, {round_to}) AS z
FROM gl
"""


def yuen_trimmed_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    trim_pct: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Yuen's two-sample trimmed-means t — the robust location test
    between :func:`~.experiment.effect_sizes`' plain t machinery
    (breaks under heavy tails) and :func:`mann_whitney` (gives up the
    mean entirely): compare γ-trimmed means with winsorized variances
    (Yuen 1974),

        g_j = ⌊n_j·γ⌋,  h_j = n_j − 2g_j,
        t = (x̄_t1 − x̄_t2) / sqrt(d_1 + d_2),
        d_j = s²_wj·(n_j − 1) / (h_j·(h_j − 1)),
        df = (d_1 + d_2)² / (d_1²/(h_1−1) + d_2²/(h_2−1)).

    Exactness: per-arm ranks are a group-partitioned window (the
    winsorized_stats discipline — rank-range SUMS are tie-invariant);
    the trimmed sum (ranks g..n−g), the winsorizing order statistics
    (values AT ranks g+1 and n−g), and the winsorized Σw/Σw² are all
    exact DECIMAL(38,0) (w clamps to data values — still integers);
    s²_w = (n·Σw² − (Σw)²)/(n(n−1)) and everything after is a
    fixed-order double tail token-identical in the oracle. NULL
    metrics dropped first (the NULLS FIRST/LAST engine trap). Output
    one row: ``(n_a, n_b, h_a, h_b, tmean_a, tmean_b, t, df)`` —
    NULL t/df when either h ≤ 1 or both winsorized variances are 0.
    """
    from pyspark.sql import Window

    if not 0 <= trim_pct < 50:
        raise ValueError("yuen_trimmed_t: trim_pct must be in [0, 50)")
    g_ = F.col(group_col)
    base = df.select(
        F.when(g_ == F.lit(group_a), F.lit(0))
        .when(g_ == F.lit(group_b), F.lit(1))
        .alias("_g"),
        integral_long(df, value_col, "yuen_trimmed_t").alias("_v"),
    ).where(F.col("_g").isNotNull() & F.col("_v").isNotNull())
    w = Window.partitionBy("_g").orderBy("_v")
    ranked = base.select(
        "_g",
        "_v",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy("_g")).alias("_n"),
    )
    gcut = F.expr(f"(_n * {int(trim_pct)}) div 100")
    dec = lambda c: c.cast("decimal(38,0)")
    z = F.lit(0).cast("decimal(38,0)")
    mid = (F.col("_r") > gcut) & (F.col("_r") <= F.col("_n") - gcut)
    per = ranked.groupBy("_g").agg(
        F.max("_n").alias("n"),
        F.max(gcut).alias("_gc"),
        F.sum(F.when(mid, dec(F.col("_v"))).otherwise(z)).alias("_ts"),
        F.sum(F.when(mid, dec(F.col("_v")) * dec(F.col("_v"))).otherwise(z)).alias("_tq"),
        F.min(F.when(F.col("_r") == gcut + 1, F.col("_v"))).alias("_lo"),
        F.min(F.when(F.col("_r") == F.col("_n") - gcut, F.col("_v"))).alias("_hi"),
    )
    h = F.col("n") - F.lit(2) * F.col("_gc")
    ws = F.col("_ts") + dec(F.col("_gc")) * (dec(F.col("_lo")) + dec(F.col("_hi")))
    wq = F.col("_tq") + dec(F.col("_gc")) * (
        dec(F.col("_lo")) * dec(F.col("_lo")) + dec(F.col("_hi")) * dec(F.col("_hi"))
    )
    nd = F.col("n").cast("double")
    sw2 = (dec(F.col("n")) * wq - ws * ws).cast("double") / (
        nd * (nd - F.lit(1.0))
    )
    dterm = sw2 * (nd - F.lit(1.0)) / (
        h.cast("double") * (h.cast("double") - F.lit(1.0))
    )
    arm = per.select(
        "_g",
        "n",
        h.alias("_h"),
        (F.col("_ts").cast("double") / h.cast("double")).alias("_tm"),
        dterm.alias("_d"),
    )
    a = arm.where(F.col("_g") == 0).select(
        F.col("n").alias("n_a"),
        F.col("_h").alias("h_a"),
        F.col("_tm").alias("_tma"),
        F.col("_d").alias("_da"),
    )
    b = arm.where(F.col("_g") == 1).select(
        F.col("n").alias("n_b"),
        F.col("_h").alias("h_b"),
        F.col("_tm").alias("_tmb"),
        F.col("_d").alias("_db"),
    )
    j = a.crossJoin(b)
    dsum = F.col("_da") + F.col("_db")
    t = (F.col("_tma") - F.col("_tmb")) / F.sqrt(dsum)
    dfree = (dsum * dsum) / (
        F.col("_da") * F.col("_da") / (F.col("h_a").cast("double") - F.lit(1.0))
        + F.col("_db") * F.col("_db") / (F.col("h_b").cast("double") - F.lit(1.0))
    )
    ok = (F.col("h_a") > 1) & (F.col("h_b") > 1) & (dsum > 0)
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("h_a").cast("long").alias("h_a"),
        F.col("h_b").cast("long").alias("h_b"),
        F.round(F.col("_tma"), round_to).alias("tmean_a"),
        F.round(F.col("_tmb"), round_to).alias("tmean_b"),
        F.round(F.when(ok, t), round_to).alias("t"),
        F.round(F.when(ok, dfree), round_to).alias("df"),
    )


def yuen_trimmed_t_oracle_sql(
    values_sql: str,
    value_col: str,
    group_col: str,
    group_a_sql: str,
    group_b_sql: str,
    trim_pct: int = 20,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same per-arm rank window, same exact winsorized
    sums and token-identical Yuen t / Satterthwaite df tail."""
    tp = int(trim_pct)
    sw2 = (
        "(CAST(CAST(n AS HUGEINT) * _wq - _ws * _ws AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"
    )
    h = "(n - 2 * _gc)"
    dterm = (
        f"({sw2} * (CAST(n AS DOUBLE) - 1.0)"
        f" / (CAST({h} AS DOUBLE) * (CAST({h} AS DOUBLE) - 1.0)))"
    )
    return f"""
WITH vals AS ({values_sql}),
base AS (
  SELECT CASE WHEN {group_col} = {group_a_sql} THEN 0
              WHEN {group_col} = {group_b_sql} THEN 1 END AS _g,
         CAST({value_col} AS BIGINT) AS _v
  FROM vals
  WHERE ({group_col} = {group_a_sql} OR {group_col} = {group_b_sql})
    AND {value_col} IS NOT NULL
),
ranked AS (
  SELECT _g, _v,
         row_number() OVER (PARTITION BY _g ORDER BY _v) AS _r,
         COUNT(*) OVER (PARTITION BY _g) AS _n
  FROM base
),
per AS (
  SELECT _g,
         CAST(MAX(_n) AS BIGINT) AS n,
         CAST(MAX((_n * {tp}) // 100) AS BIGINT) AS _gc,
         SUM(CASE WHEN _r > (_n * {tp}) // 100 AND _r <= _n - (_n * {tp}) // 100
             THEN CAST(_v AS HUGEINT) ELSE 0 END) AS _ts,
         SUM(CASE WHEN _r > (_n * {tp}) // 100 AND _r <= _n - (_n * {tp}) // 100
             THEN CAST(_v AS HUGEINT) * _v ELSE 0 END) AS _tq,
         MIN(CASE WHEN _r = (_n * {tp}) // 100 + 1 THEN _v END) AS _lo,
         MIN(CASE WHEN _r = _n - (_n * {tp}) // 100 THEN _v END) AS _hi
  FROM ranked GROUP BY _g
),
armx AS (
  SELECT _g, n, {h} AS _h,
         CAST(_ts AS DOUBLE) / CAST({h} AS DOUBLE) AS _tm,
         _ts + CAST(_gc AS HUGEINT) * (CAST(_lo AS HUGEINT) + _hi) AS _wsx,
         _tq + CAST(_gc AS HUGEINT) * (CAST(_lo AS HUGEINT) * _lo + CAST(_hi AS HUGEINT) * _hi) AS _wqx
  FROM per
),
armd AS (
  SELECT _g, n, _h, _tm,
         (CAST(CAST(n AS HUGEINT) * _wqx - _wsx * _wsx AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         * (CAST(n AS DOUBLE) - 1.0)
         / (CAST(_h AS DOUBLE) * (CAST(_h AS DOUBLE) - 1.0)) AS _d
  FROM armx
)
SELECT a.n AS n_a, b.n AS n_b,
       CAST(a._h AS BIGINT) AS h_a, CAST(b._h AS BIGINT) AS h_b,
       ROUND(a._tm, {round_to}) AS tmean_a,
       ROUND(b._tm, {round_to}) AS tmean_b,
       ROUND(CASE WHEN a._h > 1 AND b._h > 1 AND a._d + b._d > 0
             THEN (a._tm - b._tm) / SQRT(a._d + b._d) END, {round_to}) AS t,
       ROUND(CASE WHEN a._h > 1 AND b._h > 1 AND a._d + b._d > 0
             THEN ((a._d + b._d) * (a._d + b._d))
                  / (a._d * a._d / (CAST(a._h AS DOUBLE) - 1.0)
                     + b._d * b._d / (CAST(b._h AS DOUBLE) - 1.0)) END,
             {round_to}) AS df
FROM (SELECT * FROM armd WHERE _g = 0) a CROSS JOIN (SELECT * FROM armd WHERE _g = 1) b
"""


def sign_test(
    df: DataFrame,
    m1_col: str,
    m2_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Paired sign test per segment — the assumption-free floor under
    :func:`yuen_trimmed_t` and the Wilcoxon family (it uses only the
    SIGN of each within-pair difference, so it survives any monotone
    transformation and any outlier):

        z = (n⁺ − n⁻) / sqrt(n⁺ + n⁻)      (ties dropped, the
        standard convention; equivalent to the binomial normal
        approximation without continuity correction).

    Exactness: the three counts are exact integers from ONE
    conditional aggregation; z is a single pinned tail. Output per
    segment: ``(*by, n, n_pos, n_neg, n_zero, z)`` — NULL z when
    every pair is tied.
    """
    keys = list(by or [])
    d = integral_long(df, m1_col, "sign_test") - integral_long(
        df, m2_col, "sign_test"
    )
    base = df.select(*keys, d.alias("_d")).where(F.col("_d").isNotNull())
    per = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_d") > 0, 1).otherwise(0)).alias("_np"),
        F.sum(F.when(F.col("_d") < 0, 1).otherwise(0)).alias("_nn"),
        F.sum(F.when(F.col("_d") == 0, 1).otherwise(0)).alias("_nz"),
    )
    eff = F.col("_np") + F.col("_nn")
    z = (F.col("_np") - F.col("_nn")).cast("double") / F.sqrt(
        eff.cast("double")
    )
    out = per.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("_np").cast("long").alias("n_pos"),
        F.col("_nn").cast("long").alias("n_neg"),
        F.col("_nz").cast("long").alias("n_zero"),
        F.round(F.when(eff > 0, z), round_to).alias("z"),
    )
    return out.orderBy(*keys) if keys else out


def sign_test_oracle_sql(
    units_sql: str,
    m1_col: str,
    m2_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same counts, same pinned z."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({m1_col} AS BIGINT) - CAST({m2_col} AS BIGINT) AS _d
  FROM units
  WHERE {m1_col} IS NOT NULL AND {m2_col} IS NOT NULL
),
per AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN _d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _np,
         CAST(SUM(CASE WHEN _d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS _nn,
         CAST(SUM(CASE WHEN _d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS _nz
  FROM base {group}
)
SELECT {sel}n, _np AS n_pos, _nn AS n_neg, _nz AS n_zero,
       ROUND(CASE WHEN _np + _nn > 0 THEN
         CAST(_np - _nn AS DOUBLE) / SQRT(CAST(_np + _nn AS DOUBLE)) END,
         {round_to}) AS z
FROM per {order}
"""


def poisson_rate_test(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    events_col: str,
    exposure_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Poisson rate comparison — the ops-metrics test the
    mean-based machinery mis-models (error counts per machine-hour,
    incidents per user-day: the variance IS the mean, so a t-test's
    pooled variance is wrong on both sides):

        z = (λ̂_a − λ̂_b) / sqrt( c_a/t_a² + c_b/t_b² ),
        λ̂ = Σevents / Σexposure      (per arm).

    Exactness: event and exposure totals are exact integers from ONE
    conditional aggregation (exposure in integral units — hours,
    days — by contract); each rate is ONE pinned division and z a
    fixed-order tail. Output one row: ``(events_a, exposure_a,
    rate_a, events_b, exposure_b, rate_b, z)`` — NULL z when either
    exposure is 0 or both event counts are 0.
    """
    g = F.col(group_col)
    ev = integral_long(df, events_col, "poisson_rate_test")
    ex = integral_long(df, exposure_col, "poisson_rate_test")

    def cell(val, tag):
        m = g == F.lit(val)
        return [
            F.sum(F.when(m, ev).otherwise(F.lit(0))).alias(f"_c{tag}"),
            F.sum(F.when(m, ex).otherwise(F.lit(0))).alias(f"_t{tag}"),
        ]

    agg = df.agg(*cell(group_a, "a"), *cell(group_b, "b"))
    ca, ta = F.col("_ca").cast("double"), F.col("_ta").cast("double")
    cb, tb = F.col("_cb").cast("double"), F.col("_tb").cast("double")
    ra, rb = ca / ta, cb / tb
    z = (ra - rb) / F.sqrt(ca / (ta * ta) + cb / (tb * tb))
    ok = (F.col("_ta") > 0) & (F.col("_tb") > 0) & (
        (F.col("_ca") > 0) | (F.col("_cb") > 0)
    )
    return agg.select(
        F.col("_ca").cast("long").alias("events_a"),
        F.col("_ta").cast("long").alias("exposure_a"),
        F.round(F.when(F.col("_ta") > 0, ra), round_to).alias("rate_a"),
        F.col("_cb").cast("long").alias("events_b"),
        F.col("_tb").cast("long").alias("exposure_b"),
        F.round(F.when(F.col("_tb") > 0, rb), round_to).alias("rate_b"),
        F.round(F.when(ok, z), round_to).alias("z"),
    )


def poisson_rate_test_oracle_sql(
    units_sql: str,
    group_col: str,
    group_a_sql: str,
    group_b_sql: str,
    events_col: str,
    exposure_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact totals, token-identical rate/z tail."""
    ra = "(CAST(_ca AS DOUBLE) / CAST(_ta AS DOUBLE))"
    rb = "(CAST(_cb AS DOUBLE) / CAST(_tb AS DOUBLE))"
    z = (
        f"(({ra} - {rb}) / SQRT(CAST(_ca AS DOUBLE)"
        " / (CAST(_ta AS DOUBLE) * CAST(_ta AS DOUBLE))"
        " + CAST(_cb AS DOUBLE)"
        " / (CAST(_tb AS DOUBLE) * CAST(_tb AS DOUBLE))))"
    )
    ok = "_ta > 0 AND _tb > 0 AND (_ca > 0 OR _cb > 0)"
    return f"""
WITH units AS ({units_sql}),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN {group_col} = {group_a_sql} THEN CAST({events_col} AS BIGINT) ELSE 0 END) AS BIGINT) AS _ca,
    CAST(SUM(CASE WHEN {group_col} = {group_a_sql} THEN CAST({exposure_col} AS BIGINT) ELSE 0 END) AS BIGINT) AS _ta,
    CAST(SUM(CASE WHEN {group_col} = {group_b_sql} THEN CAST({events_col} AS BIGINT) ELSE 0 END) AS BIGINT) AS _cb,
    CAST(SUM(CASE WHEN {group_col} = {group_b_sql} THEN CAST({exposure_col} AS BIGINT) ELSE 0 END) AS BIGINT) AS _tb
  FROM units
)
SELECT _ca AS events_a, _ta AS exposure_a,
       ROUND(CASE WHEN _ta > 0 THEN {ra} END, {round_to}) AS rate_a,
       _cb AS events_b, _tb AS exposure_b,
       ROUND(CASE WHEN _tb > 0 THEN {rb} END, {round_to}) AS rate_b,
       ROUND(CASE WHEN {ok} THEN {z} END, {round_to}) AS z
FROM agg
"""


def hodges_lehmann(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
    max_buckets: int | None = 1000,
) -> DataFrame:
    """Hodges–Lehmann pseudo-median per segment — the location
    estimator dual to the Wilcoxon signed-rank test (median of all
    n(n+1)/2 Walsh averages (x_i + x_j)/2, i ≤ j): ~30% more
    efficient than the plain median at the normal, still 50%
    breakdown-robust against gross outliers.

    Exactness AND scale: O(n²) Walsh pairs collapse to the bounded
    value histogram — pairs of DISTINCT values (v_i ≤ v_j, the
    ``max_buckets``-guarded spine): each sum s = v_i + v_j carries
    exact integer weight c_i·c_j (doubled: 2c_i·c_j off-diagonal,
    c_i(c_i+1) on it, so the half-weights of the diagonal clear);
    the weighted median is rank-selection over the s-ordered cumsum
    (value at original rank r ⇔ smallest s with cum_w2 ≥ 2r), and
    the estimate (s_lo + s_hi)/4 resolves both the two-middle
    average AND the doubled s in one pinned division. Output per
    segment: ``(*by, n, hl_estimate)``.
    """
    from pyspark.sql import Window

    from .guards import require_bounded_spines

    keys = list(by or [])
    df = require_bounded_spines(
        df, [(value_col, max_buckets, value_col)], "hodges_lehmann", by=keys
    )
    dec = lambda c: c.cast("decimal(38,0)")
    cells = (
        df.select(
            *keys, integral_long(df, value_col, "hodges_lehmann").alias("_v")
        )
        .where(F.col("_v").isNotNull())
        .groupBy(*keys, "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    a = cells.select(
        *[F.col(k).alias(f"_ka{i}") for i, k in enumerate(keys)],
        F.col("_v").alias("_va"),
        F.col("_c").alias("_cca"),
    )
    b = cells.select(
        *[F.col(k).alias(f"_kb{i}") for i, k in enumerate(keys)],
        F.col("_v").alias("_vb"),
        F.col("_c").alias("_ccb"),
    )
    cond = [F.col(f"_ka{i}") == F.col(f"_kb{i}") for i in range(len(keys))]
    pairs = a.join(b, cond + [F.col("_vb") >= F.col("_va")] if keys else [F.col("_vb") >= F.col("_va")])
    w2 = F.when(
        F.col("_vb") == F.col("_va"),
        dec(F.col("_cca")) * dec(F.col("_cca") + F.lit(1)),
    ).otherwise(F.lit(2).cast("decimal(38,0)") * dec(F.col("_cca")) * dec(F.col("_ccb")))
    kb_cols = [F.col(f"_ka{i}").alias(k) for i, k in enumerate(keys)]
    sums = (
        pairs.select(
            *kb_cols, (F.col("_va") + F.col("_vb")).alias("_s"), w2.alias("_w2")
        )
        .groupBy(*keys, "_s")
        .agg(F.sum("_w2").alias("_w2"))
    )
    wcum = Window.partitionBy(*keys).orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*keys)
    ranked = sums.select(
        *keys,
        "_s",
        F.sum("_w2").over(wcum).alias("_cw2"),
        F.sum("_w2").over(wall).alias("_W2"),
    )
    # original Walsh count W = W2/2; the two median ranks are
    # r_lo = ⌊(W+1)/2⌋ and r_hi = ⌊W/2⌋+1, and value-at-rank-r is the
    # smallest s with cum_w2 ≥ 2r. Because every w2 term is EVEN (the
    # diagonal c(c+1) and off-diagonal 2ab both are), 2·r_lo = W + (W%2)
    # and 2·r_hi = W − (W%2) + 2, with W%2 = (W2 % 4)/2 — all exact
    # decimal algebra. Division of an EVEN decimal by 2 is exact on both
    # engines (a stray ⌊/2⌋ of an ODD decimal would NOT be: Spark's
    # decimal cast rounds HALF_UP while DuckDB's // floors — the
    # negated-div class of engine trap, avoided by keeping operands even).
    Wl = F.col("_W2").cast("decimal(38,0)")  # 2W (even)
    half = (Wl / F.lit(2)).cast("decimal(38,0)")  # W, exact
    wmod2 = (F.pmod(Wl, F.lit(4)) / F.lit(2)).cast("decimal(38,0)")  # W % 2
    t_lo = half + wmod2
    t_hi = half - wmod2 + F.lit(2)
    lo = ranked.where(F.col("_cw2") >= t_lo).groupBy(*keys).agg(
        F.min("_s").alias("_slo")
    )
    hi = ranked.where(F.col("_cw2") >= t_hi).groupBy(*keys).agg(
        F.min("_s").alias("_shi")
    )
    n_per = cells.groupBy(*keys).agg(F.sum("_c").alias("n"))
    j = n_per.join(lo, keys) if keys else n_per.crossJoin(lo)
    j = j.join(hi, keys) if keys else j.crossJoin(hi)
    out = j.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("_slo") + F.col("_shi")).cast("double") / F.lit(4.0),
            round_to,
        ).alias("hl_estimate"),
    )
    return out.orderBy(*keys) if keys else out


def hodges_lehmann_oracle_sql(
    values_sql: str,
    value_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same histogram Walsh pairs with doubled weights,
    same rank-selection algebra and single pinned division."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    part = f"PARTITION BY {gc} " if keys else ""
    acond = (
        " AND ".join(f"a.{k} = b.{k}" for k in keys) + " AND "
        if keys
        else ""
    )
    asel = (", ".join(f"a.{k}" for k in keys) + ", ") if keys else ""
    agroup = (
        ("GROUP BY " + ", ".join(f"a.{k}" for k in keys) + ", _s")
        if keys
        else "GROUP BY _s"
    )
    jcond1 = (
        " AND ".join(f"n.{k} = l.{k}" for k in keys) if keys else "TRUE"
    )
    jcond2 = (
        " AND ".join(f"n.{k} = h.{k}" for k in keys) if keys else "TRUE"
    )
    nsel = (", ".join(f"n.{k}" for k in keys) + ", ") if keys else ""
    norder = (
        ("ORDER BY " + ", ".join(f"n.{k}" for k in keys)) if keys else ""
    )
    return f"""
WITH vals AS ({values_sql}),
cells AS MATERIALIZED (
  SELECT {sel}CAST({value_col} AS BIGINT) AS _v, CAST(COUNT(*) AS BIGINT) AS _c
  FROM vals WHERE {value_col} IS NOT NULL GROUP BY {sel}_v
),
sums AS MATERIALIZED (
  SELECT {asel}a._v + b._v AS _s,
         SUM(CASE WHEN a._v = b._v
             THEN CAST(a._c AS HUGEINT) * (a._c + 1)
             ELSE 2 * CAST(a._c AS HUGEINT) * b._c END) AS _w2
  FROM cells a JOIN cells b ON {acond}b._v >= a._v
  {agroup}
),
ranked AS MATERIALIZED (
  SELECT {sel}_s,
         SUM(_w2) OVER ({part}ORDER BY _s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cw2,
         SUM(_w2) OVER ({part}) AS _W2
  FROM sums
),
bounds AS (
  SELECT {sel}_s, _cw2,
         _W2 // 2 AS _half,
         (_W2 % 4) // 2 AS _wmod2
  FROM ranked
),
lo AS (
  SELECT {sel}MIN(_s) AS _slo FROM bounds
  WHERE _cw2 >= _half + _wmod2 {group}
),
hi AS (
  SELECT {sel}MIN(_s) AS _shi FROM bounds
  WHERE _cw2 >= _half - _wmod2 + 2 {group}
),
n_per AS (SELECT {sel}CAST(SUM(_c) AS BIGINT) AS n FROM cells {group})
SELECT {nsel}n.n,
       ROUND(CAST(l._slo + h._shi AS DOUBLE) / 4.0, {round_to}) AS hl_estimate
FROM n_per n JOIN lo l ON {jcond1} JOIN hi h ON {jcond2}
{norder}
"""
