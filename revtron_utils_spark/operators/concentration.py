"""Distribution shape, concentration, and drift — Gini/HHI/Lorenz,
Benford, Hellinger/vocab drift, outlier scores, and robust location,
split out of ``profile.py`` (round 12). ``operators.profile``
re-exports every name here, so existing imports keep working.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T  # noqa: F401

from .guards import integral_long  # noqa: F401


def rolling_zscore(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: list[str] | None = None,
    window: int = 7,
    min_history: int = 3,
    value_scale: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Daily-series anomaly screen: per group, each day's total scored
    against the TRAILING ``window`` days (excluding the current day —
    an anomaly must not inflate its own baseline): ``z = (x − μ) /
    σ``, with μ/σ from the window's exact integer sums. Days with
    fewer than ``min_history`` prior days get NULL z (cold start).

    The volume/traffic drift alarm every ingestion pipeline runs.
    Values are quantized to ``1/value_scale`` units so every
    distributed and window sum is an exact integer (squares summed as
    DECIMAL(38,0) — a day's scaled total squared overflows int64 at
    realistic volume); σ uses the unbiased estimator and one
    exactly-rounded sqrt, so output hash-matches a SQL oracle.

    One shuffle to daily grain (map-side combined), then an
    O(groups × days) window — the window input is the DAILY table, so
    its size is calendar-bounded regardless of event volume.

    Returns ``(*by, day_us, daily_total, z)``.
    """
    from pyspark.sql import Window

    by = list(by or [])
    day = F.date_trunc("DAY", F.col(ts_col).cast("timestamp"))
    q = F.round(F.col(value_col) * value_scale).cast("long")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*by, F.unix_micros(day).alias("day_us"))
        .agg(F.sum(q).alias("_x"))
    )
    w = (
        Window.partitionBy(*by)
        .orderBy("day_us")
        .rowsBetween(-window, -1)
    )
    n = F.count(F.col("_x")).over(w)
    s = F.sum(F.col("_x")).over(w)
    s2 = F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,0)")).over(w)
    nd = n.cast("double")
    mean = s.cast("double") / nd
    # unbiased variance from exact sums: (n·Σx² − (Σx)²) / (n·(n−1))
    var = (nd * s2.cast("double") - s.cast("double") * s.cast("double")) / (
        nd * (nd - 1)
    )
    z = (F.col("_x").cast("double") - mean) / F.sqrt(var)
    return daily.select(
        *by,
        "day_us",
        F.round(F.col("_x").cast("double") / value_scale, round_to).alias("daily_total"),
        F.round(
            F.when((n >= min_history) & (var > 0), z), round_to
        ).alias("z"),
    )


def token_diversity(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Lexical-diversity profile per group — the corpus-health signal
    behind "is this domain template spam or real prose":

    - ``n_tokens`` (N), ``n_types`` (V): totals and distinct tokens,
    - ``ttr = V / N``: type-token ratio,
    - ``simpson``: the unbiased Gini-Simpson index
      ``1 − Σ_t c_t·(c_t−1) / (N·(N−1))`` — the probability two tokens
      drawn WITHOUT replacement differ. 0 for a one-word group, → 1 for
      maximally diverse text; unlike entropy it needs no logarithm, so
      every quantity here is an exact integer sum plus ONE
      exactly-rounded IEEE division — hash-comparable across engines.

    Physical shape: tokenize (JVM expressions) → one partial-aggregated
    shuffle on (group, token) for the per-token counts → one O(groups)
    rollup. Token-count skew (stopwords) is absorbed by the map-side
    combine; nothing collects. NULL/empty documents contribute nothing.

    No counterpart in the reference (its text surface is SOQL strings);
    part of the text-analysis extension.
    """
    from ..functions.text import tokens

    tok = df.select(
        *group_cols, F.explode(tokens(F.col(text_col))).alias("_t")
    )
    counts = tok.groupBy(*group_cols, "_t").agg(F.count(F.lit(1)).alias("_c"))
    agg = counts.groupBy(*group_cols).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("_c") * (F.col("_c") - 1)).alias("_rep2"),
    )
    n = F.col("n_tokens")
    nd = n.cast("double")
    simpson = F.when(
        n > 1,
        F.lit(1.0) - F.col("_rep2").cast("double") / (nd * (nd - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *group_cols,
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / nd, round_to).alias("ttr"),
        F.round(simpson, round_to).alias("simpson"),
    )


def token_diversity_oracle_sql(
    table: str, group_cols: list[str], text_col: str = "text", round_to: int = 6
) -> str:
    """DuckDB twin: same tokenizer, same integer sums, same divisions."""
    gc = ", ".join(group_cols)
    return rf"""
WITH tok AS (
  SELECT {gc},
         unnest(list_filter(string_split_regex(trim({text_col}), '\s+'),
                            t -> t <> '')) AS t
  FROM {table}
), c AS (
  SELECT {gc}, t, COUNT(*) AS c FROM tok GROUP BY {gc}, t
), a AS (
  SELECT {gc}, SUM(c) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(c * (c - 1)) AS rep2
  FROM c GROUP BY {gc}
)
SELECT {gc}, n_tokens, n_types,
       ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), {round_to}) AS ttr,
       ROUND(CASE WHEN n_tokens > 1
             THEN 1.0 - CAST(rep2 AS DOUBLE)
                  / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
             ELSE 0.0 END, {round_to}) AS simpson
FROM a
"""


def vocab_drift(
    df: DataFrame,
    slice_col: str,
    slice_a: str,
    slice_b: str,
    text_col: str = "text",
    top_k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Distribution shift between two corpus slices, log-free: the
    total-variation distance between their token distributions plus the
    ``top_k`` most-divergent tokens — the drift readout you run when a
    new crawl snapshot or source lands (KL/JS need logarithms whose
    libm rounding differs across engines; TVD is
    ``Σ_t |c_a·N_b − c_b·N_a| / (2·N_a·N_b)`` — an exact DECIMAL
    integer sum and ONE float division, so the readout hash-matches
    SQL).

    Output: ``(token, c_a, c_b, contrib, tvd, rank)`` — per-token
    contribution to the distance, the corpus-level TVD repeated on each
    row (broadcast scalar), ranked by exact numerator descending
    (token ascending tie-break). Plan: tokenize → ONE (token)
    partial-aggregated shuffle with conditional counts → single-row
    totals broadcast → TakeOrdered top-k; nothing driver-side scales
    with the vocabulary.
    """
    from ..functions.text import tokens
    from pyspark.sql import Window

    base = df.where(F.col(slice_col).isin([slice_a, slice_b])).select(
        F.col(slice_col).alias("_s"), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    counts = base.groupBy("_t").agg(
        F.sum(F.when(F.col("_s") == slice_a, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("_s") == slice_b, 1).otherwise(0)).alias("c_b"),
    )
    # |c_a·N_b − c_b·N_a| exactly: DECIMAL products (int64 would wrap at
    # c·N ≈ 2^63 — reachable at 100-TB token counts), DECIMAL sum
    totals = counts.agg(
        F.sum("c_a").alias("_na"), F.sum("c_b").alias("_nb")
    )
    num = F.abs(
        F.col("c_a").cast("decimal(18,0)") * F.col("_nb").cast("decimal(18,0)")
        - F.col("c_b").cast("decimal(18,0)") * F.col("_na").cast("decimal(18,0)")
    ).alias("_num")
    scored = counts.join(F.broadcast(totals)).select(
        "_t", "c_a", "c_b", "_na", "_nb", num
    )
    tvd_row = scored.agg(
        F.sum("_num").alias("_sum_num"),
        F.first("_na").alias("_na"),
        F.first("_nb").alias("_nb"),
    ).select(
        F.round(
            # an empty slice leaves TVD undefined (0/0) — NULL, not a
            # NaN/inf whose rendering the engines could disagree on
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.col("_sum_num").cast("double")
                / (F.lit(2.0) * F.col("_na").cast("double") * F.col("_nb").cast("double")),
            ),
            round_to,
        ).alias("tvd")
    )
    top = scored.orderBy(F.col("_num").desc(), F.col("_t").asc()).limit(top_k)
    ranked = top.join(F.broadcast(tvd_row)).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("_num").desc(), F.col("_t").asc())),
    )
    return ranked.select(
        F.col("_t").alias("token"),
        "c_a",
        "c_b",
        F.round(
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.col("_num").cast("double")
                / (F.lit(2.0) * F.col("_na").cast("double") * F.col("_nb").cast("double")),
            ),
            round_to,
        ).alias("contrib"),
        "tvd",
        "rank",
    )


def vocab_drift_oracle_sql(
    table: str,
    slice_col: str,
    slice_a: str,
    slice_b: str,
    text_col: str = "text",
    top_k: int = 20,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same tokenizer, HUGEINT-exact numerators, same
    single division and (numerator DESC, token ASC) rank."""
    return rf"""
WITH tok AS (
  SELECT {slice_col} AS s,
         unnest(list_filter(string_split_regex(trim({text_col}), '\s+'),
                            t -> t <> '')) AS t
  FROM {table} WHERE {slice_col} IN ('{slice_a}', '{slice_b}')
), c AS (
  SELECT t, SUM(CASE WHEN s = '{slice_a}' THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN s = '{slice_b}' THEN 1 ELSE 0 END) AS c_b
  FROM tok GROUP BY t
), tt AS (SELECT SUM(c_a) AS na, SUM(c_b) AS nb FROM c),
sc AS (
  SELECT c.t, c.c_a, c.c_b, tt.na, tt.nb,
         ABS(CAST(c.c_a AS HUGEINT) * CAST(tt.nb AS HUGEINT)
             - CAST(c.c_b AS HUGEINT) * CAST(tt.na AS HUGEINT)) AS num
  FROM c CROSS JOIN tt
), tv AS (
  SELECT ROUND(CASE WHEN ANY_VALUE(na) > 0 AND ANY_VALUE(nb) > 0 THEN
               CAST(SUM(num) AS DOUBLE)
               / (2.0 * CAST(ANY_VALUE(na) AS DOUBLE) * CAST(ANY_VALUE(nb) AS DOUBLE))
               END, {round_to}) AS tvd
  FROM sc
), r AS (
  SELECT t, c_a, c_b, na, nb, num,
         ROW_NUMBER() OVER (ORDER BY num DESC, t ASC) AS rank
  FROM sc
)
SELECT r.t AS token, r.c_a, r.c_b,
       ROUND(CASE WHEN r.na > 0 AND r.nb > 0 THEN CAST(r.num AS DOUBLE)
             / (2.0 * CAST(r.na AS DOUBLE) * CAST(r.nb AS DOUBLE)) END, {round_to}) AS contrib,
       tv.tvd, CAST(r.rank AS INT) AS rank
FROM r CROSS JOIN tv WHERE r.rank <= {top_k}
"""


def vocab_richness(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Vocabulary-richness projection per group — "how much vocabulary
    have we NOT seen yet" for a corpus slice, from the frequency of
    rare tokens:

    - ``n_tokens`` (N), ``n_types`` (V), ``f1`` (hapaxes), ``f2``
      (tokens seen exactly twice),
    - ``chao1``: the bias-corrected Chao1 richness estimate
      ``V + f1·(f1−1) / (2·(f2+1))`` (defined even when f2 = 0 — the
      reason this form is pinned over the classic ``f1²/2f2``),
    - ``oov_mass``: the Good-Turing unseen-probability estimate
      ``f1 / N`` — the chance the NEXT token drawn is a new type.

    Every quantity is an exact integer (f1·(f1−1) in DECIMAL — hapax
    counts at 100-TB scale square past int64) plus one exactly-rounded
    division each, so the readout hash-matches SQL. Plan: one
    (group, token) partial-aggregated shuffle → one O(groups) rollup —
    `token_diversity`'s shape, measuring the opposite tail.
    """
    from ..functions.text import tokens

    tok = df.select(*group_cols, F.explode(tokens(F.col(text_col))).alias("_t"))
    counts = tok.groupBy(*group_cols, "_t").agg(F.count(F.lit(1)).alias("_c"))
    agg = counts.groupBy(*group_cols).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("_c") == 2, 1).otherwise(0)).alias("f2"),
    )
    f1 = F.col("f1").cast("decimal(18,0)")
    chao1 = F.col("n_types").cast("double") + (
        (f1 * (f1 - 1)).cast("double")
        / (F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0)))
    )
    return agg.select(
        *group_cols,
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        F.round(chao1, round_to).alias("chao1"),
        F.round(
            F.col("f1").cast("double") / F.col("n_tokens").cast("double"), round_to
        ).alias("oov_mass"),
    )


def vocab_richness_oracle_sql(
    table: str, group_cols: list[str], text_col: str = "text", round_to: int = 6
) -> str:
    """DuckDB twin: same tokenizer, HUGEINT hapax product, same pinned
    bias-corrected Chao1 form."""
    gc = ", ".join(group_cols)
    return rf"""
WITH tok AS (
  SELECT {gc},
         unnest(list_filter(string_split_regex(trim({text_col}), '\s+'),
                            t -> t <> '')) AS t
  FROM {table}
), c AS (
  SELECT {gc}, t, COUNT(*) AS c FROM tok GROUP BY {gc}, t
), a AS (
  SELECT {gc}, SUM(c) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM c GROUP BY {gc}
)
SELECT {gc}, n_tokens, n_types, f1, f2,
       ROUND(CAST(n_types AS DOUBLE)
             + CAST(CAST(f1 AS HUGEINT) * (CAST(f1 AS HUGEINT) - 1) AS DOUBLE)
               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), {round_to}) AS chao1,
       ROUND(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), {round_to}) AS oov_mass
FROM a
"""


def concentration_gini(
    df: DataFrame,
    key_cols: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Gini coefficient of the per-key row-count distribution — the
    one-number "is one domain/source eating the corpus" concentration
    readout (0 = perfectly even, → 1 = one key holds everything). With
    counts ``c_i`` sorted ascending (deterministic (count, key) order)
    and 1-based rank ``i``:

        G = (2·Σ i·c_i − (n+1)·Σ c) / (n·Σ c)

    Exact integers end-to-end (rank-weighted sums in DECIMAL — i·c
    wraps int64 when both run corpus-scale) and ONE division, so the
    scalar hash-matches SQL. Plan: one key-count shuffle, then the
    rank over the counts frame runs as `curation.distributed_rank`'s
    two-pass range-partitioned row_number — the counts frame is one
    row per DISTINCT key, which for domain/source keys is
    corpus-driven (millions), so a bare unpartitioned window would
    single-task-sort it. One final aggregate. Output one row:
    ``(n_keys, n_rows, gini)``.
    """
    from .curation import distributed_rank

    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    order = [F.col("c").asc()] + [F.col(k).asc() for k in keys]
    ranked = distributed_rank(counts, order, rank_col="i").select("c", "i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.sum(
            (F.col("i").cast("decimal(18,0)") * F.col("c").cast("decimal(18,0)"))
        ).alias("_ic"),
    )
    nd = F.col("n_keys").cast("double")
    sc = F.col("n_rows").cast("double")
    gini = (
        F.lit(2.0) * F.col("_ic").cast("double") - (nd + F.lit(1.0)) * sc
    ) / (nd * sc)
    return agg.select(
        "n_keys",
        "n_rows",
        F.round(F.when(F.col("n_rows") > 0, gini), round_to).alias("gini"),
    )


def concentration_gini_oracle_sql(
    table_expr: str, key_cols: list[str], round_to: int = 6
) -> str:
    """DuckDB twin: same deterministic rank order, HUGEINT rank-weighted
    sum, same single division."""
    keys = list(key_cols)
    gc = ", ".join(keys)
    tb = ", ".join(f"{k} ASC" for k in keys)
    return f"""
WITH c AS (SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS c FROM {table_expr} GROUP BY {gc}),
r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, {tb}) AS i FROM c),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, SUM(c) AS n_rows,
         SUM(CAST(i AS HUGEINT) * CAST(c AS HUGEINT)) AS ic
  FROM r
)
SELECT n_keys, n_rows,
       ROUND(CASE WHEN n_rows > 0 THEN
         (2.0 * CAST(ic AS DOUBLE)
          - (CAST(n_keys AS DOUBLE) + 1.0) * CAST(n_rows AS DOUBLE))
         / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)) END, {round_to}) AS gini
FROM a
"""


# Benford first-digit probabilities log10(1 + 1/d), d = 1..9 — literal
# constants so Spark and SQL evaluate identical doubles.
_BENFORD_P = tuple(__import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10))


def benford_deviation(
    df: DataFrame,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Benford's-law conformity per group — the chi-square distance of
    the FIRST-significant-digit distribution of a positive integer
    metric from log10(1 + 1/d), the classic fabricated/synthetic-data
    tripwire (a generated metric column rarely carries Benford's
    digit curve; a real multiplicative one does).

    χ² = Σ_d (c_d − n·p_d)² / (n·p_d) over all nine digits (absent
    digits contribute their full expectation — the counts frame is
    completed against a 9-digit spine). ``worst_digit`` is the digit
    with the largest |c_d − n·p_d| (tie → smallest digit), and
    ``worst_excess`` its signed observed−expected frequency gap
    (c_d/n − p_d, ONE division).

    Exact integer digit counts; expectations are literal-double
    products, so both engines evaluate the same IEEE expressions. One
    (group, digit) partial-agg shuffle + windows over the bounded
    9-row-per-group frame. Rows with value < 1 are ignored.
    """
    from pyspark.sql import Window

    keys = list(by)
    v = F.col(value_col)
    base = df.where(v >= 1).select(
        *keys, F.substring(v.cast("string"), 1, 1).cast("int").alias("_d")
    )
    counts = base.groupBy(*keys, "_d").agg(F.count(F.lit(1)).alias("_c"))
    spine = (
        base.select(*keys)
        .distinct()
        .select(*keys, F.explode(F.sequence(F.lit(1), F.lit(9))).alias("_d"))
    )
    full = spine.join(counts, [*keys, "_d"], "left").select(
        *keys, "_d", F.coalesce(F.col("_c"), F.lit(0)).alias("_c")
    )
    p = F.element_at(F.array(*[F.lit(x) for x in _BENFORD_P]), F.col("_d"))
    wall = Window.partitionBy(*keys)
    scored = full.select(
        *keys,
        "_d",
        "_c",
        F.sum("_c").over(wall).alias("_n"),
        p.alias("_p"),
    ).select(
        *keys,
        "_d",
        "_c",
        "_n",
        "_p",
        (F.col("_c").cast("double") - F.col("_n").cast("double") * F.col("_p")).alias(
            "_dev"
        ),
    )
    rank = F.row_number().over(
        Window.partitionBy(*keys).orderBy(F.abs(F.col("_dev")).desc(), F.col("_d"))
    )
    ranked = scored.withColumn("_r", rank)
    return (
        ranked.groupBy(*keys)
        .agg(
            F.max("_n").alias("n_values"),
            F.sum(
                F.col("_dev") * F.col("_dev") / (F.col("_n").cast("double") * F.col("_p"))
            ).alias("_chi2"),
            F.min(F.when(F.col("_r") == 1, F.col("_d"))).alias("worst_digit"),
            F.min(
                F.when(
                    F.col("_r") == 1,
                    F.col("_c").cast("double") / F.col("_n").cast("double")
                    - F.col("_p"),
                )
            ).alias("_worst"),
        )
        .select(
            *keys,
            "n_values",
            F.round(F.col("_chi2"), round_to).alias("chi2"),
            "worst_digit",
            F.round(F.col("_worst"), round_to).alias("worst_excess"),
        )
        .orderBy(*keys)
    )


def benford_deviation_oracle_sql(
    values_sql: str,
    value_col: str,
    by: list[str],
    round_to: int = 6,
) -> str:
    """DuckDB twin: same 9-digit spine completion, same literal
    expectations, same χ² terms and worst-digit pick."""
    keys = list(by)
    gc = ", ".join(keys)
    p_case = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in zip(range(1, 10), _BENFORD_P)
    )
    return f"""
WITH vals AS ({values_sql}),
base AS (
  SELECT {gc}, CAST(SUBSTRING(CAST({value_col} AS VARCHAR), 1, 1) AS INTEGER) AS _d
  FROM vals WHERE {value_col} >= 1
),
counts AS (SELECT {gc}, _d, CAST(COUNT(*) AS BIGINT) AS _c FROM base GROUP BY {gc}, _d),
spine AS (
  SELECT {gc}, CAST(u._d AS INTEGER) AS _d
  FROM (SELECT DISTINCT {gc} FROM base), UNNEST(range(1, 10)) AS u(_d)
),
full_ AS (
  SELECT spine.*, COALESCE(_c, 0) AS _c
  FROM spine LEFT JOIN counts USING ({gc}, _d)
),
scored AS (
  SELECT {gc}, _d, _c,
         SUM(_c) OVER (PARTITION BY {gc}) AS _n,
         CASE _d {p_case} END AS _p
  FROM full_
),
dev AS (
  SELECT *, CAST(_c AS DOUBLE) - CAST(_n AS DOUBLE) * _p AS _dev,
         ROW_NUMBER() OVER (
           PARTITION BY {gc}
           ORDER BY ABS(CAST(_c AS DOUBLE) - CAST(_n AS DOUBLE) * _p) DESC, _d
         ) AS _r
  FROM scored
)
SELECT {gc}, CAST(MAX(_n) AS BIGINT) AS n_values,
       ROUND(SUM(_dev * _dev / (CAST(_n AS DOUBLE) * _p)), {round_to}) AS chi2,
       MIN(CASE WHEN _r = 1 THEN _d END) AS worst_digit,
       ROUND(MIN(CASE WHEN _r = 1
                 THEN CAST(_c AS DOUBLE) / CAST(_n AS DOUBLE) - _p END),
             {round_to}) AS worst_excess
FROM dev GROUP BY {gc}
"""


def hellinger_drift(
    df: DataFrame,
    bucket_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 6,
) -> DataFrame:
    """Hellinger distance between the ``bucket_col`` distributions of
    two slices — the numeric-feature companion to `vocab_drift`'s
    token TVD. KL/PSI/JS need logarithms (libm rounding differs across
    engines); Hellinger needs only ``sqrt``, which IEEE 754 requires to
    be EXACTLY rounded, so the readout is engine-deterministic:

        BC = Σ_b sqrt(c_a(b)·c_b(b)) / sqrt(N_a·N_b)
        H  = sqrt(1 − BC)            (0 = identical, 1 = disjoint)

    Buckets absent on one side contribute 0 naturally — none of PSI's
    ε-smoothing hacks. Exact integer counts, DECIMAL products (counts
    multiply past int64 at corpus scale), ONE division. Plan: one
    (bucket, slice) partial-agg shuffle; the bucket frame is bounded by
    the caller's bucketing (the value_histogram discipline). Output one
    row: ``(n_a, n_b, n_buckets_common, bc, hellinger)``.
    """
    s = F.col(slice_col)
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(bucket_col).alias("_k"))
        .agg(
            F.sum(F.when(s == slice_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(s == slice_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    agg = per.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(((F.col("_ca") > 0) & (F.col("_cb") > 0)).cast("long")).alias(
            "n_buckets_common"
        ),
        F.sum(
            F.sqrt(
                (
                    F.col("_ca").cast("decimal(38,0)")
                    * F.col("_cb").cast("decimal(38,0)")
                ).cast("double")
            )
        ).alias("_sab"),
    )
    bc = F.col("_sab") / F.sqrt(
        (F.col("n_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)"))
        .cast("double")
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_buckets_common",
        F.round(bc, round_to).alias("bc"),
        F.round(F.sqrt(F.lit(1.0) - bc), round_to).alias("hellinger"),
    )


def hellinger_drift_oracle_sql(
    values_sql: str,
    bucket_col: str,
    slice_col: str,
    slice_a_sql: str,
    slice_b_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT products, same exactly-rounded sqrt,
    same single division. Slice literals are passed as SQL expressions
    (quote strings yourself)."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {bucket_col} AS _k,
         CAST(SUM(CASE WHEN {slice_col} = {slice_a_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _ca,
         CAST(SUM(CASE WHEN {slice_col} = {slice_b_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _cb
  FROM vals WHERE {slice_col} IN ({slice_a_sql}, {slice_b_sql})
  GROUP BY {bucket_col}
),
agg AS (
  SELECT CAST(SUM(_ca) AS BIGINT) AS n_a, CAST(SUM(_cb) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN _ca > 0 AND _cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_buckets_common,
         SUM(SQRT(CAST(CAST(_ca AS HUGEINT) * CAST(_cb AS HUGEINT) AS DOUBLE)))
           AS _sab
  FROM per
)
SELECT n_a, n_b, n_buckets_common,
       ROUND(_sab / SQRT(CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE)),
             {round_to}) AS bc,
       ROUND(SQRT(1.0 - _sab / SQRT(CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                                          AS DOUBLE))),
             {round_to}) AS hellinger
FROM agg
"""


def chapman_estimate(
    df: DataFrame,
    id_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 4,
) -> DataFrame:
    """Chapman capture-recapture population estimate — "how many unique
    ids exist in total, given two overlapping samples": the dedup-side
    question (two crawl snapshots share m documents → how big is the
    whole corpus) answered by mark-recapture statistics:

        N̂ = (n_a + 1)(n_b + 1) / (m + 1) − 1

    (Chapman's bias-corrected form of Lincoln-Petersen; exact for
    m = 0.) Exact distinct counts, DECIMAL product, ONE division. Plan:
    one distinct (id, membership-pair) aggregate. Output one row:
    ``(n_a, n_b, overlap, estimate)``.
    """
    s = F.col(slice_col)
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(id_col).alias("_id"))
        .agg(
            F.max((s == slice_a).cast("int")).alias("_a"),
            F.max((s == slice_b).cast("int")).alias("_b"),
        )
    )
    agg = per.agg(
        F.sum("_a").alias("n_a"),
        F.sum("_b").alias("n_b"),
        F.sum(F.col("_a") * F.col("_b")).alias("overlap"),
    )
    est = (
        (F.col("n_a") + 1).cast("decimal(38,0)")
        * (F.col("n_b") + 1).cast("decimal(38,0)")
    ).cast("double") / (F.col("overlap") + 1).cast("double") - F.lit(1.0)
    return agg.select(
        "n_a", "n_b", "overlap", F.round(est, round_to).alias("estimate")
    )


def chapman_estimate_oracle_sql(
    values_sql: str,
    id_col: str,
    slice_col: str,
    slice_a_sql: str,
    slice_b_sql: str,
    round_to: int = 4,
) -> str:
    """DuckDB twin: same distinct membership, HUGEINT product, one
    division."""
    return f"""
WITH vals AS ({values_sql}),
per AS (
  SELECT {id_col} AS _id,
         MAX(CASE WHEN {slice_col} = {slice_a_sql} THEN 1 ELSE 0 END) AS _a,
         MAX(CASE WHEN {slice_col} = {slice_b_sql} THEN 1 ELSE 0 END) AS _b
  FROM vals WHERE {slice_col} IN ({slice_a_sql}, {slice_b_sql})
  GROUP BY {id_col}
),
agg AS (
  SELECT CAST(SUM(_a) AS BIGINT) AS n_a, CAST(SUM(_b) AS BIGINT) AS n_b,
         CAST(SUM(_a * _b) AS BIGINT) AS overlap
  FROM per
)
SELECT n_a, n_b, overlap,
       ROUND(CAST(CAST(n_a + 1 AS HUGEINT) * CAST(n_b + 1 AS HUGEINT) AS DOUBLE)
             / CAST(overlap + 1 AS DOUBLE) - 1.0, {round_to}) AS estimate
FROM agg
"""


def slice_overlap(
    df: DataFrame,
    id_col: str,
    slice_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact pairwise overlap matrix of the DISTINCT id sets behind each
    slice — the "how much do my sources/snapshots share" audit
    (`kmv.kmv_intersect` answers the same question with sketches at
    unbounded slice counts; this is the exact small-catalog form, and
    :func:`chapman_estimate`'s two-sample input generalized to every
    pair):

        jaccard = |A∩B| / (|A|+|B|−|A∩B|)      (ONE division)
        containment a→b = |A∩B| / |A|           (ONE division)

    Plan: one distinct (id, slice) shuffle, an id-keyed self-join whose
    per-id blowup is bounded by the slice catalog (≤ catalog² pairs per
    id), broadcast per-slice sizes. Exact integers throughout. Output
    one row per unordered pair: ``(slice_a, slice_b, n_a, n_b, overlap,
    jaccard, containment_a, containment_b)``.
    """
    per = df.select(
        F.col(id_col).alias("_id"), F.col(slice_col).alias("_s")
    ).distinct()
    sizes = per.groupBy("_s").agg(F.count(F.lit(1)).alias("n"))
    a = per.select("_id", F.col("_s").alias("slice_a"))
    b = per.select("_id", F.col("_s").alias("slice_b"))
    inter = (
        a.join(b, "_id")
        .where(F.col("slice_a") < F.col("slice_b"))
        .groupBy("slice_a", "slice_b")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("_s").alias("slice_a"), F.col("n").alias("n_a"))),
            "slice_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_s").alias("slice_b"), F.col("n").alias("n_b"))),
            "slice_b",
        )
    )
    ov = F.col("overlap").cast("double")
    return out.select(
        "slice_a",
        "slice_b",
        "n_a",
        "n_b",
        "overlap",
        F.round(
            ov / (F.col("n_a") + F.col("n_b") - F.col("overlap")).cast("double"),
            round_to,
        ).alias("jaccard"),
        F.round(ov / F.col("n_a").cast("double"), round_to).alias("containment_a"),
        F.round(ov / F.col("n_b").cast("double"), round_to).alias("containment_b"),
    ).orderBy("slice_a", "slice_b")


def slice_overlap_oracle_sql(
    values_sql: str,
    id_col: str,
    slice_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same distinct membership, same pair join, same
    single divisions. Pairs with zero overlap are absent on BOTH
    engines (inner pair join)."""
    return f"""
WITH vals AS ({values_sql}),
per AS (SELECT DISTINCT {id_col} AS _id, {slice_col} AS _s FROM vals),
sizes AS (SELECT _s, CAST(COUNT(*) AS BIGINT) AS n FROM per GROUP BY _s),
inter AS (
  SELECT a._s AS slice_a, b._s AS slice_b, CAST(COUNT(*) AS BIGINT) AS overlap
  FROM per a JOIN per b ON a._id = b._id AND a._s < b._s
  GROUP BY a._s, b._s
)
SELECT slice_a, slice_b, sa.n AS n_a, sb.n AS n_b, overlap,
       ROUND(CAST(overlap AS DOUBLE)
             / CAST(sa.n + sb.n - overlap AS DOUBLE), {round_to}) AS jaccard,
       ROUND(CAST(overlap AS DOUBLE) / CAST(sa.n AS DOUBLE), {round_to}) AS containment_a,
       ROUND(CAST(overlap AS DOUBLE) / CAST(sb.n AS DOUBLE), {round_to}) AS containment_b
FROM inter
JOIN sizes sa ON inter.slice_a = sa._s
JOIN sizes sb ON inter.slice_b = sb._s
"""


def _hbos_width_guard(n_rows: int, n_features: int, scale: int) -> None:
    """Fail-fast width contract (the tfidf_cosine_pairs discipline):
    the largest per-feature factor is ``n_rows·scale`` (a singleton
    bin), so the product of ``n_features`` factors is bounded by
    ``(n_rows·scale)^n_features`` — past 10³⁸ Spark's non-ANSI DECIMAL
    overflow would NULL the very rows the query exists to surface
    (NULLs sort last under score DESC) while the DuckDB twin errors."""
    if (n_rows * scale) ** n_features >= 10**38:
        max_n = int((10**38) ** (1.0 / n_features)) // scale
        raise ValueError(
            f"hbos_scores: (n_rows*{scale})^{n_features} would "
            f"overflow DECIMAL(38,0) at n_rows={n_rows} — drop a "
            f"feature or stay under ~{max_n} rows with "
            f"{n_features} features"
        )


def hbos_scores(
    df: DataFrame,
    id_col: str,
    features: dict,
    top_k: int | None = None,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel, HBOS 2012) —
    the classic at-scale unsupervised anomaly readout: per feature,
    histogram the column with a caller-fixed bin width; a row's score
    is the product over features of the inverse bin density. Rows in
    sparse corners of the joint-marginal space rank highest (top_k
    returns the most anomalous first).

    ``features`` maps numeric column name → integer bin width (caller
    fixes widths so bins are data-independent — no min/max pre-pass,
    stable under corpus growth; the `quantiles._log_bin` rationale).

    Exactness (the log-free house rule — classic HBOS sums logs, this
    multiplies the rationals): per feature the factor is the INTEGER
    ``n_rows·SCALE // bin_count`` (floor div, both engines) and the
    score is the exact DECIMAL(38,0) product. A singleton bin makes its
    factor ``n_rows·SCALE``, so the worst-case product is
    ``(n_rows·SCALE)^n_features`` — a RUNTIME width guard raises when
    that bound reaches 10³⁸ (e.g. 3 features cap out near
    n_rows ≈ 4.6·10⁸ at SCALE=10⁴; drop a feature or the guard tells
    you the limit). Without the guard, Spark's non-ANSI DECIMAL
    overflow silently NULLs exactly the most anomalous rows (NULLs
    sort last under ``ORDER BY score_int DESC``) while DuckDB HUGEINT
    errors — the engines would diverge invisibly. Within the guard the
    product matches DuckDB bit-for-bit; ranking is unchanged from the
    log form (log is monotone; product of positives ↔ sum of logs).

    Plan: one partial-agg shuffle per feature histogram (bounded by the
    occupied-bin count), each broadcast-joined back onto ONE scan —
    no sort unless ``top_k`` is set, and that compiles to
    TakeOrderedAndProject. Output: ``(id_col, <f>_bin per feature,
    score_int)``.
    """
    if not (1 <= len(features) <= 3):
        raise ValueError(
            "hbos_scores takes 1-3 features: the exact integer product "
            f"is bounded for ≤3 factors (got {len(features)})"
        )
    SCALE = 10_000
    out = df
    n_rows = df.count()
    _hbos_width_guard(n_rows, len(features), SCALE)
    score = None
    bin_cols = []
    for fcol, width in sorted(features.items()):
        w = int(width)
        if w < 1:
            raise ValueError(f"bin width for {fcol!r} must be >= 1")
        bname = f"{fcol}_bin"
        bin_cols.append(bname)
        # floor-to-bin in pure int64: subtract the mod-positive residue
        # then integer-divide (exact — the numerator is a multiple of
        # w), so negatives floor instead of truncating toward zero.
        # Feature columns must be INTEGER-VALUED (cents/counts): Spark
        # truncates a fractional cast where DuckDB rounds — callers
        # quantize floats first (the gate rounds prices to cents).
        bexpr = F.expr(
            f"(CAST({fcol} AS BIGINT)"
            f" - (((CAST({fcol} AS BIGINT) % {w}) + {w}) % {w})) div {w}"
        )
        out = out.withColumn(bname, bexpr)
        hist = out.groupBy(F.col(bname).alias("_b")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        factor = F.expr(f"({n_rows}L * {SCALE}L) div _c")
        ftab = hist.select(
            F.col("_b").alias(f"_b_{fcol}"), factor.alias(f"_f_{fcol}")
        )
        out = out.join(
            F.broadcast(ftab), out[bname] == ftab[f"_b_{fcol}"]
        ).drop(f"_b_{fcol}")
        f_dec = F.col(f"_f_{fcol}").cast("decimal(38,0)")
        score = f_dec if score is None else (score * f_dec).cast("decimal(38,0)")
    res = out.select(
        F.col(id_col), *bin_cols, score.alias("score_int")
    )
    if top_k is not None:
        res = res.orderBy(
            F.col("score_int").desc(), F.col(id_col).asc()
        ).limit(top_k)
    return res


def hbos_scores_oracle_sql(
    table_expr: str,
    id_col: str,
    features: dict,
    top_k: int | None = None,
) -> str:
    """DuckDB twin: identical floor-binning, identical integer inverse
    densities, HUGEINT product."""
    SCALE = 10_000
    feats = sorted(features.items())
    bin_exprs = []
    for fcol, width in feats:
        w = int(width)
        v = f"CAST({fcol} AS BIGINT)"
        bin_exprs.append(
            f"({v} - ((({v} % {w}) + {w}) % {w})) // {w} AS {fcol}_bin"
        )
    bins = ", ".join(bin_exprs)
    hists = []
    joins = []
    factors = []
    for fcol, _ in feats:
        hists.append(
            f"h_{fcol} AS (SELECT {fcol}_bin AS b, CAST(COUNT(*) AS BIGINT)"
            f" AS c FROM binned GROUP BY 1)"
        )
        joins.append(f"JOIN h_{fcol} ON binned.{fcol}_bin = h_{fcol}.b")
        factors.append(
            f"CAST(((SELECT n FROM nn) * {SCALE}) // h_{fcol}.c AS HUGEINT)"
        )
    score = " * ".join(factors)
    bin_out = ", ".join(f"binned.{fcol}_bin" for fcol, _ in feats)
    order = (
        f"ORDER BY score_int DESC, {id_col} ASC LIMIT {top_k}"
        if top_k is not None
        else ""
    )
    return f"""
WITH base AS ({table_expr}),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
binned AS (SELECT {id_col}, {bins} FROM base),
{", ".join(hists)}
SELECT {id_col}, {bin_out}, {score} AS score_int
FROM binned {" ".join(joins)}
{order}
"""


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    lo_pct: int = 5,
    hi_pct: int = 95,
    round_to: int = 6,
) -> DataFrame:
    """Per-group winsorized and trimmed means over an integer metric —
    the robust-location readout that belongs next to `robust_stats`
    (median/MAD say where the middle is; winsorizing says what the mean
    WOULD be if the tails were clamped, the standard way to report
    revenue-per-user without one whale dominating):

        p_lo = percentile_disc(lo), p_hi = percentile_disc(hi),
        winsorized = mean(clamp(x, p_lo, p_hi)),
        trimmed    = mean(x : p_lo ≤ x ≤ p_hi).

    Exactness: percentile_disc picks actual DATA values (the smallest
    value whose cumulative count reaches ⌈q·n⌉ — integers, no
    interpolation); the clamped/trimmed sums are exact DECIMAL(38,0);
    each mean is ONE pinned division. Plan: one group-partitioned rank
    window (distributed per-group sort — no bounded-spine requirement),
    a broadcast-size percentile row per group joined back, one
    conditional aggregation. Output per group: ``(*by, n, p_lo, p_hi,
    winsorized_mean, trimmed_mean)``; NULL metrics are excluded before
    ranking (and from n) — Spark ranks NULLS FIRST and DuckDB NULLS
    LAST, so any other treatment shifts the ⌈q·n⌉ thresholds between
    engines.
    """
    from pyspark.sql import Window

    from .guards import integral_long

    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    # NULL metrics are dropped BEFORE ranking: Spark windows sort NULLS
    # FIRST while DuckDB's ORDER BY is NULLS LAST, and counting NULL
    # rows in n would shift every rank-⌈q·n⌉ threshold — filtering on
    # both engines is the only rank-stable semantics.
    base = df.select(
        *keys, integral_long(df, value_col, "winsorized_stats").alias("_v")
    ).where(F.col("_v").isNotNull())
    w = Window.partitionBy(*keys).orderBy("_v")
    ranked = base.select(
        *keys,
        "_v",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("_n"),
    )
    # percentile_disc: the value at rank ⌈q·n⌉ (ties resolved by the
    # rank itself — duplicates of the threshold value are all ≥ it)
    lo_rank = F.ceil(F.col("_n") * F.lit(lo_pct) / F.lit(100.0)).cast("long")
    hi_rank = F.ceil(F.col("_n") * F.lit(hi_pct) / F.lit(100.0)).cast("long")
    pcts = (
        ranked.where(
            (F.col("_r") == F.greatest(lo_rank, F.lit(1)))
            | (F.col("_r") == F.greatest(hi_rank, F.lit(1)))
        )
        .groupBy(*keys)
        .agg(
            F.min(
                F.when(F.col("_r") == F.greatest(lo_rank, F.lit(1)), F.col("_v"))
            ).alias("_plo"),
            F.min(
                F.when(F.col("_r") == F.greatest(hi_rank, F.lit(1)), F.col("_v"))
            ).alias("_phi"),
        )
    )
    j = base.join(F.broadcast(pcts), keys) if keys else base.crossJoin(pcts)
    clamped = F.greatest(F.least(F.col("_v"), F.col("_phi")), F.col("_plo"))
    inside = (F.col("_v") >= F.col("_plo")) & (F.col("_v") <= F.col("_phi"))
    out = j.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_plo").alias("p_lo"),
        F.min("_phi").alias("p_hi"),
        F.sum(dec(clamped)).alias("_ws"),
        F.sum(F.when(inside, dec(F.col("_v"))).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_ts"),
        F.sum(F.when(inside, 1).otherwise(0)).alias("_tn"),
    )
    res = out.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("p_lo").cast("long").alias("p_lo"),
        F.col("p_hi").cast("long").alias("p_hi"),
        F.round(
            F.col("_ws").cast("double") / F.col("n").cast("double"), round_to
        ).alias("winsorized_mean"),
        F.round(
            F.when(
                F.col("_tn") > 0,
                F.col("_ts").cast("double") / F.col("_tn").cast("double"),
            ),
            round_to,
        ).alias("trimmed_mean"),
    )
    return res.orderBy(*keys) if keys else res


def winsorized_stats_oracle_sql(
    values_sql: str,
    value_col: str,
    by: list[str] | None = None,
    lo_pct: int = 5,
    hi_pct: int = 95,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same rank-⌈q·n⌉ discrete percentiles, same HUGEINT
    clamped/trimmed sums, same pinned divisions."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    part = f"PARTITION BY {gc}" if keys else ""
    joincond = " AND ".join(f"b.{k} = p.{k}" for k in keys) if keys else "TRUE"
    psel = (", ".join(f"b.{k}" for k in keys) + ", ") if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    return f"""
WITH vals AS (SELECT {sel}CAST({value_col} AS BIGINT) AS _v FROM ({values_sql})
              WHERE {value_col} IS NOT NULL),
ranked AS (
  SELECT {sel}_v,
         row_number() OVER ({part} ORDER BY _v) AS _r,
         COUNT(*) OVER ({part}) AS _n
  FROM vals
),
pcts AS (
  SELECT {sel}
         MIN(CASE WHEN _r = GREATEST(CAST(ceil(_n * {lo_pct} / 100.0) AS BIGINT), 1)
             THEN _v END) AS _plo,
         MIN(CASE WHEN _r = GREATEST(CAST(ceil(_n * {hi_pct} / 100.0) AS BIGINT), 1)
             THEN _v END) AS _phi
  FROM ranked
  WHERE _r = GREATEST(CAST(ceil(_n * {lo_pct} / 100.0) AS BIGINT), 1)
     OR _r = GREATEST(CAST(ceil(_n * {hi_pct} / 100.0) AS BIGINT), 1)
  {group}
)
SELECT {psel}
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(p._plo) AS BIGINT) AS p_lo,
       CAST(MIN(p._phi) AS BIGINT) AS p_hi,
       ROUND(CAST(SUM(CAST(GREATEST(LEAST(b._v, p._phi), p._plo) AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), {round_to}) AS winsorized_mean,
       ROUND(CASE WHEN SUM(CASE WHEN b._v BETWEEN p._plo AND p._phi THEN 1 ELSE 0 END) > 0
         THEN CAST(SUM(CASE WHEN b._v BETWEEN p._plo AND p._phi
                       THEN CAST(b._v AS HUGEINT) ELSE 0 END) AS DOUBLE)
              / CAST(SUM(CASE WHEN b._v BETWEEN p._plo AND p._phi THEN 1 ELSE 0 END) AS DOUBLE)
         END, {round_to}) AS trimmed_mean
FROM vals b JOIN pcts p ON {joincond}
{("GROUP BY " + ", ".join("b." + k for k in keys)) if keys else ""}
{("ORDER BY " + ", ".join("b." + k for k in keys)) if keys else ""}
"""


def hhi_concentration(
    df: DataFrame,
    key_cols: list[str],
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index of the per-key
    row-count shares, optionally per segment — the antitrust-style
    companion to :func:`concentration_gini` (Gini measures inequality
    of the whole distribution; HHI weights the TOP — the readout that
    moves when one supplier/domain eats the corpus):

        HHI = Σ_k (c_k / n)²  =  Σ c_k² / n²

    — which makes it EXACT: Σ c_k² is an exact DECIMAL(38,0), HHI one
    pinned division (and n_eff = 1/HHI, the "effective number of
    keys", one more). Output per segment: ``(*by, n_keys, n_rows, hhi,
    n_effective)``. Plan: one (segment, key) partial-agg shuffle + one
    segment rollup; no windows, no rank."""
    keys = list(key_cols)
    segs = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    counts = df.groupBy(*(segs + keys)).agg(F.count(F.lit(1)).alias("_c"))
    agg = counts.groupBy(*segs).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("_c").alias("n_rows"),
        F.sum(dec(F.col("_c")) * dec(F.col("_c"))).alias("_csq"),
    )
    n = F.col("n_rows")
    hhi = F.col("_csq").cast("double") / (dec(n) * dec(n)).cast("double")
    out = agg.select(
        *segs,
        F.col("n_keys").cast("long").alias("n_keys"),
        n.cast("long").alias("n_rows"),
        F.round(F.when(n > 0, hhi), round_to).alias("hhi"),
        F.round(F.when(n > 0, F.lit(1.0) / hhi), round_to).alias("n_effective"),
    )
    return out.orderBy(*segs) if segs else out


def hhi_concentration_oracle_sql(
    table_expr: str,
    key_cols: list[str],
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same HUGEINT Σc², same pinned divisions."""
    keys = list(key_cols)
    segs = list(by or [])
    gall = ", ".join(segs + keys)
    gseg = ", ".join(segs)
    sel = (gseg + ", ") if segs else ""
    group = f"GROUP BY {gseg}" if segs else ""
    order = f"ORDER BY {gseg}" if segs else ""
    return f"""
WITH _hh_c AS (SELECT {gall}, CAST(COUNT(*) AS BIGINT) AS _c
           FROM {table_expr} GROUP BY {gall}),
_hh_a AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(_c) AS BIGINT) AS n_rows,
         SUM(CAST(_c AS HUGEINT) * _c) AS _csq
  FROM _hh_c {group}
)
SELECT {sel}n_keys, n_rows,
       ROUND(CASE WHEN n_rows > 0 THEN CAST(_csq AS DOUBLE)
             / CAST(CAST(n_rows AS HUGEINT) * n_rows AS DOUBLE) END,
             {round_to}) AS hhi,
       ROUND(CASE WHEN n_rows > 0 THEN 1.0 / (CAST(_csq AS DOUBLE)
             / CAST(CAST(n_rows AS HUGEINT) * n_rows AS DOUBLE)) END,
             {round_to}) AS n_effective
FROM _hh_a {order}
"""


def lorenz_curve(
    df: DataFrame,
    key_cols: list[str],
    n_bands: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Lorenz curve of the per-key row-count distribution at
    ``n_bands`` population bands — the curve behind
    :func:`concentration_gini`'s single number (the readout that says
    "the bottom 50% of domains hold 4% of the corpus" instead of
    "gini = 0.71"): keys ranked ascending by count (deterministic
    (count, key) order, `curation.distributed_rank` — no single-task
    sort), band_d = ⌈n_bands·i/n_keys⌉, cumulative count share per
    band.

    Exactness: per-band row sums are exact integers; the band
    assignment ⌈n_bands·i/n_keys⌉ is the positive-operand integer ceil
    (a + b − 1) div b — no float ceil anywhere near a boundary, and no
    negated-div identity (Spark `div` truncates while DuckDB `//`
    floors, so they disagree on negatives — measured engine trap);
    the cumulative share is a cumsum over ≤ n_bands rows
    with ONE pinned division per band. Output per band:
    ``(band, n_keys_cum, cum_share)``."""
    from .curation import distributed_rank

    keys = list(key_cols)
    dec = lambda c: c.cast("decimal(38,0)")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
    order = [F.col("_c").asc()] + [F.col(k).asc() for k in keys]
    ranked = distributed_rank(counts, order, rank_col="_i").select("_c", "_i")
    tot = ranked.agg(
        F.count(F.lit(1)).alias("_nk"), F.sum("_c").alias("_nr")
    )
    j = ranked.crossJoin(F.broadcast(tot))
    # integer ceil over POSITIVE operands: ⌈a/b⌉ = (a + b − 1) div b —
    # the negated-div identity is an engine trap (Spark `div` truncates
    # toward zero, DuckDB `//` floors; they disagree on negatives)
    band = F.expr(f"({n_bands} * _i + _nk - 1) div _nk")
    per = j.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("_bk"),
        F.sum("_c").alias("_bs"),
        F.max("_nr").alias("_nr"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        F.col("band").cast("long").alias("band"),
        F.sum("_bk").over(w).cast("long").alias("n_keys_cum"),
        F.round(
            F.sum(dec(F.col("_bs"))).over(w).cast("double")
            / F.col("_nr").cast("double"),
            round_to,
        ).alias("cum_share"),
    ).orderBy("band")


def lorenz_curve_oracle_sql(
    table_expr: str,
    key_cols: list[str],
    n_bands: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same deterministic rank, same integer band ceil,
    same bounded cumsum and pinned divisions."""
    keys = list(key_cols)
    gc = ", ".join(keys)
    tb = ", ".join(f"{k} ASC" for k in keys)
    return f"""
WITH _lz_c AS (SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS _c FROM {table_expr} GROUP BY {gc}),
_lz_r AS (SELECT _c, CAST(ROW_NUMBER() OVER (ORDER BY _c ASC, {tb}) AS BIGINT) AS _i FROM _lz_c),
_lz_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS _nk, CAST(SUM(_c) AS BIGINT) AS _nr FROM _lz_r),
per AS (
  SELECT ({n_bands} * r._i + t._nk - 1) // t._nk AS band,
         CAST(COUNT(*) AS BIGINT) AS _bk,
         SUM(CAST(r._c AS HUGEINT)) AS _bs,
         CAST(MAX(t._nr) AS BIGINT) AS _nr
  FROM _lz_r r CROSS JOIN _lz_t t
  GROUP BY 1
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(SUM(_bk) OVER (ORDER BY band
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_keys_cum,
       ROUND(CAST(SUM(_bs) OVER (ORDER BY band
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(_nr AS DOUBLE), {round_to}) AS cum_share
FROM per ORDER BY band
"""


def quantile_share(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    bottom_pct: int = 40,
    top_pct: int = 10,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Bottom-p% / top-q% value shares and their Palma-style ratio per
    segment — the two-number summary between :func:`concentration_gini`
    (one number) and :func:`lorenz_curve` (the whole curve); with the
    defaults (bottom 40 / top 10) this is the Palma ratio from the
    inequality literature:

        share_bottom = Σ value over ranks 1..⌊n·p/100⌋ ÷ Σ value,
        share_top    = Σ value over ranks n−⌊n·q/100⌋+1..n ÷ Σ value,
        ratio        = Σ_top / Σ_bottom.

    Exactness: ranks are deterministic over the (value, *id_cols)
    order (ties broken by the caller's id columns — a value-only sort
    would pick different boundary rows per engine); the cut indices
    are integer ⌊n·p/100⌋ via `div` on both engines; the set sums are
    exact DECIMAL(38,0); shares and ratio are single pinned divisions
    (ratio as the exact-integer Σ_top/Σ_bottom). Plan: one per-group
    rank window (distributed per-group sort), one conditional
    aggregation. Output per segment: ``(*by, n, total,
    bottom_share, top_share, top_bottom_ratio)`` — NULL shares when
    the total is 0, NULL ratio when the bottom sum is ≤ 0.
    """
    from pyspark.sql import Window

    from .guards import integral_long

    keys = list(by or [])
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        *keys,
        *id_cols,
        integral_long(df, value_col, "quantile_share").alias("_v"),
    ).where(F.col("_v").isNotNull())
    w = Window.partitionBy(*keys).orderBy(
        F.col("_v").asc(), *[F.col(c).asc() for c in id_cols]
    )
    ranked = base.select(
        *keys,
        "_v",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("_n"),
    )
    kb = F.expr(f"(_n * {int(bottom_pct)}) div 100")
    kt = F.expr(f"(_n * {int(top_pct)}) div 100")
    z = F.lit(0).cast("decimal(38,0)")
    agg = ranked.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.sum(dec(F.col("_v"))).alias("_tot"),
        F.sum(F.when(F.col("_r") <= kb, dec(F.col("_v"))).otherwise(z)).alias("_sb"),
        F.sum(F.when(F.col("_r") > F.col("_n") - kt, dec(F.col("_v"))).otherwise(z)).alias("_st"),
    )
    totd = F.col("_tot").cast("double")
    out = agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("_tot").cast("long").alias("total"),
        F.round(
            F.when(F.col("_tot") != 0, F.col("_sb").cast("double") / totd),
            round_to,
        ).alias("bottom_share"),
        F.round(
            F.when(F.col("_tot") != 0, F.col("_st").cast("double") / totd),
            round_to,
        ).alias("top_share"),
        F.round(
            F.when(
                F.col("_sb") > 0,
                F.col("_st").cast("double") / F.col("_sb").cast("double"),
            ),
            round_to,
        ).alias("top_bottom_ratio"),
    )
    return out.orderBy(*keys) if keys else out


def quantile_share_oracle_sql(
    values_sql: str,
    value_col: str,
    id_cols: list[str],
    bottom_pct: int = 40,
    top_pct: int = 10,
    by: list[str] | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same deterministic (value, id) rank, same integer
    cut indices and HUGEINT set sums."""
    keys = list(by or [])
    gc = ", ".join(keys)
    sel = (gc + ", ") if keys else ""
    part = f"PARTITION BY {gc} " if keys else ""
    group = f"GROUP BY {gc}" if keys else ""
    order = f"ORDER BY {gc}" if keys else ""
    tb = ", ".join(f"{c} ASC" for c in id_cols)
    return f"""
WITH vals AS ({values_sql}),
base AS (
  SELECT {sel}{", ".join(id_cols)}, CAST({value_col} AS BIGINT) AS _v
  FROM vals WHERE {value_col} IS NOT NULL
),
ranked AS (
  SELECT {sel}_v,
         row_number() OVER ({part}ORDER BY _v ASC, {tb}) AS _r,
         COUNT(*) OVER ({part}) AS _n
  FROM base
),
agg AS (
  SELECT {sel}CAST(MAX(_n) AS BIGINT) AS n,
         SUM(CAST(_v AS HUGEINT)) AS _tot,
         SUM(CASE WHEN _r <= (_n * {int(bottom_pct)}) // 100
             THEN CAST(_v AS HUGEINT) ELSE 0 END) AS _sb,
         SUM(CASE WHEN _r > _n - (_n * {int(top_pct)}) // 100
             THEN CAST(_v AS HUGEINT) ELSE 0 END) AS _st
  FROM ranked {group}
)
SELECT {sel}n,
       CAST(_tot AS BIGINT) AS total,
       ROUND(CASE WHEN _tot <> 0 THEN CAST(_sb AS DOUBLE) / CAST(_tot AS DOUBLE) END, {round_to}) AS bottom_share,
       ROUND(CASE WHEN _tot <> 0 THEN CAST(_st AS DOUBLE) / CAST(_tot AS DOUBLE) END, {round_to}) AS top_share,
       ROUND(CASE WHEN _sb > 0 THEN CAST(_st AS DOUBLE) / CAST(_sb AS DOUBLE) END, {round_to}) AS top_bottom_ratio
FROM agg {order}
"""


def tvd_drift(
    df: DataFrame,
    bucket_col: str,
    slice_col,
    slice_a,
    slice_b,
    round_to: int = 6,
) -> DataFrame:
    """Total-variation distance between the ``bucket_col``
    distributions of two slices — the EXACT companion to
    :func:`hellinger_drift` (Hellinger's Σ√(c_a·c_b) is the one float
    fold in the drift family; TVD needs no transcendentals at all, and
    it is the metric with the operational reading "the largest
    possible difference in probability either distribution assigns to
    any event"):

        TVD = ½ Σ_b |p_a(b) − p_b(b)|
            = Σ_b |c_a(b)·N_b − c_b(b)·N_a| / (2·N_a·N_b).

    Exactness: clearing denominators makes the numerator an exact
    DECIMAL(38,0) integer sum (buckets absent on one side contribute
    their full count — no smoothing), and TVD is ONE pinned division.
    Plan: one (bucket, slice) partial-agg shuffle over the
    caller-bounded bucket frame, one reduce. Output one row:
    ``(n_a, n_b, n_buckets_common, tvd)`` — NULL when either slice is
    empty.
    """
    s = F.col(slice_col)
    dec = lambda c: c.cast("decimal(38,0)")
    per = (
        df.where(s.isin(slice_a, slice_b))
        .groupBy(F.col(bucket_col).alias("_k"))
        .agg(
            F.sum(F.when(s == slice_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(s == slice_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    tot = per.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    j = per.crossJoin(F.broadcast(tot))
    agg = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(((F.col("_ca") > 0) & (F.col("_cb") > 0)).cast("long")).alias(
            "n_buckets_common"
        ),
        F.sum(
            F.abs(
                dec(F.col("_ca")) * dec(F.col("n_b"))
                - dec(F.col("_cb")) * dec(F.col("n_a"))
            )
        ).alias("_num"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    tvd = F.col("_num").cast("double") / (
        F.lit(2.0) * (dec(F.col("n_a")) * dec(F.col("n_b"))).cast("double")
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_buckets_common",
        F.round(F.when(both, tvd), round_to).alias("tvd"),
    )


def tvd_drift_oracle_sql(
    rows_sql: str,
    bucket_col: str,
    slice_col: str,
    slice_a_sql: str,
    slice_b_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same exact cleared-denominator numerator, same
    single pinned division."""
    return f"""
WITH rows_x AS ({rows_sql}),
per AS (
  SELECT {bucket_col} AS _k,
         CAST(SUM(CASE WHEN {slice_col} = {slice_a_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _ca,
         CAST(SUM(CASE WHEN {slice_col} = {slice_b_sql} THEN 1 ELSE 0 END) AS BIGINT) AS _cb
  FROM rows_x
  WHERE {slice_col} = {slice_a_sql} OR {slice_col} = {slice_b_sql}
  GROUP BY {bucket_col}
),
tot AS (SELECT CAST(SUM(_ca) AS BIGINT) AS n_a, CAST(SUM(_cb) AS BIGINT) AS n_b FROM per)
SELECT t.n_a, t.n_b,
       CAST(SUM(CASE WHEN p._ca > 0 AND p._cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_common,
       ROUND(CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
         CAST(SUM(ABS(CAST(p._ca AS HUGEINT) * t.n_b - CAST(p._cb AS HUGEINT) * t.n_a)) AS DOUBLE)
         / (2.0 * CAST(CAST(t.n_a AS HUGEINT) * t.n_b AS DOUBLE)) END, {round_to}) AS tvd
FROM per p CROSS JOIN tot t
GROUP BY t.n_a, t.n_b
"""
