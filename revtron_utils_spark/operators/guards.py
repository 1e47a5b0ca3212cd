"""Contract guards: bounded spines, sum-of-squares width, integral casts and ids.

Several fold/window operators (`profile.ks_test`, `evaluation.
gain_curve`, `timeseries.ewma`/`holt_linear`, the rank-test family)
deliberately run an unpartitioned window or an O(T²) array fold over a
spine the CALLER promises is bounded (pre-bucketed times, score
histograms). A caller passing a raw high-cardinality column
(microsecond timestamps, unbinned float scores) would get a single-task
sort or a multi-GB collect_list row. :func:`require_bounded_spines`
turns that into an error: one cheap ``approx_count_distinct``
aggregate (partial map-side combine) inside the query's own plan
estimates the spine cardinality and raises when the query executes.

The estimate carries HLL++ error (~2-5% at the default rsd), so the cap
is a posture guard, not an exact limit — callers running a legitimately
huge bounded spine can raise ``max_buckets`` or pass ``None`` to vouch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType


def require_bounded_spines(
    df: DataFrame,
    specs: list[tuple["Column | str", int | None, str]],
    op_name: str,
    by: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Gate ``df`` on the bounded-spine contract: the returned frame is
    row-identical to ``df`` but RAISES AT EXECUTION when a spine has
    more (approximate) distinct values than its cap — over the whole
    frame, or in the worst ``by`` group when ``by`` is given.

    ``specs``: ``(spine expression or column name, max_buckets, display
    name)``. Entries with ``max_buckets=None`` are dropped (the caller
    vouches); with none left ``df`` comes back unchanged, at zero extra
    work. The first violated spec in order raises.

    Every spec is counted in ONE aggregate over the un-gated input
    (``groupBy(by)`` then a ``max`` over the groups when ``by`` is set),
    and the check rides inside the main plan as a 1-row broadcast whose
    projection ``raise_error``s on violation — no build-time action.
    One gate per query, not one per spine: stacked gates would nest, each
    aggregate re-evaluating every earlier gate join (distinct aggregates
    never hit ReuseExchange). The single broadcast subtree is canonically
    identical at every reference of the gated frame, so ReuseExchange
    builds it once.
    """
    live = [(c, mb, nm) for (c, mb, nm) in specs if mb is not None]
    if not live:
        return df
    counts = [
        F.approx_count_distinct(c).alias(f"_nb{i}") for i, (c, _, _) in enumerate(live)
    ]
    if by:
        agg = df.groupBy(*by).agg(*counts).agg(
            *[
                F.coalesce(F.max(f"_nb{i}"), F.lit(0)).alias(f"_nb{i}")
                for i in range(len(live))
            ]
        )
    else:
        agg = df.agg(*counts)
    scope = f"per {list(by)} group" if by else "overall"
    chain = None
    for i, (_c, mb, nm) in enumerate(live):
        cond = F.col(f"_nb{i}") > mb
        err = F.raise_error(
            F.concat(
                F.lit(f"{op_name}: spine column {nm!r} has ~"),
                F.col(f"_nb{i}").cast("string"),
                F.lit(
                    f" distinct values {scope}, over max_buckets="
                    f"{mb}. This operator's contract is a "
                    "CALLER-BOUNDED spine (it sorts or folds the whole "
                    "spine in one task/row) — pre-bucket the column "
                    "(e.g. floor timestamps to days, bin scores), or "
                    "raise/disable max_buckets to vouch for the bound."
                ),
            )
        )
        chain = F.when(cond, err) if chain is None else chain.when(cond, err)
    gate = agg.select(chain.otherwise(F.lit(1)).alias("_spine_gate"))
    # the join CONDITION references the gate column, so the 1-row join
    # can never be pruned away; broadcast keeps the streamed side's
    # partitioning and row order untouched
    return df.join(F.broadcast(gate), F.col("_spine_gate") == 1, "inner").drop(
        "_spine_gate"
    )


def require_sum_sq_width(
    df: DataFrame, col: str, op_name: str, scale: int = 1
) -> None:
    """Fail fast when Σ (scale·value)² could overflow DECIMAL(38,0) —
    MEASURED from the data (the tfidf/hbos house rule: silent Spark
    non-ANSI overflow NULLs exactly the extreme rows while DuckDB's
    HUGEINT keeps going, so the engines would diverge invisibly).
    ``scale`` covers derived sums whose terms are up to scale·max(|x|)
    wide (e.g. cronbach_alpha's per-subject totals over k items)."""
    row = df.agg(
        F.count(F.lit(1)).alias("_n"), F.max(F.abs(F.col(col))).alias("_mx")
    ).first()
    check_sum_sq_width(row["_n"], row["_mx"], col, op_name, scale)


def check_sum_sq_width(
    n, mx, col: str, op_name: str, scale: int = 1
) -> None:
    """Driver-side core of :func:`require_sum_sq_width`, for callers
    that already hold (count, max|x|) from their own probe action —
    folding the guard into an existing aggregate costs zero extra jobs
    (r13; guide §1.2)."""
    n, mx = (n or 0), (mx or 0)
    if n and int(n) * (int(scale) * int(mx)) ** 2 >= 10**38:
        raise ValueError(
            f"{op_name}: n·(scale·max({col}))² = {n}·({scale}·{mx})² would "
            "overflow the DECIMAL(38,0) sum of squares — rescale the metric "
            "(smaller units) or pre-aggregate"
        )


def require_sum_sq_width_multi(
    df: DataFrame, cols: list[str], op_name: str
) -> None:
    """Multi-column :func:`require_sum_sq_width` in ONE aggregation
    action (k separate guard passes over the same frame would scan it
    k times). Per-column bounds also cover every CROSS product the
    caller may sum: if n·mx_i² < 10³⁸ and n·mx_j² < 10³⁸ then by
    Cauchy–Schwarz n·mx_i·mx_j ≤ √((n·mx_i²)(n·mx_j²)) < 10³⁸."""
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.max(F.abs(F.col(c))).alias(f"_mx{i}") for i, c in enumerate(cols)],
    ).first()
    n = (row["_n"] if row is not None else 0) or 0
    if not n:
        return
    for i, c in enumerate(cols):
        mx = row[f"_mx{i}"] or 0
        if int(n) * int(mx) ** 2 >= 10**38:
            raise ValueError(
                f"{op_name}: n·max({c})² = {n}·{mx}² would overflow the "
                "DECIMAL(38,0) sum of squares — rescale the metric "
                "(smaller units) or pre-aggregate"
            )


_FRACTIONAL = (DoubleType, FloatType)


def integral_long(df: DataFrame, col: str, op_name: str) -> Column:
    """``col`` cast to LONG for the integer-exact stats family, with an
    inline (codegen'd, zero extra pass) fail-fast when a FRACTIONAL-typed
    column carries a non-integer value: a silent ``.cast("long")``
    truncation of genuine doubles (prices, scores) is the same
    invisible-divergence class as decimal overflow — the Spark result
    would quietly disagree with any exact-integer oracle. Integral input
    types return a plain cast (identical plan to before the guard).
    NULLs pass through (``v != floor(v)`` is NULL → no raise)."""
    c = F.col(col)
    try:
        dt = df.schema[col].dataType
    except Exception:
        dt = None
    fractional = isinstance(dt, _FRACTIONAL) or (
        isinstance(dt, DecimalType) and dt.scale > 0
    )
    if not fractional:
        return c.cast("long")
    return (
        F.when(
            c != F.floor(c),
            F.raise_error(
                F.concat(
                    F.lit(f"{op_name}: non-integer value in {col!r} ("),
                    c.cast("string"),
                    F.lit(
                        ") — the integer-exact stats family would silently "
                        "truncate; rescale to integer units (e.g. cents) "
                        "first"
                    ),
                )
            ),
        )
        .otherwise(c)
        .cast("long")
    )


_INTEGRAL_IDS = ("tinyint", "smallint", "int", "bigint")


def require_integral_id(
    df: DataFrame, id_col: str, hash_name: str = "deterministic hash"
) -> None:
    """Fail fast when an id-hashed operator gets a non-integral id: the
    modular hash of a string id silently yields NULL under non-ANSI casts
    (routing every row to the last split, out of the sample, or out of
    every bootstrap resample while it still counts in the point
    estimate). Callers should pre-hash string ids to a long (e.g.
    ``xxhash64``), with the caveat that the DuckDB oracle can then no
    longer reproduce the buckets."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt not in _INTEGRAL_IDS:
        raise TypeError(
            f"id column {id_col!r} has type {dt}; the {hash_name} "
            "requires an integral id (pre-hash strings to a long first)"
        )
