"""Distributed exact quantiles (quantile_cont semantics) by histogram
refinement.

Spark's built-in exact ``percentile`` aggregate buffers every value of a
group on one reducer — a hot group OOMs at 100 TB. A window
``row_number`` over ``partitionBy(group)`` has the same flaw (the whole
group sorts on one task). This operator keeps every stage combinable
and skew-free:

1. **histogram pass** — bucket values by a *data-independent monotone*
   key ``floor(k · sign(v) · ln(1+|v|))`` (no min/max pre-pass needed —
   any monotone binning locates ranks), then
   ``groupBy(group, bin).agg(count, min, max)`` (map-side combinable;
   shuffle = O(groups × occupied bins)). Cumulative counts give n per
   group and, for each probability p, the bin holding rank
   ``h = (n−1)·p`` and its neighbor ``⌈h⌉``. A bin whose min == max
   resolves its ranks immediately (ties — the common heavy-bin case).
2. **refinement loop** (only when needed bins are still heavy) — re-bin
   each heavy bin equi-width over its *observed* [min, max] with the
   same combinable aggregate; every round divides candidate rows by
   ~``refine_bins`` and collapses tied bins, so rounds are
   O(log_{refine_bins} n). Each pass prefilters on the PLAIN value
   column to the live segments' [min lo, max hi] envelope — a predicate
   that reaches the parquet scan (row-group min/max skipping), unlike
   the computed bin conditions.
3. **extract pass** — once ≤ ``collect_cap`` candidate rows remain,
   collect them and pick the exact ranked values driver-side; they
   interpolate to ``v_lo + (h−⌊h⌋)·(v_hi−v_lo)``.

Matches ANSI ``quantile_cont`` / Spark ``percentile`` exactly —
including NaN/±inf inputs, which take sentinel bins ordered the way
Spark sorts doubles (−inf < finite < +inf < NaN); differential tests in
tests/test_quantiles.py. Driver state is
O(groups × occupied bins) — ``by`` must be low-cardinality (profiling
dimensions), which is also the regime where the built-in aggregate is
most dangerous.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# sentinel bins for the IEEE specials, ordered the way Spark sorts
# doubles: -inf < finite < +inf < NaN. Any finite log bin satisfies
# |floor(k·ln(1+|v|))| < k·710 « 2^60, so the sentinels never collide.
_BIN_NINF = -(2**62)
_BIN_PINF = 2**61
_BIN_NAN = 2**62


def _log_bin(col: Column, bins_per_efold: int) -> Column:
    # monotone double→long: sign(v)·ln(1+|v|) preserves order over all
    # reals (0 → bin 0); scale then floor to an integer bin id. NaN and
    # ±inf go to sentinel bins matching Spark's double sort order (NaN
    # greatest) — floor(NaN)→0 would otherwise silently count NaNs as
    # mid-order values.
    return (
        F.when(F.isnan(col), F.lit(_BIN_NAN))
        .when(col == F.lit(float("inf")), F.lit(_BIN_PINF))
        .when(col == F.lit(float("-inf")), F.lit(_BIN_NINF))
        .otherwise(
            F.floor(
                F.lit(float(bins_per_efold)) * F.signum(col) * F.log1p(F.abs(col))
            ).cast("long")
        )
    )


def _width_bin(col: Column, lo: float, hi: float, nbins: int) -> Column:
    # equi-width sub-bin over the OBSERVED [lo, hi] of a parent bin;
    # pure float expression, so membership re-evaluates identically in
    # later passes (exactness depends on that determinism)
    w = (hi - lo) / nbins
    if not math.isfinite(w) or w <= 0.0:
        # degenerate span: adjacent/subnormal doubles underflow w to 0
        # (ANSI divide-by-zero), a ±huge span overflows hi−lo to inf
        # (inf/inf → NaN → ANSI cast error). One sub-bin is still a
        # valid deterministic binning — the round just makes no progress
        # on this segment, which ``max_refine`` already bounds.
        return F.lit(0).cast("long")
    return F.least(
        F.lit(nbins - 1), F.floor((col - F.lit(lo)) / F.lit(w))
    ).cast("long")


class _Seg:
    """A candidate value range: a conjunction of deterministic bin
    predicates, its row count, observed [lo, hi], and the in-segment
    ranks still wanted as (prob_idx, side, local_rank)."""

    __slots__ = ("gkey", "pred", "count", "lo", "hi", "wants")

    def __init__(self, gkey, pred, count, lo, hi, wants):
        self.gkey, self.pred = gkey, pred
        self.count, self.lo, self.hi = count, lo, hi
        self.wants = wants


def quantile_col_names(probs: Sequence[float], out_prefix: str = "p") -> list[str]:
    """The output column names :func:`exact_quantiles` generates for
    ``probs`` — the single source of truth, so callers that need to
    select a quantile column afterwards (e.g.
    ``curation.filter_by_score_quantile``) can never drift from the
    naming scheme."""
    return [f"{out_prefix}{100 * float(p):g}".replace(".", "_") for p in probs]


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    by: Sequence[str] = (),
    out_prefix: str = "p",
    bins_per_efold: int = 512,
    collect_cap: int = 1_000_000,
    refine_bins: int = 4096,
    max_refine: int = 8,
) -> DataFrame:
    """Interpolated quantiles of ``value_col`` per ``by`` group.

    Returns one row per group with a column per probability, named
    ``{out_prefix}{100·p:g}`` (``p25``, ``p99_9`` for 0.999). NULLs are
    excluded, matching quantile_cont.
    """
    by = list(by)
    probs = [float(p) for p in probs]
    names = quantile_col_names(probs, out_prefix)
    spark = df.sparkSession

    vals = df.filter(F.col(value_col).isNotNull()).select(
        *by, F.col(value_col).cast("double").alias("_v")
    )
    # every pass (histogram, refinement rounds, final extract) scans
    # this narrow projection; persist so the source is read once — the
    # result is assembled driver-side, so unpersisting before return is
    # safe (the returned frame has no lineage into vals)
    vals = vals.persist()
    bin0 = _log_bin(F.col("_v"), bins_per_efold)

    # pass 1: one combinable aggregation gives n per group (sum of
    # counts), the rank→bin mapping, and per-bin value bounds
    hist = (
        vals.withColumn("_bin", bin0)
        .groupBy(*by, "_bin")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_v").alias("_lo"),
            F.max("_v").alias("_hi"),
        )
        .collect()
    )
    if not hist:
        vals.unpersist()
        fields = ", ".join(f"{n} double" for n in names)
        schema = (
            ", ".join(f"{c} {_ddl_type(df, c)}" for c in by) + ", " if by else ""
        ) + fields
        return spark.createDataFrame([], schema)

    skey = lambda r: tuple(r[c] for c in by)  # noqa: E731
    by_group: dict[tuple, list] = {}
    for r in hist:
        by_group.setdefault(skey(r), []).append(
            (r["_bin"], r["_c"], r["_lo"], r["_hi"])
        )

    # locate each rank's owning bin; resolve single-valued bins now
    vals_at: dict[tuple, float] = {}  # (gkey, pi, side) -> value
    fracs: dict[tuple, float] = {}
    segs: list[_Seg] = []
    for gkey, bins in by_group.items():
        bins.sort()
        n = sum(c for _, c, _, _ in bins)
        cum, below = [], 0
        for b, c, lo, hi in bins:
            cum.append((b, below, c, lo, hi))
            below += c
        pending: dict[int, list] = {}  # bin -> wants
        binfo = {b: (c, lo, hi) for b, _, c, lo, hi in cum}
        for pi, p in enumerate(probs):
            h = (n - 1) * p
            fracs[(gkey, pi)] = h - math.floor(h)
            for side, rank in (("lo", math.floor(h)), ("hi", math.ceil(h))):
                for b, start, c, lo, hi in cum:
                    if start <= rank < start + c:
                        if b == _BIN_NAN:  # NaNs sort greatest, as Spark
                            vals_at[(gkey, pi, side)] = float("nan")
                        elif lo == hi:  # tied bin — value known already
                            vals_at[(gkey, pi, side)] = lo
                        else:
                            pending.setdefault(b, []).append(
                                (pi, side, rank - start)
                            )
                        break
        for b, wants in pending.items():
            c, lo, hi = binfo[b]
            segs.append(_Seg(gkey, [("log", b)], c, lo, hi, wants))

    group_pred = {
        gkey: [
            F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(by, gkey)
        ]
        for gkey in by_group
    }

    def seg_cond(s: _Seg) -> Column:
        # evaluated against frames that carry a precomputed `_bin0`
        # column, so the log1p/floor tree is built (and codegen'd) once
        # instead of once per segment in the when-chain
        cond = F.lit(True)
        for p in group_pred[s.gkey]:
            cond = cond & p
        for kind, *args in s.pred:
            if kind == "log":
                cond = cond & (F.col("_bin0") == F.lit(args[0]))
            else:  # ("width", lo, hi, nbins, sub)
                lo, hi, nbins, sub = args
                cond = cond & (
                    _width_bin(F.col("_v"), lo, hi, nbins) == F.lit(sub)
                )
        return cond

    def _range_prefilter(live: list[_Seg]):
        # coarse plain-column range over all live segments: every
        # candidate row lies inside its segment's observed [lo, hi], so
        # filtering to the union envelope first is a safe superset that
        # DOES reach the scan (parquet row-group min/max skipping) —
        # unlike the computed bin predicates, which cannot push down
        glo = min(s.lo for s in live)
        ghi = max(s.hi for s in live)
        return vals.filter(
            (F.col("_v") >= F.lit(glo)) & (F.col("_v") <= F.lit(ghi))
        )

    # refinement loop: re-bin heavy candidate segments equi-width over
    # their observed bounds until the survivors fit in one collect
    rounds = 0
    while segs and sum(s.count for s in segs) > collect_cap and rounds < max_refine:
        rounds += 1
        conds = [seg_cond(s) for s in segs]
        seg_id = F.when(conds[0], 0)
        for i, c in enumerate(conds[1:], start=1):
            seg_id = seg_id.when(c, i)
        sub_expr = None
        for i, s in enumerate(segs):
            e = _width_bin(F.col("_v"), s.lo, s.hi, refine_bins)
            sub_expr = F.when(F.col("_seg") == i, e) if sub_expr is None else sub_expr.when(F.col("_seg") == i, e)
        cand = (
            _range_prefilter(segs)
            .withColumn("_bin0", bin0)
            .withColumn("_seg", seg_id)
            .filter(F.col("_seg").isNotNull())
            .withColumn("_sub", sub_expr)
        )
        sub_hist = (
            cand.groupBy("_seg", "_sub")
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.min("_v").alias("_lo"),
                F.max("_v").alias("_hi"),
            )
            .collect()
        )
        per_seg: dict[int, list] = {}
        for r in sub_hist:
            per_seg.setdefault(r["_seg"], []).append(
                (r["_sub"], r["_c"], r["_lo"], r["_hi"])
            )
        new_segs: list[_Seg] = []
        for i, s in enumerate(segs):
            subs = sorted(per_seg.get(i, []))
            cum, below = [], 0
            for sb, c, lo, hi in subs:
                cum.append((sb, below, c, lo, hi))
                below += c
            pending: dict[int, list] = {}
            sinfo = {sb: (c, lo, hi) for sb, _, c, lo, hi in cum}
            for pi, side, rank in s.wants:
                for sb, start, c, lo, hi in cum:
                    if start <= rank < start + c:
                        if lo == hi:
                            vals_at[(s.gkey, pi, side)] = lo
                        else:
                            pending.setdefault(sb, []).append(
                                (pi, side, rank - start)
                            )
                        break
            for sb, wants in pending.items():
                c, lo, hi = sinfo[sb]
                new_segs.append(
                    _Seg(
                        s.gkey,
                        s.pred + [("width", s.lo, s.hi, refine_bins, sb)],
                        c,
                        lo,
                        hi,
                        wants,
                    )
                )
        segs = new_segs

    # extract pass: collect the surviving candidate rows, rank driver-side
    if segs:
        conds = [seg_cond(s) for s in segs]
        seg_id = F.when(conds[0], 0)
        for i, c in enumerate(conds[1:], start=1):
            seg_id = seg_id.when(c, i)
        picked = (
            _range_prefilter(segs)
            .withColumn("_bin0", bin0)
            .withColumn("_seg", seg_id)
            .filter(F.col("_seg").isNotNull())
            .select("_seg", "_v")
            .collect()
        )
        rows_per_seg: dict[int, list] = {}
        for r in picked:
            rows_per_seg.setdefault(r["_seg"], []).append(r["_v"])
        for i, s in enumerate(segs):
            vs = sorted(rows_per_seg.get(i, []))
            for pi, side, rank in s.wants:
                vals_at[(s.gkey, pi, side)] = vs[rank]

    out_rows = []
    for gkey in by_group:
        rec = list(gkey)
        for pi in range(len(probs)):
            v_lo = vals_at[(gkey, pi, "lo")]
            v_hi = vals_at[(gkey, pi, "hi")]
            fr = fracs[(gkey, pi)]
            # equal endpoints return directly: ±inf − ±inf is NaN, so
            # the interpolation formula would corrupt exact hits
            rec.append(v_lo if v_lo == v_hi else v_lo + fr * (v_hi - v_lo))
        out_rows.append(tuple(rec))
    out_schema = (
        ", ".join(f"{c} {_ddl_type(df, c)}" for c in by)
        + (", " if by else "")
        + ", ".join(f"{n} double" for n in names)
    )
    vals.unpersist()
    return spark.createDataFrame(out_rows, out_schema)


def _ddl_type(df: DataFrame, col: str) -> str:
    return dict(zip(df.schema.names, df.schema.fields))[col].dataType.simpleString()


def robust_stats(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    lo: float = 0.05,
    hi: float = 0.95,
    bins_per_efold: int = 2048,
    round_to: int = 6,
) -> DataFrame:
    """Outlier-robust location statistics per group: plain mean,
    winsorized mean (values clipped to the [lo, hi] interpolated
    quantiles), trimmed mean (values outside dropped), and the MAD
    (median absolute deviation from the median) — the standard heavy-
    tail-safe alternatives to mean/stddev for quality-score and length
    filtering over scraped corpora (a handful of pathological documents
    move a mean arbitrarily; they move the MAD not at all).

    ``value_col`` must be INTEGRAL (e.g. prices in cents, lengths in
    tokens): every distributed sum is then an exact ``long`` (order-
    independent), interpolated thresholds from :func:`exact_quantiles`
    are bit-equal to ``quantile_cont``, and the remaining float math is
    a fixed short expression of exactly-rounded IEEE ops — so the whole
    output is deterministic and hash-comparable against a SQL oracle.
    The p50 interpolation fraction is dyadic (0 or ½), so ``2·median``
    is an exact integer and the MAD deviations ``|2x − 2·med|`` stay in
    exact integer half-units.

    Physical shape: one quantile pass (histogram refinement, O(groups ×
    bins) shuffles), one broadcast of the O(groups) thresholds, one
    map-side-combined aggregate for the sums, and a second quantile
    pass over the integer deviations for the MAD. Nothing buffers a
    group on one reducer.

    Returns ``(*by, n, mean, winsor_mean, trimmed_mean, mad)``.
    """
    by = list(by)
    dt = _ddl_type(df, value_col)
    if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
        raise ValueError(
            f"robust_stats needs an integral value column for exact "
            f"cross-engine sums; got {value_col}: {dt} (scale to cents "
            "or token counts first)"
        )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *by, F.col(value_col).cast("long").alias("_x")
    )
    base = base.persist()
    lo_n, med_n, hi_n = quantile_col_names([lo, 0.5, hi])
    q = exact_quantiles(
        base, "_x", [lo, 0.5, hi], by=by, bins_per_efold=bins_per_efold
    )
    thr = q.select(
        *by,
        F.col(lo_n).alias("_lo"),
        F.col(med_n).alias("_med"),
        F.col(hi_n).alias("_hi"),
    )
    j = base.join(F.broadcast(thr), by) if by else base.crossJoin(F.broadcast(thr))
    x = F.col("_x")
    inside = (x >= F.col("_lo")) & (x <= F.col("_hi"))
    agg = j.groupBy(*by).agg(
        F.count(x).alias("n"),
        F.sum(x).alias("_s"),
        F.sum(F.when(inside, x).otherwise(F.lit(0))).alias("_s_in"),
        F.sum(F.when(inside, 1).otherwise(0)).alias("_n_in"),
        F.sum(F.when(x < F.col("_lo"), 1).otherwise(0)).alias("_n_lo"),
        F.sum(F.when(x > F.col("_hi"), 1).otherwise(0)).alias("_n_hi"),
        F.first("_lo").alias("_lo"),
        F.first("_hi").alias("_hi"),
    )
    # MAD: integer deviations in half-units (2·med is an exact integer)
    med2 = F.round(F.col("_med") * 2).cast("long")
    devs = (
        base.join(F.broadcast(thr.select(*by, med2.alias("_m2"))), by)
        if by
        else base.crossJoin(F.broadcast(thr.select(med2.alias("_m2"))))
    ).select(*by, F.abs(x * 2 - F.col("_m2")).alias("_d"))
    mad2 = exact_quantiles(devs, "_d", [0.5], by=by, bins_per_efold=bins_per_efold)
    mad = mad2.select(*by, (F.col(quantile_col_names([0.5])[0]) / 2).alias("_mad"))

    # fixed-order float math — textually mirrored by the oracle:
    # ((s_in + n_lo·lo) + n_hi·hi) / n
    winsor = (
        F.col("_s_in").cast("double")
        + F.col("_n_lo") * F.col("_lo")
        + F.col("_n_hi") * F.col("_hi")
    ) / F.col("n")
    out = agg.select(
        *by,
        "n",
        F.round(F.col("_s").cast("double") / F.col("n"), round_to).alias("mean"),
        F.round(winsor, round_to).alias("winsor_mean"),
        F.round(
            F.col("_s_in").cast("double") / F.col("_n_in"), round_to
        ).alias("trimmed_mean"),
    )
    res = out.join(F.broadcast(mad), by) if by else out.crossJoin(F.broadcast(mad))
    base.unpersist()
    return res.select(
        *by, "n", "mean", "winsor_mean", "trimmed_mean",
        F.round(F.col("_mad"), round_to).alias("mad"),
    )


def conformal_bounds(
    df: DataFrame,
    id_col: str,
    value_col: str,
    by: Sequence[str] = (),
    alpha: float = 0.1,
    seed: int = 0,
    cal_frac: float = 0.5,
    bins_per_efold: int = 2048,
) -> DataFrame:
    """Split-conformal prediction bounds per group (Vovk's inductive
    conformal prediction; Lei et al. 2018 form): deterministically
    hash-split each group into train/calibration halves, fit the
    trivially exact per-group predictor (the integer-floored train
    mean), and report the (1−α) quantile of absolute calibration
    residuals — the "this group's next value is within ±q̂ of p̂ with
    ≈1−α coverage" readout that needs no distributional assumption.

    Exactness: the split is the house `curation.id_hash` (engine-
    portable integers), the predictor is ``Σy div n`` (exact integer),
    residuals are exact integers, and the bound is the interpolated
    quantile via :func:`exact_quantiles` — bit-equal to
    ``quantile_cont`` (the `robust_stats` precedent). The variant
    choice (interpolated rather than the ⌈(n+1)(1−α)⌉-rank pick) is
    deliberate: the rank pick needs a per-group sort (single-task for
    a hot group), the interpolated form reuses the combinable-histogram
    quantile path — scale-safe, documented, and mirrored exactly by the
    oracle.

    Output: ``(*by, n_train, n_cal, pred, q_bound)`` — groups missing
    either half are dropped (both engines).
    """
    from .curation import HASH_MOD, id_hash
    from .guards import require_integral_id

    require_integral_id(df, id_col)
    dt = df.schema[value_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint", "long"):
        raise ValueError(
            f"conformal_bounds needs an integral value column; got "
            f"{value_col}: {dt} (scale to cents first)"
        )
    by = list(by)
    thr = int(cal_frac * HASH_MOD)
    is_cal = id_hash(id_col, seed) < thr
    y = F.col(value_col).cast("long")
    base = df.filter(y.isNotNull()).withColumn("_cal", is_cal)
    train = base.filter(~F.col("_cal")).groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_train"),
        F.expr(f"sum(CAST({value_col} AS BIGINT)) div count(1)").alias("_pred"),
    )
    cal = base.filter(F.col("_cal"))
    jo = cal.join(F.broadcast(train), by) if by else cal.crossJoin(F.broadcast(train))
    resid = jo.select(
        *by, "n_train", "_pred", F.abs(y - F.col("_pred")).alias("_r")
    )
    from .dedup import _persist

    resid = _persist(resid)
    q = exact_quantiles(
        resid, "_r", [1.0 - alpha], by=by, bins_per_efold=bins_per_efold
    )
    qname = quantile_col_names([1.0 - alpha])[0]
    counts = resid.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.first("n_train").alias("n_train"),
        F.first("_pred").alias("pred"),
    )
    joined = counts.join(q, by) if by else counts.crossJoin(q)
    return joined.select(
        *by,
        "n_train",
        "n_cal",
        "pred",
        F.round(F.col(qname), 6).alias("q_bound"),
    )


def conformal_bounds_oracle_sql(
    units_sql: str,
    id_col: str,
    value_col: str,
    by: Sequence[str] = (),
    alpha: float = 0.1,
    seed: int = 0,
    cal_frac: float = 0.5,
) -> str:
    """DuckDB twin: same hash split, same integer-floored train mean,
    ``quantile_cont`` over the integer residuals."""
    from .curation import HASH_MOD, _seed_mult

    by = list(by)
    gc = ", ".join(by)
    sel = f"{gc}, " if by else ""
    thr = int(cal_frac * HASH_MOD)
    a = _seed_mult(seed)
    off = int(seed) % HASH_MOD
    h = (
        f"(((({id_col} % {HASH_MOD}) + {HASH_MOD}) % {HASH_MOD})"
        f" * {a} + {off}) % {HASH_MOD}"
    )
    join = (
        " AND ".join(f"c.{k} = t.{k}" for k in by) if by else "TRUE"
    )
    tsel = ", ".join(f"t.{k}" for k in by)
    tsel = f"{tsel}, " if by else ""
    return f"""
WITH units AS ({units_sql}),
base AS (
  SELECT {sel}CAST({value_col} AS BIGINT) AS y,
         ({h}) < {thr} AS _cal
  FROM units WHERE {value_col} IS NOT NULL
),
train AS (
  SELECT {sel}CAST(COUNT(*) AS BIGINT) AS n_train,
         SUM(y) // COUNT(*) AS pred
  FROM base WHERE NOT _cal {("GROUP BY " + gc) if by else ""}
),
resid AS (
  SELECT {tsel}t.n_train, t.pred, ABS(c.y - t.pred) AS r
  FROM base c JOIN train t ON {join}
  WHERE c._cal
)
SELECT {sel}MAX(n_train) AS n_train, CAST(COUNT(*) AS BIGINT) AS n_cal,
       MAX(pred) AS pred,
       ROUND(quantile_cont(r, {1.0 - alpha!r}), 6) AS q_bound
FROM resid {("GROUP BY " + gc) if by else ""}
"""
