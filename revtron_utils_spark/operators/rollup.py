"""Incremental aggregate maintenance: mergeable per-group summaries that
are updated batch-by-batch instead of recomputed from raw history.

At 100 TB you cannot re-aggregate the full fact table per sync window;
you maintain a rollup keyed by group whose statistics are
**decomposable**: partials from a new batch merge with the stored state
by arithmetic alone (count/sum add, min/max fold, sum-of-squares adds →
variance finalizes). This is the summary-table pattern the reference's
ETL loop implies but delegates to Postgres (`Database.upsert`,
revtron/database/main.py:88-117, is exactly the merge step — without
combinable aggregates behind it).

Distinct counts are NOT decomposable exactly, so the scale path is a
mergeable sketch: Spark 4 ships Apache DataSketches HLL
(``hll_sketch_agg`` to build, ``hll_union_agg`` to merge,
``hll_sketch_estimate`` to read) — the sketch column lives in the
rollup row and merges like any sum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def rollup_partial(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """One batch's partial summary: count / sum / sum-of-squares /
    min / max per group — everything downstream statistics need, all
    map-side combinable (one narrow shuffle per batch)."""
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def rollup_merge(state: DataFrame, partial: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge a new partial into the stored state by pure arithmetic:
    counts/sums add, extrema fold. A full-outer join on the group key —
    on a real table this is the MERGE the incremental syncer issues."""
    s, p = state.alias("s"), partial.alias("p")
    joined = s.join(p, on=list(group_cols), how="full_outer")

    def z(side: str, c: str):  # null → additive identity
        return F.coalesce(F.col(f"{side}.{c}"), F.lit(0))

    return joined.select(
        *group_cols,
        (z("s", "n") + z("p", "n")).alias("n"),
        (z("s", "s") + z("p", "s")).alias("s"),
        (z("s", "s2") + z("p", "s2")).alias("s2"),
        F.coalesce(F.least("s.mn", "p.mn"), F.col("s.mn"), F.col("p.mn")).alias("mn"),
        F.coalesce(F.greatest("s.mx", "p.mx"), F.col("s.mx"), F.col("p.mx")).alias("mx"),
    )


def rollup_merge_many(partials: list[DataFrame], group_cols: list[str]) -> DataFrame:
    """Merge N partial states in ONE aggregation: union-all + the same
    arithmetic (sums add, extrema fold) as a grouped re-aggregate.
    Use for in-plan folds of many batches; ``rollup_merge`` (the keyed
    full-outer join) remains the two-operand form for merging a batch
    into durable state."""
    from functools import reduce

    allp = reduce(lambda a, b: a.unionByName(b), partials)
    return allp.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def rollup_finalize(state: DataFrame, group_cols: list[str], ndigits: int = 6) -> DataFrame:
    """Derive the user-facing statistics from the maintained state:
    mean and population variance via the sum-of-squares identity."""
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    mean = s / n
    var = s2 / n - mean * mean
    return state.select(
        *group_cols,
        n.alias("n"),
        F.round(s, ndigits).alias("total"),
        F.round(mean, ndigits).alias("mean"),
        F.round(F.greatest(var, F.lit(0.0)), ndigits).alias("var_pop"),
        F.round("mn", ndigits).alias("min"),
        F.round("mx", ndigits).alias("max"),
    )


def maintain_rollup(
    batches: list[DataFrame], group_cols: list[str], value_col: str
) -> DataFrame:
    """Fold disjoint batches through partial→merge and finalize — must
    equal the direct aggregate over the union (the differential test and
    the driver oracle assert exactly that). The fold itself is one
    aggregation over the unioned partials (vs a keyed full-outer join
    per batch); each batch still pays its own partial-aggregate shuffle,
    which is the real per-sync cost in production too."""
    assert batches, "maintain_rollup needs at least one batch"
    parts = [rollup_partial(b, group_cols, value_col) for b in batches]
    return rollup_finalize(rollup_merge_many(parts, group_cols), group_cols)


def sketch_rollup_partial(
    df: DataFrame, group_cols: list[str], key_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketch of distinct ``key_col`` values (binary,
    mergeable). lg_k=12 → ~1.6 KB per group, <1% typical error."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("dk_sketch"),
        F.count(F.lit(1)).alias("n"),
    )


def sketch_rollup_merge(state: DataFrame, partial: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union the sketches (and counts) of two rollup states."""
    both = state.unionByName(partial)
    return both.groupBy(*group_cols).agg(
        F.hll_union_agg("dk_sketch").alias("dk_sketch"),
        F.sum("n").alias("n"),
    )


def sketch_rollup_estimate(state: DataFrame, group_cols: list[str]) -> DataFrame:
    """Read out the distinct estimates."""
    return state.select(
        *group_cols,
        F.hll_sketch_estimate("dk_sketch").alias("approx_distinct"),
        F.col("n"),
    )


# --------------------------------------------------------- count-min sketch

# fixed affine rows for the CMS bucket family — the same
# engine-reproducible construction as the Bloom positions
# (curation.BLOOM_PARAMS): row_i(key) = ((poly(key)·a_i + b_i) mod
# 2³¹−1) mod width. Fixed constants, so the sketch — and every
# collision in it — is bit-reproducible across engines.
def _cms_validate(width: int, depth: int) -> None:
    if not 0 < depth <= len(CMS_PARAMS):
        raise ValueError(f"depth must be in 1..{len(CMS_PARAMS)}, got {depth}")
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")


CMS_P = (1 << 31) - 1
CMS_PARAMS = [
    (1_207_959_797, 2_038_074_743),
    (905_502_933, 1_294_969_543),
    (1_626_271_463, 367_902_151),
    (784_926_617, 1_993_050_509),
]


# the cross-engine string hash (one definition for the whole repo —
# functions/polyhash.py)
from ..functions.polyhash import poly_hash_sql, poly_hash_str  # noqa: E402
_cms_poly_hash = poly_hash_str


def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) of the ``key_col``
    frequency distribution, as a SPARSE ``(row, bucket, cnt)`` frame —
    ``depth·width`` cells max, however many trillions of input rows.

    The mergeable-frequency counterpart to the HLL distinct rollup: two
    sketches merge by cell-wise addition (:func:`cms_merge`), so
    per-batch sketches maintain a running frequency table without ever
    re-reading history — and a 4×1024 sketch answers "how often does
    any key occur" within ``ε·N`` (ε = e/width) using 32 KB, where the
    exact answer needs a full vocabulary table.

    Unlike library sketch binaries (engine-specific, rows-only
    checkable), this construction is exact integer arithmetic over the
    cross-engine polynomial hash family — a SQL oracle reproduces every
    cell and every collision bit-for-bit."""
    _cms_validate(width, depth)
    hashed = df.select(_cms_poly_hash(F.col(key_col)).alias("h"))
    rows = [
        hashed.select(
            F.lit(i).alias("row"),
            (((F.col("h") * a + b) % CMS_P) % width).alias("bucket"),
        )
        for i, (a, b) in enumerate(CMS_PARAMS[:depth])
    ]
    from functools import reduce

    allrows = reduce(lambda x, y: x.unionByName(y), rows)
    return allrows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(sketches: Sequence[DataFrame]) -> DataFrame:
    """Cell-wise sum of sparse sketches (same width/depth)."""
    from functools import reduce

    allcells = reduce(lambda x, y: x.unionByName(y), sketches)
    return allcells.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: the estimate is
    the MIN over the ``depth`` cells a key hashes to (absent cell = 0).
    Guarantees est ≥ true count, with overshoot ≤ ε·N w.h.p. The sketch
    is ≤ depth·width cells — broadcast by construction, so the lookup
    is a map-side join however many keys are probed."""
    from .dedup import _persist

    _cms_validate(width, depth)
    # the sketch is a lazy plan whose build already scans the input
    # `depth` times; without pinning it, each per-row broadcast filter
    # below would re-run the whole build (depth² input passes). It is
    # ≤ depth·width cells — released via dedup.release_caches().
    sketch = _persist(sketch)
    probes = keys.select(
        F.col(key_col), _cms_poly_hash(F.col(key_col)).alias("h")
    )
    ests = []
    for i, (a, b) in enumerate(CMS_PARAMS[:depth]):
        cell = sketch.filter(F.col("row") == i).select(
            F.col("bucket").alias("_b"), F.col("cnt").alias(f"_c{i}")
        )
        probes = probes.join(
            F.broadcast(cell),
            (((F.col("h") * a + b) % CMS_P) % width) == F.col("_b"),
            "left",
        ).drop("_b")
        ests.append(F.coalesce(F.col(f"_c{i}"), F.lit(0)))
    est = F.least(*ests) if len(ests) > 1 else ests[0]
    return probes.select(F.col(key_col), est.alias("est"))


# ------------------------------------------------------ engine-exact HLL

def _mulmod32(col: Column, c: int) -> Column:
    """``(col · c) mod 2³²`` without int64 overflow (ANSI mode): split
    the 32-bit operand into 16-bit halves — ``h·c = h₁·c·2¹⁶ + h₀·c``
    and ``(x·2¹⁶) mod 2³² = (x mod 2¹⁶)·2¹⁶`` keep every intermediate
    under 2⁴⁸. Pure +,·,% on non-negatives: bit-equal in any engine."""
    h1 = (col / F.lit(65536)).cast("long")
    h0 = col % 65536
    return (h0 * c + ((h1 * c) % 65536) * 65536) % 4294967296


def _fmix32(col: Column) -> Column:
    """murmur3's 32-bit finalizer over engine-exact ops — xor, integer
    division by 2^k (= the shifts, on non-negatives), and the split
    multiply above. The polynomial hash alone has no avalanche in its
    high bits (affine images of sequential keys stay structured, which
    biased the HLL max-statistic ~30%); fmix32 restores it and the
    estimate lands inside the theoretical ±1.04/√m band."""
    h = col.bitwiseXOR((col / F.lit(65536)).cast("long"))
    h = _mulmod32(h, 0x85EBCA6B)
    h = h.bitwiseXOR((h / F.lit(8192)).cast("long"))
    h = _mulmod32(h, 0xC2B2AE35)
    return h.bitwiseXOR((h / F.lit(65536)).cast("long"))


def _fmix32_sql_steps() -> list[str]:
    """DuckDB twin of :func:`_fmix32` as per-step expressions over a
    column named ``h`` — the oracle chains them through CTEs (inlining
    the whole pipeline into one expression would repeat each step
    twice per level: exponential SQL)."""

    def mulmod(c: int) -> str:
        return (
            f"((h % 65536) * {c}"
            f" + (((h // 65536) * {c}) % 65536) * 65536) % 4294967296"
        )

    return [
        "xor(h, h // 65536)",
        mulmod(0x85EBCA6B),
        "xor(h, h // 8192)",
        mulmod(0xC2B2AE35),
        "xor(h, h // 65536)",
    ]


HLL_HASH_BITS = 32  # fmix32 output spans the full 32-bit domain


def hll_poly_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """HyperLogLog distinct estimate per group — engine-exact.

    The DataSketches HLL rollup (:func:`sketch_rollup_partial`) is the
    production path but its sketch binary is engine-specific, so its
    gate is rows-only. This twin makes the whole estimate
    hash-comparable against a SQL oracle:

    - h = fmix32(poly(key)) — the murmur3 finalizer in engine-exact
      arithmetic (the raw polynomial hash has no high-bit avalanche and
      biased the max-statistic ~30%); bucket = h mod 2^p, w = h div 2^p,
    - rho = leading-zero rank of w in ``32-p`` bits, computed with pure
      integer/string ops (``length(bin(w))`` — no cross-libm ``log2``),
    - per-bucket MAX(rho) (duplicates can't change a max — no dedup
      pass needed, and two sketches merge by the same max),
    - the harmonic-mean denominator Σ 2^−M_j is a sum of DYADIC
      rationals: rho reaches ``(32-p)+1``, so each term is a multiple
      of 2^−(HLL_HASH_BITS−p+1) (2^−25 at the default p=8) and there
      are ≤ 2^p terms — every partial sum needs at most
      p + (32−p) + 1 = 33 mantissa bits ≪ 53, so it is exactly
      representable: the float sum is order-independent and
      bit-identical in any engine (this mantissa budget is what the
      CAST(1 AS DOUBLE) division guard below protects),
    - raw estimate α_m·m² / Σ, no small-range correction (that needs
      ``ln``, which is not cross-libm exact; the raw estimate is the
      deterministic, comparable quantity — document the bias below
      ~2.5·m where linear counting would normally kick in).

    Output: ``(*group_cols, n_buckets, approx_distinct)``.
    """
    return hll_poly_estimate(
        hll_poly_partial(df, group_cols, key_col, p), group_cols, p, round_to
    )


def hll_poly_partial(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = 8
) -> DataFrame:
    """Per-group HLL register table ``(*group_cols, b, M)`` — the sparse
    mergeable state (≤ 2^p rows per group). Two partials merge by
    per-bucket MAX (:func:`hll_poly_merge`), same as the sketch itself
    absorbs duplicates."""
    if not 0 < p < HLL_HASH_BITS:
        raise ValueError(f"p must be in 1..{HLL_HASH_BITS - 1}, got {p}")
    m = 1 << p
    wbits = HLL_HASH_BITS - p
    mixed = df.select(
        *group_cols, _fmix32(_cms_poly_hash(F.col(key_col))).alias("h")
    )
    rows = mixed.select(
        *group_cols,
        (F.col("h") % m).alias("b"),
        # h div 2^p: h and m are non-negative, so the double divide +
        # truncating cast equals integer division (h < 2^32 ≪ 2^52)
        (F.col("h") / F.lit(m)).cast("long").alias("w"),
    )
    # rho: leading-zero rank of w within wbits bits; bin(w) length gives
    # floor(log2)+1 with integers/strings only
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - (F.length(F.expr("bin(w)")) - 1)
    )
    return (
        rows.select(*group_cols, "b", rho.alias("rho"))
        .groupBy(*group_cols, "b")
        .agg(F.max("rho").alias("M"))
    )


def hll_poly_merge(
    state: DataFrame, partial: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union two register tables, keeping the per-bucket max."""
    return (
        state.unionByName(partial)
        .groupBy(*group_cols, "b")
        .agg(F.max("M").alias("M"))
    )


def hll_poly_estimate(
    buckets: DataFrame,
    group_cols: list[str],
    p: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Read out ``(*group_cols, n_buckets, approx_distinct)`` from a
    register table built by :func:`hll_poly_partial` / merged by
    :func:`hll_poly_merge`."""
    if not 0 < p < HLL_HASH_BITS:
        raise ValueError(f"p must be in 1..{HLL_HASH_BITS - 1}, got {p}")
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    amm = alpha * m * m  # embedded as the same literal in the oracle
    per_group = buckets.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        # CAST(1 AS DOUBLE), not the literal 1.0: both engines parse 1.0
        # as DECIMAL, and Spark's DECIMAL division ROUNDS 2^-M for
        # M >= 23 — which would break the dyadic-exactness invariant for
        # any bucket reaching rho >= 23 (~10M+ distinct keys per group)
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), CAST(M AS INT))")
        ).alias("_s"),
    )
    denom = (F.lit(m) - F.col("n_buckets")) + F.col("_s")
    return per_group.select(
        *group_cols,
        "n_buckets",
        F.round(F.lit(amm) / denom, round_to).alias("approx_distinct"),
    )


def hll_poly_oracle_sql(
    group_cols: list[str],
    key_col: str,
    table: str,
    p: int = 8,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`hll_poly_distinct` — same hash, same
    integer rho, same dyadic-exact harmonic sum, same α literal."""
    m = 1 << p
    wbits = HLL_HASH_BITS - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    amm = repr(alpha * m * m)
    from ..functions.polyhash import poly_hash_sql

    gc = ", ".join(group_cols)
    poly = poly_hash_sql(key_col)
    mix_ctes = ",\n".join(
        f"f{i} AS (SELECT {gc}, {step} AS h FROM f{i - 1})"
        for i, step in enumerate(_fmix32_sql_steps(), start=1)
    )
    n_mix = len(_fmix32_sql_steps())
    return f"""
WITH f0 AS (
  SELECT {gc}, {poly} AS h FROM {table}
),
{mix_ctes},
h AS (SELECT * FROM f{n_mix}), rw AS (
  SELECT {gc}, h % {m} AS b, h // {m} AS w FROM h
), buckets AS (
  SELECT {gc}, b,
         MAX(CASE WHEN w = 0 THEN {wbits + 1}
             ELSE {wbits} - (length(bin(w)) - 1) END) AS M
  FROM rw GROUP BY {gc}, b
), g AS (
  SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << CAST(M AS INT))) AS s
  FROM buckets GROUP BY {gc}
)
SELECT {gc}, n_buckets,
       ROUND(CAST({amm} AS DOUBLE) / (({m} - n_buckets) + s), {round_to})
         AS approx_distinct
FROM g
"""


# ---------------------------------------------------------------- quantiles


def quantile_rollup_partial(
    df: DataFrame, group_cols: list[str], value_col: str, bins_per_efold: int = 64
) -> DataFrame:
    """One batch's mergeable quantile state: per-``(group, qbin)`` count
    and observed value bounds, binned by the same data-independent
    monotone log key as ``operators/quantiles.py`` (sentinel bins for
    NaN/±inf). Plain rows — no opaque blob — so the merge is arithmetic
    and the state is queryable/auditable with ordinary SQL. State size:
    O(groups × occupied bins); ~64 bins per e-fold keeps relative read
    error under ~1.6% across the full double range."""
    from revtron_utils_spark.operators.quantiles import _log_bin

    v = F.col(value_col)
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, _log_bin(v.cast("double"), bins_per_efold).alias("qbin"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(v.cast("double")).alias("lo"),
            F.max(v.cast("double")).alias("hi"),
        )
    )


def quantile_rollup_merge(
    state: DataFrame, partial: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge two quantile states: counts add, bounds fold — one
    map-side-combinable aggregate over the unioned rows. Exactly equals
    the partial of the unioned raw batches (the differential test
    asserts bit-equality), so maintenance never drifts from recompute."""
    both = state.unionByName(partial)
    return both.groupBy(*group_cols, "qbin").agg(
        F.sum("cnt").alias("cnt"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )


def quantile_rollup_estimate(
    state: DataFrame, group_cols: list[str], probs: Sequence[float]
) -> DataFrame:
    """Per-group quantile estimates from the maintained histogram —
    fully distributed (windows over O(bins) rows per group, a broadcast
    of the probe list; no driver collect).

    For rank ``h = (n−1)·p`` the covering bin is found by cumulative
    count; within a bin the value interpolates linearly between the
    observed [lo, hi] (exact when the bin is tied, lo == hi). Error is
    bounded by the covering bin's width — ≤ (e^{1/bins_per_efold} − 1)
    relative for finite values. Output: group cols + ``p`` +
    ``quantile_est``."""
    from pyspark.sql import Window as W

    if not probs:
        raise ValueError("probs must be non-empty")
    spark = state.sparkSession
    probs_df = spark.createDataFrame([(float(p),) for p in probs], "p double")

    wg = W.partitionBy(*group_cols)
    wc = wg.orderBy("qbin").rowsBetween(W.unboundedPreceding, 0)
    bins = state.withColumn("n", F.sum("cnt").over(wg)).withColumn(
        "cum", F.sum("cnt").over(wc)
    )
    j = bins.crossJoin(F.broadcast(probs_df))
    h = (F.col("n") - 1) * F.col("p")
    before = F.col("cum") - F.col("cnt")

    def rank_value(r: Column) -> Column:
        covers = (before <= r) & (r < F.col("cum"))
        frac = (r - before + F.lit(0.5)) / F.col("cnt")
        interp = F.when(
            F.col("lo") == F.col("hi"), F.col("lo")
        ).otherwise(F.col("lo") + frac * (F.col("hi") - F.col("lo")))
        return F.when(covers, interp)

    agg = j.groupBy(*group_cols, "p").agg(
        F.max(rank_value(F.floor(h))).alias("v_lo"),
        F.max(rank_value(F.ceil(h))).alias("v_hi"),
        F.first(h).alias("h"),
    )
    q = F.col("v_lo") + (F.col("h") - F.floor("h")) * (F.col("v_hi") - F.col("v_lo"))
    return agg.select(*group_cols, "p", q.alias("quantile_est"))


def maintain_quantile_rollup(
    batches: list[DataFrame],
    group_cols: list[str],
    value_col: str,
    probs: Sequence[float],
    bins_per_efold: int = 64,
) -> DataFrame:
    """Fold batches through partial→merge and read the estimates — the
    incremental path a 100 TB sync uses instead of re-scanning history
    for every percentile refresh."""
    assert batches, "maintain_quantile_rollup needs at least one batch"
    state = quantile_rollup_partial(batches[0], group_cols, value_col, bins_per_efold)
    for b in batches[1:]:
        state = quantile_rollup_merge(
            state, quantile_rollup_partial(b, group_cols, value_col, bins_per_efold), group_cols
        )
    return quantile_rollup_estimate(state, group_cols, probs)


# ------------------------------------------------------------- AMS F2 sketch


def _ams_sign_from_poly(poly: Column, j: Column | int) -> Column:
    """±1 sign for counter j from the PRE-COMPUTED poly hash: parity of
    the fmix32 finalizer applied to the hash shifted by a per-counter
    odd constant — engine-exact integer ops only (the raw poly hash's
    low bit is just the last character's parity; fmix mixes every
    character into it). Taking the poly hash as input lets callers
    evaluate the expensive character fold ONCE per row for all k
    counters. ``j`` may be a literal or a Column (the counter index
    materialized by a Generate — see :func:`ams_f2_partial`); either
    way every intermediate stays under 2⁴⁸, safe for ANSI int64."""
    jc = F.lit(j) if isinstance(j, int) else j
    h = _fmix32((poly + jc * F.lit(2654435761)) % F.lit(1 << 32))
    return F.lit(1) - F.lit(2) * (h % 2)


def ams_f2_partial(
    df: DataFrame, group_cols: list[str], key_col: str, k: int = 16
) -> DataFrame:
    """AMS/tug-of-war F2 sketch (Alon, Matias, Szegedy, STOC 1996):
    per group, k signed counters ``c_j = Σ_rows s_j(key)`` whose
    squared mean estimates the second frequency moment
    ``F2 = Σ_x f_x²`` — the self-join size, the quantity that predicts
    join blowup and group skew before you pay for the join.
    Counters are exact int64 sums (map-side combined, mergeable by
    plain addition), so the whole estimate is engine-exact.
    Returns ``(*group_cols, j, c)`` with k rows per group.

    ONE scan, ONE character fold, ONE fmix chain per output row:
    the poly hash ``_p`` is computed once per input row, the counter
    index ``j`` is EXPLODED FIRST (``explode(sequence(0, k-1))``), and
    the sign is computed from the Generate-materialized ``(_p, j)`` in
    the projection ABOVE the Generate. Order matters for codegen: an
    array of k pre-built sign expressions (the round-5 shape) inlines
    the poly fold into every fmix stage — fmix32 references its input
    2-3× per stage, so the tree doubles per stage and k·2⁵ copies of
    the character fold blew the generated method past janino's 64KB
    limit, silently disabling whole-stage codegen (~100k-node
    interpreted tree, 138s at sf0.1). With explode-first, ``_p`` is an
    attribute on the Generate's output, the 2⁵ references are cheap
    column reads, and the per-row tree is a few hundred arithmetic
    nodes — compiled. Same answer, same oracle."""
    rows = df.where(F.col(key_col).isNotNull()).select(
        *group_cols, poly_hash_str(F.col(key_col).cast("string")).alias("_p")
    )
    exploded = rows.select(
        *group_cols,
        "_p",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    )
    return (
        exploded.select(
            *group_cols,
            F.col("j").cast("int").alias("j"),
            _ams_sign_from_poly(F.col("_p"), F.col("j")).alias("s"),
        )
        .groupBy(*group_cols, "j")
        .agg(F.sum("s").alias("c"))
    )


def ams_f2_merge(state: DataFrame, partial: DataFrame, group_cols: list[str]) -> DataFrame:
    """Counters add: sketch(A ⊎ B) = sketch(A) + sketch(B)."""
    return (
        state.unionByName(partial)
        .groupBy(*group_cols, "j")
        .agg(F.sum("c").alias("c"))
    )


def ams_f2_estimate(
    state: DataFrame, group_cols: list[str], k: int = 16
) -> DataFrame:
    """``F2^ = mean_j c_j²`` — integer-exact numerator, one division."""
    return state.groupBy(*group_cols).agg(
        (F.sum(F.col("c") * F.col("c")).cast("double") / F.lit(float(k))).alias(
            "f2_est"
        )
    )


def ams_f2(
    df: DataFrame, group_cols: list[str], key_col: str, k: int = 16
) -> DataFrame:
    """One-shot grouped F2 estimate; see :func:`ams_f2_partial`."""
    return ams_f2_estimate(ams_f2_partial(df, group_cols, key_col, k), group_cols, k)


def ams_f2_oracle_sql(
    table: str, group_cols: list[str], key_col: str, k: int = 16
) -> str:
    """DuckDB twin: same per-counter shifted fmix chain, same integer
    counters, same single division."""
    gc = ", ".join(group_cols)
    poly = poly_hash_sql(f"CAST({key_col} AS VARCHAR)")
    branches = []
    for j in range(k):
        inner = (
            f"SELECT {gc}, {j} AS j, (p + {j * 2654435761}) % {1 << 32} AS h FROM base"
        )
        for step in _fmix32_sql_steps():
            inner = f"SELECT {gc}, j, {step} AS h FROM ({inner})"
        branches.append(f"SELECT {gc}, j, 1 - 2 * (h % 2) AS s FROM ({inner})")
    un = "\nUNION ALL\n".join(branches)
    return f"""
WITH base AS MATERIALIZED (
  SELECT {gc}, {poly} AS p FROM {table} WHERE {key_col} IS NOT NULL
),
signs AS ({un}),
ctr AS (SELECT {gc}, j, SUM(s) AS c FROM signs GROUP BY {gc}, j)
SELECT {gc}, CAST(SUM(c * c) AS DOUBLE) / {float(k)!r} AS f2_est
FROM ctr GROUP BY {gc}
"""
