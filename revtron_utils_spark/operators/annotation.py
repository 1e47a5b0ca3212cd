"""Annotation / preference-data analytics — the label-quality side of a
training-data pipeline (RLHF preference sets, crowdsourced labels,
pairwise model comparisons). The reference's surface stops at SQL/SOQL
generation (revtron/database/main.py:28-293); these are the curation
operators a 100-TB labeling pipeline needs on top:

* ``majority_vote`` — per-item modal label with deterministic
  tie-break, vote share, unanimity flag (crowd label aggregation).
* ``cohen_kappa_pairs`` — chance-corrected inter-annotator agreement
  for every annotator pair over their co-rated items.
* ``bradley_terry`` — preference-strength estimation from pairwise
  comparisons (fixed-iteration minorize-maximize), the standard model
  behind preference-data leaderboards.
* ``win_rate_wilson`` — per-item win rate with Wilson score interval
  (the ranking you show while Bradley-Terry is still converging).

Everything is engine-exact by construction: counts stay integral until
a final division, cross-row float sums run either over DECIMAL-exact
integers or inside ordered array folds (``F.aggregate`` over sorted
arrays — the fmix/poly-hash precedent), and sqrt/division are
correctly-rounded IEEE ops — so every readout hash-matches its DuckDB
oracle twin.

Scale notes: ``majority_vote`` is one (item,label) partial-aggregated
shuffle plus an item-keyed window. ``cohen_kappa_pairs`` self-joins
ratings on the item key — per-item cost is raters², bounded by the
rater panel, never by the corpus. ``bradley_terry`` and
``win_rate_wilson`` reduce the comparison stream with ONE map-side-
combined aggregation; the MM iterations then run on a single-row
state frame of O(items²) floats (items = the compared-model/option
catalog — leaderboard-sized by design, documented hard assumption),
so 100 TB of comparisons cost one shuffle regardless of iteration
count. Each MM iteration is its OWN projection over materialized
arrays — the ams_f2 lesson: nesting them as one expression tree would
duplicate sub-expressions exponentially and silently kill whole-stage
codegen.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def majority_vote(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Aggregate one label per item from many raters.

    Returns ``(item_col, label, votes, n_raters, share, unanimous)``:
    the modal label (ties break to the lexicographically smallest
    label, so replays are deterministic), its vote count, the number of
    ratings, the winning share (exactly-rounded double), and whether
    the vote was unanimous. Duplicate (item, rater) ratings count once
    each — callers wanting last-rating-wins should cdc-fold first.
    """
    from pyspark.sql import Window

    counts = df.groupBy(item_col, F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy(item_col)
    ranked = counts.select(
        item_col,
        "label",
        "votes",
        F.sum("votes").over(w).alias("n_raters"),
        F.row_number()
        .over(w.orderBy(F.col("votes").desc(), F.col("label").asc()))
        .alias("_rn"),
    )
    return ranked.where(F.col("_rn") == 1).select(
        item_col,
        "label",
        "votes",
        "n_raters",
        F.round(F.col("votes").cast("double") / F.col("n_raters").cast("double"), 6).alias(
            "share"
        ),
        (F.col("votes") == F.col("n_raters")).alias("unanimous"),
    )


def majority_vote_oracle_sql(
    table: str, item_col: str, rater_col: str, label_col: str
) -> str:
    """DuckDB twin: same counts, same (votes DESC, label ASC) rank."""
    return f"""
WITH c AS (
  SELECT {item_col}, {label_col} AS label, COUNT(*) AS votes
  FROM {table} GROUP BY 1, 2
), r AS (
  SELECT {item_col}, label, votes,
         SUM(votes) OVER (PARTITION BY {item_col}) AS n_raters,
         ROW_NUMBER() OVER (PARTITION BY {item_col}
                            ORDER BY votes DESC, label ASC) AS rn
  FROM c
)
SELECT {item_col}, label, votes, n_raters,
       ROUND(CAST(votes AS DOUBLE) / CAST(n_raters AS DOUBLE), 6) AS share,
       votes = n_raters AS unanimous
FROM r WHERE rn = 1
"""


def cohen_kappa_pairs(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
    min_shared: int = 1,
) -> DataFrame:
    """Cohen's kappa for every annotator pair over their co-rated items.

    For each pair (a < b): ``n_shared`` co-rated items, observed
    agreement ``po = agree/n``, chance agreement
    ``pe = Σ_k (n_a,k · n_b,k) / n²`` (each rater's label marginals over
    the SHARED item set), and ``kappa = (po − pe)/(1 − pe)`` (NULL when
    ``pe = 1`` — degenerate single-label pair, where kappa is
    undefined). All counts are exact integers; the marginal cross
    products accumulate in DECIMAL(38,0) (exact at any scale — int64
    would overflow at ~3e9 shared items), so the two final divisions
    are the only float ops and the readout hash-matches SQL.

    Plan: one item-keyed self-join (per-item cost raters² — bounded by
    the panel size, not the corpus), one (pair, label_a, label_b)
    aggregation, then O(pairs × labels) marginal joins.
    """
    r1 = df.select(
        F.col(item_col).alias("_it"),
        F.col(rater_col).alias("ra"),
        F.col(label_col).alias("la"),
    )
    r2 = df.select(
        F.col(item_col).alias("_it"),
        F.col(rater_col).alias("rb"),
        F.col(label_col).alias("lb"),
    )
    joint = r1.join(r2, "_it").where(F.col("ra") < F.col("rb"))
    cm = joint.groupBy("ra", "rb", "la", "lb").agg(F.count(F.lit(1)).alias("c"))
    tot = cm.groupBy("ra", "rb").agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(F.lit(0))).alias(
            "agree"
        ),
    )
    ma = cm.groupBy("ra", "rb", F.col("la").alias("k")).agg(F.sum("c").alias("na"))
    mb = cm.groupBy("ra", "rb", F.col("lb").alias("k")).agg(F.sum("c").alias("nb"))
    pe_num = (
        ma.join(mb, ["ra", "rb", "k"])
        .groupBy("ra", "rb")
        .agg(
            F.sum(
                F.col("na").cast("decimal(18,0)") * F.col("nb").cast("decimal(18,0)")
            ).alias("pp")
        )
    )
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / nd
    pe = F.col("pp").cast("double") / (nd * nd)
    out = tot.join(pe_num, ["ra", "rb"]).where(F.col("n") >= min_shared)
    return out.select(
        F.col("ra").alias("rater_a"),
        F.col("rb").alias("rater_b"),
        F.col("n").alias("n_shared"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
        ).alias("kappa"),
    )


def cohen_kappa_pairs_oracle_sql(
    ratings_sql: str,
    item_col: str,
    rater_col: str,
    label_col: str,
    min_shared: int = 1,
) -> str:
    """DuckDB twin: same self-join, DECIMAL-exact marginal products,
    same two divisions and pe=1 guard."""
    return f"""
WITH r0 AS ({ratings_sql}),
j AS (
  SELECT a.{rater_col} AS ra, b.{rater_col} AS rb,
         a.{label_col} AS la, b.{label_col} AS lb
  FROM r0 a JOIN r0 b ON a.{item_col} = b.{item_col}
  WHERE a.{rater_col} < b.{rater_col}
), cm AS (
  SELECT ra, rb, la, lb, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1, 2, 3, 4
), tot AS (
  SELECT ra, rb, SUM(c) AS n,
         SUM(CASE WHEN la = lb THEN c ELSE 0 END) AS agree
  FROM cm GROUP BY ra, rb
), ma AS (SELECT ra, rb, la AS k, SUM(c) AS na FROM cm GROUP BY 1, 2, 3),
mb AS (SELECT ra, rb, lb AS k, SUM(c) AS nb FROM cm GROUP BY 1, 2, 3),
pp AS (
  SELECT ma.ra, ma.rb,
         SUM(CAST(na AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(18,0))) AS pp
  FROM ma JOIN mb ON ma.ra = mb.ra AND ma.rb = mb.rb AND ma.k = mb.k
  GROUP BY ma.ra, ma.rb
)
SELECT t.ra AS rater_a, t.rb AS rater_b, t.n AS n_shared,
       ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       ROUND(CAST(pp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       ROUND(CASE WHEN CAST(pp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
         THEN (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(pp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              / (1.0 - CAST(pp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         ELSE NULL END, 6) AS kappa
FROM tot t JOIN pp ON t.ra = pp.ra AND t.rb = pp.rb
WHERE t.n >= {min_shared}
"""


def win_rate_wilson(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-item win rate with the Wilson score interval.

    Returns ``(item, wins, n, win_rate, wilson_lo, wilson_hi)`` for
    every item appearing in the comparison stream. The interval uses
    ONE pinned algebraic form (mirrored token-for-token in the oracle —
    Wilson has several rearrangements that differ in the last ulp):

        denom  = 1 + z²/n
        center = p̂ + z²/(2n)
        rad    = sqrt((p̂·(1−p̂) + z²/(4n)) / n)
        lo, hi = (center ∓ z·rad) / denom

    One map-side-combined aggregation over the stream; every op after
    the exact counts is a correctly-rounded IEEE multiply/divide/sqrt,
    so the rounded readout hash-matches SQL.
    """
    sides = df.select(
        F.col(winner_col).alias("item"), F.lit(1).alias("win")
    ).unionByName(df.select(F.col(loser_col).alias("item"), F.lit(0).alias("win")))
    agg = sides.groupBy("item").agg(
        F.sum("win").alias("wins"), F.count(F.lit(1)).alias("n")
    )
    return win_rate_wilson_from_totals(agg, z)


def win_rate_wilson_from_totals(agg: DataFrame, z: float = 1.96) -> DataFrame:
    """Wilson readout over pre-aggregated ``(item, wins, n)`` totals —
    the composition entry point (`preference_pipeline` feeds it from a
    shared pair-count frame). Same pinned form and output contract as
    :func:`win_rate_wilson`."""
    zc = F.lit(float(z))
    z2 = zc * zc
    nd = F.col("n").cast("double")
    ph = F.col("wins").cast("double") / nd
    denom = F.lit(1.0) + z2 / nd
    center = ph + z2 / (F.lit(2.0) * nd)
    rad = F.sqrt((ph * (F.lit(1.0) - ph) + z2 / (F.lit(4.0) * nd)) / nd)
    return agg.select(
        "item",
        "wins",
        "n",
        F.round(ph, 6).alias("win_rate"),
        F.round((center - zc * rad) / denom, 6).alias("wilson_lo"),
        F.round((center + zc * rad) / denom, 6).alias("wilson_hi"),
    )


def wilson_select_sql(z: float = 1.96) -> str:
    """The pinned Wilson SELECT body over a CTE ``a (item, wins, n)`` —
    shared token-for-token by the standalone oracle and the
    `preference_pipeline` composition twin."""
    return f"""SELECT item, wins, n,
  ROUND(CAST(wins AS DOUBLE) / CAST(n AS DOUBLE), 6) AS win_rate,
  ROUND(((CAST(wins AS DOUBLE) / CAST(n AS DOUBLE) + ({z} * {z}) / (2.0 * CAST(n AS DOUBLE)))
     - {z} * sqrt(((CAST(wins AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(wins AS DOUBLE) / CAST(n AS DOUBLE))
         + ({z} * {z}) / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
    / (1.0 + ({z} * {z}) / CAST(n AS DOUBLE)), 6) AS wilson_lo,
  ROUND(((CAST(wins AS DOUBLE) / CAST(n AS DOUBLE) + ({z} * {z}) / (2.0 * CAST(n AS DOUBLE)))
     + {z} * sqrt(((CAST(wins AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(wins AS DOUBLE) / CAST(n AS DOUBLE))
         + ({z} * {z}) / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
    / (1.0 + ({z} * {z}) / CAST(n AS DOUBLE)), 6) AS wilson_hi
FROM a"""


def win_rate_wilson_oracle_sql(
    comp_sql: str, winner_col: str, loser_col: str, z: float = 1.96
) -> str:
    """DuckDB twin with the identical pinned Wilson form."""
    return f"""
WITH c0 AS ({comp_sql}),
s AS (
  SELECT {winner_col} AS item, 1 AS win FROM c0
  UNION ALL SELECT {loser_col} AS item, 0 AS win FROM c0
), a AS (
  SELECT item, CAST(SUM(win) AS BIGINT) AS wins, CAST(COUNT(*) AS BIGINT) AS n
  FROM s GROUP BY item
)
{wilson_select_sql(z)}
"""


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iterations: int = 20,
) -> DataFrame:
    """Bradley-Terry preference strengths via fixed-iteration MM.

    Input: a stream of pairwise comparisons ``(winner, loser)``.
    Output: ``(item, strength)`` with strengths normalized to sum 1 and
    rounded to 6 decimals, for every item that appears. The MM update
    (Hunter 2004, "MM algorithms for generalized Bradley-Terry models")
    from ``p⁰ = 1`` is::

        pᵢ' = Wᵢ / Σ_{j≠i, n_ij>0}  n_ij / (pᵢ + pⱼ)

    run for a FIXED ``iterations`` count (the pagerank/k_core
    convention: deterministic, oracle-unrollable — not
    convergence-tested). Items the stream never shows winning get
    strength 0 after round 1 (W=0), the MLE's boundary behaviour.

    Scale shape: the 100-TB comparison stream reduces with ONE
    map-side-combined ``groupBy(winner, loser)`` count; everything
    after runs on a single-row state frame holding the sorted item
    catalog, the dense n-matrix (row-major, length m²) and the win
    vector — O(items²) floats, leaderboard-sized by the documented
    bounded-catalog assumption. Determinism: every cross-item sum is an
    ``F.aggregate`` fold over an index-ordered array (identical fold
    order in the DuckDB oracle's ``list_reduce``), never a
    shuffle-order float SUM. Each iteration is a separate projection
    over the MATERIALIZED previous array — Catalyst's CollapseProject
    keeps non-cheap folds referenced m× uncollapsed, so the plan stays
    codegen-compilable instead of exploding like the ams_f2 tree.
    """
    counts = df.groupBy(
        F.col(winner_col).alias("w"), F.col(loser_col).alias("l")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return bradley_terry_from_counts(counts, iterations)


def bradley_terry_from_counts(
    counts: DataFrame,
    iterations: int = 20,
) -> DataFrame:
    """MM core over pre-aggregated directed pair counts ``(w, l, c)`` —
    the composition entry point (`preference_pipeline` shares ONE
    pair-count aggregation between this and the Wilson leaderboard).
    Same output contract as :func:`bradley_terry`.

    The dense row-major n-matrix and win vector are assembled on a
    SINGLE-ROW state: one aggregation collects the (w, l, c) entries,
    the catalog is the sorted-distinct endpoint array, and an
    (i, j)→c index map feeds position-ordered transforms for
    ``n_flat`` (``c(i,j) + c(j,i)``, row-major) and ``wins``
    (ascending-j fold of integer-valued doubles — exact). Values and
    positions are identical to the former grid-join build, so the MM
    folds (and the oracle) are unchanged bit-for-bit — but the plan is
    one aggregation + projections instead of a lattice of tiny
    grid-join jobs.

    The whole chain (assembly + ``iterations`` MM rounds + readout) is
    issued as ONE DataFrame-parameterized ``spark.sql`` CTE query:
    building it as stacked ``select`` calls re-analyzed the growing
    plan JVM-side once per round (~2k py4j round trips, build time
    dominating execution — the pq_ann lesson). Single-reference CTEs
    inline to the identical stacked-Project plan."""
    cell = (
        "coalesce(try_element_at(cm, struct(CAST({i} AS BIGINT) AS i,"
        " CAST({j} AS BIGINT) AS j)), 0.0D)"
    )
    c_ij, c_ji = cell.format(i="i", j="j"), cell.format(i="j", j="i")
    step = (
        "s{k} AS (SELECT it, n_flat, wins,"
        " transform(sequence(0, size(it) - 1), i -> element_at(wins, i + 1)"
        " / aggregate(sequence(0, size(it) - 1), 0.0D, (acc, j) -> acc +"
        " (CASE WHEN j = i"
        " OR element_at(n_flat, CAST(i * size(it) + j AS INT) + 1) = 0.0D"
        " THEN 0.0D"
        " ELSE element_at(n_flat, CAST(i * size(it) + j AS INT) + 1)"
        " / (element_at(p, i + 1) + element_at(p, j + 1)) END))) AS p"
        " FROM s{prev})"
    )
    spark = counts.sparkSession
    state = spark.sql(
        f"""WITH _e AS (SELECT collect_list(struct(w, l, c)) AS e FROM {{counts}}),
_it AS (SELECT array_sort(array_distinct(flatten(transform(e,
  s -> array(s.w, s.l))))) AS it, e FROM _e),
_cm AS (SELECT it, map_from_entries(transform(e, s ->
  struct(struct(array_position(it, s.w) - 1 AS i,
                array_position(it, s.l) - 1 AS j) AS k, s.c AS v))) AS cm
  FROM _it),
_g AS (SELECT it, cm, CASE WHEN size(it) > 0 THEN sequence(0, size(it) - 1)
  ELSE CAST(array() AS ARRAY<INT>) END AS _idx FROM _cm)
SELECT it,
  flatten(transform(_idx, i -> transform(_idx, j -> {c_ij} + {c_ji}))) AS n_flat,
  transform(_idx, i -> aggregate(_idx, 0.0D, (acc, j) -> acc + {c_ij})) AS wins,
  transform(sequence(0, size(it) - 1), i -> 1.0D) AS p
FROM _g""",
        counts=counts,
    )
    # chunked: >~15 lambda-bearing chained CTEs overflow the analyzer's
    # 100-pass fixed point, so the rounds go in blocks of 10
    done = 0
    while done < iterations:
        block = min(10, iterations - done)
        rounds = ",\n".join(
            step.format(k=k + 1, prev=k) for k in range(block)
        )
        state = spark.sql(
            f"WITH s0 AS (SELECT it, n_flat, wins, p FROM {{prev}}),\n"
            f"{rounds}\n"
            f"SELECT it, n_flat, wins, p FROM s{block}",
            prev=state,
        )
        done += block
    return spark.sql(
        """SELECT item, ROUND(element_at(_pn, _i + 1), 6) AS strength
FROM (SELECT it, transform(p, x -> x / aggregate(p, 0.0D, (a, y) -> a + y)) AS _pn
      FROM {state}) _f
LATERAL VIEW posexplode(it) _t AS _i, item""",
        state=state,
    )


def bradley_terry_rounds_sql(iterations: int = 20) -> str:
    """The MM CTE chain assuming a ``ci0 (w, l, c DOUBLE)`` pair-count
    CTE is already in scope — ends at ``fin (it, p, s)``. Shared by the
    standalone oracle and the `preference_pipeline` composition twin."""
    step = """
it{k} AS MATERIALIZED (SELECT m, it, n_flat, wins,
  list_transform(range(0, m), i -> wins[i+1] / list_reduce(list_prepend(0.0,
     list_transform(range(0, m), j -> CASE WHEN j = i OR n_flat[i*m+j+1] = 0 THEN 0.0
        ELSE n_flat[i*m+j+1] / (p[i+1] + p[j+1]) END)), (a,b) -> a + b)) AS p
  FROM it{prev})"""
    rounds = ",".join(
        step.format(k=k + 1, prev=k) for k in range(iterations)
    )
    return f"""items AS (
  SELECT list_sort(list_distinct(list(w) || list(l))) AS it FROM ci0
),
mm AS (SELECT it, len(it) AS m FROM items),
ii AS (SELECT generate_subscripts(it, 1) - 1 AS idx FROM mm),
ci AS (
  SELECT list_position(mm.it, ci0.w) - 1 AS i, list_position(mm.it, ci0.l) - 1 AS j, ci0.c
  FROM ci0 CROSS JOIN mm
),
games AS (
  SELECT i, j, SUM(c) AS n FROM (
    SELECT i, j, c FROM ci UNION ALL SELECT j AS i, i AS j, c FROM ci
  ) GROUP BY i, j
),
cells AS (
  SELECT a.idx AS i, b.idx AS j, COALESCE(g.n, 0.0) AS n
  FROM ii a CROSS JOIN ii b LEFT JOIN games g ON g.i = a.idx AND g.j = b.idx
),
nf AS (SELECT list(n ORDER BY i * (SELECT m FROM mm) + j) AS n_flat FROM cells),
wi AS (
  SELECT list(wn ORDER BY i) AS wins FROM (
    SELECT a.idx AS i, COALESCE(SUM(ci.c), 0.0) AS wn
    FROM ii a LEFT JOIN ci ON ci.i = a.idx GROUP BY a.idx
  )
),
it0 AS (SELECT mm.m, mm.it, nf.n_flat, wi.wins,
               list_transform(range(0, mm.m), i -> 1.0) AS p FROM nf, wi, mm),
{rounds},
fin AS (SELECT it, p, list_reduce(list_prepend(0.0, p), (a,b) -> a + b) AS s
        FROM it{iterations})"""


def bradley_terry_oracle_sql(
    comp_sql: str, winner_col: str, loser_col: str, iterations: int = 20
) -> str:
    """DuckDB twin: same counts, same dense matrix, one MATERIALIZED CTE
    per MM iteration (k_core's unrolled-round convention), identical
    ordered ``list_reduce`` folds."""
    return f"""
WITH comp AS ({comp_sql}),
ci0 AS (
  SELECT {winner_col} AS w, {loser_col} AS l, CAST(COUNT(*) AS DOUBLE) AS c
  FROM comp GROUP BY 1, 2
),
{bradley_terry_rounds_sql(iterations)}
SELECT unnest(it) AS item, ROUND(unnest(p) / s, 6) AS strength FROM fin
"""


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
    n_raters: int,
    round_to: int = 6,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for a PANEL of
    ``n_raters`` per item (Fleiss 1971), the multi-rater generalization
    of :func:`cohen_kappa_pairs` (which compares raters two at a time).
    Items without exactly ``n_raters`` ratings are dropped first (the
    classic statistic is undefined for ragged panels; the output
    reports how many items survived).

    With n_ij = count of label j on item i, N items, n raters:

        P̄  = (Σ_ij n_ij² − N·n) / (N·n·(n−1))      exact integers, ONE division
        P̄e = Σ_j (Σ_i n_ij)² / (N·n)²              DECIMAL squares, ONE division
        κ  = (P̄ − P̄e) / (1 − P̄e)                   (NULL when P̄e = 1)

    Plan: one (item, label) partial-agg shuffle, one item-count filter,
    two scalar aggregates — no windows, no per-item state beyond the
    bounded label set. Output one row: ``(n_items, n_raters, n_labels,
    p_bar, p_e, kappa)``.
    """
    counts = df.groupBy(
        F.col(item_col).alias("_i"), F.col(label_col).alias("_j")
    ).agg(F.count(F.lit(1)).alias("_c"))
    sizes = counts.groupBy("_i").agg(F.sum("_c").alias("_n"))
    ok = sizes.where(F.col("_n") == n_raters).select("_i")
    kept = counts.join(ok, "_i")
    per_label = kept.groupBy("_j").agg(
        F.sum("_c").alias("_cj"),
        F.sum(
            F.col("_c").cast("decimal(38,0)") * F.col("_c").cast("decimal(38,0)")
        ).alias("_c2j"),
    )
    agg = per_label.agg(
        F.sum(F.col("_cj")).alias("_total"),  # = N·n
        F.sum("_c2j").alias("_sum_c2"),
        F.sum(
            F.col("_cj").cast("decimal(38,0)") * F.col("_cj").cast("decimal(38,0)")
        ).alias("_sum_cj2"),
        F.count(F.lit(1)).alias("n_labels"),
    )
    n_items = (F.col("_total") / F.lit(n_raters)).cast("long")
    p_bar = (
        F.col("_sum_c2").cast("double")
        - (n_items.cast("decimal(38,0)") * F.lit(n_raters)).cast("double")
    ) / (
        n_items.cast("decimal(38,0)")
        * F.lit(n_raters)
        * F.lit(n_raters - 1)
    ).cast("double")
    p_e = F.col("_sum_cj2").cast("double") / (
        F.col("_total").cast("decimal(38,0)") * F.col("_total").cast("decimal(38,0)")
    ).cast("double")
    kappa = (p_bar - p_e) / (F.lit(1.0) - p_e)
    return agg.select(
        n_items.alias("n_items"),
        F.lit(n_raters).alias("n_raters"),
        "n_labels",
        F.round(p_bar, round_to).alias("p_bar"),
        F.round(p_e, round_to).alias("p_e"),
        F.round(F.when(p_e < 1.0, kappa), round_to).alias("kappa"),
    )


def fleiss_kappa_oracle_sql(
    ratings_sql: str,
    item_col: str,
    label_col: str,
    n_raters: int,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same panel filter, same HUGEINT squares, same
    pinned divisions."""
    return f"""
WITH ratings AS ({ratings_sql}),
counts AS (
  SELECT {item_col} AS _i, {label_col} AS _j, CAST(COUNT(*) AS BIGINT) AS _c
  FROM ratings GROUP BY {item_col}, {label_col}
),
ok AS (SELECT _i FROM counts GROUP BY _i HAVING SUM(_c) = {n_raters}),
kept AS (SELECT counts.* FROM counts JOIN ok USING (_i)),
per_label AS (
  SELECT _j, CAST(SUM(_c) AS BIGINT) AS _cj,
         SUM(CAST(_c AS HUGEINT) * CAST(_c AS HUGEINT)) AS _c2j
  FROM kept GROUP BY _j
),
agg AS (
  SELECT CAST(SUM(_cj) AS BIGINT) AS _total,
         SUM(_c2j) AS _sum_c2,
         SUM(CAST(_cj AS HUGEINT) * CAST(_cj AS HUGEINT)) AS _sum_cj2,
         CAST(COUNT(*) AS BIGINT) AS n_labels
  FROM per_label
),
calc AS (
  SELECT CAST(_total / {n_raters} AS BIGINT) AS n_items, n_labels,
         (CAST(_sum_c2 AS DOUBLE)
          - CAST(CAST(_total / {n_raters} AS HUGEINT) * {n_raters} AS DOUBLE))
         / CAST(CAST(_total / {n_raters} AS HUGEINT)
                * {n_raters} * {n_raters - 1} AS DOUBLE) AS p_bar,
         CAST(_sum_cj2 AS DOUBLE)
         / CAST(CAST(_total AS HUGEINT) * CAST(_total AS HUGEINT) AS DOUBLE) AS p_e
  FROM agg
)
SELECT n_items, CAST({n_raters} AS INTEGER) AS n_raters, n_labels,
       ROUND(p_bar, {round_to}) AS p_bar,
       ROUND(p_e, {round_to}) AS p_e,
       ROUND(CASE WHEN p_e < 1.0 THEN (p_bar - p_e) / (1.0 - p_e) END,
             {round_to}) AS kappa
FROM calc
"""


def dawid_skene(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
    iterations: int = 3,
    scale: int = 10_000,
    max_raters: int = 7,
    checkpoint_dir: str | None = None,
    max_labels: int = 32,
) -> DataFrame:
    """Dawid-Skene crowd-label aggregation (Dawid & Skene 1979, "Maximum
    likelihood estimation of observer error-rates using the EM
    algorithm") with a FIXED iteration count — the confusion-aware
    upgrade of :func:`majority_vote`: raters who systematically confuse
    labels get down-weighted instead of counted, the standard model
    behind crowd-labeled training-set cleanup.

    **All-integer EM** (novel exactness shape; the `bradley_terry`
    discipline applied to EM): posteriors q(i,ℓ), confusion rows
    π_r(ℓ,m), and class priors p(ℓ) are all fixed-point integers in
    [0, ``scale``], every normalization is ``(num·scale) div den``
    (num ≤ den by construction, so the quotient always fits int64 —
    Spark's decimal ``div`` silently wraps past 2⁶³, which this layout
    makes unreachable), Laplace(+1) smoothing keeps counts positive,
    and the per-item likelihood is an exact DECIMAL(38,0) product of
    ≤ ``max_raters``+1 factors ≤ scale — with scale=10⁴ and
    max_raters=7 the largest intermediate is 10³⁶ < 10³⁸, inside both
    DECIMAL(38,0) and DuckDB HUGEINT. Integer multiplication is
    commutative-exact, so the unordered product fold is deterministic
    without sorting. The oracle unrolls the same rounds as MATERIALIZED
    CTEs — bit-exact.

    Scale: per round, one votes⋈q item-keyed join + three partial
    aggregates; π and p are O(raters·labels²)/O(labels) frames
    broadcast back. State is the (items × labels) posterior frame —
    DISTRIBUTED, unlike Bradley-Terry's bounded catalog. Panels larger
    than ``max_raters`` raise (the product-width exactness bound);
    labels are assumed a bounded catalog (A/N/R-sized, not corpus
    text).

    Shuffle plan (the round-9 cost cut, ~2× over the long-form r8
    layout): the posterior state is WIDE — one row per item with one
    ``_q{j}`` column per label (``max_labels`` guards the plan width;
    labels are a bounded catalog by the model's own assumption, and the
    sorted catalog is collected once to the driver). Wide form makes
    the per-item normalization ``q_j = prod_j·scale div Σ_j prod_j``
    and the final MAP pick ROW-LOCAL — the r8 long form spent a
    groupBy+join (``sumi``) per round and a window at the end on work
    that is now a projection. ``votes`` is repartitioned by item ONCE
    up front; votes⋈q and the posterior-product groupBy(i) reuse that
    partitioning, so the only per-round shuffles are the confusion /
    prior partial aggregates whose outputs are rater/label-catalog
    sized, and π rides back through an AQE-sized join (no forced
    broadcast — crowd-scale rater panels would not fit).

    Output one row per item: ``(item, ds_label, q_int, n_raters)`` —
    the MAP label (ties → label ASC, NULL first) and its posterior in
    [0, scale]. A NULL label is a vote, as in :func:`majority_vote`: it
    is one class of the catalog (counted by ``max_labels``), it counts
    toward ``n_raters``, and a rater's NULL votes shape its confusion
    row like any other label.
    """
    from .dedup import _persist
    from .graph import _lineage_cutter

    if scale ** (max_raters + 2) >= 10**38:
        raise ValueError(
            "scale**(max_raters+2) must stay below DECIMAL(38,0): "
            f"got scale={scale}, max_raters={max_raters}"
        )
    votes = _persist(
        df.select(
            F.col(item_col).alias("i"),
            F.col(rater_col).alias("r"),
            F.col(label_col).alias("m"),
        ).repartition("i")
    )
    # ONE probe action (r13): the panel-width gate and the label-catalog
    # collect used to run as two scans of the persisted votes (guide
    # §1.2); both fold out of one two-level aggregate. NULL labels are
    # tracked separately (collect_set drops them) so the catalog order
    # reproduces the old distinct().orderBy(asc) exactly — NULL first.
    # The per-item label sets are exploded back to rows between the two
    # levels, so the top-level collect_set dedupes as it merges: its
    # buffer holds the label catalog, not items × labels (max(c) and
    # max(hn) are unaffected by the repeated rows; explode_outer keeps
    # items whose every label is NULL).
    probe = (
        votes.groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.collect_set("m").alias("ls"),
            F.max(F.col("m").isNull()).alias("hn"),
        )
        .select("c", "hn", F.explode_outer("ls").alias("m"))
        .agg(
            F.max("c").alias("mx"),
            F.array_sort(F.collect_set("m")).alias("labs"),
            F.max("hn").alias("has_null"),
        )
        .first()
    )
    panel_max = probe["mx"]
    if panel_max is None:
        return votes.select(
            F.col("i").alias("item"),
            F.col("m").alias("ds_label"),
            F.lit(0).cast("long").alias("q_int"),
            F.lit(0).cast("long").alias("n_raters"),
        )
    if panel_max > max_raters:
        raise ValueError(
            f"dawid_skene: an item has {panel_max} raters, over "
            f"max_raters={max_raters} (the DECIMAL(38,0) product-width "
            "bound) — dedup the panel or lower scale"
        )
    # the bounded label catalog, in the ENGINE's ASC order (the same
    # ordering the r8 long form's MAP window used for its tie-break):
    # array_sort on the non-null set + the NULL flag reproduces
    # distinct().orderBy(asc) — NULL sorts first in Spark ASC
    labels = ([None] if probe["has_null"] else []) + list(probe["labs"])
    n_labels = len(labels)
    if n_labels > max_labels:
        raise ValueError(
            f"dawid_skene: {n_labels} distinct labels exceed "
            f"max_labels={max_labels} — the wide posterior layout (and "
            "the model itself) assumes a bounded label catalog; raise "
            "max_labels only if the plan width is acceptable"
        )
    L = range(n_labels)
    # initial posterior, wide: one aggregate over the item-partitioned
    # votes (no shuffle), q_j = votes_for_label_j·scale div n — the
    # identical integer arithmetic of the r8 long form's init
    q = votes.groupBy("i").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(F.col("m").eqNullSafe(F.lit(lab)), 1).otherwise(0)).alias(
                f"_c{j}"
            )
            for j, lab in enumerate(labels)
        ],
    ).select(
        "i",
        "_n",
        *[F.expr(f"(_c{j} * {scale}) div _n").alias(f"_q{j}") for j in L],
    )
    dec = lambda c: c.cast("decimal(38,0)")
    # per-round lineage cut (the pagerank convention): without it the
    # logical plan grows multiplicatively per EM round — q feeds conf,
    # the priors, AND the next round — and Catalyst re-analysis cost
    # dominated runtime (103 s for 1.5k items, measured; 4 s with cuts)
    _cut = _lineage_cutter(df.sparkSession, checkpoint_dir)
    for _ in range(iterations):
        # lazy cut: the lineage is truncated immediately (Catalyst never
        # re-analyzes the multiplicatively growing EM plan) but the
        # round's RDD materializes inside the NEXT action instead of
        # paying one eager job per round
        q = _cut(q, eager=False)
        # M-step: confusion rows (Laplace +1 per possible label), wide —
        # one row per observed (rater, voted-label), one column per true
        # label. A (r, m) row exists iff rater r ever voted m, exactly
        # the long form's (r, l, m) support.
        # the confusion aggregate clusters on r alone (subset rule), so
        # the per-rater denominator can be a WINDOW over the same
        # layout instead of the old groupBy(r) + join-back — one
        # exchange per round instead of two, no per-round persist, no
        # broadcast build (r12; same integers: window sum/count over
        # the r partition ≡ the groupBy's sums)
        from pyspark.sql.window import Window as _W

        conf = (
            votes.join(q, "i")
            .repartition("r")
            .groupBy("r", "m")
            .agg(*[(F.sum(f"_q{j}") + F.lit(1)).alias(f"_nm{j}") for j in L])
        )
        # per-(r, l) denominator: observed-m sums + one Laplace unit for
        # each label m the rater never voted (count(*) = observed m's,
        # the same for every true-label column)
        _wr = _W.partitionBy("r")
        den_cols = [
            (
                F.sum(f"_nm{j}").over(_wr)
                + (F.lit(n_labels) - F.count(F.lit(1)).over(_wr))
            ).alias(f"_d{j}")
            for j in L
        ]
        pi = conf.select("r", "m", *[F.col(f"_nm{j}") for j in L], *den_cols).select(
            "r",
            "m",
            *[
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        f"(CAST(_nm{j} AS DECIMAL(38,0)) * {scale})"
                        f" div CAST(_d{j} AS DECIMAL(38,0))"
                    ),
                ).alias(f"_pi{j}")
                for j in L
            ],
        )
        # class priors: ONE single-row aggregate; the normalization is
        # row-local (the long form paid a crossJoin-broadcast here)
        prisum = " + ".join(f"CAST(_pn{j} AS DECIMAL(38,0))" for j in L)
        pri = q.agg(
            *[(F.sum(f"_q{j}") + F.lit(1)).alias(f"_pn{j}") for j in L]
        ).select(
            *[
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        f"(CAST(_pn{j} AS DECIMAL(38,0)) * {scale})"
                        f" div CAST({prisum} AS DECIMAL(38,0))"
                    ),
                ).alias(f"_p{j}")
                for j in L
            ]
        )
        # E-step: per-item integer likelihood products, one DECIMAL fold
        # per label over the SAME collected panel. No broadcast hint on
        # π: it's O(raters·labels) — rater-panel sized for review
        # boards, crowd-sized for crowdsourcing; AQE picks broadcast
        # only when it fits.
        # a NULL label is a vote: it matches its confusion row NULL-safely
        v, p = votes.alias("v"), pi.alias("p")
        vf = v.join(
            p, (F.col("v.r") == F.col("p.r")) & F.col("v.m").eqNullSafe(F.col("p.m"))
        ).select("v.i", *[f"p._pi{j}" for j in L])
        prod = vf.groupBy("i").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.aggregate(
                    F.collect_list(f"_pi{j}"),
                    F.lit(1).cast("decimal(38,0)"),
                    lambda a, x: (a * dec(x)).cast("decimal(38,0)"),
                ).alias(f"_f{j}")
                for j in L
            ],
        )
        # posterior normalization is ROW-LOCAL in wide form — the r8
        # long form ran a groupBy(i) + item join (sumi) per round for
        # this same division
        prodp = prod.crossJoin(F.broadcast(pri)).select(
            "i",
            "_n",
            *[
                (dec(F.col(f"_p{j}")) * F.col(f"_f{j}"))
                .cast("decimal(38,0)")
                .alias(f"_prod{j}")
                for j in L
            ],
        )
        totsum = " + ".join(f"_prod{j}" for j in L)
        q = prodp.select(
            "i",
            "_n",
            *[
                F.expr(
                    f"CAST((_prod{j} * {scale})"
                    f" div CAST({totsum} AS DECIMAL(38,0)) AS BIGINT)"
                ).alias(f"_q{j}")
                for j in L
            ],
        )
    # MAP pick: row-local greatest + first-match-in-ASC-label-order
    # (identical to the long form's (q DESC, l ASC) window tie-break)
    mx = (
        F.greatest(*[F.col(f"_q{j}") for j in L])
        if n_labels > 1
        else F.col("_q0")
    )
    # a CASE chain, not coalesce: the first matching branch wins even
    # when its label is NULL (coalesce would skip it to the next tie)
    best_label = F.lit(labels[0])
    if n_labels > 1:
        best_label = F.when(F.col("_q0") == mx, F.lit(labels[0]))
        for j in L[1:]:
            best_label = best_label.when(F.col(f"_q{j}") == mx, F.lit(labels[j]))
    return q.select(
        F.col("i").alias("item"),
        best_label.alias("ds_label"),
        mx.alias("q_int"),
        F.col("_n").alias("n_raters"),
    )


def dawid_skene_oracle_sql(
    votes_sql: str,
    item_col: str,
    rater_col: str,
    label_col: str,
    iterations: int = 3,
    scale: int = 10_000,
) -> str:
    """DuckDB twin of :func:`dawid_skene`: identical integer EM rounds,
    unrolled as MATERIALIZED CTEs (the `hits_oracle_sql` lesson —
    default CTE inlining re-evaluates the chain exponentially),
    HUGEINT products, ``//`` floor division. A NULL label is a vote:
    every label match is ``IS NOT DISTINCT FROM`` and the MAP tie-break
    sorts NULL first, as Spark does."""
    s = scale
    parts = [
        f"""WITH votes AS MATERIALIZED (
  SELECT {item_col} AS i, {rater_col} AS r, {label_col} AS m
  FROM ({votes_sql})
)""",
        "labels AS MATERIALIZED (SELECT DISTINCT m AS l FROM votes)",
        "nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM labels)",
        "ni AS MATERIALIZED (SELECT i, CAST(COUNT(*) AS BIGINT) AS n"
        " FROM votes GROUP BY i)",
        "cil AS (SELECT i, m AS l, CAST(COUNT(*) AS BIGINT) AS c"
        " FROM votes GROUP BY i, m)",
        f"""q0 AS MATERIALIZED (
  SELECT ni.i, lab.l, (COALESCE(c.c, 0) * {s}) // ni.n AS q
  FROM ni CROSS JOIN labels lab
  LEFT JOIN cil c ON c.i = ni.i AND c.l IS NOT DISTINCT FROM lab.l
)""",
    ]
    for k in range(1, iterations + 1):
        p = f"q{k - 1}"
        parts.append(
            f"conf{k} AS MATERIALIZED (SELECT v.r, q.l, v.m,"
            f" SUM(q.q) + 1 AS num"
            f" FROM votes v JOIN {p} q ON v.i = q.i GROUP BY v.r, q.l, v.m)"
        )
        parts.append(
            f"den{k} AS MATERIALIZED (SELECT r, l,"
            f" SUM(num) + ((SELECT c FROM nl) - COUNT(*)) AS den"
            f" FROM conf{k} GROUP BY r, l)"
        )
        parts.append(
            f"pi{k} AS MATERIALIZED (SELECT c.r, c.l, c.m,"
            f" GREATEST(1, (CAST(c.num AS HUGEINT) * {s})"
            f" // CAST(d.den AS HUGEINT)) AS pi"
            f" FROM conf{k} c JOIN den{k} d"
            f" ON c.r = d.r AND c.l IS NOT DISTINCT FROM d.l)"
        )
        parts.append(
            f"prn{k} AS (SELECT l, SUM(q) + 1 AS num FROM {p} GROUP BY l)"
        )
        parts.append(
            f"prd{k} AS (SELECT SUM(num) AS den FROM prn{k})"
        )
        parts.append(
            f"pri{k} AS MATERIALIZED (SELECT l, GREATEST(1,"
            f" (CAST(num AS HUGEINT) * {s})"
            f" // CAST((SELECT den FROM prd{k}) AS HUGEINT)) AS p"
            f" FROM prn{k})"
        )
        parts.append(
            f"vf{k} AS (SELECT v.i, p.l, p.pi"
            f" FROM votes v JOIN pi{k} p"
            f" ON v.r = p.r AND v.m IS NOT DISTINCT FROM p.m)"
        )
        parts.append(
            f"prod{k} AS MATERIALIZED (SELECT vf.i, vf.l,"
            f" pri.p * list_reduce(list_prepend(CAST(1 AS HUGEINT),"
            f" list(CAST(vf.pi AS HUGEINT))), (a, b) -> a * b) AS prod"
            f" FROM vf{k} vf JOIN pri{k} pri ON vf.l IS NOT DISTINCT FROM pri.l"
            f" GROUP BY vf.i, vf.l, pri.p)"
        )
        parts.append(
            f"sumi{k} AS (SELECT i, SUM(prod) AS s FROM prod{k} GROUP BY i)"
        )
        parts.append(
            f"q{k} AS MATERIALIZED (SELECT p.i, p.l,"
            f" CAST((p.prod * {s}) // s.s AS BIGINT) AS q"
            f" FROM prod{k} p JOIN sumi{k} s ON p.i = s.i)"
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT b.i AS item, b.l AS ds_label, b.q AS q_int, ni.n AS n_raters
FROM (
  SELECT i, l, q,
         ROW_NUMBER() OVER (PARTITION BY i ORDER BY q DESC, l ASC NULLS FIRST) AS rn
  FROM q{iterations}
) b JOIN ni ON b.i = ni.i
WHERE b.rn = 1
"""
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
    round_to: int = 6,
    max_items: int | None = 10_000,
) -> DataFrame:
    """Cronbach's α internal-consistency coefficient over a
    (subject, item, value) ratings matrix — the "do the k items measure
    the same thing" reliability readout that belongs next to
    :func:`cohen_kappa_pairs` (kappa checks RATER pairs on categorical
    labels; α checks the whole ITEM battery on scores):

        α = k/(k−1) · (1 − Σ_i var_i / var_T),

    with sample variances and T_j the per-subject total. Subjects with
    an incomplete item response are EXCLUDED (classic complete-case α —
    a missing cell would silently bias every variance), and the number
    dropped is reported.

    Exactness: per-item and per-total moments (Σx, Σx², ΣT, ΣT²) are
    exact DECIMAL(38,0) integer sums over complete subjects; each
    sample variance is the pinned rational (n·Σx² − (Σx)²)/(n(n−1));
    Σ_i var_i runs as an ITEM-ORDERED float fold (cross-row float sums
    are order-dependent — the house rule). Output one row:
    ``(k_items, n_subjects, n_dropped, alpha)`` — NULL when k < 2,
    n < 2, or var_T = 0.

    The item catalog is bounded by contract (``max_items`` guard): the
    fold is one row wide, like every bounded-catalog fold in the repo.
    """
    from .dedup import _persist
    from .guards import check_sum_sq_width, integral_long, require_bounded_spines

    df = require_bounded_spines(df, [(item_col, max_items, item_col)], "cronbach_alpha")
    dec = lambda c: c.cast("decimal(38,0)")
    v = integral_long(df, value_col, "cronbach_alpha")
    base = df.select(
        F.col(subject_col).alias("_s"),
        F.col(item_col).alias("_i"),
        v.alias("_v"),
    )
    # ONE probe action (r13): the item-catalog size and the width-guard
    # bounds come out of a single aggregate — the old build ran a
    # countDistinct action plus a separate guard action (guide §1.2).
    probe = base.agg(
        F.countDistinct("_i").alias("k"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("_v"))).alias("mx"),
    ).first()
    n_items = probe["k"]
    # the total-variance sum squares per-subject TOTALS (up to k·max
    # wide), so the width guard scales by the item count
    check_sum_sq_width(
        probe["n"], probe["mx"], value_col, "cronbach_alpha",
        scale=max(int(n_items or 1), 1),
    )
    per_subj = base.groupBy("_s").agg(
        F.countDistinct("_i").alias("_ni"),
        F.count(F.lit(1)).alias("_nrows"),
        F.sum(dec(F.col("_v"))).alias("_t"),
    )
    # complete = every item exactly once (duplicate (subject, item)
    # cells are as invalid as missing ones)
    complete_cond = (F.col("_ni") == F.lit(n_items)) & (
        F.col("_nrows") == F.lit(n_items)
    )
    complete = _persist(per_subj.where(complete_cond).select("_s", "_t"))
    # dropped-subject count rides IN-PLAN as a 1-row broadcast (r13):
    # the old build ran per_subj.count() and complete.count() as two
    # eager jobs just to compute a literal output column (guide §1.2)
    drop_cnt = per_subj.agg(
        (
            F.count(F.lit(1))
            - F.count(F.when(complete_cond, F.lit(1)))
        ).cast("long").alias("_n_dropped")
    )
    items = (
        base.join(complete.select("_s"), "_s")
        .groupBy("_i")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(dec(F.col("_v"))).alias("_sx"),
            F.sum(dec(F.col("_v")) * dec(F.col("_v"))).alias("_qx"),
        )
    )
    nd = F.col("_n").cast("double")
    var_i = (
        (dec(F.col("_n")) * F.col("_qx") - F.col("_sx") * F.col("_sx")).cast(
            "double"
        )
        / (nd * (nd - F.lit(1.0)))
    )
    isum = items.agg(
        F.max("_n").alias("n_subjects"),
        F.count(F.lit(1)).alias("k_items"),
        F.sort_array(
            F.collect_list(F.struct(F.col("_i").alias("i"), var_i.alias("t")))
        ).alias("_terms"),
    ).withColumn(
        "_vsum",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["t"]),
    )
    tot = complete.agg(
        F.count(F.lit(1)).alias("_nt"),
        F.sum(F.col("_t")).alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).alias("_qt"),
    )
    out = isum.crossJoin(tot).crossJoin(F.broadcast(drop_cnt))
    ntd = F.col("_nt").cast("double")
    var_t = (
        (dec(F.col("_nt")) * F.col("_qt") - F.col("_st") * F.col("_st")).cast(
            "double"
        )
        / (ntd * (ntd - F.lit(1.0)))
    )
    k = F.col("k_items")
    kd = k.cast("double")
    ok = (k > 1) & (F.col("_nt") > 1) & (var_t > 0)
    return out.select(
        "k_items",
        F.col("_nt").cast("long").alias("n_subjects"),
        F.col("_n_dropped").alias("n_dropped"),
        F.round(
            F.when(
                ok,
                kd / (kd - F.lit(1.0)) * (F.lit(1.0) - F.col("_vsum") / var_t),
            ),
            round_to,
        ).alias("alpha"),
    )


def cronbach_alpha_oracle_sql(
    ratings_sql: str,
    subject_col: str,
    item_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same complete-case filter, HUGEINT moments, same
    item-ordered variance fold and pinned α tail."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {subject_col} AS _s, {item_col} AS _i,
         CAST({value_col} AS BIGINT) AS _v
  FROM ({ratings_sql})
),
nk AS (SELECT COUNT(DISTINCT _i) AS k FROM base),
per_subj AS MATERIALIZED (
  SELECT _s, COUNT(DISTINCT _i) AS _ni, COUNT(*) AS _nrows,
         SUM(CAST(_v AS HUGEINT)) AS _t
  FROM base GROUP BY _s
),
complete AS MATERIALIZED (
  SELECT _s, _t FROM per_subj, nk WHERE _ni = k AND _nrows = k
),
dropped AS (
  SELECT (SELECT COUNT(*) FROM per_subj) - (SELECT COUNT(*) FROM complete)
         AS n_dropped
),
items AS (
  SELECT b._i, CAST(COUNT(*) AS BIGINT) AS _n,
         SUM(CAST(b._v AS HUGEINT)) AS _sx,
         SUM(CAST(b._v AS HUGEINT) * CAST(b._v AS HUGEINT)) AS _qx
  FROM base b JOIN complete c ON b._s = c._s
  GROUP BY b._i
),
isum AS (
  SELECT MAX(_n) AS n_subjects, CAST(COUNT(*) AS BIGINT) AS k_items,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(CAST(_n AS HUGEINT) * _qx - _sx * _sx AS DOUBLE)
                / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1.0))
                ORDER BY _i)),
           (a, b) -> a + b) AS _vsum
  FROM items
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS _nt, SUM(_t) AS _st,
         SUM(_t * _t) AS _qt
  FROM complete
)
SELECT k_items, _nt AS n_subjects,
       (SELECT n_dropped FROM dropped) AS n_dropped,
       ROUND(CASE WHEN k_items > 1 AND _nt > 1 AND
         CAST(CAST(_nt AS HUGEINT) * _qt - _st * _st AS DOUBLE)
         / (CAST(_nt AS DOUBLE) * (CAST(_nt AS DOUBLE) - 1.0)) > 0
         THEN CAST(k_items AS DOUBLE) / (CAST(k_items AS DOUBLE) - 1.0)
              * (1.0 - _vsum
                 / (CAST(CAST(_nt AS HUGEINT) * _qt - _st * _st AS DOUBLE)
                    / (CAST(_nt AS DOUBLE) * (CAST(_nt AS DOUBLE) - 1.0))))
         END, {round_to}) AS alpha
FROM isum, tot
"""


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    rater_col: str,
    value_col: str,
    round_to: int = 6,
    max_panel: int | None = 1_000,
) -> DataFrame:
    """Krippendorff's α for nominal data over a (unit, rater, value)
    ratings table — the agreement coefficient that, unlike
    :func:`cohen_kappa_pairs` (fixed rater pairs) and
    :func:`fleiss_kappa` (fixed panel size), tolerates VARIABLE panel
    sizes per unit: exactly the shape crowd-label tables have after
    dropouts. Units with a single rating carry no pairable information
    and are EXCLUDED and counted (Krippendorff's own rule):

        D_o = (1/n) Σ_u Σ_c n_uc (m_u − n_uc) / (m_u − 1),
        D_e = Σ_c n_c (n − n_c) / (n (n − 1)),
        α   = 1 − D_o / D_e,

    with n = Σ m_u over usable units. Exactness: the per-panel-size
    disagreement sums S_m = Σ_{u: m_u = m} Σ_c n_uc(m_u − n_uc) are
    exact DECIMAL(38,0) integers; Σ_m S_m/(m−1) runs as an m-ORDERED
    float fold over the panel-size buckets (≤ max_panel distinct sizes
    by contract — a rater panel, not a corpus dimension); D_e is exact
    integers with ONE division; the α tail is pinned. Output one row:
    ``(n_units, n_ratings, n_dropped, alpha)`` — NULL when D_e = 0 or
    fewer than 2 usable ratings.

    Plan: one (unit, value) partial-agg shuffle → one unit agg → one
    ≤max_panel-row fold; the category margin is a second small agg over
    the same cells. Nothing collects a unit's ratings anywhere.
    """
    from .guards import require_bounded_spines

    dec = lambda c: c.cast("decimal(38,0)")
    cells = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.col(rater_col).alias("_r"),
            F.col(value_col).alias("_c"),
        )
        .groupBy("_u", "_c")
        .agg(F.count(F.lit(1)).alias("_nuc"))
    )
    units = cells.groupBy("_u").agg(
        F.sum("_nuc").alias("_m"),
        F.sum(dec(F.col("_nuc")) * dec(F.col("_nuc"))).alias("_sq"),
    )
    # Σ_c n_uc(m_u − n_uc) = m_u² − Σ_c n_uc²
    usable = units.where(F.col("_m") > 1).select(
        "_u",
        "_m",
        (dec(F.col("_m")) * dec(F.col("_m")) - F.col("_sq")).alias("_dis"),
    )
    usable = require_bounded_spines(
        usable, [("_m", max_panel, "_m")], "krippendorff_alpha"
    )
    # dropped-unit count rides IN-PLAN as a 1-row broadcast (r13): the
    # old build ran a dedicated count() job for a literal output column
    drop_cnt = units.agg(
        F.count(F.when(F.col("_m") <= 1, F.lit(1)))
        .cast("long")
        .alias("_n_dropped")
    )
    by_m = usable.groupBy("_m").agg(
        F.count(F.lit(1)).alias("_units"),
        F.sum("_m").alias("_nm"),
        F.sum("_dis").alias("_sm"),
    )
    do_agg = by_m.agg(
        F.sum("_units").alias("n_units"),
        F.sum("_nm").alias("n"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_m").alias("m"),
                    (
                        F.col("_sm").cast("double")
                        / (F.col("_m") - F.lit(1)).cast("double")
                    ).alias("term"),
                )
            )
        ).alias("_terms"),
    ).withColumn(
        "_dosum",
        F.aggregate(F.col("_terms"), F.lit(0.0), lambda a, x: a + x["term"]),
    )
    # category margins over usable units only
    margins = (
        cells.join(usable.select("_u"), "_u")
        .groupBy("_c")
        .agg(F.sum("_nuc").alias("_nc"))
    )
    tot = margins.agg(
        F.sum("_nc").alias("_n2"),
        F.sum(dec(F.col("_nc")) * dec(F.col("_nc"))).alias("_ncsq"),
    )
    out = do_agg.crossJoin(tot).crossJoin(F.broadcast(drop_cnt))
    n = F.col("n")
    nd = n.cast("double")
    de_num = (dec(n) * dec(n) - F.col("_ncsq")).cast("double")
    de = de_num / (nd * (nd - F.lit(1.0)))
    do = F.col("_dosum") / nd
    ok = (n > 1) & (de_num > 0)
    return out.select(
        F.col("n_units").cast("long").alias("n_units"),
        n.cast("long").alias("n_ratings"),
        F.col("_n_dropped").alias("n_dropped"),
        F.round(F.when(ok, F.lit(1.0) - do / de), round_to).alias("alpha"),
    )


def krippendorff_alpha_oracle_sql(
    ratings_sql: str,
    unit_col: str,
    rater_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same integer per-panel-size disagreement sums, same
    m-ordered float fold, same pinned D_e/α tail."""
    return f"""
WITH cells AS MATERIALIZED (
  SELECT {unit_col} AS _u, {value_col} AS _c, CAST(COUNT(*) AS BIGINT) AS _nuc
  FROM ({ratings_sql}) GROUP BY 1, 2
),
units AS MATERIALIZED (
  SELECT _u, CAST(SUM(_nuc) AS BIGINT) AS _m,
         SUM(CAST(_nuc AS HUGEINT) * _nuc) AS _sq
  FROM cells GROUP BY _u
),
usable AS MATERIALIZED (
  SELECT _u, _m, CAST(_m AS HUGEINT) * _m - _sq AS _dis
  FROM units WHERE _m > 1
),
by_m AS (
  SELECT _m, CAST(COUNT(*) AS BIGINT) AS _units,
         CAST(SUM(_m) AS BIGINT) AS _nm, SUM(_dis) AS _sm
  FROM usable GROUP BY _m
),
do_agg AS (
  SELECT CAST(SUM(_units) AS BIGINT) AS n_units,
         CAST(SUM(_nm) AS BIGINT) AS n,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(CAST(_sm AS DOUBLE) / (CAST(_m AS DOUBLE) - 1.0) ORDER BY _m)),
           (a, b) -> a + b) AS _dosum
  FROM by_m
),
margins AS (
  SELECT c._c, CAST(SUM(c._nuc) AS BIGINT) AS _nc
  FROM cells c JOIN usable u ON c._u = u._u
  GROUP BY c._c
),
tot AS (
  SELECT SUM(CAST(_nc AS HUGEINT) * _nc) AS _ncsq FROM margins
),
dropped AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped FROM units WHERE _m <= 1
)
SELECT d.n_units, d.n AS n_ratings, dr.n_dropped,
       ROUND(CASE WHEN d.n > 1
                   AND CAST(CAST(d.n AS HUGEINT) * d.n - t._ncsq AS DOUBLE) > 0
         THEN 1.0 - (d._dosum / CAST(d.n AS DOUBLE))
              / (CAST(CAST(d.n AS HUGEINT) * d.n - t._ncsq AS DOUBLE)
                 / (CAST(d.n AS DOUBLE) * (CAST(d.n AS DOUBLE) - 1.0)))
         END, {round_to}) AS alpha
FROM do_agg d, tot t, dropped dr
"""
