"""Blocked fuzzy matching (entity resolution): approximate string joins
for the dedupe-and-merge workflows the reference's Salesforce/Postgres
sync exists to feed (its exact-key upsert, revtron/database/main.py:88,
assumes keys already reconciled — this operator is how they get
reconciled at scale).

Design: never the naive n² cross join. Candidates come from an
equality **blocking key** (exact column, normalized prefix, phonetic
code, length band — anything cheap and high-recall); the expensive
edit-distance verification runs only inside blocks. Spark's
``levenshtein(l, r, threshold)`` form short-circuits the DP matrix once
the bound is exceeded — always pass the threshold."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fuzzy_self_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_exprs: list[Column | str],
    max_dist: int = 3,
) -> DataFrame:
    """All within-block pairs (id_a < id_b) whose ``text_col`` values are
    within ``max_dist`` edits. Returns (id_a, id_b, dist).

    **Value-space canonicalization**: real corpora have far fewer
    distinct strings than rows, so the edit-distance DP runs on the
    ``distinct (block, text)`` pairs only; id pairs are produced by
    expanding the matched value pairs back through two cheap equi-joins.
    At fixture scale this turns 20M row-pair levenshteins into ~2k
    value-pair levenshteins + a row-generating join — ~30× faster, and
    the same skew logic (value dedup before the quadratic step) is what
    keeps entity resolution tractable on billions of rows."""
    from .dedup import _repartition_for_compute, _spread_if_narrow

    # spread a narrow scan (r13): the id-expansion broadcast joins and
    # the final projection otherwise run on the single scan task of a
    # one-split table (2.2 s at sf0.1); no-op at real scale
    base = _spread_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        *[
            (F.col(e) if isinstance(e, str) else e).alias(f"_b{i}")
            for i, e in enumerate(block_exprs)
        ],
    )
    bcols = [c for c in base.columns if c.startswith("_b")]
    vals = base.select("t", *bcols).distinct()
    if bcols:
        # pin the value self-join's partitioning on the block key (r13):
        # the distinct-value frame is BYTES-small, so AQE coalesced the
        # join to ONE task while its levenshtein COMPUTE is quadratic per
        # block — 2.45 s single-task at sf0.1
        vals = _repartition_for_compute(vals, *bcols)
    l, r = vals.alias("l"), vals.alias("r")
    vcond = F.col("l.t") <= F.col("r.t")
    for c in bcols:
        vcond = vcond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    dist = F.levenshtein(F.col("l.t"), F.col("r.t"), max_dist)
    vpairs = (
        l.join(r, vcond)
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(
            F.col("l.t").alias("t_a"),
            F.col("r.t").alias("t_b"),
            *[F.col(f"l.{c}").alias(f"_v{c}") for c in bcols],
            F.col("dist").cast("long").alias("dist"),
        )
    )
    from functools import reduce

    a, b = base.alias("a"), base.alias("b")
    ja = reduce(
        lambda x, y: x & y,
        [F.col("t_a") == F.col("a.t")] + [F.col(f"_v{c}") == F.col(f"a.{c}") for c in bcols],
    )
    jb = reduce(
        lambda x, y: x & y,
        [F.col("t_b") == F.col("b.t")] + [F.col(f"_v{c}") == F.col(f"b.{c}") for c in bcols],
    )
    expanded = F.broadcast(vpairs).join(a, ja).join(b, jb)
    # each unordered id pair exactly once: distinct value pairs (t_a<t_b)
    # keep every id combination; same-value pairs (t_a==t_b) keep a.id<b.id
    keep = (F.col("t_a") < F.col("t_b")) | (F.col("a.id") < F.col("b.id"))
    return expanded.filter(keep).select(
        F.least("a.id", "b.id").alias("id_a"),
        F.greatest("a.id", "b.id").alias("id_b"),
        "dist",
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    block_on: list[tuple[Column | str, Column | str]],
    max_dist: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Two-table fuzzy equi-block join: rows pair when every blocking
    expression matches exactly and the texts are within ``max_dist``
    edits. Output carries all columns of both sides plus ``dist``.

    The distance threshold lives INSIDE the join condition, not a
    post-join filter: with an outer ``how`` a post-filter would see
    ``dist = levenshtein(text, NULL) = NULL`` on every unmatched row
    and silently drop it — degenerating left/right/full joins to
    inner. In the condition, non-matching pairs simply don't pair and
    outer semantics keep the unmatched row (``dist`` NULL)."""
    lcond = None
    l, r = left.alias("l"), right.alias("r")
    for le, re_ in block_on:
        lc = F.col(f"l.{le}") if isinstance(le, str) else le
        rc = F.col(f"r.{re_}") if isinstance(re_, str) else re_
        term = lc == rc
        lcond = term if lcond is None else (lcond & term)
    dist = F.levenshtein(F.col(f"l.{left_text}"), F.col(f"r.{right_text}"), max_dist)
    cond = lcond & (dist >= 0) & (dist <= max_dist)
    return l.join(r, cond, how).withColumn("dist", dist)


def normalized_key(col: Column | str) -> Column:
    """Cheap high-recall blocking key: lowercase, strip non-alphanumerics.
    (Swap in soundex/metaphone for phonetic blocking — same shape.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), r"[^a-z0-9]", "")
