"""Keyed mutation operators: upsert (merge), update, delete.

These reproduce the reference's write-path semantics
(``/root/reference/revtron/database/main.py:88-117, 250-285``) as pure
DataFrame→DataFrame transforms:

* **upsert** — Postgres ``INSERT ... ON CONFLICT (pk) DO UPDATE SET k =
  coalesce(EXCLUDED.k, t.k)``: match on primary key, update only the
  columns present in the incoming data, and by default an incoming NULL
  does **not** clobber an existing value (``overwrite_with_null=True``
  restores plain overwrite). (main.py:106-113)
* **update** — keyed bulk ``UPDATE t SET <cols> WHERE on = :on``; unlike
  upsert this DOES write NULLs through, and a NULL key matches nothing
  (plain SQL UPDATE semantics). (main.py:250-269)
* **delete** — ``DELETE FROM t WHERE <pred>``: removes rows where the
  predicate is TRUE; rows where it evaluates NULL are KEPT (SQL
  three-valued logic). (main.py:271-285)

Scale notes (100 TB): the merge is a single full-outer sort-merge join on
the key — one shuffle per side, no driver-side chunking (the reference
chunks 1,000 rows/statement serially; Spark partitions replace that).
With a transactional table format (Delta/Iceberg, not in this image) the
same semantics compile to ``MERGE INTO`` with file-level pruning so only
affected files rewrite; this module is the engine-native fallback and the
expression generator is shared either way. Skewed keys are handled by AQE
skew-join splitting (enabled in session.py).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_T_MARK = "__rvt_t__"
_S_MARK = "__rvt_s__"
#: boolean column ``returning=True`` adds: TRUE on rows the source wrote
_HIT = "__rvt_hit__"


class MergeKeyError(ValueError):
    """No/invalid merge key — mirrors the reference's no-PK error
    (``main.py:97-99``)."""


def _key_cond(keys: Sequence[str], null_safe: bool = True) -> Column:
    def eq(k: str) -> Column:
        t, s = F.col(f"t.{k}"), F.col(f"s.{k}")
        return t.eqNullSafe(s) if null_safe else t == s

    return reduce(lambda a, b: a & b, [eq(k) for k in keys])


def _newest_per_key(
    source: DataFrame, keys: Sequence[str], order_col: str | None = None
) -> DataFrame:
    """One row per key: the largest ``order_col`` (the event time) wins,
    ties — or every row, when ``order_col`` is None — broken by the
    remaining columns, largest first, NULLs last. The one newest-per-key
    window of the merges and the sync streams."""
    from pyspark.sql import Window as W

    keys = list(keys)
    first = [] if order_col is None else [order_col]
    rest = [c for c in source.columns if c not in keys and c != order_col]
    order = [F.col(c).desc_nulls_last() for c in first + rest] or [F.lit(1)]
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        source.withColumn("__rvt_rn", F.row_number().over(w))
        .filter(F.col("__rvt_rn") == 1)
        .drop("__rvt_rn")
    )


def dedupe_source(source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Collapse duplicate-key source rows to one deterministic winner
    (ordered by the remaining columns, last wins). A full-outer merge
    against a source with repeated keys would otherwise MULTIPLY target
    rows — Postgres errors with 'cannot affect row a second time'; we
    collapse instead so replayed/overlapping batches stay idempotent."""
    return _newest_per_key(source, keys)


def upsert_merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    overwrite_with_null: bool = False,
    dedupe: bool = True,
    insert_defaults: dict | None = None,
    returning: bool = False,
) -> DataFrame:
    """Merge ``source`` into ``target`` on ``keys``.

    Matched rows: columns present in source are updated —
    ``coalesce(src.c, tgt.c)`` by default, plain ``src.c`` when
    ``overwrite_with_null``. Unmatched source rows insert; unmatched
    target rows pass through. Source columns missing from the target are
    added (additive schema evolution, NULL for pre-existing rows), and
    target columns missing from the source survive untouched.

    ``dedupe`` (default) collapses duplicate source keys first — see
    :func:`dedupe_source`; pass ``dedupe=False`` only when the source is
    provably key-unique and the extra window matters.

    ``returning`` adds a boolean column, TRUE on every row the source
    updated or inserted, for :func:`observe_hits` to aggregate and drop.
    """
    keys = list(keys)
    if not keys:
        raise MergeKeyError("upsert requires at least one key column")
    for k in keys:
        if k not in target.columns or k not in source.columns:
            raise MergeKeyError(f"key column {k!r} missing from target or source")
    if dedupe:
        source = dedupe_source(source, keys)

    t = target.withColumn(_T_MARK, F.lit(1)).alias("t")
    s = source.withColumn(_S_MARK, F.lit(1)).alias("s")
    joined = t.join(s, _key_cond(keys), "full_outer")

    t_present = F.col(f"t.{_T_MARK}").isNotNull()
    s_present = F.col(f"s.{_S_MARK}").isNotNull()
    matched = t_present & s_present

    out_cols: list[Column] = []
    # key order first, then remaining target columns, then new source columns
    ordered = keys + [c for c in target.columns if c not in keys] + [
        c for c in source.columns if c not in target.columns and c not in keys
    ]
    for c in ordered:
        in_t = c in target.columns
        in_s = c in source.columns
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
        elif in_t and in_s:
            updated = (
                F.col(f"s.{c}")
                if overwrite_with_null
                else F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
            )
            out_cols.append(
                F.when(matched, updated)
                .when(s_present, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )
        elif in_t:
            default = (insert_defaults or {}).get(c)
            if default is not None:
                # column absent from the source: newly inserted rows take
                # the declared default (Postgres column-default parity);
                # existing rows keep their value
                out_cols.append(
                    F.when(t_present, F.col(f"t.{c}")).otherwise(F.lit(default)).alias(c)
                )
            else:
                out_cols.append(F.col(f"t.{c}").alias(c))
        else:
            out_cols.append(
                F.when(s_present, F.col(f"s.{c}")).otherwise(F.lit(None)).alias(c)
            )
    if returning:
        out_cols.append(s_present.alias(_HIT))
    return joined.select(*out_cols)


def keyed_update(
    target: DataFrame,
    source: DataFrame,
    on: str | Sequence[str],
    dedupe: bool = True,
    returning: bool = False,
) -> DataFrame:
    """Bulk keyed UPDATE: for target rows whose ``on`` key matches a source
    row, overwrite the source-provided columns (NULLs write through —
    plain UPDATE semantics, unlike upsert). No insert branch. Keys match
    with ``=``, so a NULL key, on either side, updates nothing.

    Mirrors ``Database.update`` (``main.py:250-269``) including multi-column
    ``on`` keys. The reference renames key fields to ``_<col>`` bindparams
    (main.py:260-266) — an SQL-text artifact we don't need. Duplicate
    source keys collapse deterministically (``dedupe``) — a left join
    against repeated keys would multiply target rows.

    ``returning`` adds a boolean column, TRUE on matched rows, for
    :func:`observe_hits` to aggregate and drop.
    """
    on = [on] if isinstance(on, str) else list(on)
    if not on:
        raise MergeKeyError("update requires at least one 'on' column")
    if dedupe:
        source = dedupe_source(source, on)
    set_cols = [c for c in source.columns if c not in on]

    t = target.alias("t")
    s = source.withColumn(_S_MARK, F.lit(1)).alias("s")
    joined = t.join(s, _key_cond(on, null_safe=False), "left_outer")
    matched = F.col(f"s.{_S_MARK}").isNotNull()

    out_cols = []
    for c in target.columns:
        if c in set_cols:
            out_cols.append(
                F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    if returning:
        out_cols.append(matched.alias(_HIT))
    return joined.select(*out_cols)


def delete_where(df: DataFrame, predicate: Column | None) -> DataFrame:
    """SQL DELETE semantics: drop rows where ``predicate`` is TRUE, keep
    rows where it is FALSE **or NULL**. ``predicate=None`` deletes
    everything (``DELETE FROM t`` with no WHERE — main.py:279-283 applies
    the clause only when given)."""
    if predicate is None:
        return df.limit(0)
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def observe_hits(
    df: DataFrame, obs: Observation, keys: Sequence[str] | None = None
) -> DataFrame:
    """The mutations' RETURNING / rowcount analog (``main.py:106, 116``),
    computed by the write itself: attach ``obs`` to the root of the frame
    about to be written, so no second Spark job runs.

    ``n`` counts the rows flagged by ``returning=True`` (every row when
    ``df`` has no flag column); ``keys`` collects the distinct ``keys``
    of those rows as structs, in no particular order. For an upsert that
    is every incoming key, inserted or updated — Postgres ``INSERT .. ON
    CONFLICT DO UPDATE .. RETURNING pk``. The flag column is dropped
    above the observation. The observation must sit at the root: PySpark
    4.1 cannot read one whose subtree the optimizer or AQE replaced by
    an empty relation (a ``limit(0)``, a join side found empty), while a
    root observation reports ``n = 0`` then."""
    hit = F.col(_HIT) if _HIT in df.columns else F.lit(True)
    aggs = [F.count_if(hit).alias("n")]
    if keys:
        aggs.append(F.collect_set(F.when(hit, F.struct(*keys))).alias("keys"))
    return df.observe(obs, *aggs).drop(_HIT)


def upsert_merge_many(
    batches: Sequence[DataFrame],
    keys: Sequence[str],
    overwrite_with_null: bool = False,
) -> DataFrame:
    """Fold N same-schema batches through the keyed upsert in ONE
    shuffle (later batches win) — equivalent to iterating
    ``upsert_merge`` left-to-right, which costs a full-outer join (and,
    because the coalesced key is a new attribute, a fresh exchange) per
    batch: 4× the shuffles on a 3-window replay, 12 Exchange operators
    vs 2 in the physical plan.

    Formulation: tag each batch with its index, union-all, and per
    column take ``max_by(col, batch_idx)`` — with the ordering key
    nulled out where the column is NULL in null-preserving mode, so an
    incoming NULL never clobbers an older value (the reference's
    ``coalesce(EXCLUDED.k, t.k)`` semantics, main.py:106-113, folded
    across the whole history). Duplicate keys *within* one batch are
    ambiguous exactly as they are for Postgres upserts — dedupe
    per-batch first if that matters."""
    if not batches:
        raise MergeKeyError("upsert_merge_many needs at least one batch")
    keys = list(keys)
    tagged = [
        b.withColumn("__rvt_b", F.lit(i).cast("long")) for i, b in enumerate(batches)
    ]
    allb = reduce(lambda a, b: a.unionByName(b), tagged)
    cols = [c for c in batches[0].columns if c not in keys]
    aggs = []
    for c in cols:
        if overwrite_with_null:
            aggs.append(F.expr(f"max_by(`{c}`, __rvt_b)").alias(c))
        else:
            aggs.append(
                F.expr(
                    f"max_by(`{c}`, CASE WHEN `{c}` IS NOT NULL THEN __rvt_b END)"
                ).alias(c)
            )
    return allb.groupBy(*keys).agg(*aggs)
