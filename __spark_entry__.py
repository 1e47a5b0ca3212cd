"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query through the Engine;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-pipeline extension surface); ``oracle_sql()``
holds the DuckDB-equivalent ANSI SQL for every SQL-expressible one.

Determinism rules used throughout (so value hashes match the oracle):
- every computed column is aliased identically on both sides;
- timestamps are compared as epoch microseconds (``unix_micros`` /
  ``epoch_us``) — engine-neutral integers;
- double aggregates are rounded to 2 decimals, per-row doubles to 6;
- cosine similarities use quantized int-exact arithmetic
  (see ``revtron_utils_spark/functions/vectors.py``) so float results
  are bit-identical across engines;
- every top-k orders by a unique tiebreaker.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from revtron_utils_spark import Engine, upsert_merge, keyed_update, delete_where, compile_where
from revtron_utils_spark.io import read_table
from revtron_utils_spark.functions import text as TX
from revtron_utils_spark.functions import vectors as VX
from revtron_utils_spark.operators import dedup as DD
from revtron_utils_spark.operators import similarity as SIM

SF_DEFAULT = "/root/testdata/sf0.001"


def _prep(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the fixture parquet stores naive timestamp[us]; without this Spark 4
    # infers TIMESTAMP_NTZ, which unix_micros/window/session_window reject
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    return read_table(spark, sf_dir, name)


def _copurchase_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-nearest-partner co-purchase graph shared by the graph-family
    gates (triangle_counts, label_propagation, link_prediction,
    clustering_coefficient, community_quality): two parts are adjacent
    when some order contains both, and each part keeps only its 10
    strongest partners (co-occurrence count desc, deterministic hash
    tie-break).

    Built shuffle-lean (optimization guide §2.4): items are collected
    per order (one exchange), unordered pairs are expanded with
    higher-order array functions — pair multiplicity cnt(x)*cnt(y) is
    exactly the lineitem-self-join's row-pair count, so results are
    hash-identical to the oracle's join formulation — and a single
    hash(id_a) exchange then serves BOTH the (id_a, id_b) count
    aggregate and the top-10 window (hash(id_a) satisfies the
    aggregate's clustering requirement). Old plan: self-join + 3
    exchanges + 2 sort-merge sorts; this plan: 2 exchanges, no join.
    """
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("xs"))
    pair_expr = (
        "flatten(transform(xs, x -> transform(filter(xs, y -> y > x), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )
    pr = grouped.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    pairs = (
        pr.repartition("id_a").groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("w"))
    )
    tiebreak = (
        F.col("id_a") * F.lit(2654435761) + F.col("id_b") * F.lit(40503)
    ) % F.lit(999999937)
    w = Window.partitionBy("id_a").orderBy(
        F.col("w").desc(), tiebreak.asc(), F.col("id_b")
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 10)
        .select("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# entry: flagship query through the Engine (milestone 0)
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    _prep(spark)
    eng = Engine(spark)
    eng.attach_dir(SF_DEFAULT)
    return eng.get(
        "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"],
        where=[
            {"l_shipdate": {"operator": "between", "value": ["1995-01-01", "1997-12-31"]}},
            {"l_returnflag": "R"},
        ],
        sort_by="l_extendedprice",
        ascending=False,
        limit=10,
    )


# --------------------------------------------------------------------------
# query registry: name -> (spark_callable, oracle_sql | None)
# --------------------------------------------------------------------------

_STOPWORDS_SQL = "('" + "','".join(TX.STOPWORDS) + "')"
_MARKER_SQL = {lang: "('" + "','".join(ms) + "')" for lang, ms in TX.LANG_MARKERS.items()}
_QUANT = "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000))"
from revtron_utils_spark.operators.curation import (  # noqa: E402
    EMAIL_RE as CU_EMAIL_RE,
    PHONE_RE as CU_PHONE_RE,
    SSN_RE as CU_SSN_RE,
)


def q_flagship(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1995-01-01", "1997-12-31")
            & (F.col("l_returnflag") == "R")
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


SQL_FLAGSHIP = """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
WHERE l_shipdate BETWEEN '1995-01-01' AND '1997-12-31' AND l_returnflag = 'R'
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
"""


def q_where_eq(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "lineitem", columns=["l_orderkey", "l_linenumber", "l_quantity"], where={"l_returnflag": "R"}
    )


SQL_WHERE_EQ = "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'"


def q_where_in(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "lineitem",
        columns=["l_orderkey", "l_linenumber"],
        where={"l_linestatus": {"operator": "in", "value": ["O"]}},
    )


SQL_WHERE_IN = "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linestatus IN ('O')"


def q_where_not_in(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "orders",
        columns=["o_orderkey"],
        where={"o_orderpriority": {"operator": "not in", "value": ["1-URGENT", "2-HIGH"]}},
    )


SQL_WHERE_NOT_IN = (
    "SELECT o_orderkey FROM orders WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')"
)


def q_where_like(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "part",
        columns=["p_partkey", "p_name"],
        where={"p_name": {"operator": "like", "value": "%widget%"}},
    )


SQL_WHERE_LIKE = "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%widget%'"


def q_where_not_like(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "part",
        columns=["p_partkey"],
        where={"p_name": {"operator": "not like", "value": "%bolt%"}},
    )


SQL_WHERE_NOT_LIKE = "SELECT p_partkey FROM part WHERE p_name NOT LIKE '%bolt%'"


def q_where_null_checks(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.agg(
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).cast("long").alias("n_null_props"),
        F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0)).cast("long").alias("n_value"),
    )


SQL_WHERE_NULL_CHECKS = """
SELECT CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
       CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value
FROM events
"""


def q_where_between(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
        where={"l_quantity": {"operator": "between", "value": [10, 20]}},
    )


SQL_WHERE_BETWEEN = (
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity BETWEEN 10 AND 20"
)


def q_where_not_between(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "lineitem",
        columns=["l_orderkey", "l_linenumber"],
        where={"l_extendedprice": {"operator": "not between", "value": [1000.0, 80000.0]}},
    )


SQL_WHERE_NOT_BETWEEN = (
    "SELECT l_orderkey, l_linenumber FROM lineitem "
    "WHERE l_extendedprice NOT BETWEEN 1000.0 AND 80000.0"
)


def q_where_theta(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_discount", "l_tax"],
        where=[
            {"l_discount": {"operator": ">=", "value": 0.05}},
            {"l_tax": {"operator": "<", "value": 0.04}},
        ],
    )


SQL_WHERE_THETA = (
    "SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem "
    "WHERE l_discount >= 0.05 AND l_tax < 0.04"
)


def q_where_or(spark, sf):
    """DSL extension beyond the reference's AND-only mini-language:
    nested or-groups compile to a pushable disjunction."""
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "orders",
        columns=["o_orderkey"],
        where=[
            {"o_orderdate": {"operator": ">=", "value": "1996-01-01"}},
            {
                "or": [
                    {"o_orderpriority": "1-URGENT"},
                    [
                        {"o_orderstatus": "F"},
                        {"o_totalprice": {"operator": ">", "value": 250000}},
                    ],
                ]
            },
        ],
    )


SQL_WHERE_OR = """
SELECT o_orderkey FROM orders
WHERE o_orderdate >= '1996-01-01'
  AND (o_orderpriority = '1-URGENT' OR (o_orderstatus = 'F' AND o_totalprice > 250000))
"""


def q_sort_limit_offset(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.get(
        "orders",
        columns=["o_orderkey", "o_totalprice"],
        sort_by="o_orderkey",
        ascending=True,
        limit=10,
        offset=10,
    )


SQL_SORT_LIMIT_OFFSET = (
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 10"
)


def q_count_star(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n"))


SQL_COUNT_STAR = "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem"


def q_table_size_profile(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.unix_micros(F.min("ts")).alias("min_us"),
        F.unix_micros(F.max("ts")).alias("max_us"),
    ).withColumn("n_columns", F.lit(6).cast("long"))


SQL_TABLE_SIZE_PROFILE = """
SELECT CAST(count(*) AS BIGINT) AS n_records, epoch_us(min(ts)) AS min_us,
       epoch_us(max(ts)) AS max_us, CAST(6 AS BIGINT) AS n_columns
FROM events
"""


def q_groupby_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_GROUPBY_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 2) AS avg_qty,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube(spark, sf):
    od = _t(spark, sf, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_pivot(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


SQL_PIVOT = """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
FROM lineitem GROUP BY l_returnflag
"""


def q_distinct_counts(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
    )


SQL_DISTINCT_COUNTS = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS n_part_supp
FROM lineitem
"""


def q_stats_moments(spark, sf):
    """Second-moment statistics per group (stddev/variance/correlation/
    covariance) — the statistical-profile layer of table profiling.
    (Reference computes only count/min/max, salesforce/main.py:195.)"""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
    )


SQL_STATS_MOMENTS = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
       ROUND(VAR_SAMP(l_extendedprice), 2) AS var_price,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS cov_qty_disc
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles(spark, sf):
    """Exact interpolated percentiles per group (== DuckDB
    `quantile_cont`) via `operators/quantiles.exact_quantiles` —
    histogram refinement with every stage combinable. The built-in
    `F.percentile` array aggregate buffers every group value on one
    reducer (3 tasks hold the whole table at 100 TB); the histogram
    plan's shuffle is O(groups × bins) and its differential test proves
    value equality with the built-in."""
    from revtron_utils_spark.operators.quantiles import exact_quantiles

    li = _t(spark, sf, "lineitem").withColumn(
        # quantile over integer CENTS: bin bounds and the rank
        # interpolation (frac ∈ {0,.25,.5,.75} × integer spans) are then
        # all exactly representable doubles, so the pre-rounding value is
        # bit-identical to DuckDB's quantile_cont — dollars interpolation
        # differs by an ulp between engines and flips ROUND at .x5
        # boundaries (observed at sf0.001: p75 81364.2 vs 81364.3)
        "_cents",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    )
    q = exact_quantiles(
        li,
        "_cents",
        [0.25, 0.5, 0.75, 0.99],
        by=["l_returnflag"],
        # integer cents need finer initial log-bins than dollars — at 512
        # bins/efold the wider integer spacing leaves multi-valued
        # quantile bins and pays 2-3 extra refinement driver-rounds
        bins_per_efold=2048,
    )
    return q.select(
        "l_returnflag",
        F.round(F.col("p25") / 100, 2).alias("p25"),
        F.round(F.col("p50") / 100, 2).alias("p50"),
        F.round(F.col("p75") / 100, 2).alias("p75"),
        F.round(F.col("p99") / 100, 2).alias("p99"),
    )


def q_grouped_linreg(spark, sf):
    """Per-group OLS fit (`profile.grouped_linreg`): extended price
    (cents) regressed on quantity per return flag — slope recovers the
    average unit price. One map-side-combined aggregate over five
    moment sums (Σx²/Σxy/Σy² in DECIMAL(38,0) — int64 overflows at
    ~10⁶ rows of 10⁷-unit values), fixed-order closed-form float math:
    hash-matches the oracle's HUGEINT-exact twin."""
    from revtron_utils_spark.operators.profile import grouped_linreg

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return grouped_linreg(li, "qty", "cents", by=["l_returnflag"])


def _sql_grouped_linreg() -> str:
    from revtron_utils_spark.operators.profile import grouped_linreg_oracle_sql

    return grouped_linreg_oracle_sql(
        "(SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)",
        "qty",
        "cents",
        by=["l_returnflag"],
    )


SQL_GROUPED_LINREG = _sql_grouped_linreg()


def q_contingency_chi2(spark, sf):
    """Pearson chi-square contribution table
    (`profile.contingency_chi2`): return flag × line status — the
    categorical-independence / label-drift screen. One count aggregate
    plus O(categories) broadcast joins, zero-cell margins included;
    exact integer counts and a fixed float expression hash-match the
    oracle."""
    from revtron_utils_spark.operators.profile import contingency_chi2

    return contingency_chi2(_t(spark, sf, "lineitem"), "l_returnflag", "l_linestatus")


def _sql_contingency_chi2() -> str:
    from revtron_utils_spark.operators.profile import contingency_chi2_oracle_sql

    return contingency_chi2_oracle_sql("lineitem", "l_returnflag", "l_linestatus")


SQL_CONTINGENCY_CHI2 = _sql_contingency_chi2()


def q_robust_stats(spark, sf):
    """Outlier-robust location stats (`quantiles.robust_stats`):
    winsorized/trimmed means clipped at the interpolated p5/p95 and the
    MAD, per return flag — the heavy-tail-safe statistics corpus
    filtering uses instead of mean/stddev. All distributed sums run in
    exact integer cents; thresholds come from the same histogram-
    refinement quantiles the `percentiles` gate proves equal to
    quantile_cont, so the whole row hash-matches the oracle."""
    from revtron_utils_spark.operators.quantiles import robust_stats

    li = _t(spark, sf, "lineitem").withColumn(
        "_cents", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    r = robust_stats(li, "_cents", by=["l_returnflag"], lo=0.05, hi=0.95)
    return r.select(
        "l_returnflag",
        "n",
        F.round(F.col("mean") / 100, 2).alias("mean"),
        F.round(F.col("winsor_mean") / 100, 2).alias("winsor_mean"),
        F.round(F.col("trimmed_mean") / 100, 2).alias("trimmed_mean"),
        F.round(F.col("mad") / 100, 2).alias("mad"),
    )


SQL_ROBUST_STATS = """
WITH c AS (
  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem
), thr AS (
  SELECT g, quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.5) AS med,
         quantile_cont(x, 0.95) AS hi
  FROM c GROUP BY g
), agg AS (
  SELECT c.g AS g, COUNT(*) AS n, SUM(x) AS s,
         SUM(CASE WHEN x >= lo AND x <= hi THEN x ELSE 0 END) AS s_in,
         SUM(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0 END) AS n_in,
         SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS n_lo,
         SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS n_hi,
         ANY_VALUE(lo) AS lo, ANY_VALUE(hi) AS hi
  FROM c JOIN thr ON c.g = thr.g GROUP BY c.g
), mad AS (
  SELECT c.g AS g,
         quantile_cont(abs(x * 2 - CAST(round(med * 2) AS BIGINT)), 0.5) / 2 AS mad
  FROM c JOIN thr ON c.g = thr.g GROUP BY c.g
)
SELECT a.g AS l_returnflag, a.n AS n,
       ROUND(ROUND(CAST(a.s AS DOUBLE) / a.n, 6) / 100, 2) AS mean,
       ROUND(ROUND((CAST(a.s_in AS DOUBLE) + a.n_lo * a.lo + a.n_hi * a.hi) / a.n, 6) / 100, 2) AS winsor_mean,
       ROUND(ROUND(CAST(a.s_in AS DOUBLE) / a.n_in, 6) / 100, 2) AS trimmed_mean,
       ROUND(ROUND(m.mad, 6) / 100, 2) AS mad
FROM agg a JOIN mad m ON a.g = m.g
"""


SQL_PERCENTILES = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25) / 100, 2) AS p25,
       ROUND(QUANTILE_CONT(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) / 100, 2) AS p50,
       ROUND(QUANTILE_CONT(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75) / 100, 2) AS p75,
       ROUND(QUANTILE_CONT(CAST(round(l_extendedprice * 100) AS BIGINT), 0.99) / 100, 2) AS p99
FROM lineitem GROUP BY l_returnflag
"""


def q_conditional_agg(spark, sf):
    """Filtered/conditional aggregation (CASE-gated sums and counts) —
    map-side combinable, no extra pass per condition."""
    od = _t(spark, sf, "orders")
    big = F.when(F.col("o_totalprice") > 150000, 1)
    fprice = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return od.groupBy("o_orderpriority").agg(
        F.count(big).alias("n_big"),
        F.round(F.avg(fprice), 2).alias("avg_f_price"),
        F.round(F.sum(fprice), 2).alias("sum_f_price"),
    )


SQL_CONDITIONAL_AGG = """
SELECT o_orderpriority,
       CAST(COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS BIGINT) AS n_big,
       ROUND(AVG(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS avg_f_price,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS sum_f_price
FROM orders GROUP BY o_orderpriority
"""


def q_value_histogram(spark, sf):
    """Fixed-width binning over a metric column — distribution profiling
    for pipeline data-quality dashboards."""
    ev = _t(spark, sf, "events")
    binc = F.floor(F.col("value") / 100).cast("long").alias("bin")
    return (
        ev.groupBy(binc)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


SQL_VALUE_HISTOGRAM = """
SELECT CAST(FLOOR(value / 100) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 6) AS lo,
       ROUND(MAX(value), 6) AS hi
FROM events GROUP BY 1
"""


def q_data_quality(spark, sf):
    """Declarative data-quality report — every rule evaluated in ONE
    map-side-combinable aggregate pass (`operators/quality.py`)."""
    from revtron_utils_spark.operators import quality as Q

    li = _t(spark, sf, "lineitem")
    return Q.check(
        li,
        [
            Q.not_null("l_shipdate"),
            Q.in_range("l_quantity", 1, 50),
            Q.in_range("l_discount", 0.0, 0.1),
            Q.accepted_values("l_returnflag", ["A", "N", "R"]),
            Q.non_negative("l_tax"),
        ],
    )


SQL_DATA_QUALITY = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT) AS r0,
    CAST(COUNT(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 END) AS BIGINT) AS r1,
    CAST(COUNT(CASE WHEN NOT COALESCE(l_discount BETWEEN 0.0 AND 0.1, FALSE) THEN 1 END) AS BIGINT) AS r2,
    CAST(COUNT(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 END) AS BIGINT) AS r3,
    CAST(COUNT(CASE WHEN NOT COALESCE(l_tax >= 0, FALSE) THEN 1 END) AS BIGINT) AS r4
  FROM lineitem
)
SELECT 'not_null' AS rule, 'l_shipdate' AS column, r0 AS violations, n AS n_rows FROM agg
UNION ALL SELECT 'in_range', 'l_quantity', r1, n FROM agg
UNION ALL SELECT 'in_range', 'l_discount', r2, n FROM agg
UNION ALL SELECT 'accepted_values', 'l_returnflag', r3, n FROM agg
UNION ALL SELECT 'non_negative', 'l_tax', r4, n FROM agg
"""


def q_unpivot(spark, sf):
    """Wide→long reshape (unpivot/melt) — the inverse of q_pivot.
    (Reference exposes reshaping only via raw SQL, main.py:287-293.)"""
    li = _t(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price"], "metric", "val"
    )


SQL_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, val
FROM wide UNPIVOT (val FOR metric IN (sum_qty, sum_price))
"""


def q_date_parts(spark, sf):
    """Calendar decomposition + per-(year, month) rollup of order volume
    and revenue."""
    od = _t(spark, sf, "orders")
    return od.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


SQL_DATE_PARTS = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1, 2
"""


def q_approx_distinct(spark, sf):
    """HyperLogLog++ approximate distinct — engine-specific sketch, so
    rows-only (the exact twin is q_distinct_counts)."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9))").alias("price_pcts"),
    )


def q_join_q3(spark, sf):
    cu, od, li = (_t(spark, sf, n) for n in ("customer", "orders", "lineitem"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu.filter(F.col("c_mktsegment") == "BUILDING")), od.o_custkey == cu.c_custkey)
        .filter((F.col("o_orderdate") < "1999-01-01") & (F.col("l_shipdate") > "1996-01-01"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


SQL_JOIN_Q3 = """
SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1999-01-01' AND l_shipdate > '1996-01-01'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_join_q5(spark, sf):
    rg, na, cu, od, li = (
        _t(spark, sf, n) for n in ("region", "nation", "customer", "orders", "lineitem")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(rg.filter(F.col("r_name") == "ASIA")), na.n_regionkey == rg.r_regionkey)
        .filter(F.col("o_orderdate") < "2000-01-01")
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


SQL_JOIN_Q5 = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region JOIN nation ON n_regionkey = r_regionkey
 JOIN customer ON c_nationkey = n_nationkey
 JOIN orders ON o_custkey = c_custkey
 JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA' AND o_orderdate < '2000-01-01'
GROUP BY n_name
"""


def q_semi_join(spark, sf):
    od, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    urgent = od.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return li.join(
        F.broadcast(urgent), li.l_orderkey == urgent.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")


SQL_SEMI_JOIN = """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join(spark, sf):
    cu, od = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_anti").select("c_custkey")


SQL_ANTI_JOIN = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_window_topk(spark, sf):
    od = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        od.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
"""


def q_window_lag(spark, sf):
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id", "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )


SQL_WINDOW_LAG = """
SELECT event_id, user_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
FROM events
"""


def q_window_running(spark, sf):
    """Running (cumulative) revenue per customer over order date."""
    od = _t(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


SQL_WINDOW_RUNNING = """
SELECT o_orderkey, o_custkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def q_window_rank_ntile(spark, sf):
    """dense_rank + ntile over the same ordering (deterministic: unique
    tiebreaker)."""
    od = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return od.select(
        "o_orderkey",
        "o_orderpriority",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


SQL_WINDOW_RANK_NTILE = """
SELECT o_orderkey, o_orderpriority,
       CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS drank,
       CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
FROM orders
"""


def q_vocab_df(spark, sf):
    """Corpus vocabulary with document frequency and total term count —
    the explode-aggregate pattern (one shuffle on the term)."""
    docs = _t(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    return toks.groupBy(F.lower("tok").alias("term")).agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("total_count"),
    )


SQL_VOCAB_DF = r"""
SELECT lower(tok) AS term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS total_count
FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
GROUP BY 1
"""


def q_tfidf_top_term(spark, sf):
    """Each document's highest-scoring term by a log-free tf-idf variant
    (tf × N/df — rational arithmetic, engine-deterministic; log() is not
    correctly-rounded across libms so it can't be oracle-hashed)."""
    docs = _t(spark, sf, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok")).select(
        "doc_id", F.lower("tok").alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "score", F.round(F.col("tf") * F.lit(float(n_docs)) / F.col("df"), 6)
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "score")
    )


SQL_TFIDF_TOP_TERM = r"""
WITH toks AS (
  SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (SELECT CAST(count(*) AS DOUBLE) FROM documents) / df.df, 6) AS score
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM scored
) WHERE rn = 1
"""


def q_set_ops(spark, sf):
    cu, od = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    building = cu.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    have_orders = od.select(F.col("o_custkey").alias("c_custkey"))
    return building.intersect(have_orders)


SQL_SET_OPS = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders
"""


def q_except(spark, sf):
    """EXCEPT (distinct): customers with a finished order but no open one.
    (Reference exposes set ops only via raw-SQL passthrough,
    revtron/database/main.py:287-293; Spark's `subtract` is first-class.)"""
    od = _t(spark, sf, "orders")
    fin = od.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    opn = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return fin.subtract(opn)


SQL_EXCEPT = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_null_ordering(spark, sf):
    """Explicit NULLS FIRST ordering over a derived nullable column —
    null-sort parity across engines."""
    ev = _t(spark, sf, "events")
    v = F.when(F.col("value") > 300, None).otherwise(F.col("value")).alias("v")
    return (
        ev.select("event_id", v)
        .orderBy(F.col("v").asc_nulls_first(), "event_id")
        .limit(50)
    )


SQL_NULL_ORDERING = """
SELECT event_id, CASE WHEN value > 300 THEN NULL ELSE value END AS v
FROM events ORDER BY v ASC NULLS FIRST, event_id LIMIT 50
"""


def q_null_safe_join(spark, sf):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the semantics a plain
    equi-join silently loses."""
    ev = _t(spark, sf, "events")
    band = F.when(F.col("value") > 300, None).otherwise(
        F.floor(F.col("value") / 50).cast("long")
    )
    left = ev.select("event_id", band.alias("band"))
    right = left.select("band").distinct().withColumn(
        "band_label",
        F.coalesce(F.concat(F.lit("b"), F.col("band").cast("string")), F.lit("b_null")),
    )
    return left.join(right, left.band.eqNullSafe(right.band)).select(
        "event_id", "band_label"
    )


SQL_NULL_SAFE_JOIN = """
WITH l AS (
  SELECT event_id,
         CASE WHEN value > 300 THEN NULL ELSE CAST(FLOOR(value / 50) AS BIGINT) END AS band
  FROM events
), r AS (
  SELECT band, COALESCE('b' || CAST(band AS VARCHAR), 'b_null') AS band_label
  FROM (SELECT DISTINCT band FROM l)
)
SELECT l.event_id, r.band_label FROM l JOIN r ON l.band IS NOT DISTINCT FROM r.band
"""


def q_curation_pipeline(spark, sf):
    """The north-star story end-to-end: dedup (planted copies) → quality
    gate → language gate → token accounting, composed from the engine's
    operators in one plan."""
    allv = _docs_with_planted_dups(spark, sf)
    deduped = DD.exact_dedup(allv, "text", "doc_id")
    scored = deduped.select(
        "doc_id",
        "text",
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("lang_pred"),
        TX.token_count("text").cast("long").alias("n_tokens"),
    )
    return scored.filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")).select(
        "doc_id", "quality", "n_tokens"
    )


SQL_CURATION_PIPELINE = rf"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
), deduped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                              ORDER BY doc_id) AS rn
    FROM all_docs) WHERE rn = 1
), toks AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM deduped
), scored AS (
  SELECT doc_id,
    ROUND((
      LEAST(length(text) / 200.0, 1.0)
      + LEAST((CAST(len(list_filter(t, x -> lower(x) IN {_STOPWORDS_SQL})) AS DOUBLE)
               / GREATEST(len(t), 1)) * 4.0, 1.0)
      + GREATEST(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / GREATEST(length(text), 1)) * 4.0)
    ) / 3.0, 6) AS quality,
    len(list_filter(t, x -> lower(x) IN {_MARKER_SQL['de']})) AS s_de,
    len(list_filter(t, x -> lower(x) IN {_MARKER_SQL['en']})) AS s_en,
    len(list_filter(t, x -> lower(x) IN {_MARKER_SQL['es']})) AS s_es,
    len(list_filter(t, x -> lower(x) IN {_MARKER_SQL['fr']})) AS s_fr,
    CAST(len(t) AS BIGINT) AS n_tokens
  FROM toks
), flagged AS (
  SELECT doc_id, quality, n_tokens,
    CASE WHEN s_de > 0 AND s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en > 0 AND s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es > 0 AND s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
         WHEN s_fr > 0 AND s_fr = GREATEST(s_de, s_en, s_es, s_fr) THEN 'fr'
         ELSE 'und' END AS lang_pred
  FROM scored
)
SELECT doc_id, quality, n_tokens FROM flagged
WHERE quality >= 0.5 AND lang_pred = 'en'
"""


def q_union_distinct(spark, sf):
    na, rg = _t(spark, sf, "nation"), _t(spark, sf, "region")
    return (
        na.select(F.col("n_nationkey").cast("long").alias("key"))
        .union(rg.select(F.col("r_regionkey").cast("long").alias("key")))
        .distinct()
    )


SQL_UNION_DISTINCT = """
SELECT CAST(n_nationkey AS BIGINT) AS key FROM nation
UNION
SELECT CAST(r_regionkey AS BIGINT) AS key FROM region
"""


RAW_SQL = (
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
    "ROUND(SUM(o_totalprice), 2) AS total FROM orders GROUP BY o_orderpriority"
)


def q_raw_sql(spark, sf):
    eng = Engine(spark)
    eng.attach_dir(sf)
    return eng.execute_raw(RAW_SQL)


def q_json_extract(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


SQL_JSON_EXTRACT = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"
)


def q_date_window(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") <= "2024-01-15 23:59:59")
    ).select("event_id", F.unix_micros("ts").alias("us"), "value")


SQL_DATE_WINDOW = """
SELECT event_id, epoch_us(ts) AS us, value FROM events
WHERE ts >= '2024-01-05' AND ts <= '2024-01-15 23:59:59'
"""


def q_tumbling_counts(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "event_type", "n", "sv")
    )


SQL_TUMBLING_COUNTS = """
SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
       CAST(count(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sv
FROM events GROUP BY 1, 2
"""


def q_profile(spark, sf):
    """Single-pass per-column profile (exact distincts so the oracle can
    check it; production default is HLL++)."""
    from revtron_utils_spark.operators.profile import profile_table

    li = _t(spark, sf, "lineitem").select("l_quantity", "l_returnflag", "l_shipdate")
    return profile_table(li, approx_distinct=False)


SQL_PROFILE = """
SELECT 'l_quantity' AS column, 'double' AS dtype, 'numeric' AS stat_kind,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       ROUND(CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS null_rate,
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(MIN(l_quantity) AS DOUBLE) AS min, CAST(MAX(l_quantity) AS DOUBLE) AS max,
       ROUND(AVG(l_quantity), 6) AS mean
FROM lineitem
UNION ALL
SELECT 'l_returnflag', 'string', 'string_len', CAST(count(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       ROUND(CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6),
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
       CAST(MIN(length(l_returnflag)) AS DOUBLE), CAST(MAX(length(l_returnflag)) AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', 'timestamp', 'other', CAST(count(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       ROUND(CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6),
       CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM lineitem
"""


def q_sessionize(spark, sf):
    """Sessionization (the lag+cumsum pattern): a new session starts when
    a user's inter-event gap exceeds 30 minutes. One window shuffle on
    user_id; the same logic streams via session_window in Structured
    Streaming."""
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_s = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_s)
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("session_idx"),
    )


SQL_SESSIONIZE = """
SELECT event_id, user_id,
       CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 30 * 60 * 1000000
              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events)
"""


def q_session_agg(spark, sf):
    """Per-user session aggregation via Spark's native session_window
    (gap-based dynamic windows — the same operator Structured Streaming
    uses for stateful sessionization). Oracle: the lag+cumsum session
    assignment grouped per session — both define a session break as a
    >30 min silence, so starts/counts/sums agree exactly."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            "n",
            "sv",
        )
    )


SQL_SESSION_AGG = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 30 * 60 * 1000000
              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, epoch_us(MIN(ts)) AS start_us,
       CAST(count(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sv
FROM sess GROUP BY user_id, sid
"""


def q_bpe_tokens(spark, sf):
    """BPE-ish sub-word token counting (regex word/digit/symbol pieces)."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.size(TX.bpe_ish_tokens("text")).cast("long").alias("n_pieces")
    )


SQL_BPE_TOKENS = rf"""
SELECT doc_id, CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS BIGINT) AS n_pieces
FROM documents
"""


def q_asof_join(spark, sf):
    """As-of join (union+window form, one shuffle): each event picks up
    the latest hourly per-type rate at or before its timestamp."""
    from revtron_utils_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    rates = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("rate_ts"))
        .agg(F.round(F.avg("value"), 6).alias("rate"))
    )
    joined = asof_join(ev, rates, on="event_type", left_ts="ts", right_ts="rate_ts")
    return joined.select("event_id", F.col("rate_r").alias("rate"))


SQL_ASOF_JOIN = """
WITH rates AS (
  SELECT event_type, date_trunc('hour', ts) AS rate_ts, ROUND(AVG(value), 6) AS rate
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, r.rate
FROM events e ASOF LEFT JOIN rates r
  ON e.event_type = r.event_type AND e.ts >= r.rate_ts
"""


def q_asof_forward(spark, sf):
    """Forward as-of join: each event picks up the EARLIEST hourly rate
    at or after its timestamp (same union+window single-shuffle form as
    the backward variant; oracled by DuckDB's native ASOF JOIN)."""
    from revtron_utils_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    rates = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("rate_ts"))
        .agg(F.round(F.avg("value"), 6).alias("rate"))
    )
    joined = asof_join(
        ev, rates, on="event_type", left_ts="ts", right_ts="rate_ts", direction="forward"
    )
    return joined.select("event_id", F.col("rate_r").alias("rate"))


SQL_ASOF_FORWARD = """
WITH rates AS (
  SELECT event_type, date_trunc('hour', ts) AS rate_ts, ROUND(AVG(value), 6) AS rate
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, r.rate
FROM events e ASOF LEFT JOIN rates r
  ON e.event_type = r.event_type AND e.ts <= r.rate_ts
"""


def q_grouping_sets(spark, sf):
    """Irregular GROUPING SETS (not a rollup/cube lattice): per-flag,
    per-status, and grand-total aggregates in one pass — Catalyst plans
    a single Expand + hash aggregate. Uses the Spark 4 DataFrame
    groupingSets API (no temp-view catalog side effect)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "n", "sum_qty")
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def _stream_staging(tag: str) -> str:
    """One deterministic staging dir per (tag, process): wiped before
    each run so repeated invocations (pytest sweep, driver gate, dev
    loops) don't accumulate parquet copies under /tmp — the pid suffix
    keeps concurrent processes from rmtree-ing each other mid-run;
    within a process, invocations are serial (awaitTermination returns
    before the caller does), so wipe-and-rewrite is safe. Staging dirs
    left by DEAD processes (SIGKILL/OOM skips atexit) are reaped."""
    import atexit
    import os as _os
    import shutil
    import tempfile
    from pathlib import Path as _Path

    base = _Path(tempfile.gettempdir())
    tmp = str(base / f"{tag}_{_os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    for stale in base.glob(f"{tag}_*"):
        try:
            pid = int(stale.name.rsplit("_", 1)[1])
        except ValueError:
            continue
        if pid == _os.getpid():
            continue
        try:
            _os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # someone else's live process
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


def _drain(spark, name, q):
    """Wait for the availableNow query ``q`` to finish (stopping it and
    raising past 600 s); returns its memory-sink table."""
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"{name}: availableNow stream exceeded 600s")
    return spark.table(q.name)


def _drain_append(spark, name, df, table, tmp):
    """Run the streaming frame ``df`` to completion into the append-mode
    memory sink ``table``, checkpointing under ``tmp``."""
    from revtron_utils_spark.streaming.runner import run_available_now

    writer = df.writeStream.format("memory").queryName(table).outputMode("append")
    return _drain(spark, name, run_available_now(writer, f"{tmp}/ck"))


def q_streaming_sessionize(spark, sf):
    """End-to-end Structured Streaming in the driver gate: the
    applyInPandasWithState sessionizer run to completion (availableNow)
    over the events table, returning the closed sessions from the
    memory sink. Rows-only (the closed-session set depends on the final
    watermark, which SQL can't express)."""
    from revtron_utils_spark.streaming.sessionize import sessionize_stream

    ev = _t(spark, sf, "events").select(
        F.col("user_id").cast("long").alias("user_id"), F.col("ts").cast("timestamp").alias("ts")
    )
    tmp = _stream_staging("drv_stream_sess")
    src = f"{tmp}/src"
    ev.write.mode("overwrite").parquet(src)
    q = sessionize_stream(
        spark,
        src,
        ev.schema,
        gap_minutes=30,
        checkpoint_dir=f"{tmp}/ck",
        queryName="drv_stream_sessions",
    )
    return _drain(spark, "streaming_sessionize", q).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def q_streaming_heavy_hitters(spark, sf):
    """Streaming SpaceSaving top-k run to completion
    (`streaming/heavy_hitters.py`): per event type, the top-10 users by
    event count from an O(groups×capacity) bounded-state summary —
    the streaming answer to "which items are hot right now" that CMS
    point-queries can't give. Rows-only: summary content depends on
    micro-batch interleaving within the SpaceSaving error bound (the
    exact-regime equivalence is asserted in tests/test_streaming.py)."""
    from pyspark.sql import Window as _W

    from revtron_utils_spark.streaming.heavy_hitters import heavy_hitters_stream

    ev = _t(spark, sf, "events").select(
        F.col("event_type").cast("string").alias("event_type"),
        F.col("user_id").cast("string").alias("user_id"),
    )
    tmp = _stream_staging("drv_stream_hh")
    src = f"{tmp}/src"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    q = heavy_hitters_stream(
        spark,
        src,
        ev.schema,
        "event_type",
        "user_id",
        capacity=64,
        k=10,
        checkpoint_dir=f"{tmp}/ck",
        queryName="drv_stream_hh",
    )
    t = _drain(spark, "streaming_heavy_hitters", q)
    # update-mode memory sink may hold one snapshot per micro-batch:
    # keep each (group, item)'s final estimate, then re-rank
    latest = t.groupBy("group", "item").agg(
        F.max("est").alias("est"), F.min("err").alias("err")
    )
    w = _W.partitionBy("group").orderBy(F.col("est").desc(), "item")
    return (
        latest.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("group", "item", "est", "err", "rank")
    )


def q_streaming_interval_join(spark, sf):
    """Stream-stream interval join run to completion: click events
    matched to same-user purchases within 1 hour, both sides
    watermarked (the time-range conjunct is what lets Spark expire the
    join state). Rows-only: the streamed row set can depend on
    watermark-driven late drops across micro-batches, which SQL can't
    express; the batch-equivalence differential lives in
    tests/test_streaming.py."""
    from revtron_utils_spark.streaming.join import stream_interval_join

    ev = _t(spark, sf, "events").select(
        "event_id", F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"), "event_type",
    )
    tmp = _stream_staging("drv_stream_ij")
    clicks_dir, buys_dir = f"{tmp}/clicks", f"{tmp}/buys"
    # coalesce(1): one file per side => availableNow plans one batch, so
    # nothing is ever late relative to the final watermark
    ev.filter(F.col("event_type") == "click").coalesce(1).write.mode(
        "overwrite"
    ).parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").coalesce(1).write.mode(
        "overwrite"
    ).parquet(buys_dir)
    schema = ev.schema
    clicks = spark.readStream.schema(schema).parquet(clicks_dir)
    buys = spark.readStream.schema(schema).parquet(buys_dir)
    joined = stream_interval_join(
        clicks, buys, "user_id", max_delay="1 hour", watermark="2 hours"
    ).select("user_id", "l_event_id", "r_event_id", "l_ts", "r_ts")
    return _drain_append(spark, "streaming_interval_join", joined, "drv_stream_ij", tmp)


def q_streaming_dedup(spark, sf):
    """Streaming exact dedup run to completion: the events table with a
    planted 1-in-10 duplicate replay streamed through
    `incremental.stream_dedup` (dropDuplicatesWithinWatermark) — the
    exactly-once-ingest building block. Emitting only the key makes the
    streamed result deterministic, so unlike the other streaming gates
    this one HASH-verifies: the oracle is the distinct key set of the
    planted input."""
    from revtron_utils_spark.streaming.incremental import stream_dedup

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
    )
    dups = ev.filter(F.col("event_id") % 10 == 0)
    planted = ev.unionByName(dups)
    tmp = _stream_staging("drv_stream_dd")
    src = f"{tmp}/src"
    planted.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(planted.schema).parquet(src)
    deduped = stream_dedup(stream, ["event_id"], ts_col="ts").select("event_id")
    return _drain_append(spark, "streaming_dedup", deduped, "drv_stream_dd", tmp)


SQL_STREAMING_DEDUP = """
SELECT event_id FROM events
"""


def q_range_join(spark, sf):
    """Range (interval containment) join via bucketized equi-join."""
    from revtron_utils_spark.operators.asof import interval_join

    ev = _t(spark, sf, "events")
    bands = spark.range(0, 8).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50.0).alias("lo"),
        (F.col("id") * 50.0 + 50.0).alias("hi"),
    )
    return interval_join(ev, bands, "value", "lo", "hi", bucket_width=50.0).select(
        "event_id", "band_id"
    )


SQL_RANGE_JOIN = """
SELECT e.event_id, b.band_id
FROM events e JOIN (
  SELECT i AS band_id, i * 50.0 AS lo, i * 50.0 + 50.0 AS hi FROM range(8) t(i)
) b ON e.value >= b.lo AND e.value < b.hi
"""


def q_incremental_merge(spark, sf):
    """ST1-ST5: overlapping date-window extracts replayed through the
    null-preserving merge must converge to the plain union window.
    Folded with ``upsert_merge_many`` (one shuffle for all windows; the
    pairwise-iterated form costs a full-outer join per window — 12
    Exchange operators vs 2; equivalence tested in test_engine.py)."""
    from revtron_utils_spark import upsert_merge_many

    ev = _t(spark, sf, "events")
    windows = [
        ("2024-01-01", "2024-01-12"),
        ("2024-01-10", "2024-01-22"),
        ("2024-01-20", "2024-02-02"),
    ]
    batches = [
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        for lo, hi in windows
    ]
    state = upsert_merge_many(batches, ["event_id"])
    return state.select(
        "event_id", F.unix_micros("ts").alias("us"), "user_id", "event_type", "value"
    )


SQL_INCREMENTAL_MERGE = """
SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value FROM events
WHERE ts >= '2024-01-01' AND ts < '2024-02-02'
"""


def _upsert_demo(spark, sf, overwrite_with_null):
    cu = _t(spark, sf, "customer")
    mod = cu.filter(F.col("c_custkey") % 7 == 0)
    src = mod.select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    ).unionByName(
        mod.select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.lit("NEW").alias("c_name"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    out = upsert_merge(cu, src, ["c_custkey"], overwrite_with_null=overwrite_with_null)
    return out.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_nationkey", "c_mktsegment"
    )


def q_upsert_nullpreserve(spark, sf):
    return _upsert_demo(spark, sf, overwrite_with_null=False)


def q_upsert_overwrite(spark, sf):
    return _upsert_demo(spark, sf, overwrite_with_null=True)


def _sql_upsert(update_name_expr: str) -> str:
    return f"""
WITH mod AS (SELECT * FROM customer WHERE c_custkey % 7 = 0),
src AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal + 100 AS c_acctbal FROM mod
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW', 0.0 FROM mod
)
SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN {update_name_expr}
            WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
       ROUND(CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN COALESCE(s.c_acctbal, t.c_acctbal)
            WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END, 2) AS c_acctbal,
       t.c_nationkey AS c_nationkey, t.c_mktsegment AS c_mktsegment
FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
"""


SQL_UPSERT_NULLPRESERVE = _sql_upsert("COALESCE(s.c_name, t.c_name)")
SQL_UPSERT_OVERWRITE = _sql_upsert("s.c_name")


def q_keyed_update(spark, sf):
    od = _t(spark, sf, "orders")
    src = od.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus")
    )
    return keyed_update(od, src, "o_orderkey").select("o_orderkey", "o_orderstatus")


SQL_KEYED_UPDATE = """
SELECT o_orderkey, CASE WHEN o_totalprice > 300000 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
FROM orders
"""


def q_delete_where(spark, sf):
    ev = _t(spark, sf, "events")
    remaining = delete_where(ev, compile_where({"value": {"operator": ">", "value": 50}}))
    return remaining.select("event_id")


SQL_DELETE_WHERE = "SELECT event_id FROM events WHERE NOT COALESCE(value > 50, FALSE)"


# ----------------------------------------------------------- extensions


def _docs_with_planted_dups(spark, sf):
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    )


def q_dedup_exact(spark, sf):
    allv = _docs_with_planted_dups(spark, sf)
    return DD.exact_dedup(allv, "text", "doc_id").select(
        "doc_id", TX.fingerprint("text").alias("fp")
    )


SQL_DEDUP_EXACT = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
)
SELECT MIN(doc_id) AS doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM all_docs GROUP BY 2
"""


def q_dedup_groups(spark, sf):
    allv = _docs_with_planted_dups(spark, sf)
    return DD.duplicate_groups(allv, "text", "doc_id")


SQL_DEDUP_GROUPS = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents
)
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_dups, MIN(doc_id) AS keep_id
FROM all_docs GROUP BY 1 HAVING count(*) > 1
"""


def q_token_stats(spark, sf):
    # guarded spread below the tokenize projection (r13): a one-split
    # scan otherwise runs the whole projection in a single task
    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_tokens"),
        F.size(F.array_distinct(TX.tokens("text"))).cast("long").alias("n_distinct"),
        F.length(TX.normalize_text("text")).cast("long").alias("n_chars_norm"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
       CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS BIGINT) AS n_chars_norm
FROM documents
"""


def q_text_quality(spark, sf):
    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


SQL_TEXT_QUALITY = rf"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT doc_id,
  ROUND((
    LEAST(length(text) / 200.0, 1.0)
    + LEAST((CAST(len(list_filter(toks, t -> lower(t) IN {_STOPWORDS_SQL})) AS DOUBLE)
             / GREATEST(len(toks), 1)) * 4.0, 1.0)
    + GREATEST(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
             / GREATEST(length(text), 1)) * 4.0)
  ) / 3.0, 6) AS quality
FROM t
"""


def q_lang_id(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


SQL_LANG_ID = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(toks, t -> lower(t) IN {_MARKER_SQL['de']})) AS s_de,
    len(list_filter(toks, t -> lower(t) IN {_MARKER_SQL['en']})) AS s_en,
    len(list_filter(toks, t -> lower(t) IN {_MARKER_SQL['es']})) AS s_es,
    len(list_filter(toks, t -> lower(t) IN {_MARKER_SQL['fr']})) AS s_fr
  FROM t
)
SELECT doc_id,
  CASE WHEN s_de > 0 AND s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en > 0 AND s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es > 0 AND s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
       WHEN s_fr > 0 AND s_fr = GREATEST(s_de, s_en, s_es, s_fr) THEN 'fr'
       ELSE 'und' END AS lang_pred
FROM s
"""


def q_ngram_counts(spark, sf):
    """Corpus word-3gram frequency table with a min-count floor
    (`retrieval.ngram_counts`) — one explode + one map-side-combined
    aggregate; the tail never leaves the executors."""
    from revtron_utils_spark.operators.retrieval import ngram_counts

    docs = _t(spark, sf, "documents")
    return ngram_counts(docs, n=3, min_count=3)


SQL_NGRAM_COUNTS = r"""
WITH t AS (
  SELECT list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), g AS (
  SELECT unnest(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks) - 1),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
    ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM t
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY ngram HAVING count(*) >= 3
"""


def q_rarity_scores(spark, sf):
    """Per-doc mean inverse document frequency (log-free surprisal
    proxy, `retrieval.rarity_scores`): per-token idf quantized to an
    integer so the per-doc sum is order-independent and the rounded
    mean hash-matches DuckDB exactly."""
    from revtron_utils_spark.operators.retrieval import rarity_scores

    docs = _t(spark, sf, "documents")
    return rarity_scores(docs)


SQL_RARITY_SCORES = r"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> t != ''),
                        tk -> lower(tk)) AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS term FROM t
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
), idf AS (
  SELECT term,
         CAST(round((SELECT count(*) FROM documents) * 1000000.0 / df) AS BIGINT) AS idf_int
  FROM dfreq
)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(idf.idf_int) / (count(*) * 1000000.0), 6) AS rarity
FROM tok JOIN idf USING (term)
GROUP BY tok.doc_id
"""


_TOKHASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(lower(tk), ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 31 + b) % 1000000007)"
)


def q_quantile_filter(spark, sf):
    """Keep the top half of every source domain by classifier score
    (`curation.filter_by_score_quantile`): per-group threshold from the
    combinable exact-quantile histogram (no per-group sort, hot domains
    can't single-task), broadcast back, filter. Integer scores make the
    quantile threshold engine-exact."""
    from revtron_utils_spark.functions import classifier as CL
    from revtron_utils_spark.operators.curation import filter_by_score_quantile

    docs = _t(spark, sf, "documents")
    # vocab-join scorer: the per-char hash fold runs once per DISTINCT
    # token, not per occurrence (~2× at 50k short docs; grows with the
    # occurrence:vocab ratio)
    scored = CL.hashed_linear_scores(
        docs.select("doc_id", "source", "text"), "text", "doc_id"
    ).select("doc_id", "source", "score_num")
    # finer initial log-bins resolve integer scores without refinement
    # rounds (each refinement is a driver-latency job at fixture scale)
    return filter_by_score_quantile(
        scored,
        "score_num",
        keep_frac=0.5,
        by=["source"],
        quantiles_kwargs={"bins_per_efold": 4096},
    )


SQL_QUANTILE_FILTER = rf"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, source,
         COALESCE(list_sum(list_transform(toks, tk ->
           (({_TOKHASH_SQL} % 4096 + 1) * 2654435761) % 2000001 - 1000000
         )), 0) AS score_num
  FROM t
), q AS (
  SELECT source, QUANTILE_CONT(score_num, 0.5) AS thr FROM s GROUP BY source
)
SELECT s.doc_id, s.source, CAST(s.score_num AS BIGINT) AS score_num
FROM s JOIN q USING (source)
WHERE s.score_num >= q.thr
"""


def q_importance_weights(spark, sf):
    """DSIR-style importance weights toward the lang='en' subset
    (`curation.importance_weights`): hashed-unigram Laplace-smoothed
    probability ratios, integer-quantized per token so per-doc sums are
    order-independent — the whole weighting hash-verifies."""
    from revtron_utils_spark.operators.curation import importance_weights

    docs = _t(spark, sf, "documents")
    return importance_weights(docs, target=F.col("lang") == "en")


SQL_IMPORTANCE_WEIGHTS = r"""
WITH t AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> t != ''),
                        tk -> lower(tk)) AS toks
  FROM documents
), tok AS (
  SELECT doc_id, is_t, unnest(toks) AS term FROM t
), bkt AS (
  SELECT doc_id, is_t,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(lower(term), ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) % 4096 AS b
  FROM tok
), counts AS (
  SELECT b, count(*) AS cr, count(*) FILTER (is_t) AS ct FROM bkt GROUP BY b
), tots AS (
  SELECT CAST(sum(cr) + 4096 AS DOUBLE) AS traw, CAST(sum(ct) + 4096 AS DOUBLE) AS ttgt
  FROM counts
), w AS (
  SELECT b, CAST(round((((ct + 1) * traw) / ((cr + 1) * ttgt)) * 1000000) AS BIGINT) AS r_int
  FROM counts, tots
)
SELECT bkt.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(w.r_int) / (count(*) * 1000000.0), 6) AS weight
FROM bkt JOIN w USING (b)
GROUP BY bkt.doc_id
"""


def q_lm_score(spark, sf):
    """CCNet-style n-gram LM fluency scoring (`lm.ngram_lm_score`):
    stupid-backoff trigram probabilities (count floor 2 on orders 2-3),
    log-free rational form — per-position scores quantize to integers,
    the mean is one IEEE division, so the WHOLE model (training counts
    + backoff cascade) hash-verifies against the DuckDB oracle."""
    from revtron_utils_spark.operators.lm import ngram_lm_score

    docs = _t(spark, sf, "documents")
    return ngram_lm_score(docs, n=3, min_count=2)


# alpha backoff penalties: computed in Python and injected as literals
# into BOTH engines (0.4**2 is 0.16000000000000003 — the exact double
# matters for bit-equality)
_LM_A1 = repr(0.4)
_LM_A2 = repr(0.4**2)

# shared CTE prefix: tokenization, count tables (floor 2 on orders
# 2-3), Laplace totals, per-position gram/prefix features, count
# lookups, and the quantized backoff score per position
def _lm_ctes(train_where: str = "") -> str:
    """LM oracle CTE prefix; ``train_where`` restricts the TRAINING
    corpus (count tables + Laplace totals) while scoring stays over all
    documents — the lm_docs separation."""
    return rf"""
WITH t AS (
  SELECT doc_id, lang, list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''),
                                tk -> lower(tk)) AS ws
  FROM documents
), cnt1 AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS gram FROM t {train_where}) GROUP BY gram
), cnt2 AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(CASE WHEN len(ws) >= 2
      THEN list_transform(range(1, len(ws)), i -> concat_ws(' ', ws[i], ws[i+1]))
      ELSE CAST([] AS VARCHAR[]) END) AS gram FROM t {train_where}
  ) GROUP BY gram HAVING count(*) >= 2
), cnt3 AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(CASE WHEN len(ws) >= 3
      THEN list_transform(range(1, len(ws) - 1), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
      ELSE CAST([] AS VARCHAR[]) END) AS gram FROM t {train_where}
  ) GROUP BY gram HAVING count(*) >= 2
), tots AS (
  SELECT CAST(sum(c) + count(*) AS DOUBLE) AS tv FROM cnt1
), pos AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, ws FROM t
), feat AS (
  SELECT doc_id,
         ws[i] AS w1,
         CASE WHEN i >= 2 THEN concat_ws(' ', ws[i-1], ws[i]) END AS w2,
         CASE WHEN i >= 3 THEN concat_ws(' ', ws[i-2], ws[i-1], ws[i]) END AS w3,
         CASE WHEN i >= 2 THEN ws[i-1] END AS p2,
         CASE WHEN i >= 3 THEN concat_ws(' ', ws[i-2], ws[i-1]) END AS p3
  FROM pos
), looked AS (
  SELECT f.doc_id, f.w2, f.w3,
         c1.c AS c1, c2.c AS c2, c3.c AS c3, pc2.c AS cd2, pc3.c AS cd3
  FROM feat f
  LEFT JOIN cnt1 c1 ON c1.gram = f.w1
  LEFT JOIN cnt2 c2 ON c2.gram = f.w2
  LEFT JOIN cnt3 c3 ON c3.gram = f.w3
  LEFT JOIN cnt1 pc2 ON pc2.gram = f.p2
  LEFT JOIN cnt2 pc3 ON pc3.gram = f.p3
), scored AS (
  SELECT doc_id,
    CAST(round((CASE
      WHEN w3 IS NOT NULL AND c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / cd3
      WHEN w3 IS NOT NULL AND c2 IS NOT NULL THEN (CAST(c2 AS DOUBLE) / cd2) * {_LM_A1}
      WHEN w3 IS NOT NULL THEN ((COALESCE(c1, 0) + 1) / (SELECT tv FROM tots)) * {_LM_A2}
      WHEN w2 IS NOT NULL AND c2 IS NOT NULL THEN CAST(c2 AS DOUBLE) / cd2
      WHEN w2 IS NOT NULL THEN ((COALESCE(c1, 0) + 1) / (SELECT tv FROM tots)) * {_LM_A1}
      ELSE (COALESCE(c1, 0) + 1) / (SELECT tv FROM tots)
    END) * 1000000.0) AS BIGINT) AS s_int
  FROM looked
)"""


_LM_CTES = _lm_ctes()

# WHERE s_int IS NOT NULL: with a non-empty training corpus every
# branch of the score CASE is defined, so nothing is filtered; with an
# EMPTY one (train_where matches no docs) tv is NULL, every s_int is
# NULL, and the guard makes the oracle return zero rows — matching
# ngram_lm_score's documented empty-corpus frame instead of emitting
# every doc with a NULL score.
_LM_FINAL = """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(s_int) AS DOUBLE) / (count(*) * 1000000.0) AS lm_score
FROM scored WHERE s_int IS NOT NULL GROUP BY doc_id
"""

SQL_LM_SCORE = _LM_CTES + _LM_FINAL


def q_lm_crossdomain(spark, sf):
    """The actual CCNet arrangement: the LM is TRAINED on a trusted
    subset (lang='en') and scores the whole corpus — out-of-domain
    documents route through the Laplace-unseen path
    (`lm.ngram_lm_score(lm_docs=...)`)."""
    from revtron_utils_spark.operators.lm import ngram_lm_score

    docs = _t(spark, sf, "documents")
    lm = docs.filter(F.col("lang") == "en")
    return ngram_lm_score(docs, lm_docs=lm, n=3, min_count=2)


SQL_LM_CROSSDOMAIN = _lm_ctes("WHERE lang = 'en'") + _LM_FINAL


def q_kneser_ney(spark, sf):
    """Interpolated Kneser-Ney trigram fluency (`lm.kneser_ney_score`)
    — the KenLM smoothing family as engine-exact rational arithmetic:
    token counts AND the five continuation-count tables all derive
    from one persisted position frame; absolute discount D=0.75."""
    from revtron_utils_spark.operators.lm import kneser_ney_score

    docs = _t(spark, sf, "documents")
    return kneser_ney_score(docs)


SQL_KNESER_NEY = r"""
WITH t AS (
  SELECT doc_id, list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''),
                                tk -> lower(tk)) AS ws
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, ws FROM t
), feat AS (
  SELECT doc_id,
         ws[i] AS w1,
         CASE WHEN i >= 2 THEN concat_ws(' ', ws[i-1], ws[i]) END AS w2,
         CASE WHEN i >= 3 THEN concat_ws(' ', ws[i-2], ws[i-1], ws[i]) END AS w3,
         CASE WHEN i >= 2 THEN ws[i-1] END AS p2,
         CASE WHEN i >= 3 THEN concat_ws(' ', ws[i-2], ws[i-1]) END AS p3
  FROM pos
), cnt3 AS (
  SELECT w3 AS k, CAST(count(*) AS BIGINT) AS c3 FROM feat WHERE w3 IS NOT NULL GROUP BY w3
), kn_ctx AS (
  -- c(uv.) is the CONTEXT count (trigram occurrences grouped by their
  -- first two words), not the raw bigram count: a bigram seen only
  -- doc-finally is no context and falls through to p2
  SELECT p3 AS k, CAST(count(*) AS BIGINT) AS c2uv,
         CAST(count(DISTINCT w3) AS BIGINT) AS n1f2
  FROM feat WHERE w3 IS NOT NULL GROUP BY p3
), tri AS (
  SELECT DISTINCT w3, w2, p2, p3, w1 FROM feat WHERE w3 IS NOT NULL
), bi AS (
  SELECT DISTINCT w2, w1 FROM feat WHERE w2 IS NOT NULL
), kn_n1p2 AS (
  SELECT w2 AS k, CAST(count(*) AS BIGINT) AS n1p2 FROM tri GROUP BY w2
), kn_mid AS (
  SELECT p2 AS k, CAST(count(*) AS BIGINT) AS n1mid,
         CAST(count(DISTINCT w1) AS BIGINT) AS n1fmid
  FROM tri GROUP BY p2
), kn_n1p1 AS (
  SELECT w1 AS k, CAST(count(*) AS BIGINT) AS n1p1 FROM bi GROUP BY w1
), tots AS (
  SELECT CAST((SELECT count(DISTINCT w2) FROM feat) + (SELECT count(DISTINCT w1) FROM feat) AS DOUBLE) AS bv
), looked AS (
  SELECT f.doc_id, f.w2, f.w3,
         a.n1p1, m.n1mid, m.n1fmid, b2.n1p2, cc.c2uv, cc.n1f2, c3.c3
  FROM feat f
  LEFT JOIN kn_n1p1 a ON a.k = f.w1
  LEFT JOIN kn_mid m ON m.k = f.p2
  LEFT JOIN kn_n1p2 b2 ON b2.k = f.w2
  LEFT JOIN kn_ctx cc ON cc.k = f.p3
  LEFT JOIN cnt3 c3 ON c3.k = f.w3
), s1 AS (
  SELECT *, (COALESCE(n1p1, 0) + 1) / (SELECT bv FROM tots) AS p1c FROM looked
), s2 AS (
  SELECT *, CASE WHEN n1mid IS NOT NULL
    THEN (GREATEST(COALESCE(n1p2, 0) - 0.75, 0.0) / n1mid) + (((0.75 * n1fmid) / n1mid) * p1c)
    ELSE p1c END AS p2c
  FROM s1
), s3 AS (
  SELECT *, CASE WHEN c2uv IS NOT NULL
    THEN (GREATEST(COALESCE(c3, 0) - 0.75, 0.0) / c2uv) + (((0.75 * COALESCE(n1f2, 0)) / c2uv) * p2c)
    ELSE p2c END AS p3c
  FROM s2
), scored AS (
  SELECT doc_id,
    CAST(round((CASE WHEN w3 IS NOT NULL THEN p3c
                     WHEN w2 IS NOT NULL THEN p2c
                     ELSE p1c END) * 1000000.0) AS BIGINT) AS s_int
  FROM s3
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(s_int) AS DOUBLE) / (count(*) * 1000000.0) AS kn_score
FROM scored GROUP BY doc_id
"""


def q_perplexity_filter(spark, sf):
    """The CCNet pipeline end-to-end: LM-score every document
    (`lm.ngram_lm_score` with the exact integer sum), rank in integer
    milli-units ((sum*1000) div n_tokens — integer division is
    engine-exact; the double mean's ROUND is not), keep the top half
    of every language by the combinable exact-quantile threshold
    (`curation.filter_by_score_quantile` — no per-group sort)."""
    from revtron_utils_spark.operators.curation import filter_by_score_quantile
    from revtron_utils_spark.operators.lm import ngram_lm_score

    docs = _t(spark, sf, "documents")
    scored = ngram_lm_score(docs, n=3, min_count=2, include_sum=True)
    ranked = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.expr("(score_sum_int * 1000) div n_tokens").alias("lm_milli"),
    )
    return filter_by_score_quantile(
        ranked,
        "lm_milli",
        keep_frac=0.5,
        by=["lang"],
        quantiles_kwargs={"bins_per_efold": 4096},
    )


SQL_PERPLEXITY_FILTER = (
    _LM_CTES
    + """
, doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(s_int) AS BIGINT) AS s_sum
  FROM scored WHERE s_int IS NOT NULL GROUP BY doc_id
), ranked AS (
  SELECT d.doc_id, dd.lang, CAST((d.s_sum * 1000) // d.n_tokens AS BIGINT) AS lm_milli
  FROM doc d JOIN documents dd USING (doc_id)
), q AS (
  SELECT lang, QUANTILE_CONT(lm_milli, 0.5) AS thr FROM ranked GROUP BY lang
)
SELECT r.doc_id, r.lang, r.lm_milli
FROM ranked r JOIN q USING (lang)
WHERE r.lm_milli >= q.thr
"""
)


def _sql_bucket(id_expr: str, seed: int = 0) -> str:
    from revtron_utils_spark.operators.curation import HASH_MOD, _seed_mult

    return (
        f"((((({id_expr}) % {HASH_MOD}) + {HASH_MOD}) % {HASH_MOD}"
        f" * {_seed_mult(seed)} + {int(seed) % HASH_MOD}) % {HASH_MOD})"
    )


def q_deterministic_shuffle(spark, sf):
    """Reproducible global training order
    (`curation.deterministic_shuffle`): two-pass distributed rank over
    (id_hash, id) — range repartition + local rank + partition offsets,
    never a single-task global window."""
    from revtron_utils_spark.operators.curation import deterministic_shuffle

    docs = _t(spark, sf, "documents")
    return deterministic_shuffle(docs, "doc_id", seed=7).select(
        "doc_id", "shuffle_rank"
    )


SQL_DETERMINISTIC_SHUFFLE = (
    f"SELECT doc_id, CAST(row_number() OVER (ORDER BY {_sql_bucket('doc_id', 7)}, doc_id) - 1 "
    "AS BIGINT) AS shuffle_rank FROM documents"
)


def q_leakage_safe_split(spark, sf):
    """Near-dup-cluster-aware train/val/test split
    (`curation.leakage_safe_split`): split by hash of the connected-
    component representative of the n-gram-Jaccard pair graph — a doc
    and its paraphrase always share a split (no eval leakage)."""
    from revtron_utils_spark.operators.curation import leakage_safe_split

    docs = _t(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"), shingle_n=3, threshold=0.2
    )
    out = leakage_safe_split(docs, pairs, "doc_id", _SPLIT_W, seed=0)
    return out.select("doc_id", "component", "split")


def _sql_component_split_expr() -> str:
    from revtron_utils_spark.operators.curation import HASH_MOD

    b = _sql_bucket("component")
    t_train = int(0.8 * HASH_MOD)
    t_val = int(0.9 * HASH_MOD)
    return (
        f"CASE WHEN {b} < {t_train} THEN 'train' "
        f"WHEN {b} < {t_val} THEN 'val' ELSE 'test' END"
    )


SQL_LEAKAGE_SAFE_SPLIT = rf"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), f AS (SELECT * FROM t WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM f a JOIN f b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
), comp AS (
  SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
)
SELECT doc_id, component, {_sql_component_split_expr()} AS split FROM comp
"""


def q_bpe_learned(spark, sf):
    """Distributed BPE training (`operators/bpe.py`): 16 merge rounds
    learned on the documents corpus via per-round combinable pair-count
    aggregations over the distinct-word frequency table. Iterative →
    genuinely non-SQL (rows-only); exactness vs a pure-Python reference
    implementation (merge table, tie-breaks, overlap semantics,
    encodings) is proven in tests/test_bpe.py."""
    from revtron_utils_spark.operators import bpe as B

    docs = _t(spark, sf, "documents")
    merges = B.bpe_train(docs, num_merges=16)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank long, left string, right string",
    )


def q_unigram_lm_learned(spark, sf):
    """SentencePiece-style unigram tokenizer training
    (`operators/unigram.py`): seed substrings → Viterbi-EM rounds over
    the distinct-word table (Arrow UDF + combinable usage aggregate) →
    prune to vocab. Iterative → genuinely non-SQL (rows-only);
    exactness vs a pure-Python reference (seed, Viterbi tie-breaks,
    EM counts, prune order, encodings) in tests/test_unigram.py."""
    from revtron_utils_spark.operators.unigram import unigram_train

    docs = _t(spark, sf, "documents")
    pieces = unigram_train(docs, vocab_size=80, seed_keep=200, rounds=2)
    return spark.createDataFrame(
        [(p, float(pr)) for p, pr in pieces], "piece string, prob double"
    )


def q_unigram_tokens(spark, sf):
    """Real learned-tokenizer encoding through the gate (vs the
    `bpe_tokens` regex proxy): train a small unigram vocabulary, then
    segment every document — distinct-word Arrow Viterbi + map join
    back. Iterative dependency → rows-only."""
    from revtron_utils_spark.operators.unigram import unigram_encode, unigram_train

    docs = _t(spark, sf, "documents")
    pieces = unigram_train(docs, vocab_size=60, seed_keep=150, rounds=1)
    return unigram_encode(docs, pieces).select(
        "doc_id", F.size("pieces").cast("long").alias("n_pieces")
    )


def q_quality_classifier(spark, sf):
    """Hashed-feature linear classifier (fastText-style hashing trick):
    token → poly-hash bucket → deterministic integer weight; doc score =
    mean weight, keep = positive integer numerator. All-int arithmetic
    inside codegen makes the score hash-verify against the DuckDB
    list_reduce oracle."""
    from revtron_utils_spark.functions import classifier as CL

    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        CL.hashed_linear_score("text", dim=4096, seed=0).alias("score"),
        (CL.hashed_linear_score_num("text", dim=4096, seed=0) > 0).alias("keep"),
    )


SQL_QUALITY_CLASSIFIER = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n,
         COALESCE(list_sum(list_transform(toks, tk ->
           (({_TOKHASH_SQL} % 4096 + 1) * 2654435761) % 2000001 - 1000000
         )), 0) AS sw
  FROM t
)
SELECT doc_id,
       CASE WHEN n = 0 THEN 0.0
            ELSE ROUND(CAST(sw AS DOUBLE) / (n * 1000000.0), 6) END AS score,
       (sw > 0) AS keep
FROM s
"""


def q_gopher_filters(spark, sf):
    """Gopher heuristic quality rules (Rae et al. 2021, App. A1.1) as
    exact integer comparisons — word-count bounds, mean-word-length
    bounds via 3n<=Σlen<=10n, >=80% alphabetic words, <=10% symbol
    words, >=2 stopword hits."""
    from revtron_utils_spark.functions import classifier as CL

    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    return docs.select(
        "doc_id", CL.gopher_quality_flags("text").alias("g")
    ).select("doc_id", "g.*")


SQL_GOPHER_FILTERS = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n,
         COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0) AS sum_len,
         len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) AS n_sym,
         len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) AS n_stop
  FROM t
)
SELECT doc_id,
       (n >= 20 AND n <= 100000) AS word_count_ok,
       (sum_len >= 3 * n AND sum_len <= 10 * n) AS mean_word_len_ok,
       (n_alpha * 5 >= n * 4) AS alpha_ratio_ok,
       (n_sym * 10 <= n) AS symbol_ratio_ok,
       (n_stop >= 2) AS stopword_ok,
       ((n >= 20 AND n <= 100000) AND (sum_len >= 3 * n AND sum_len <= 10 * n)
        AND (n_alpha * 5 >= n * 4) AND (n_sym * 10 <= n) AND (n_stop >= 2)) AS pass_all
FROM s
"""


def q_rolling_fingerprint(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", TX.rolling_hash("text").cast("long").alias("rhash"))


SQL_ROLLING_FINGERPRINT = r"""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '') AS chars
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(
              list_prepend(CAST(0 AS BIGINT), list_transform(chars, c -> CAST(ascii(c) AS BIGINT))),
              (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS rhash
FROM t
"""


def q_html_extract(spark, sf):
    """HTML → main-text extraction (`functions/html.py`): synthetic HTML
    is built around each document (head/style/script, a nav bar, an h1,
    the body paragraph, a too-short paragraph, a link-dense paragraph,
    a footer — plus comments and entities), then the extractor must
    recover exactly the h1 and body text: boilerplate elements dropped,
    blocks segmented on block-level tags, short and link-dense blocks
    filtered (2·anchors ≤ words), entities decoded. Runs the Arrow twin
    (the corpus-scale path); the DuckDB oracle re-implements the entire
    regex chain in RE2, so expression path, Arrow path, and oracle are
    bit-identical."""
    from revtron_utils_spark.functions.html import html_extract

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><style>p{margin:0}</style><script>var x=1&amp;2;</script>'
            '</head><body><!-- generated fixture --><nav><a href="/">home</a> '
            '<a href="/about">about</a></nav><div id="main"><h1>Source '
        ),
        F.col("source"),
        F.lit(" &amp; lang "),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p><p>too short</p><p><a href="/x">one</a> <a href="/y">two</a> '
            "three</p></div><footer>&copy; 2024 example.com</footer></body></html>"
        ),
    )
    base = docs.select("doc_id", html.alias("html"))
    return html_extract(base, "html", impl="arrow").select("doc_id", "main_text")


def _sql_html_extract() -> str:
    from revtron_utils_spark.functions.html import BLOCK_SPLIT, DROP_ELEMENTS, ENTITIES

    clean = "html"
    clean = f"regexp_replace({clean}, '(?s)<!--.*?-->', ' ', 'g')"
    for tag in DROP_ELEMENTS:
        clean = (
            f"regexp_replace({clean}, "
            rf"'(?is)<{tag}(?:\s[^>]*)?>.*?</{tag}\s*>', ' ', 'g')"
        )

    def text_of(b: str) -> str:
        t = rf"regexp_replace({b}, '(?s)<[^>]*>', ' ', 'g')"
        for ent, rep in ENTITIES:
            rep_sql = rep.replace("'", "''")
            t = f"replace({t}, '{ent}', '{rep_sql}')"
        return rf"trim(regexp_replace({t}, '\s+', ' ', 'g'))"

    words = f"len(string_split({text_of('b')}, ' '))"
    anchors = r"(len(string_split_regex(b, '(?i)<a[\s>]')) - 1)"
    cond = f"{text_of('b')} <> '' AND {words} >= 3 AND 2 * {anchors} <= {words}"
    return f"""
WITH h AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{margin:0}}</style><script>var x=1&amp;2;</script>'
         || '</head><body><!-- generated fixture --><nav><a href="/">home</a> '
         || '<a href="/about">about</a></nav><div id="main"><h1>Source '
         || source || ' &amp; lang ' || lang || '</h1><p>' || text
         || '</p><p>too short</p><p><a href="/x">one</a> <a href="/y">two</a> '
         || 'three</p></div><footer>&copy; 2024 example.com</footer></body></html>'
         AS html
  FROM documents
), c AS (
  SELECT doc_id, {clean} AS cleaned FROM h
), blk AS (
  SELECT doc_id, string_split_regex(cleaned, '{BLOCK_SPLIT}') AS blocks FROM c
)
SELECT doc_id,
       array_to_string(
         list_transform(
           list_filter(blocks, b -> {cond}),
           b -> {text_of('b')}
         ), ' ') AS main_text
FROM blk
"""


SQL_HTML_EXTRACT = _sql_html_extract()


def q_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents")
    return DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"), shingle_n=3, threshold=0.2
    )


SQL_NGRAM_JACCARD = r"""
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), f AS (SELECT * FROM t WHERE len(sh) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM f a JOIN f b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
"""


_MOJ_CLEAN = " café’s — naïve ‘quote’ … ½ price übrig"
_MOJ_BAD = _MOJ_CLEAN.encode("utf-8").decode("cp1252")


def q_mojibake_fix(spark, sf):
    """Encoding repair (`functions/text.fix_mojibake`): the classic
    'UTF-8 decoded as Windows-1252' corruption (cafÃ© → café, â€” → —)
    reversed by a fixed 56-sequence literal-replace chain — pure
    codegen, zero shuffle, the ftfy core case every crawl pipeline
    needs. The query plants a known-corrupted suffix on every document
    and emits the repaired text's md5 + how many characters the repair
    removed; the oracle runs the identical chain, so hashes match."""
    docs = _t(spark, sf, "documents")
    corrupted = F.concat(F.col("text"), F.lit(_MOJ_BAD))
    fixed = TX.fix_mojibake(corrupted)
    return docs.select(
        "doc_id",
        F.md5(fixed.cast("binary")).alias("fixed_md5"),
        (F.length(corrupted) - F.length(fixed)).alias("n_repaired"),
    )


def _sql_mojibake_fix() -> str:
    bad = _MOJ_BAD.replace("'", "''")
    fixed = TX.fix_mojibake_sql("corr")
    return f"""
WITH c AS (SELECT doc_id, text || '{bad}' AS corr FROM documents)
SELECT doc_id, md5({fixed}) AS fixed_md5,
       CAST(length(corr) - length({fixed}) AS INT) AS n_repaired
FROM c
"""


SQL_MOJIBAKE_FIX = _sql_mojibake_fix()


def q_ngram_containment(spark, sf):
    """Asymmetric containment near-dup (`dedup.ngram_containment_pairs`):
    detects documents ENGULFED by others — |A∩B|/|A| ≈ 1 while Jaccard
    stays tiny, the quote/boilerplate-subsumption case the symmetric
    measures miss. The query plants real subsumption: every ≥30-token
    document contributes an excerpt (first third of its words, id
    +1,000,000), and the posting-list join must recover each excerpt as
    contained in its parent at ≥0.9 — same inverted-index physical
    shape as `ngram_jaccard` (8-byte keys through the pair shuffle)."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", F.trim(F.col("text")).alias("text")
    )
    toks = F.split(F.col("text"), r"\s+")
    excerpts = docs.where(F.size(toks) >= 30).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        "source",
        F.array_join(
            F.slice(toks, F.lit(1), F.greatest(F.lit(5), (F.size(toks) / 3).cast("int"))),
            " ",
        ).alias("text"),
    )
    return DD.ngram_containment_pairs(
        docs.unionByName(excerpts),
        "text",
        "doc_id",
        block_cols=("lang", "source"),
        shingle_n=3,
        threshold=0.9,
    )


SQL_NGRAM_CONTAINMENT = r"""
WITH d AS (
  SELECT doc_id, lang, source, trim(text) AS text FROM documents
), tk AS (
  SELECT doc_id, lang, source, text, string_split_regex(text, '\s+') AS toks FROM d
), ex AS (
  SELECT doc_id + 1000000 AS doc_id, lang, source,
         array_to_string(list_slice(toks, 1, GREATEST(5, len(toks) // 3)), ' ') AS text
  FROM tk WHERE len(toks) >= 30
), u AS (
  SELECT doc_id, lang, source, text FROM d
  UNION ALL SELECT doc_id, lang, source, text FROM ex
), t AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM u)
), f AS (SELECT * FROM t WHERE len(sh) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS containment_a,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS containment_b
FROM f a JOIN f b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE GREATEST(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh),
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)) >= 0.9
"""


def q_ngram_decontaminate(spark, sf):
    """Similarity-based cross-corpus decontamination
    (`dedup.ngram_join_pairs`): an eval set (every 11th document,
    truncated to its first 60% of words — partial/paraphrase-style
    leakage) joined against the full training corpus, which still
    contains each eval item's source page; flag eval items
    ≥0.5-contained in some training doc. Catches what verbatim 8-gram
    `decontaminate` misses; R-S inverted-index join, 8-byte keys
    through the shuffle."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", F.trim(F.col("text")).alias("text")
    )
    toks = F.split(F.col("text"), r"\s+")
    eval_set = docs.where((F.col("doc_id") % 11 == 0) & (F.size(toks) >= 20)).select(
        "doc_id",
        "lang",
        "source",
        F.array_join(
            F.slice(
                toks, F.lit(1), F.greatest(F.lit(5), (F.size(toks) * 3 / 5).cast("int"))
            ),
            " ",
        ).alias("text"),
    )
    return DD.ngram_join_pairs(
        eval_set,
        docs,
        block_cols=("lang", "source"),
        shingle_n=3,
        threshold=0.5,
        measure="containment_left",
    )


SQL_NGRAM_DECONTAMINATE = r"""
WITH d AS (
  SELECT doc_id, lang, source, trim(text) AS text FROM documents
), tk AS (
  SELECT doc_id, lang, source, string_split_regex(text, '\s+') AS toks FROM d
), ev AS (
  SELECT doc_id, lang, source,
         array_to_string(list_slice(toks, 1, GREATEST(5, (len(toks) * 3) // 5)), ' ') AS text
  FROM tk WHERE doc_id % 11 = 0 AND len(toks) >= 20
), tr AS (
  SELECT doc_id, lang, source, text FROM d
), shl AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM ev)
), shr AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM tr)
), fl AS (SELECT * FROM shl WHERE len(sh) > 0),
fr AS (SELECT * FROM shr WHERE len(sh) > 0)
SELECT l.doc_id AS id_l, r.doc_id AS id_r,
       ROUND(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(l.sh, r.sh))), 6) AS jaccard,
       ROUND(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(l.sh), 6) AS containment_l,
       ROUND(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(r.sh), 6) AS containment_r
FROM fl l JOIN fr r ON l.lang = r.lang AND l.source = r.source
WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(l.sh) >= 0.5
"""


def q_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    return SIM.cosine_topk(emb, qvec, k=10)


SQL_COSINE_TOPK = f"""
WITH q AS (SELECT {_QUANT} AS qv FROM embeddings
           WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
e AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings)
SELECT e.vec_id,
       ROUND(list_inner_product(e.ev, q.qv)
             / (SQRT(list_inner_product(e.ev, e.ev)) * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cosine
FROM e, q ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_cosine_neardup(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return DD.embedding_neardup_pairs(emb, threshold=0.4)


SQL_COSINE_NEARDUP = f"""
WITH e AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_inner_product(a.ev, b.ev)
             / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.ev, b.ev)
      / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))) >= 0.4
"""


def q_cosine_neardup_lsh(spark, sf):
    """The 100-TB plan for embedding near-dup: banded random-hyperplane
    LSH (10 bands × 6 planes) bounds candidate pairs to same-bucket
    vectors instead of the O(n²) all-pairs matmul the exact gate query
    uses. Deterministic (fixed seed) but recall < 1, so rows-only here;
    the recall floor vs the exact pair set is asserted in
    tests/test_dedup_similarity.py::test_neardup_lsh_bench_recall.
    Note the fixture's threshold (0.4) sits at LSH's weakest operating
    point — ~0.5 recall there; at a realistic near-dup threshold
    (cos ≥ 0.9, collision p=0.856^6 per band) the same parameters give
    ~0.99 recall."""
    emb = _t(spark, sf, "embeddings")
    return DD.embedding_neardup_pairs(
        emb, threshold=0.4, lsh_planes=6, lsh_bands=10
    )


def q_cosine_neardup_lsh_poly(spark, sf):
    """`cosine_neardup_lsh` with SQL-reproducible POLY hyperplanes
    (round-9 close of the last two rows-only LSH gates, the
    `minhash_pairs_poly` technique): plane weights are an affine poly
    hash of the flat (plane, dim) index folded to [-10⁶, 10⁶], so the
    DuckDB oracle regenerates the identical 60 planes from four integer
    literals and re-runs the ENTIRE path — int sign bits, 10×6 band
    keys, candidate set, exact quantized cosine — hash-exact. The
    gauss-plane `cosine_neardup_lsh` stays as the recall-documented
    throughput twin."""
    emb = _t(spark, sf, "embeddings")
    return DD.embedding_neardup_pairs(
        emb,
        threshold=0.4,
        lsh_planes=6,
        lsh_bands=10,
        hash_family="poly",
    )


def _sql_cosine_neardup_lsh_poly() -> str:
    from revtron_utils_spark.operators.dedup import poly_plane_weight_sql

    k, bands, dim = 6, 10, 64
    w = poly_plane_weight_sql(f"p * {dim} + d")
    cos = (
        "list_inner_product(a.ev, b.ev)"
        " / (SQRT(list_inner_product(a.ev, a.ev))"
        " * SQRT(list_inner_product(b.ev, b.ev)))"
    )
    return f"""
WITH e AS MATERIALIZED (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
s AS MATERIALIZED (
  SELECT vec_id, ev,
         list_transform(range(0, {k * bands}), p ->
           CASE WHEN list_inner_product(ev,
             list_transform(range(0, {dim}),
                            d -> CAST({w} AS DOUBLE))) >= 0
           THEN 1 ELSE 0 END) AS sig
  FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 6) AS cosine
FROM s a JOIN s b ON a.vec_id < b.vec_id
WHERE len(list_filter(range(0, {bands}), bb ->
        list_slice(a.sig, bb*{k} + 1, bb*{k} + {k})
        = list_slice(b.sig, bb*{k} + 1, bb*{k} + {k}))) > 0
  AND {cos} >= 0.4
"""


SQL_COSINE_NEARDUP_LSH_POLY = _sql_cosine_neardup_lsh_poly()


def q_minhash_pairs_poly(spark, sf):
    """MinHash-LSH with the engine-reproducible polynomial hash family
    (`dedup.minhash_poly_pairs`): the DuckDB oracle re-implements the
    ENTIRE pipeline — shingle poly-hashes, 32 affine permutations, 8-band
    keys, candidate equi-join, exact-Jaccard verification — so the full
    LSH path hash-verifies, not just its exact tail (the xxhash/Arrow
    `minhash_pairs` twin remains the throughput path, rows-only)."""
    docs = _t(spark, sf, "documents")
    return DD.minhash_poly_pairs(
        docs, num_hashes=32, bands=8, shingle_n=3, jaccard_threshold=0.3
    )


_SHINGLE_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(lower(s), ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 31 + b) % 1000000007)"
)

SQL_MINHASH_PAIRS_POLY = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), shg AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM t
), f AS (SELECT * FROM shg WHERE len(sh) > 0),
h AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_SHINGLE_HASH_SQL}) AS h0 FROM f
), sig AS (
  SELECT doc_id, list_transform(range(0, 32), i ->
     list_min(list_transform(h0, x -> ((((2*i+1)*2654435761) % 1000000007) * x + (9176*i*i + 11)) % 1000000007))) AS sig
  FROM h
), banded AS (
  SELECT doc_id, band, array_to_string(sig[(band*4+1):(band*4+4)], ',') AS bkey
  FROM sig, range(0, 8) AS r(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
FROM cand c JOIN f x ON c.id_a = x.doc_id JOIN f y ON c.id_b = y.doc_id
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.3
"""


def q_warc_extract(spark, sf):
    """WARC ingest front end (`sources/warc.py`): each doc is wrapped
    into a two-record WARC file (a request record with an empty body
    and a response record carrying the text), and the parser must
    explode records and recover WARC-Type, target URI, Content-Length,
    and the payload (fingerprinted with md5). Hash-gated: the oracle
    re-implements the version-line split and header regexes in RE2."""
    from revtron_utils_spark.sources.warc import parse_warc_records

    docs = _t(spark, sf, "documents")
    crlf = "\r\n"
    uri = F.concat(
        F.lit("http://ex-"), F.col("source"), F.lit(".com/"),
        F.col("doc_id").cast("string"),
    )
    warc = F.concat(
        F.lit(f"WARC/1.0{crlf}WARC-Type: request{crlf}WARC-Target-URI: "),
        uri,
        F.lit(f"{crlf}Content-Length: 0{crlf}{crlf}{crlf}{crlf}"),
        F.lit(f"WARC/1.0{crlf}WARC-Type: response{crlf}WARC-Target-URI: "),
        uri,
        F.lit(f"{crlf}Content-Length: "),
        F.col("n_chars").cast("string"),
        F.lit(f"{crlf}{crlf}"),
        F.col("text"),
        F.lit(f"{crlf}{crlf}"),
    )
    base = docs.select("doc_id", warc.alias("warc"))
    parsed = parse_warc_records(base, "warc", "doc_id")
    return parsed.select(
        "doc_id",
        "rec_idx",
        "warc_type",
        "target_uri",
        "content_length",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").alias("payload_len"),
    )


SQL_WARC_EXTRACT = r"""
WITH w AS (
  SELECT doc_id,
         'WARC/1.0' || E'\r\n' || 'WARC-Type: request' || E'\r\n'
         || 'WARC-Target-URI: http://ex-' || source || '.com/' || CAST(doc_id AS VARCHAR)
         || E'\r\n' || 'Content-Length: 0' || E'\r\n\r\n\r\n\r\n'
         || 'WARC/1.0' || E'\r\n' || 'WARC-Type: response' || E'\r\n'
         || 'WARC-Target-URI: http://ex-' || source || '.com/' || CAST(doc_id AS VARCHAR)
         || E'\r\n' || 'Content-Length: ' || CAST(n_chars AS VARCHAR)
         || E'\r\n\r\n' || text || E'\r\n\r\n' AS warc
  FROM documents
), r AS (
  SELECT doc_id,
         unnest(range(len(string_split_regex(warc, 'WARC/1\.0\r\n')))) AS rec_idx,
         unnest(string_split_regex(warc, 'WARC/1\.0\r\n')) AS rec
  FROM w
), f AS (SELECT * FROM r WHERE rec <> ''),
hd AS (
  SELECT doc_id, rec_idx,
         regexp_extract(rec, '(?s)^(.*?)\r\n\r\n', 1) AS headers,
         regexp_replace(regexp_extract(rec, '(?s)\r\n\r\n(.*)$', 1),
                        '(\r\n)+$', '') AS payload
  FROM f
)
SELECT doc_id, rec_idx,
       regexp_extract(headers, '(?im)^WARC-Type: ([^\r\n]+)', 1) AS warc_type,
       regexp_extract(headers, '(?im)^WARC-Target-URI: ([^\r\n]+)', 1) AS target_uri,
       TRY_CAST(regexp_extract(headers, '(?im)^Content-Length: ([0-9]+)', 1) AS BIGINT)
         AS content_length,
       md5(payload) AS payload_md5,
       len(payload) AS payload_len
FROM hd
"""


def q_url_normalize(spark, sf):
    """URL provenance stage (`functions/url.py`): parse + canonicalize
    synthetic per-doc URLs (three variants: https with default port +
    tracking params + fragment + ccSLD host; http on a nonstandard port
    that must survive; a scheme-less string that must yield NULLs) and
    extract the registered domain. Pure regexp/array codegen — zero
    shuffle; the DuckDB oracle reproduces every field bit-for-bit."""
    from revtron_utils_spark.functions.url import registered_domain, url_normalize

    docs = _t(spark, sf, "documents")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example-"),
                F.col("source"),
                F.lit(".CO.UK:443/Path/"),
                F.col("doc_id").cast("string"),
                F.lit("?utm_source=feed&zeta=1&alpha=2#section"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://cdn.Example"),
                F.col("source"),
                F.lit(".com:8080"),
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), F.col("doc_id").cast("string")))
    )
    base = docs.select("doc_id", url.alias("url"))
    return base.select(
        "doc_id",
        url_normalize("url").alias("norm_url"),
        registered_domain("url").alias("domain"),
    )


def _sql_url_normalize() -> str:
    from revtron_utils_spark.functions.url import _CC_SLD, _TRACKING_RE, _URL_RE

    # NB: regexp_extract group semantics (non-participating group -> '')
    # match between Spark and DuckDB; coalesce guards DuckDB's NULL
    # array_to_string([]) where Spark's array_join gives ''
    g = lambda i: f"regexp_extract(url, '{_URL_RE}', {i})"  # noqa: E731
    cc = ", ".join(f"'{d}'" for d in _CC_SLD)
    return f"""
WITH u AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Example-' || source
                || '.CO.UK:443/Path/' || CAST(doc_id AS VARCHAR)
                || '?utm_source=feed&zeta=1&alpha=2#section'
           WHEN doc_id % 3 = 1 THEN 'http://cdn.Example' || source || '.com:8080'
           ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
), p AS (
  SELECT doc_id,
         lower({g(1)}) AS scheme, lower({g(2)}) AS host, {g(3)} AS port,
         {g(4)} AS path, {g(5)} AS query, {g(1)} AS raw_scheme
  FROM u
), q AS (
  SELECT *, coalesce(array_to_string(list_sort(
           list_filter(string_split(query, '&'),
                       x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_RE}'))
         ), '&'), '') AS cq,
         string_split(host, '.') AS labels
  FROM p
)
SELECT doc_id,
       CASE WHEN raw_scheme = '' THEN NULL ELSE
         scheme || '://' || host
         || CASE WHEN port <> ''
                  AND NOT (scheme = 'http' AND port = '80')
                  AND NOT (scheme = 'https' AND port = '443')
                 THEN ':' || port ELSE '' END
         || CASE WHEN path = '' THEN '/' ELSE path END
         || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
       END AS norm_url,
       CASE WHEN raw_scheme = '' THEN NULL ELSE
         CASE WHEN len(labels) >= 3
                   AND array_to_string(labels[greatest(len(labels)-1, 1):len(labels)], '.') IN ({cc})
              THEN array_to_string(labels[greatest(len(labels)-2, 1):len(labels)], '.')
              ELSE array_to_string(labels[greatest(len(labels)-1, 1):len(labels)], '.')
         END
       END AS domain
FROM q
"""


SQL_URL_NORMALIZE = _sql_url_normalize()


def q_line_dedup(spark, sf):
    """CCNet-style cross-corpus paragraph dedup (`dedup.paragraph_dedup`):
    every doc is rebuilt as three paragraphs — its first 10 tokens, a
    boilerplate line shared by ALL docs, and the remainder — and the
    operator must keep each distinct normalized paragraph only at its
    globally-first (doc_id, pos) occurrence, so the boilerplate
    survives in exactly one document. Hash-gated: md5 paragraph keys
    and the keep-first rule are engine-exact."""
    docs = _t(spark, sf, "documents")
    toks = TX.tokens("text")
    built = docs.select(
        "doc_id",
        F.concat(
            F.concat_ws(" ", F.slice(toks, 1, 10)),
            F.lit("\nsubscribe to our newsletter today\n"),
            F.concat_ws(" ", F.slice(toks, 11, F.greatest(F.size(toks) - 10, F.lit(1)))),
        ).alias("text"),
    )
    return DD.paragraph_dedup(built, "text", "doc_id")


SQL_LINE_DEDUP = r"""
WITH built AS (
  SELECT doc_id,
         -- array_to_string([]) is NULL in DuckDB (concat_ws is '' in
         -- Spark); coalesce so 10-token docs don't NULL out
         coalesce(array_to_string(toks[1:10], ' '), '') || chr(10)
         || 'subscribe to our newsletter today' || chr(10)
         || coalesce(array_to_string(toks[11:len(toks)], ' '), '') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
        FROM documents)
), ls AS (
  SELECT doc_id,
         unnest(range(len(string_split(text, chr(10))))) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM built
), norm AS (
  SELECT doc_id, pos, line,
         md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS key
  FROM ls
  WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g')) <> ''
), kept AS (
  SELECT doc_id, pos, line FROM norm
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) = 1
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept GROUP BY doc_id
"""


def q_minhash_pairs_capped(spark, sf):
    """`minhash_pairs_poly` with the degenerate-bucket cap engaged
    (`max_bucket=2`, sample mode): buckets larger than two members keep
    only their two smallest ids, bounding the candidate self-join at
    O(max_bucket²) per bucket — the defense against boilerplate clone
    classes that AQE (which only splits shuffle partitions) cannot
    provide. The cap itself is hash-verified: the oracle applies the
    identical bound as a QUALIFY row_number() over the band buckets, so
    both engines drop the same postings and miss the same pairs."""
    docs = _t(spark, sf, "documents")
    return DD.minhash_poly_pairs(
        docs,
        num_hashes=32,
        bands=8,
        shingle_n=3,
        jaccard_threshold=0.3,
        max_bucket=2,
        hot_bucket_mode="sample",
    )


SQL_MINHASH_PAIRS_CAPPED = SQL_MINHASH_PAIRS_POLY.replace(
    """  FROM sig, range(0, 8) AS r(band)
), cand AS (""",
    """  FROM sig, range(0, 8) AS r(band)
  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 2
), cand AS (""",
)
assert SQL_MINHASH_PAIRS_CAPPED != SQL_MINHASH_PAIRS_POLY


def q_simhash_pairs_poly(spark, sf):
    """SimHash near-dup pairs with the engine-reproducible poly hash
    family and a 60-bit hash (`dedup.simhash_poly_pairs`): the oracle
    re-implements hash, pigeonhole banding, and Hamming verification —
    the whole SimHash path hash-verifies (the xxhash/Arrow
    `simhash_pairs` twin stays the throughput path, rows-only)."""
    docs = _t(spark, sf, "documents")
    return DD.simhash_poly_pairs(docs, max_hamming=3)


_SIMHASH_TOKHASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(lower(tk), ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 31 + b) % 1000000007)"
)

SQL_SIMHASH_PAIRS_POLY = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, list_transform(list_distinct(toks), tk -> {_SIMHASH_TOKHASH_SQL}) AS hs
  FROM t WHERE len(toks) > 0
), sim AS (
  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
    CASE WHEN CAST(list_sum(list_transform(hs, hv ->
          CASE WHEN ((hv * (((2*i+1)*2654435761) % 1000000007) + 9176*i*i + 11) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
         THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh
  FROM h
), chunked AS (
  SELECT doc_id, sh, chunk, (sh >> (chunk * 15)) & 32767 AS ckey
  FROM sim, range(0, 4) AS r(chunk)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM chunked a JOIN chunked b
  ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) with deterministic sign-LSH
    clustering: cluster id = sign pattern of 6 fixed integer hyperplane
    dot products over the quantized embedding, then drop any vector with
    a smaller-id same-cluster neighbor at cosine ≥ 0.4 (the fixture's
    near-dup operating point, as in `cosine_neardup`). Quantized-int
    arithmetic makes clustering and similarity bit-equal to the DuckDB
    oracle, so the whole kept/dropped labeling hash-verifies."""
    from revtron_utils_spark.operators import semdedup as SD

    emb = _t(spark, sf, "embeddings")
    return SD.semantic_dedup(emb, threshold=0.4, planes=4, dim=64).orderBy("vec_id")


def _semdedup_plane_sql(j: int) -> str:
    return (
        "list_transform(range(0, 64), d -> CAST((("
        f"{j} * 131 + d + 7) * 2654435761) % 1000003 - 501001 AS DOUBLE))"
    )


SQL_SEMDEDUP = f"""
WITH e AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings),
c AS (
  SELECT vec_id, ev,
    ({" + ".join(
        f"(CASE WHEN list_inner_product(ev, {_semdedup_plane_sql(j)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )}) AS cluster_id
  FROM e
),
d AS (
  SELECT DISTINCT a.vec_id
  FROM c a JOIN c b ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
  WHERE list_inner_product(a.ev, b.ev)
        / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))) >= 0.4
)
SELECT c.vec_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
       (d.vec_id IS NULL) AS kept
FROM c LEFT JOIN d ON c.vec_id = d.vec_id
ORDER BY c.vec_id
"""


def q_semdedup_kmeans(spark, sf):
    """The SemDeDup paper's own clustering: spherical k-means (the IVF
    coarse quantizer) instead of sign-LSH. Iterative Lloyd fit is
    genuinely non-SQL, so rows-only here; parity with the hash-verified
    LSH variant is asserted differentially in
    tests/test_semdedup.py (identical-vector duplicates dropped by
    both, recall floor vs the exact ε-neighborhood)."""
    from revtron_utils_spark.operators import semdedup as SD

    emb = _t(spark, sf, "embeddings")
    return SD.semantic_dedup_kmeans(
        emb, threshold=0.4, n_clusters=16, seed=7
    ).orderBy("vec_id")


def q_label_centroids(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return (
        emb.select("label", F.posexplode(VX.quantize("embedding")).alias("pos", "qv"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(F.round(F.avg("qv") / 1000000, 6).alias("centroid"))
    )


SQL_LABEL_CENTROIDS = f"""
SELECT label, CAST(dim AS BIGINT) AS dim, ROUND(AVG(qv) / 1000000, 6) AS centroid
FROM (SELECT label, unnest({_QUANT}) AS qv, generate_subscripts(embedding, 1) AS dim
      FROM embeddings)
GROUP BY label, dim
"""


def q_embedding_outliers(spark, sf):
    """Per-label embedding outliers (`similarity.embedding_outliers`):
    top-5 vectors farthest from their label centroid via the exact
    integer identity ‖x−s/n‖²·n² = Σ(n·x−s)² — the mislabel/garbage
    screen for embedded corpora. O(labels×dims) centroid shuffle,
    broadcast back, no per-label collection; hash-matches the oracle."""
    return SIM.embedding_outliers(
        _t(spark, sf, "embeddings"), "embedding", "vec_id", "label", top_k=5, scale=1000
    )


SQL_EMBEDDING_OUTLIERS = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), nn AS (SELECT label, COUNT(*) AS n FROM q GROUP BY label),
e AS (SELECT label, vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q),
s AS (SELECT label, pos, SUM(v) AS s FROM e GROUP BY label, pos),
d AS (
  SELECT e.label, e.vec_id,
         SUM((nn.n * e.v - s.s) * (nn.n * e.v - s.s)) AS d2n
  FROM e JOIN s ON e.label = s.label AND e.pos = s.pos
         JOIN nn ON e.label = nn.label
  GROUP BY e.label, e.vec_id
), r AS (
  SELECT d.label, d.vec_id, d.d2n, nn.n,
         ROW_NUMBER() OVER (PARTITION BY d.label ORDER BY d.d2n DESC, d.vec_id) AS rk
  FROM d JOIN nn ON d.label = nn.label
)
SELECT label, vec_id, CAST(rk AS INT) AS rank,
       ROUND(CAST(d2n AS DOUBLE)
             / CAST(CAST(n * n AS BIGINT) * 1000000 AS DOUBLE), 6) AS dist2
FROM r WHERE rk <= 5
"""


def q_dedup_clusters(spark, sf):
    """Transitive near-dup clustering: deterministic n-gram-Jaccard pairs
    → distributed connected components (large-star/small-star) → every
    doc labeled with its cluster representative. The oracle replays the
    same edge set through a recursive-CTE reachability closure."""
    from revtron_utils_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"), shingle_n=3, threshold=0.2
    )
    comp = connected_components(pairs, src="id_a", dst="id_b", nodes=docs, node_col="doc_id")
    return comp.select(F.col("node").alias("doc_id"), "component")


SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), f AS (SELECT * FROM t WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM f a JOIN f b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
"""


def q_pagerank(spark, sf):
    """Integer-arithmetic PageRank over the bipartite customer↔supplier
    interaction graph (distinct trade pairs from orders⋈lineitem, both
    directions). Fixed 5 power iterations in exact int64 arithmetic —
    the oracle unrolls the identical recurrence as chained CTEs, so the
    gate is hash-exact despite PageRank being an iterative algorithm."""
    from revtron_utils_spark.operators.graph import pagerank

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pair.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iterations=5)


def _sql_pagerank() -> str:
    from revtron_utils_spark.operators.graph import pagerank_oracle_sql

    edges = (
        "SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " UNION "
        "SELECT l_suppkey * 2 + 1, o_custkey * 2"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return pagerank_oracle_sql(edges, iterations=5)


SQL_PAGERANK = _sql_pagerank()


def q_pagerank_seeded(spark, sf):
    """Personalized PageRank: teleport (and dangling) mass restricted to
    a trusted seed set — every 10th customer — the Common-Crawl
    harvest-rank shape (authority relative to trusted seed domains).
    Same exact-integer recurrence, hash-verified via the seeded oracle
    CTE chain."""
    from revtron_utils_spark.operators.graph import pagerank

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pair.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        o.filter(F.col("o_custkey") % 10 == 0)
        .select((F.col("o_custkey") * 2).alias("node"))
        .distinct()
    )
    return pagerank(edges, iterations=5, seeds=seeds)


def _sql_pagerank_seeded() -> str:
    from revtron_utils_spark.operators.graph import pagerank_oracle_sql

    edges = (
        "SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " UNION "
        "SELECT l_suppkey * 2 + 1, o_custkey * 2"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return pagerank_oracle_sql(
        edges, iterations=5, seed_pred="node % 2 = 0 AND (node // 2) % 10 = 0"
    )


SQL_PAGERANK_SEEDED = _sql_pagerank_seeded()


def q_triangle_counts(spark, sf):
    """Per-part triangle counts over the k-nearest-partner co-purchase
    graph: two parts are adjacent when some order contains both, and
    each part keeps only its 10 strongest partners (by co-occurrence
    count; deterministic hash tie-break so weight ties don't all
    collapse onto the smallest ids and manufacture 20k-degree hubs) —
    the standard market-basket sparsification, leaving a genuinely
    sparse graph (max degree ~50 at sf0.1 vs ~120 unsparsified).
    Degree-oriented wedge enumeration (Suri-Vassilvitskii); the oracle
    rebuilds the identical graph (integer weights, integer tie-break,
    QUALIFY top-10) and counts the same triangles with the naive a<b<c
    3-way join, which the orientation provably agrees with. (The gate
    previously ran on a 33-word-vocab unigram-Jaccard graph — a
    near-complete Θ(n³)-triangle input that benchmarked the input, not
    the algorithm; dense-graph behavior stays covered by
    tests/test_graph_curation.py.)"""
    from revtron_utils_spark.operators.graph import triangle_counts

    sparse = _copurchase_sparse(spark, sf)
    return triangle_counts(sparse, src="id_a", dst="id_b").withColumnRenamed(
        "node", "part_key"
    )


SQL_TRIANGLE_COUNTS = r"""
WITH pairs AS (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, COUNT(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  QUALIFY row_number() OVER (
    PARTITION BY id_a
    ORDER BY w DESC, (id_a * 2654435761 + id_b * 40503) % 999999937, id_b
  ) <= 10
), tri AS (
  SELECT x.u AS a, x.v AS b, y.v AS c
  FROM e x JOIN e y ON x.u = y.u AND x.v < y.v
  JOIN e z ON z.u = x.v AND z.v = y.v
), corners AS (
  SELECT a AS part_key FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part_key, COUNT(*) AS triangles FROM corners GROUP BY part_key
"""


def q_label_propagation(spark, sf):
    """Synchronous label-propagation communities
    (`graph.label_propagation`) over the same sparse k-nearest-partner
    co-purchase graph as `triangle_counts`: 3 plurality rounds with
    smallest-label tie-breaks — deterministic, so the oracle replays
    the identical rounds as unrolled CTEs. Community granularity sits
    between connected components and triangles; one node-keyed shuffle
    per round, lineage cut between rounds."""
    from revtron_utils_spark.operators.graph import label_propagation

    sparse = _copurchase_sparse(spark, sf)
    return label_propagation(sparse, "id_a", "id_b", iterations=3)


def _sql_label_propagation() -> str:
    from revtron_utils_spark.operators.graph import label_propagation_oracle_sql

    edges = r"""
SELECT id_a AS a, id_b AS b FROM (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, COUNT(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
QUALIFY row_number() OVER (
  PARTITION BY id_a
  ORDER BY w DESC, (id_a * 2654435761 + id_b * 40503) % 999999937, id_b
) <= 10
"""
    return label_propagation_oracle_sql(edges, iterations=3)


SQL_LABEL_PROPAGATION = _sql_label_propagation()


_SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_train_test_split(spark, sf):
    """Deterministic hash-based train/val/test assignment — stable under
    corpus growth (a doc's split never changes when new docs arrive)."""
    from revtron_utils_spark.operators import curation as CU

    docs = _t(spark, sf, "documents").select("doc_id")
    return CU.hash_split(docs, "doc_id", _SPLIT_W)


def _sql_split_expr() -> str:
    from revtron_utils_spark.operators.curation import HASH_MOD

    b = _sql_bucket("doc_id")
    t_train = int(0.8 * HASH_MOD)
    t_val = int(0.9 * HASH_MOD)
    return (
        f"CASE WHEN {b} < {t_train} THEN 'train' "
        f"WHEN {b} < {t_val} THEN 'val' ELSE 'test' END"
    )


SQL_TRAIN_TEST_SPLIT = f"SELECT doc_id, {_sql_split_expr()} AS split FROM documents"


def q_stratified_sample(spark, sf):
    """Deterministic per-stratum sampling (hash-threshold analog of
    sampleBy): urgent orders kept at 50%, others at 10%."""
    from revtron_utils_spark.operators import curation as CU

    od = _t(spark, sf, "orders")
    out = CU.stratified_hash_sample(
        od, "o_orderkey", "o_orderpriority", {"1-URGENT": 0.5}, default_fraction=0.1
    )
    return out.select("o_orderkey", "o_orderpriority")


def _sql_stratified() -> str:
    from revtron_utils_spark.operators.curation import HASH_MOD

    b = _sql_bucket("o_orderkey")
    return f"""
SELECT o_orderkey, o_orderpriority FROM orders
WHERE {b} < CASE WHEN o_orderpriority = '1-URGENT'
                 THEN {int(0.5 * HASH_MOD)} ELSE {int(0.1 * HASH_MOD)} END
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified()


def q_doc_chunks(spark, sf):
    """Sliding-window document chunking (64-token windows, stride 48) —
    context-window prep; one generator expansion, no shuffle."""
    from revtron_utils_spark.operators.curation import chunk_documents

    docs = _t(spark, sf, "documents")
    return chunk_documents(docs, chunk_tokens=64, stride=48).select(
        "doc_id", "chunk_id", "n_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


SQL_DOC_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         range(1, 1 + ((GREATEST(len(toks) - 64, 0) + 47) // 48) * 48 + 1, 48) AS starts
  FROM t
)
SELECT doc_id,
       CAST(generate_subscripts(starts, 1) - 1 AS BIGINT) AS chunk_id,
       CAST(GREATEST(LEAST(len(toks) - unnest(starts) + 1, 64), 0) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, unnest(starts), unnest(starts) + 63), ' ')) AS chunk_md5
FROM s
"""


def q_sequence_packing(spark, sf):
    """Offset packing of documents into 512-token training sequences,
    sharded by source (per-shard window — no global sort at scale)."""
    from revtron_utils_spark.operators.curation import pack_sequences

    docs = _t(spark, sf, "documents").select(
        "source", "doc_id", TX.token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", budget=512, partition_cols=["source"]
    ).select("source", "doc_id", "pack_id")


SQL_SEQUENCE_PACKING = r"""
SELECT source, doc_id,
       CAST(FLOOR(COALESCE(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT))
              OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS pack_id
FROM documents
"""


def q_pii_scan(spark, sf):
    """PII detection + redaction over documents with deterministically
    planted emails/phones (every 10th doc) — counts per kind plus the
    redacted text fingerprint."""
    from revtron_utils_spark.operators import curation as CU

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    stats = CU.pii_stats(docs)
    red = CU.pii_redact(stats)
    return red.select("doc_id", "n_email", "n_phone", "n_ssn", F.md5("text").alias("red_md5"))


SQL_PII_SCAN = rf"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{CU_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{CU_PHONE_RE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{CU_SSN_RE}')) AS BIGINT) AS n_ssn,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{CU_EMAIL_RE}', '[EMAIL]', 'g'),
             '{CU_PHONE_RE}', '[PHONE]', 'g'),
             '{CU_SSN_RE}', '[SSN]', 'g')) AS red_md5
FROM planted
"""


def q_decontaminate(spark, sf):
    """Eval-set decontamination: drop training docs sharing any word
    8-gram with the eval slice (every 97th doc). Eval grams broadcast;
    one scan of the train text."""
    from revtron_utils_spark.operators.curation import decontaminate

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, eval_df, ngram_n=8).select("doc_id")


SQL_DECONTAMINATE = r"""
WITH grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 8
           THEN list_transform(range(1, len(toks) - 6),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                               toks[i+4], toks[i+5], toks[i+6], toks[i+7]))
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), ev AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
), contaminated AS (
  SELECT DISTINCT t.doc_id FROM grams t JOIN ev ON t.g = ev.g
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def q_decontaminate_bloom(spark, sf):
    """Bloom-filter decontamination (`curation.decontaminate_bloom`) —
    the 100-TB path where the exact eval-gram set outgrows a broadcast:
    eval 8-grams fold into a fixed 32 KiB bitmap, the train scan probes
    4 bit positions per gram JVM-side. Position hashing uses the
    engine-reproducible poly family with fixed params, so the oracle
    models the bitmap as a distinct position set and reproduces the
    kept/dropped partition exactly, false positives included."""
    from revtron_utils_spark.operators.curation import decontaminate_bloom

    docs = _t(spark, sf, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate_bloom(train, eval_df).select("doc_id")


def _sql_decontaminate_bloom() -> str:
    from revtron_utils_spark.operators.curation import BLOOM_P, BLOOM_PARAMS

    mbits = 1 << 18
    gram_hash = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))), "
        "(a, b) -> (a * 31 + b) % 1000000007)"
    )
    pos = [f"((h * {a} + {b}) % {BLOOM_P}) % {mbits}" for a, b in BLOOM_PARAMS]
    ev_pos = "\nUNION ALL\n".join(
        f"  SELECT {p} AS p FROM gh WHERE doc_id % 97 = 0" for p in pos
    )
    probes = "\n    AND ".join(f"{p} IN (SELECT p FROM evpos)" for p in pos)
    return rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 8
           THEN list_transform(range(1, len(toks) - 6),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                               toks[i+4], toks[i+5], toks[i+6], toks[i+7]))
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM tk
), gh AS (
  SELECT doc_id, {gram_hash} AS h FROM grams
), evpos AS (
  SELECT DISTINCT p FROM (
{ev_pos}
  )
), contaminated AS (
  SELECT DISTINCT doc_id FROM gh
  WHERE doc_id % 97 != 0
    AND {probes}
)
SELECT doc_id FROM documents
WHERE doc_id % 97 != 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


SQL_DECONTAMINATE_BLOOM = _sql_decontaminate_bloom()


def q_embedding_decontaminate(spark, sf):
    """Semantic eval-leakage guard (`curation.embedding_decontaminate`):
    drop training embeddings within cosine 0.35 of any eval embedding
    (every 41st vector). Eval side broadcasts; the corpus passes once
    through a broadcast nested-loop ANTI join — no corpus shuffle.
    (0.35 because the fixture's embedding space is diffuse — max
    cross-split cosine ≈0.45; production thresholds sit near 0.9.)"""
    from revtron_utils_spark.operators.curation import embedding_decontaminate

    emb = _t(spark, sf, "embeddings")
    eval_df = emb.filter(F.col("vec_id") % 41 == 0)
    train = emb.filter(F.col("vec_id") % 41 != 0)
    return embedding_decontaminate(train, eval_df, threshold=0.35).select(
        "vec_id", "label"
    )


SQL_EMBEDDING_DECONTAMINATE = f"""
WITH e AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
ev AS (SELECT qv AS eq, SQRT(list_inner_product(qv, qv)) AS enrm FROM e WHERE vec_id % 41 = 0),
tr AS (SELECT vec_id, label, qv, SQRT(list_inner_product(qv, qv)) AS tnrm FROM e WHERE vec_id % 41 != 0),
bad AS (
  SELECT DISTINCT t.vec_id FROM tr t, ev
  WHERE ROUND(list_inner_product(t.qv, ev.eq) / (t.tnrm * ev.enrm), 6) >= 0.35
)
SELECT vec_id, label FROM tr WHERE vec_id NOT IN (SELECT vec_id FROM bad)
"""


def q_correlated_avg(spark, sf):
    """TPC-H Q17 shape: small-quantity orders vs the per-part average —
    the correlated scalar subquery, decorrelated into a grouped join
    (what Catalyst does to the SQL form internally)."""
    li = _t(spark, sf, "lineitem")
    pt = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#12")
    thr = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("thr")
    )
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(thr, li.l_partkey == thr.t_partkey)
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


SQL_CORRELATED_AVG = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
"""


def q_rollup_maintenance(spark, sf):
    """Incremental aggregate maintenance: three disjoint event windows
    folded through mergeable partials (count/sum/sumsq/min/max) must
    equal the direct aggregate over the union — the summary-table
    pattern that replaces full re-aggregation per sync at 100 TB."""
    from revtron_utils_spark.operators import rollup as RU

    ev = _t(spark, sf, "events")
    batches = [
        ev.filter(F.col("ts") < "2024-01-10"),
        ev.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")),
        ev.filter(F.col("ts") >= "2024-01-20"),
    ]
    out = RU.maintain_rollup(batches, ["event_type"], "value")
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("mean", 6).alias("mean"),
        F.round("var_pop", 2).alias("var_pop"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
    )


SQL_ROLLUP_MAINTENANCE = """
SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total,
       ROUND(SUM(value) / COUNT(value), 6) AS mean,
       ROUND(GREATEST(SUM(value * value) / COUNT(value)
             - (SUM(value) / COUNT(value)) * (SUM(value) / COUNT(value)), 0.0), 2) AS var_pop,
       ROUND(MIN(value), 6) AS min, ROUND(MAX(value), 6) AS max
FROM events GROUP BY event_type
"""


def q_fuzzy_pairs(spark, sf):
    """Entity-resolution fuzzy self-join: part names within 4 edits,
    blocked on the noun (second word) so only plausible pairs pay the
    edit-distance DP; Spark's thresholded levenshtein short-circuits."""
    from revtron_utils_spark.operators.fuzzy import fuzzy_self_pairs

    pt = _t(spark, sf, "part")
    noun = F.element_at(F.split(F.col("p_name"), " "), 2)
    return fuzzy_self_pairs(pt, "p_name", "p_partkey", [noun], max_dist=4)


SQL_FUZZY_PAIRS = """
WITH b AS (SELECT p_partkey AS id, p_name AS t, string_split(p_name, ' ')[2] AS blk FROM part)
SELECT l.id AS id_a, r.id AS id_b, CAST(levenshtein(l.t, r.t) AS BIGINT) AS dist
FROM b l JOIN b r ON l.blk = r.blk AND l.id < r.id
WHERE levenshtein(l.t, r.t) <= 4
"""


def q_exists_q4(spark, sf):
    """TPC-H Q4 shape: priority counts over orders having at least one
    big-quantity lineitem (EXISTS → left-semi broadcast join)."""
    od, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        od.join(big, od.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_EXISTS_Q4 = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
"""


def q_outerjoin_q13(spark, sf):
    """TPC-H Q13 shape: distribution of customers by order count —
    left outer join preserving order-less customers, two-level agg."""
    cu, od = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_OUTERJOIN_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def q_antijoin_q22(spark, sf):
    """TPC-H Q22 shape: rich customers (balance above the positive-
    balance average — scalar subquery) with no orders (anti join),
    rolled up by nation."""
    cu, od = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    avg_bal = cu.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    return (
        cu.filter(F.col("c_acctbal") > avg_bal)
        .join(od, cu.c_custkey == od.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_ANTIJOIN_Q22 = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


def q_window_range_frame(spark, sf):
    """Time-based RANGE frame: per-user rolling 1-hour event count and
    value sum (peers by timestamp, not row position)."""
    ev = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


SQL_WINDOW_RANGE_FRAME = """
SELECT event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       ROUND(SUM(value) OVER w, 2) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_window_firstlast(spark, sf):
    """first/last/nth value over a full-partition frame: each order
    alongside its customer's first, latest, and second order dates."""
    od = _t(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    # o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC so the cast
    # is a clean epoch mapping matching DuckDB's epoch_us
    d = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return od.select(
        "o_orderkey",
        F.first(d).over(w).alias("first_us"),
        F.last(d).over(w).alias("last_us"),
        F.nth_value(d, 2).over(w).alias("second_us"),
    )


SQL_WINDOW_FIRSTLAST = """
SELECT o_orderkey,
       first_value(epoch_us(o_orderdate)) OVER w AS first_us,
       last_value(epoch_us(o_orderdate)) OVER w AS last_us,
       nth_value(epoch_us(o_orderdate), 2) OVER w AS second_us
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_repetition_stats(spark, sf):
    """Gopher-style repetition signals per document: the most common
    word 2-gram (count + gram, via a shuffle-free sorted run-length
    scan) and the duplicate-token ratio — the quality gates that drop
    looping/spammy documents from training corpora."""
    docs = _t(spark, sf, "documents")
    top = TX.top_ngram_stats("text", 2)
    return docs.select(
        "doc_id",
        top["top_gram"].alias("top_gram"),
        top["top_count"].cast("long").alias("top_count"),
        F.round(TX.dup_token_ratio("text"), 6).alias("dup_ratio"),
    )


SQL_REPETITION_STATS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
           THEN list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1]))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t
), c AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram AS top_gram, n AS top_count,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram) AS rn
  FROM c
)
SELECT t.doc_id, top.top_gram, top.top_count,
       ROUND(1.0 - CAST(len(list_distinct(t.toks)) AS DOUBLE) / GREATEST(len(t.toks), 1), 6)
         AS dup_ratio
FROM t LEFT JOIN top ON t.doc_id = top.doc_id AND top.rn = 1
"""


def q_weighted_sample(spark, sf):
    """Quality-weighted deterministic downsampling: each order kept with
    probability proportional to its (capped) total price — reproducible
    across runs and engines, unlike rand()-based sampling."""
    from revtron_utils_spark.operators.curation import weighted_hash_sample

    od = _t(spark, sf, "orders")
    w = F.least(F.col("o_totalprice") / 400000.0, F.lit(1.0))
    return weighted_hash_sample(od, "o_orderkey", w).select("o_orderkey")


def _sql_weighted() -> str:
    from revtron_utils_spark.operators.curation import HASH_MOD

    b = _sql_bucket("o_orderkey")
    return f"""
SELECT o_orderkey FROM orders
WHERE {b} < CAST(LEAST(o_totalprice / 400000.0, 1.0) * {HASH_MOD} AS BIGINT)
"""


SQL_WEIGHTED_SAMPLE = _sql_weighted()


def q_scd2_history(spark, sf):
    """SCD2 history-preserving merge: init from a base snapshot, apply a
    batch with changed + unchanged + brand-new keys, and emit the full
    history (closed rows, reopened rows, untouched rows). Deterministic
    batch timestamps make the whole lifecycle oracle-checkable."""
    from revtron_utils_spark.operators.scd import scd2_init, scd2_merge

    cu = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    t0, t1 = "2024-01-01", "2024-02-01"
    scd = scd2_init(cu, ["c_custkey"], t0)
    changed = cu.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("CHANGED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 10).alias("c_acctbal"),
    )
    unchanged = cu.filter((F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 5 != 0))
    new = cu.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    batch = changed.unionByName(unchanged).unionByName(new)
    out = scd2_merge(scd, batch, ["c_custkey"], t1)
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.unix_micros("effective_from").alias("from_us"),
        F.unix_micros("effective_to").alias("to_us"),
        "is_current",
    )


SQL_SCD2_HISTORY = """
WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal,
       epoch_us(TIMESTAMP '2024-01-01') AS from_us,
       epoch_us(TIMESTAMP '2024-02-01') AS to_us, FALSE AS is_current
FROM base WHERE c_custkey % 5 = 0
UNION ALL
SELECT c_custkey, 'CHANGED', ROUND(c_acctbal + 10, 2),
       epoch_us(TIMESTAMP '2024-02-01'), NULL, TRUE
FROM base WHERE c_custkey % 5 = 0
UNION ALL
SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2),
       epoch_us(TIMESTAMP '2024-01-01'), NULL, TRUE
FROM base WHERE c_custkey % 5 != 0
UNION ALL
SELECT c_custkey + 1000000, 'NEW', 0.0,
       epoch_us(TIMESTAMP '2024-02-01'), NULL, TRUE
FROM base WHERE c_custkey % 100 = 0
"""


def q_salted_agg(spark, sf):
    """Skew-mitigated two-stage aggregation: partials on (group, salt)
    then finals on group — a hot group's reduce work spreads over 16
    tasks. Result-identical to the direct aggregate, which IS the
    oracle."""
    from revtron_utils_spark.operators.skew import salted_agg

    li = _t(spark, sf, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"n": "count(l_orderkey)", "qty": "sum(l_quantity)", "mx": "max(l_extendedprice)"},
        salt=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round("qty", 2).alias("qty"),
        F.round("mx", 2).alias("mx"),
    )


SQL_SALTED_AGG = """
SELECT l_returnflag, CAST(COUNT(l_orderkey) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS qty, ROUND(MAX(l_extendedprice), 2) AS mx
FROM lineitem GROUP BY l_returnflag
"""


def q_skew_stress(spark, sf):
    """Deliberate hot-key stress: the top-3 event types collapse into one
    'hot' group (~60% of the table), then the salted two-stage aggregate
    spreads that group's reduce work across 32 salt shards. Oracle = the
    direct aggregate (salting is result-identical by construction; the
    plan split is asserted in tests/test_skew.py). value sums use cents
    (int64) so both engines reduce in exact integer arithmetic."""
    from revtron_utils_spark.operators.skew import salted_agg

    ev = _t(spark, sf, "events").withColumn(
        "hot_key",
        F.when(
            F.col("event_type").isin("view", "click", "signup"), F.lit("hot")
        ).otherwise(F.col("event_type")),
    ).withColumn("cents", F.round(F.col("value") * 100).cast("long"))
    out = salted_agg(
        ev,
        ["hot_key"],
        {"n": "count(event_id)", "cents": "sum(cents)", "mx": "max(cents)"},
        salt=32,
    )
    return out.select(
        "hot_key",
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
        F.col("mx").cast("long").alias("mx"),
    )


SQL_SKEW_STRESS = """
SELECT CASE WHEN event_type IN ('view','click','signup') THEN 'hot'
            ELSE event_type END AS hot_key,
       CAST(COUNT(event_id) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS mx
FROM events GROUP BY 1
"""


def q_nation_volume_q7(spark, sf):
    """TPC-H Q7 shape: bilateral trade volume — supplier nation ×
    customer nation revenue for a nation pair, by ship year. Two
    dimension paths into one fact scan; dims broadcast."""
    su, li, od, cu, na = (
        _t(spark, sf, n) for n in ("supplier", "lineitem", "orders", "customer", "nation")
    )
    n1 = na.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = na.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            ((F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1"))
            | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


SQL_NATION_VOLUME_Q7 = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
      OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0'))
) GROUP BY supp_nation, cust_nation, l_year
"""


def q_profit_q9(spark, sf):
    """TPC-H Q9 shape: product-line profit by nation and order year.
    The fixture has no partsupp, so cost is a deterministic function of
    quantity (rate 0.6×retailprice/10) — the plan shape (two dim
    broadcasts into the fact, two-key rollup) is the point."""
    li, pt, su, na, od = (
        _t(spark, sf, n) for n in ("lineitem", "part", "supplier", "nation", "orders")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.06 * F.col("l_quantity")
    return (
        li.join(F.broadcast(pt.filter(F.col("p_name").like("%widget%"))), li.l_partkey == pt.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


SQL_PROFIT_Q9 = """
SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.06 * l_quantity), 2) AS sum_profit
FROM lineitem, part, supplier, nation, orders
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND s_nationkey = n_nationkey AND o_orderkey = l_orderkey
  AND p_name LIKE '%widget%'
GROUP BY n_name, o_year
"""


def q_returned_q10(spark, sf):
    """TPC-H Q10 shape: top customers by revenue lost to returns."""
    cu, od, li, na = (_t(spark, sf, n) for n in ("customer", "orders", "lineitem", "nation"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_RETURNED_Q10 = """
SELECT c_custkey, c_name, n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_promo_share_q14(spark, sf):
    """TPC-H Q14 shape: share of revenue from one part type — a
    conditional-sum ratio in a single aggregate pass over the join."""
    li, pt = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "STANDARD", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .agg(
            F.round(F.sum(promo) * 100.0 / F.sum(rev), 6).alias("promo_pct")
        )
    )


SQL_PROMO_SHARE_Q14 = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'STANDARD'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
FROM lineitem, part WHERE l_partkey = p_partkey
"""


def q_having_q18(spark, sf):
    """TPC-H Q18 shape: large-volume orders — aggregate + HAVING gate,
    then re-join the qualifying keys to the order header."""
    od, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        od.join(big, od.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty")
    )


SQL_HAVING_Q18 = """
SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
FROM orders JOIN (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
) ON o_orderkey = l_orderkey
"""


def q_avg_qty_q17(spark, sf):
    """TPC-H Q17 shape: small-quantity-order revenue — the canonical
    correlated scalar subquery (`l_quantity < 0.2·avg(l_quantity) per
    part`), decorrelated into a per-part aggregate + re-join, which is
    exactly the plan Catalyst's DecorrelateInnerQuery produces. The
    0.2·avg comparison runs in integers (5·q·n < Σq, quantities
    quantized ×100) and revenue sums in exact cents, so the single
    output row hash-matches DuckDB bit-for-bit (completes the 22/22
    TPC-H shape inventory)."""
    li = _t(spark, sf, "lineitem")
    pt = _t(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 15)
    )
    qi = F.col("l_quantity") * 100
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qi.cast("long")).alias("sum_q"),
        F.count(F.lit(1)).alias("n_q"),
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    joined = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(per_part, li.l_partkey == per_part.pk)
        .filter(qi.cast("long") * 5 * F.col("n_q") < F.col("sum_q"))
    )
    return joined.agg(
        (F.sum(cents) / F.lit(700.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_AVG_QTY_Q17 = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity * 100 AS BIGINT)) AS sum_q,
         COUNT(*) AS n_q
  FROM lineitem GROUP BY 1
)
SELECT SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 700.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#13' AND p_size <= 15
JOIN per_part ON l_partkey = pk
WHERE CAST(l_quantity * 100 AS BIGINT) * 5 * n_q < sum_q
"""


def q_revenue_q6(spark, sf):
    """TPC-H Q6 shape: forecast-revenue-change — pure filter + global
    sum, the canonical pushdown benchmark (every predicate reaches the
    parquet scan; no shuffle at all beyond the single partial/final
    aggregate). Revenue is summed in exact integer cents×basis-points so
    both engines reduce order-independently."""
    li = _t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    bp = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(cents * bp).cast("long").alias("revenue_e4"))
    )


SQL_REVENUE_Q6 = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_disjunctive_q19(spark, sf):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides — exercises Catalyst's disjunction handling (common
    conjunct `p_partkey = l_partkey` still pushes into the join; the
    branch predicates evaluate post-join)."""
    li, pt = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    b1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & (
        F.col("l_quantity").between(1, 11)
    )
    b2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & (
        F.col("l_quantity").between(10, 20)
    )
    b3 = (F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20)
    return j.filter(b1 | b2 | b3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_DISJUNCTIVE_Q19 = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND l_quantity >= 20)
"""


# ------------------------------------------- rows-only (non-SQL-expressible)


def q_sketch_rollup(spark, sf):
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg/hll_union_agg): two disjoint event batches sketched
    independently, unioned, estimated — the decomposable answer to
    COUNT(DISTINCT) in an incrementally-maintained rollup. Sketch
    binaries are engine-specific → rows-only."""
    from revtron_utils_spark.operators import rollup as RU

    ev = _t(spark, sf, "events")
    b1 = RU.sketch_rollup_partial(
        ev.filter(F.col("ts") < "2024-01-15"), ["event_type"], "user_id"
    )
    b2 = RU.sketch_rollup_partial(
        ev.filter(F.col("ts") >= "2024-01-15"), ["event_type"], "user_id"
    )
    merged = RU.sketch_rollup_merge(b1, b2, ["event_type"])
    return RU.sketch_rollup_estimate(merged, ["event_type"])


def q_minhash_pairs(spark, sf):
    """MinHash-LSH near-dup candidates over planted near-duplicates
    (documents with their last tokens dropped). Probabilistic hashing →
    no SQL oracle; validated by tests/test_dedup.py against exact
    Jaccard. Runs with the production degenerate-bucket bound engaged
    (`max_bucket=1000` — generous enough never to bite on this corpus,
    but the knob every 100-TB run must set; its semantics are
    hash-verified by `minhash_pairs_capped`)."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    toks = TX.tokens("text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    return DD.minhash_lsh_pairs(
        docs.unionByName(mutated), "text", "doc_id", jaccard_threshold=0.5,
        max_bucket=1000,
    )


def q_simhash_pairs(spark, sf):
    """SimHash near-dup pairs over the same planted near-duplicates."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    toks = TX.tokens("text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    return DD.simhash_pairs(docs.unionByName(mutated), "text", "doc_id", max_hamming=3)


def q_ivf_ann(spark, sf):
    """IVF approximate nearest neighbors (KMeans centroids + partition
    pruning). Centroid training is iterative → no SQL oracle; recall vs
    brute force checked in tests/test_similarity.py."""
    import hashlib
    import tempfile

    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    # stable path (not a context-managed tempdir): the returned DataFrame
    # is lazy — the index files must outlive this function call
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    index_path = f"{tempfile.gettempdir()}/revtron_ivf_{tag}"
    index = SIM.IVFIndex.build(emb, index_path, n_clusters=8)
    return index.search(qvec, k=10, nprobe=8)


def q_pq_ann(spark, sf):
    """Product-quantization ANN: spherical PQ codebooks (8 subspaces ×
    64 codes, deterministic sampled k-means++), Arrow-vectorized encode,
    JVM-unrolled ADC shortlist, exact quantized-cosine re-rank of the
    50 survivors — the IVFPQ-refine production shape. Codebook training
    is iterative numpy → no SQL oracle (rows-only gate); the pipeline's
    equality with brute-force top-k on this corpus and its recall floor
    are asserted in tests/test_pq.py."""
    from revtron_utils_spark.operators.pq import PQIndex

    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    index = PQIndex.train(emb, m=8, k=64, seed=42)
    enc = index.encode(emb)
    return index.rerank_topk(enc, list(qvec), k=10, shortlist=50)


def q_ivf_ann_poly(spark, sf):
    """IVF ANN with deterministic integer centroids
    (`similarity.ivf_probe_exact`, round-11 close of the `ivf_ann`
    rows-only gate): the 8 smallest-id vectors ARE the coarse
    centroids, assignment/probe/top-k are exact int64 over quantized
    components, so the DuckDB twin reproduces the ENTIRE IVF path —
    Voronoi assignment, 2-probe pruning, ranked shortlist — hash-exact.
    The KMeans-trained `ivf_ann` stays as the recall-documented
    throughput twin. Physical plan: seeds folded to literals → one
    narrow projection (no join/shuffle) → TakeOrderedAndProject."""
    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    return SIM.ivf_probe_exact(emb, list(qvec), k=10, n_seeds=8, nprobe=2)


def _sql_ivf_ann_poly() -> str:
    from revtron_utils_spark.operators.similarity import (
        ivf_probe_exact_oracle_sql,
    )

    return ivf_probe_exact_oracle_sql(k=10, n_seeds=8, nprobe=2, dim=64)


SQL_IVF_ANN_POLY = _sql_ivf_ann_poly()


def q_pq_ann_poly(spark, sf):
    """PQ ADC search with deterministic integer codebooks
    (`pq.pq_adc_exact`, round-11 close of the `pq_ann` rows-only gate):
    per-subspace codebooks are the subvectors of the 16 smallest-id
    vectors, encode/ADC/shortlist/re-rank all exact int64 with integer
    tie order, so the DuckDB twin reproduces the full
    compress-score-refine pipeline hash-exact. The k-means++-trained
    `pq_ann` stays as the throughput twin. Physical plan: codebooks
    unrolled as literals → one projection (encode + ADC LUT, no
    join/shuffle) → two TakeOrderedAndProjects (shortlist, re-rank)."""
    from revtron_utils_spark.operators.pq import pq_adc_exact

    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    return pq_adc_exact(emb, list(qvec), k=10, shortlist=50, m=4, n_codes=16)


def _sql_pq_ann_poly() -> str:
    from revtron_utils_spark.operators.pq import pq_adc_exact_oracle_sql

    return pq_adc_exact_oracle_sql(k=10, shortlist=50, m=4, n_codes=16, dim=64)


SQL_PQ_ANN_POLY = _sql_pq_ann_poly()


def q_cramer_von_mises(spark, sf):
    """Integrated ECDF drift (`profile.cramer_von_mises`): the CvM
    criterion between the 1995 and 1999 order-value distributions on
    the same $5k buckets as `ks_test`/`hellinger_drift` — KS finds the
    worst single point of disagreement, CvM sums ALL of it, so a broad
    mild shift registers even when no point spikes. Exact DECIMAL
    Σ t·D² numerator over the same integer CDF cross products, ONE
    pinned division, measured width fail-fast."""
    from revtron_utils_spark.operators.profile import cramer_von_mises

    orders = _t(spark, sf, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 500000").alias(
            "bucket"
        ),
    )
    return cramer_von_mises(orders, "bucket", "yr", 1995, 1999)


def _sql_cramer_von_mises() -> str:
    from revtron_utils_spark.operators.profile import cramer_von_mises_oracle_sql

    values = """
SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket
FROM orders
"""
    return cramer_von_mises_oracle_sql(values, "bucket", "yr", "1995", "1999")


SQL_CRAMER_VON_MISES = _sql_cramer_von_mises()


def q_winsorized_stats(spark, sf):
    """Robust location per segment (`profile.winsorized_stats`):
    winsorized + trimmed mean order value per priority — the
    whale-proof revenue-per-order readout next to `robust_stats`
    (median/MAD) and `stats_moments` (the raw mean the whales own).
    Exact rank-⌈q·n⌉ discrete percentiles (data values, no
    interpolation), exact DECIMAL clamped/trimmed sums, one pinned
    division per mean."""
    from revtron_utils_spark.operators.profile import winsorized_stats

    o = _t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return winsorized_stats(o, "cents", by=["prio"])


def _sql_winsorized_stats() -> str:
    from revtron_utils_spark.operators.profile import winsorized_stats_oracle_sql

    values = """
SELECT o_orderpriority AS prio,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
"""
    return winsorized_stats_oracle_sql(values, "cents", by=["prio"])


SQL_WINSORIZED_STATS = _sql_winsorized_stats()


def q_correlation_matrix(spark, sf):
    """Feature-redundancy screen (`profile.correlation_matrix`): all
    pairwise Pearson correlations between quantity, extended price,
    discount bps, and tax bps over lineitem — k(k−1)/2 correlations
    from ONE scan (`grouped_linreg`'s moment algebra, widened), the
    pre-training check that catches a duplicated feature column before
    it ships. Exact DECIMAL moments, pinned rational-over-sqrt tails."""
    from revtron_utils_spark.operators.profile import correlation_matrix

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("disc_bps"),
        F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("tax_bps"),
    )
    return correlation_matrix(li, ["qty", "cents", "disc_bps", "tax_bps"])


def _sql_correlation_matrix() -> str:
    from revtron_utils_spark.operators.profile import (
        correlation_matrix_oracle_sql,
    )

    values = """
SELECT CAST(l_quantity AS BIGINT) AS qty,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       CAST(round(l_discount * 10000) AS BIGINT) AS disc_bps,
       CAST(round(l_tax * 10000) AS BIGINT) AS tax_bps
FROM lineitem
"""
    return correlation_matrix_oracle_sql(
        values, ["qty", "cents", "disc_bps", "tax_bps"]
    )


SQL_CORRELATION_MATRIX = _sql_correlation_matrix()


def q_krippendorff_alpha(spark, sf):
    """Variable-panel agreement (`annotation.krippendorff_alpha`):
    Krippendorff's α of the per-order lineitem "rater" panel on the
    return flag — the agreement coefficient that tolerates the
    variable panel sizes real crowd tables have (Cohen needs fixed
    pairs, Fleiss a fixed panel; orders have 1-7 lineitems).
    Single-rating orders are excluded and counted (Krippendorff's
    rule). Exact per-panel-size integer disagreement sums, m-ordered
    fold, pinned D_e/α tail."""
    from revtron_utils_spark.operators.annotation import krippendorff_alpha

    return krippendorff_alpha(_ratings(spark, sf), "item", "rater", "label")


def _sql_krippendorff_alpha() -> str:
    from revtron_utils_spark.operators.annotation import (
        krippendorff_alpha_oracle_sql,
    )

    # (inline rather than _SQL_RATINGS: that constant is defined later
    # in the module and this builder runs at import)
    ratings = (
        "SELECT l_orderkey AS item, l_linenumber AS rater, "
        "l_returnflag AS label FROM lineitem"
    )
    return krippendorff_alpha_oracle_sql(ratings, "item", "rater", "label")


SQL_KRIPPENDORFF_ALPHA = _sql_krippendorff_alpha()


def q_shapley_attribution(spark, sf):
    """Game-theoretic channel credit (`funnel.shapley_attribution`):
    exact Shapley values of the four non-purchase event channels over
    purchasing users — `attribution_last_touch` is position-biased,
    `markov_attribution` path-model-biased; Shapley is the only
    allocation satisfying efficiency + symmetry, and at ≤12 channels
    the full 2^k lattice is EXACT (no sampling). The corpus reduces to
    ≤2^k mask counts in one pass; everything after is integer algebra
    on the lattice with one k! division."""
    from revtron_utils_spark.operators.funnel import shapley_attribution

    ev = _t(spark, sf, "events").select("user_id", "event_type")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    touches = ev.where(F.col("event_type") != "purchase").join(
        buyers, "user_id"
    )
    return shapley_attribution(touches, "user_id", "event_type")


def _sql_shapley_attribution() -> str:
    from revtron_utils_spark.operators.funnel import (
        shapley_attribution_oracle_sql,
    )

    touches = """
SELECT e.user_id, e.event_type
FROM events e
JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') b
  ON e.user_id = b.user_id
WHERE e.event_type <> 'purchase'
"""
    return shapley_attribution_oracle_sql(touches, "user_id", "event_type")


SQL_SHAPLEY_ATTRIBUTION = _sql_shapley_attribution()


def q_brier_decomposition(spark, sf):
    """Murphy decomposition (`evaluation.brier_decomposition`) of the
    hashed-linear quality score against the Gopher pass label — the
    WHY behind `ece`'s single number: reliability (how wrong the
    stated confidences are), resolution (whether the score separates
    the classes at all), uncertainty (the base-rate floor), with the
    algebraic identity brier = rel − res + unc as the built-in
    acceptance check. Same byte-identical binning as `calibration`;
    midpoint convention keeps every term engine-exact."""
    from revtron_utils_spark.functions import classifier as CL
    from revtron_utils_spark.operators.evaluation import brier_decomposition

    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    scored = docs.select(
        CL.hashed_linear_score_num("text", dim=4096, seed=0).alias("num"),
        TX.token_count("text").cast("long").alias("den"),
        CL.gopher_quality_flags("text").getField("pass_all").alias("y"),
    )
    return brier_decomposition(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


def _sql_brier_decomposition() -> str:
    from revtron_utils_spark.operators.evaluation import (
        brier_decomposition_oracle_sql,
    )

    scored = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS den,
         COALESCE(list_sum(list_transform(toks, tk ->
           (({_TOKHASH_SQL} % 4096 + 1) * 2654435761) % 2000001 - 1000000
         )), 0) AS num,
         COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0) AS sum_len,
         len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) AS n_sym,
         len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) AS n_stop
  FROM t
)
SELECT num, den,
       ((den >= 20 AND den <= 100000) AND (sum_len >= 3 * den AND sum_len <= 10 * den)
        AND (n_alpha * 5 >= den * 4) AND (n_sym * 10 <= den) AND (n_stop >= 2)) AS y
FROM s
"""
    return brier_decomposition_oracle_sql(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


SQL_BRIER_DECOMPOSITION = _sql_brier_decomposition()


def q_tukey_hsd(spark, sf):
    """Post-hoc pairwise contrasts (`profile.tukey_hsd`): which order
    priorities actually differ in mean value after `anova_f` rejects —
    the studentized-range q per priority pair over the same exact
    DECIMAL moments and ordered within-variance fold. Exact integer
    pair numerators, one pinned division per pair."""
    from revtron_utils_spark.operators.profile import tukey_hsd

    o = _t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return tukey_hsd(o, "cents", "prio")


def _sql_tukey_hsd() -> str:
    from revtron_utils_spark.operators.profile import tukey_hsd_oracle_sql

    values = """
SELECT o_orderpriority AS prio,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
"""
    return tukey_hsd_oracle_sql(values, "cents", "prio")


SQL_TUKEY_HSD = _sql_tukey_hsd()


def q_dunn_test(spark, sf):
    """Post-hoc rank contrasts (`profile.dunn_test`): which return-flag
    populations differ in quantity distribution after `kruskal_wallis`
    rejects — Dunn's tie-corrected z per pair on the same doubled
    midrank spine. Exact DECIMAL rank/tie sums, exact integer pair
    numerators, pinned σ²/z tail."""
    from revtron_utils_spark.operators.profile import dunn_test

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    return dunn_test(li, "qty", "flag")


def _sql_dunn_test() -> str:
    from revtron_utils_spark.operators.profile import dunn_test_oracle_sql

    values = """
SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag
FROM lineitem
"""
    return dunn_test_oracle_sql(values, "qty", "flag")


SQL_DUNN_TEST = _sql_dunn_test()


def q_iv_wald(spark, sf):
    """Instrumental-variable effect (`profile.iv_wald`): the effect of
    URGENT handling on order value per market segment, identified
    through the even-orderkey "encouragement" instrument — the causal
    readout when treatment is confounded but an exogenous nudge exists
    (DiD needs parallel trends, CUPED a pre-period; IV needs only the
    exclusion restriction). Six exact DECIMAL conditional sums from ONE
    aggregation, exact cross-product differences, pinned β tail."""
    from revtron_utils_spark.operators.profile import iv_wald

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_orderkey") % 2 == 0).cast("int").alias("z"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("x"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "z", "x", "y"
    )
    return iv_wald(j, "y", "x", "z", by=["c_mktsegment"])


def _sql_iv_wald() -> str:
    from revtron_utils_spark.operators.profile import iv_wald_oracle_sql

    units = """
SELECT c_mktsegment,
       CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS z,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
       CAST(round(o_totalprice * 100) AS BIGINT) AS y
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return iv_wald_oracle_sql(units, "y", "x", "z", by=["c_mktsegment"])


SQL_IV_WALD = _sql_iv_wald()


def q_srm_check(spark, sf):
    """Assignment integrity (`profile.srm_check`): sample-ratio-
    mismatch χ² of the deterministic orderkey%4 arm split — the gate
    that must pass BEFORE `ab_test`/`effect_sizes`/`cuped` mean
    anything. Exact (k·Σo² − n²)/n algebra, one division, max/min arm
    counts as the which-arm-leaks readout."""
    from revtron_utils_spark.operators.profile import srm_check

    o = _t(spark, sf, "orders").select(
        (F.col("o_orderkey") % 4).alias("arm")
    )
    return srm_check(o, "arm")


def _sql_srm_check() -> str:
    from revtron_utils_spark.operators.profile import srm_check_oracle_sql

    return srm_check_oracle_sql(
        "SELECT o_orderkey % 4 AS arm FROM orders", "arm"
    )


SQL_SRM_CHECK = _sql_srm_check()


def q_mrr_at_k(spark, sf):
    """First-hit ranking quality (`evaluation.mrr_at_k`): per-customer
    reciprocal rank of the first URGENT order in the value-ranked top
    10 — the navigational-query readout next to `ndcg_at_k` (whole
    list) and `mean_avg_precision` (all hits). Deterministic ranks,
    exact integer first-hit positions, query-ordered reciprocal fold."""
    from revtron_utils_spark.operators.evaluation import mrr_at_k

    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("order_id"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").alias("rel"),
    )
    return mrr_at_k(o, "cust", "order_id", "cents", "rel", k=10)


def _sql_mrr_at_k() -> str:
    from revtron_utils_spark.operators.evaluation import mrr_at_k_oracle_sql

    cands = """
SELECT o_custkey AS cust, o_orderkey AS order_id,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       (o_orderpriority = '1-URGENT') AS rel
FROM orders
"""
    return mrr_at_k_oracle_sql(cands, "cust", "order_id", "cents", "rel", k=10)


SQL_MRR_AT_K = _sql_mrr_at_k()


def q_ngram_novelty(spark, sf):
    """Per-document originality (`retrieval.ngram_novelty`): the share
    of each document's distinct 3-grams with corpus df = 1 — the
    inverse of the dedup family (MinHash asks "whose copy is this";
    novelty asks "how much of this is genuinely new"), the boilerplate
    screen before mixture weighting. Inverted-index plan (explode →
    df shuffle → join back), exact counts, one pinned division, total
    (novelty DESC, id) order."""
    from revtron_utils_spark.operators.retrieval import ngram_novelty

    return ngram_novelty(_t(spark, sf, "documents"), "text", "doc_id", n=3)


def _sql_ngram_novelty() -> str:
    from revtron_utils_spark.operators.retrieval import ngram_novelty_oracle_sql

    return ngram_novelty_oracle_sql(
        "SELECT doc_id, text FROM documents", "text", "doc_id", n=3
    )


SQL_NGRAM_NOVELTY = _sql_ngram_novelty()


def q_ffill_series(spark, sf):
    """Calendar densify + forward fill (`timeseries.ffill_series`):
    the monthly URGENT-order revenue series per market segment, with
    every month from each segment's first to last order materialized
    and gaps carried forward — the spine repair `ewma`/`holt`/`acf`
    silently assume (sparse months would otherwise compress time).
    Integer month spine via per-group sequence, group-windowed
    last-ignorenulls carry, duplicate-bucket fail-fast."""
    from revtron_utils_spark.operators.timeseries import ffill_series

    o = _t(spark, sf, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    series = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "mon")
        .agg(F.sum("cents").alias("rev"))
    )
    return ffill_series(series, "seg", "mon", "rev")


def _sql_ffill_series() -> str:
    from revtron_utils_spark.operators.timeseries import ffill_series_oracle_sql

    series = """
SELECT c_mktsegment AS seg,
       CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS mon,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1, 2
"""
    return ffill_series_oracle_sql(series, "seg", "mon", "rev")


SQL_FFILL_SERIES = _sql_ffill_series()


def q_ols_two_factor(spark, sf):
    """Two-driver OLS (`profile.ols_two_factor`): line-value cents on
    quantity AND discount bps per return flag — the multivariate step
    past `grouped_linreg` (one regressor can't separate correlated
    drivers; price rises with quantity and falls with discount, and
    the single-factor fit blames the wrong one). Nine exact DECIMAL
    moments from ONE aggregation, pinned Cramer determinants,
    singular-system NULLs."""
    from revtron_utils_spark.operators.profile import ols_two_factor

    li = _t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("disc_bps"),
    )
    return ols_two_factor(li, "cents", "qty", "disc_bps", by=["flag"])


def _sql_ols_two_factor() -> str:
    from revtron_utils_spark.operators.profile import ols_two_factor_oracle_sql

    points = """
SELECT l_returnflag AS flag,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       CAST(l_quantity AS BIGINT) AS qty,
       CAST(round(l_discount * 10000) AS BIGINT) AS disc_bps
FROM lineitem
"""
    return ols_two_factor_oracle_sql(
        points, "cents", "qty", "disc_bps", by=["flag"]
    )


SQL_OLS_TWO_FACTOR = _sql_ols_two_factor()


def q_dataset_card(spark, sf):
    """One-row corpus datasheet — the composition gate that assembles
    the numbers a dataset card leads with (Gebru et al., "Datasheets
    for Datasets") from the repo's exact primitives in ONE plan:
    document count, total whitespace tokens, English share (marker
    lang-ID), exact-duplicate rate (normalized-text fingerprints),
    Gopher quality pass rate, and the discrete median document length
    (rank-⌈n/2⌉ over the bounded length histogram). Every ingredient
    is integer-exact with one pinned division per rate, so the whole
    card hash-matches a chained-CTE oracle."""
    from pyspark.sql.window import Window

    from revtron_utils_spark.functions import classifier as CL

    # guarded spread below the per-doc scoring projection (r13)
    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    base = docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("ntok"),
        (TX.lang_id("text") == "en").cast("int").alias("is_en"),
        TX.fingerprint("text").alias("fp"),
        CL.gopher_quality_flags("text").getField("pass_all").cast("int").alias(
            "gopher"
        ),
        F.length("text").cast("long").alias("len"),
    )
    core = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("n_tokens"),
        F.sum("is_en").alias("_en"),
        F.count_distinct(F.col("fp")).alias("_uniq"),
        F.sum("gopher").alias("_gp"),
    )
    hist = base.groupBy("len").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy("len").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("len").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        hist.select(
            "len",
            F.sum("_c").over(wcum).alias("_cum"),
            F.sum("_c").over(wall).alias("_nt"),
        )
        .where(F.col("_cum") >= F.ceil(F.col("_nt") / F.lit(2.0)))
        .agg(F.min("len").alias("p50_chars"))
    )
    n = F.col("n_docs")
    nd = n.cast("double")
    return core.crossJoin(med).select(
        n.cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("_en").cast("double") / nd, 6).alias("pct_en"),
        F.round(
            (n - F.col("_uniq")).cast("double") / nd, 6
        ).alias("dup_rate"),
        F.round(F.col("_gp").cast("double") / nd, 6).alias("gopher_pass_rate"),
        F.col("p50_chars").cast("long").alias("p50_chars"),
    )


def _sql_dataset_card() -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS toks
  FROM documents
),
lp AS MATERIALIZED ({SQL_LANG_ID}),
gs AS (
  SELECT t.doc_id,
         CAST(len(toks) AS BIGINT) AS ntok,
         CASE WHEN lp.lang_pred = 'en' THEN 1 ELSE 0 END AS is_en,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         CASE WHEN (len(toks) >= 20 AND len(toks) <= 100000)
               AND (COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0)
                    BETWEEN 3 * len(toks) AND 10 * len(toks))
               AND (len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) * 5 >= len(toks) * 4)
               AND (len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) * 10 <= len(toks))
               AND (len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) >= 2)
              THEN 1 ELSE 0 END AS gopher,
         CAST(length(text) AS BIGINT) AS len
  FROM t JOIN lp ON t.doc_id = lp.doc_id
),
core AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         CAST(SUM(is_en) AS BIGINT) AS _en,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS _uniq,
         CAST(SUM(gopher) AS BIGINT) AS _gp
  FROM gs
),
hist AS (
  SELECT len, CAST(COUNT(*) AS BIGINT) AS _c FROM gs GROUP BY len
),
med AS (
  SELECT CAST(MIN(len) AS BIGINT) AS p50_chars FROM (
    SELECT len,
           SUM(_c) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
           SUM(_c) OVER () AS _nt
    FROM hist
  ) WHERE _cum >= CEIL(CAST(_nt AS DOUBLE) / 2.0)
)
SELECT n_docs, n_tokens,
       ROUND(CAST(_en AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pct_en,
       ROUND(CAST(n_docs - _uniq AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
       ROUND(CAST(_gp AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS gopher_pass_rate,
       p50_chars
FROM core, med
"""


SQL_DATASET_CARD = _sql_dataset_card()


def q_sample_size_power(spark, sf):
    """Experiment planning (`profile.sample_size_power`): the n-per-arm
    each market segment needs to detect a 2% order-value lift at
    α=5%/80% power — the readout that belongs BEFORE `ab_test` ships
    (underpowered experiments are decisions already made). z quantiles
    are shared Python literals (the DCG-weight precedent — no inverse
    normal CDF in either engine); exact DECIMAL moments, pinned tail."""
    from revtron_utils_spark.operators.profile import sample_size_power

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select("c_mktsegment", "cents")
    return sample_size_power(j, "cents", by=["c_mktsegment"])


def _sql_sample_size_power() -> str:
    from revtron_utils_spark.operators.profile import (
        sample_size_power_oracle_sql,
    )

    values = """
SELECT c_mktsegment, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return sample_size_power_oracle_sql(values, "cents", by=["c_mktsegment"])


SQL_SAMPLE_SIZE_POWER = _sql_sample_size_power()


def q_hhi_concentration(spark, sf):
    """Supplier concentration (`profile.hhi_concentration`): HHI and
    effective-supplier count of the per-supplier lineitem share within
    each return-flag population — the top-weighted companion to
    `concentration_gini` (Gini sees the whole curve; HHI moves when
    ONE key eats the corpus). Exact Σc² DECIMAL, two pinned divisions,
    no windows or ranks anywhere."""
    from revtron_utils_spark.operators.profile import hhi_concentration

    li = _t(spark, sf, "lineitem").select("l_returnflag", "l_suppkey")
    return hhi_concentration(li, ["l_suppkey"], by=["l_returnflag"])


def _sql_hhi_concentration() -> str:
    from revtron_utils_spark.operators.profile import (
        hhi_concentration_oracle_sql,
    )

    return hhi_concentration_oracle_sql(
        "lineitem", ["l_suppkey"], by=["l_returnflag"]
    )


SQL_HHI_CONCENTRATION = _sql_hhi_concentration()


def q_lorenz_curve(spark, sf):
    """Corpus inequality curve (`profile.lorenz_curve`): cumulative
    order share held by each decile of customers (ranked by order
    count) — the curve behind `concentration_gini`'s single number
    ("the bottom half of customers hold X% of orders"). Deterministic
    distributed rank (no single-task sort), integer (a+b−1) div b band
    ceil (the negated-div identity is an engine trap: Spark div
    truncates, DuckDB // floors), bounded 10-row cumsum."""
    from revtron_utils_spark.operators.profile import lorenz_curve

    o = _t(spark, sf, "orders").select("o_custkey")
    return lorenz_curve(o, ["o_custkey"], n_bands=10)


def _sql_lorenz_curve() -> str:
    from revtron_utils_spark.operators.profile import lorenz_curve_oracle_sql

    return lorenz_curve_oracle_sql("orders", ["o_custkey"], n_bands=10)


SQL_LORENZ_CURVE = _sql_lorenz_curve()


def _fake_sf_client(spark, sf, limit_rows=5000):
    """Salesforce-compatible client over an in-memory backend seeded
    deterministically from the events fixture (S9-S19 demo without a
    live org)."""
    from revtron_utils_spark.sources.salesforce import FakeSalesforceTransport, Salesforce

    ev = _t(spark, sf, "events").orderBy("event_id").limit(limit_rows)
    records = [
        {
            "Id": f"ID{r.event_id}",
            "LastModifiedDate": r.ts,
            "event_type": r.event_type,
            "value": r.value,
        }
        for r in ev.collect()
    ]
    transport = FakeSalesforceTransport({"Event__c": records})
    return Salesforce(spark, transport, max_parallelism=8)


def q_rest_extract(spark, sf):
    """S9-S13: two-phase partition-parallel REST extraction (id cursor →
    mapInPandas batch fetch) with a date window, against the
    deterministic fake backend."""
    from datetime import datetime

    client = _fake_sf_client(spark, sf)
    df = client.get(
        "Event__c",
        columns=["Id", "event_type", "value"],
        start_date=datetime(2024, 1, 5),
        end_date=datetime(2024, 1, 15),
    )
    return df.select(F.col("Id").alias("id"), "event_type", "value")


SQL_REST_EXTRACT = """
SELECT 'ID' || CAST(event_id AS VARCHAR) AS id, event_type, value FROM (
  SELECT * FROM events ORDER BY event_id LIMIT 5000
) WHERE ts >= '2024-01-05' AND ts <= '2024-01-15'
"""


def q_rest_writeback(spark, sf):
    """S19 rows-only: partition-parallel write-back with per-record
    status capture (PATCH-if-id-else-POST routing)."""
    client = _fake_sf_client(spark, sf, limit_rows=200)
    updates = [{"Id": f"ID{i}", "event_type": "patched"} for i in range(1, 51)]
    res = client.update("Event__c", updates)
    return res.select("record_id", "status").orderBy("record_id")


def q_frame_sampling(spark, sf):
    """Multimodal frame-sampling plumbing: every-nth-frame expansion per
    binary payload via Arrow-batched mapInPandas; the decode is a
    deterministic stand-in (see multimodal.py). Hash-verified: the
    frame-hash preimage (payload | frame idx) stays valid UTF-8 for
    text payloads, so DuckDB's sha256 recomputes the same values."""
    from revtron_utils_spark.multimodal import attach_binary_payload, sample_frames

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return sample_frames(attach_binary_payload(docs, "text"), every_nth=5)


SQL_FRAME_SAMPLING = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, octet_length(encode(text)) // 100 + 1, 5)) AS fi
  FROM documents
)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       substr(sha256(text || '|' || CAST(fi AS VARCHAR)), 1, 16) AS frame_hash
FROM f
"""


def q_multimodal_features(spark, sf):
    """Binary image columns end-to-end with a REAL decode: every doc gets
    a deterministic 24-bit BMP payload, decoded inside the Arrow batch
    iterator (numpy-only BMP parser) into genuine per-channel pixel
    means + luma stats — see revtron_utils_spark/multimodal.py.
    Hash-verified: the BMP roundtrip is bit-exact, so the oracle
    recomputes the same pixel statistics from the synth-image affine
    formula in pure SQL (round-4 absorbs numpy-pairwise vs
    SQL-sequential summation, ~1e-13 apart over 256 values)."""
    from revtron_utils_spark.multimodal import attach_image_payload, image_stats

    docs = _t(spark, sf, "documents").select("doc_id")
    stats = image_stats(attach_image_payload(docs))
    return stats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("luma_std", 4).alias("luma_std"),
    )


SQL_MULTIMODAL_FEATURES = """
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         CAST((x.x*7 + y.y*13 + d.doc_id*31) % 256 AS DOUBLE) AS r,
         CAST((x.x*3 + y.y*5 + d.doc_id*17) % 256 AS DOUBLE) AS g,
         CAST((x.x*11 + y.y*2 + d.doc_id*7) % 256 AS DOUBLE) AS b
  FROM documents d
  CROSS JOIN generate_series(0, 15) x(x)
  CROSS JOIN generate_series(0, 15) y(y)
)
SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       ROUND(AVG(r), 4) AS mean_r,
       ROUND(STDDEV_POP(0.299*r + 0.587*g + 0.114*b), 4) AS luma_std
FROM px GROUP BY doc_id
"""


def q_image_resize(spark, sf):
    """REAL image resize end-to-end: deterministic BMP payloads →
    nearest-neighbor 16×16 → 8×8 (`multimodal.resize_images`, integer
    index map ``src = (dst·in)//out``) → re-encode → decode again for
    pixel stats. Hash-verified: the oracle recomputes the resized
    pixels from the synth-image affine formula at the gathered source
    coordinates (src = 2·dst for this shape) in pure SQL."""
    from revtron_utils_spark.multimodal import (
        attach_image_payload,
        image_stats,
        resize_images,
    )

    docs = _t(spark, sf, "documents").select("doc_id")
    resized = resize_images(attach_image_payload(docs), 8, 8)
    stats = image_stats(resized)
    return stats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("luma_std", 4).alias("luma_std"),
    )


SQL_IMAGE_RESIZE = """
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         CAST(((2*x.x)*7 + (2*y.y)*13 + d.doc_id*31) % 256 AS DOUBLE) AS r,
         CAST(((2*x.x)*3 + (2*y.y)*5 + d.doc_id*17) % 256 AS DOUBLE) AS g,
         CAST(((2*x.x)*11 + (2*y.y)*2 + d.doc_id*7) % 256 AS DOUBLE) AS b
  FROM documents d
  CROSS JOIN generate_series(0, 7) x(x)
  CROSS JOIN generate_series(0, 7) y(y)
)
SELECT doc_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       ROUND(AVG(r), 4) AS mean_r,
       ROUND(AVG(b), 4) AS mean_b,
       ROUND(STDDEV_POP(0.299*r + 0.587*g + 0.114*b), 4) AS luma_std
FROM px GROUP BY doc_id
"""


def q_audio_stats(spark, sf):
    """Binary audio columns end-to-end with a REAL decode: every doc
    gets a deterministic 16-bit PCM WAV payload, parsed inside the
    Arrow batch iterator (struct+numpy RIFF reader) into genuine
    duration / RMS / peak / zero-crossing-rate signal stats — see
    revtron_utils_spark/multimodal.py (audio section)."""
    from revtron_utils_spark.multimodal import attach_audio_payload, audio_stats

    docs = _t(spark, sf, "documents").select("doc_id")
    stats = audio_stats(attach_audio_payload(docs))
    return stats.select(
        "doc_id", "sample_rate", "n_samples",
        F.round("rms", 4).alias("rms"),
        F.round("zero_cross_rate", 4).alias("zero_cross_rate"),
    )


def q_dedup_index_probe(spark, sf):
    """Incremental dedup: probe a NEW 20% batch against the band-postings
    index of the other 80% — per-batch cost O(batch), never O(corpus);
    the test suite proves the probe's pair set equals the full-corpus
    sweep restricted to new docs. Rows-only (LSH candidates aren't
    SQL-expressible)."""
    from revtron_utils_spark.operators.dedup_index import (
        build_minhash_index,
        probe_minhash_index,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    postings, features = build_minhash_index(old)
    return probe_minhash_index(new, postings, features)


def q_dedup_index_probe_poly(spark, sf):
    """`dedup_index_probe` with the engine-reproducible poly hash family
    (hash_family='poly'): the DuckDB oracle re-implements the index
    build (band postings over the 80%), the batch probe (new×corpus ∪
    new×new candidates), and the Jaccard verification — the incremental
    dedup path itself is hash-verified, not just rows-counted."""
    from revtron_utils_spark.operators.dedup_index import (
        build_minhash_index,
        probe_minhash_index,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    postings, features = build_minhash_index(
        old, num_hashes=32, bands=8, hash_family="poly"
    )
    return probe_minhash_index(
        new, postings, features, jaccard_threshold=0.3,
        num_hashes=32, bands=8, hash_family="poly",
    )


SQL_DEDUP_INDEX_PROBE_POLY = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), shg AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM t
), f AS (SELECT * FROM shg WHERE len(sh) > 0),
h AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_SHINGLE_HASH_SQL}) AS h0 FROM f
), sig AS (
  SELECT doc_id, list_transform(range(0, 32), i ->
     list_min(list_transform(h0, x -> ((((2*i+1)*2654435761) % 1000000007) * x + (9176*i*i + 11)) % 1000000007))) AS sig
  FROM h
), banded AS (
  SELECT doc_id, band, array_to_string(sig[(band*4+1):(band*4+4)], ',') AS bkey
  FROM sig, range(0, 8) AS r(band)
), cand AS (
  SELECT DISTINCT LEAST(n.doc_id, o.doc_id) AS id_a, GREATEST(n.doc_id, o.doc_id) AS id_b
  FROM banded n JOIN banded o
    ON n.band = o.band AND n.bkey = o.bkey AND n.doc_id != o.doc_id
  WHERE n.doc_id % 5 = 0
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
FROM cand c JOIN f x ON c.id_a = x.doc_id JOIN f y ON c.id_b = y.doc_id
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.3
"""


def q_text_neardup_hashed(spark, sf):
    """End-to-end model-free text near-dup: documents are embedded with
    the hashing-trick TF featurizer (pure codegen, no model, no
    Python), then fed to the SAME embedding near-dup machinery used for
    real embeddings — the text→vector→similarity loop closed natively.
    Rows-only (xxhash64 bucketing is not DuckDB-reproducible); the
    pair semantics are covered by the near-dup recall tests."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", VX.hashed_tf_embedding("text", 64).alias("embedding")
    )
    return DD.embedding_neardup_pairs(
        docs, vec_col="embedding", id_col="doc_id", threshold=0.95
    )


def q_text_neardup_poly(spark, sf):
    """`text_neardup_hashed` with the engine-reproducible poly bucket
    (`hashed_tf_embedding(hash_family='poly')`): the DuckDB oracle
    recomputes the hashing-trick embedding (per-bucket token counts →
    l2 normalize → 1e-6 quantize) and the all-pairs cosine — the full
    text→vector→near-dup loop hash-verifies."""
    docs = (
        _t(spark, sf, "documents")
        .filter(F.size(TX.tokens("text")) > 0)
        .select(
            "doc_id",
            VX.hashed_tf_embedding("text", 64, hash_family="poly").alias("embedding"),
        )
    )
    return DD.embedding_neardup_pairs(
        docs, vec_col="embedding", id_col="doc_id", threshold=0.95
    )


_TFEMB_SQL = rf"""
  SELECT doc_id,
         list_transform(range(0, 64), d -> CAST(len(list_filter(hb, x -> x = d)) AS DOUBLE)) AS cnts
  FROM (
    SELECT doc_id,
           list_transform(list_filter(string_split_regex(trim(text), '\s+'), t -> t != ''),
                          tk -> {_TOKHASH_SQL} % 64) AS hb
    FROM documents
  ) WHERE len(hb) > 0
"""

SQL_TEXT_NEARDUP_POLY = rf"""
WITH c AS ({_TFEMB_SQL}),
e AS (
  SELECT doc_id,
         list_transform(c.cnts, x -> round(x / SQRT(list_inner_product(c.cnts, c.cnts)) * 1000000)) AS ev
  FROM c
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(list_inner_product(a.ev, b.ev)
             / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))), 6) AS cosine
FROM e a JOIN e b ON a.doc_id < b.doc_id
WHERE list_inner_product(a.ev, b.ev)
      / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))) >= 0.95
"""


def q_mincost_q2(spark, sf):
    """TPC-H Q2 shape: min-cost supplier per part (correlated MIN
    subquery decorrelated into agg + equality join). The fixture has no
    partsupp, so unit cost is min(l_extendedprice/l_quantity) per
    (part, supplier) — min is order-independent, so both engines agree
    bit-for-bit. Region-filtered dims broadcast into the fact scan.
    Reference surface: joins only via raw-SQL passthrough
    (/root/reference/revtron/database/main.py:287-293)."""
    li, pt, su, na, re = (
        _t(spark, sf, n) for n in ("lineitem", "part", "supplier", "nation", "region")
    )
    eu_supp = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re.filter(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    parts = pt.filter((F.col("p_type") == "ECONOMY") & (F.col("p_size") < 15)).select(
        "p_partkey", "p_brand"
    )
    cost = (
        li.join(F.broadcast(parts), li.l_partkey == pt.p_partkey)
        .join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    best = cost.groupBy(F.col("p_partkey").alias("bp")).agg(F.min("unit_cost").alias("best_cost"))
    return (
        # no broadcast hint: `best` is part-dim-sized — let AQE choose
        cost.join(best, (cost.p_partkey == F.col("bp")) & (cost.unit_cost == F.col("best_cost")))
        .select("p_partkey", "p_brand", "s_name", "n_name", F.round("unit_cost", 2).alias("min_cost"))
        .orderBy("min_cost", "p_partkey", "s_name")
        .limit(100)
    )


SQL_MINCOST_Q2 = """
WITH cost AS (
  SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem, part, supplier, nation, region
  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE' AND p_type = 'ECONOMY' AND p_size < 15
  GROUP BY p_partkey, p_brand, s_suppkey, s_name, n_name
)
SELECT p_partkey, p_brand, s_name, n_name, ROUND(unit_cost, 2) AS min_cost
FROM cost c
WHERE unit_cost = (SELECT MIN(unit_cost) FROM cost c2 WHERE c2.p_partkey = c.p_partkey)
ORDER BY min_cost, p_partkey, s_name LIMIT 100
"""


def q_market_share_q8(spark, sf):
    """TPC-H Q8 shape: one nation's share of regional revenue by order
    year — two dimension paths (customer nation → region gate, supplier
    nation → share numerator) into one fact, conditional-sum ratio."""
    li, od, cu, su, na, re = (
        _t(spark, sf, n)
        for n in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    cust_am = (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re.filter(F.col("r_name") == "AMERICA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nat = su.join(
        F.broadcast(na.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        su.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        # customer-sized semi side — no forced broadcast, AQE decides
        .join(cust_am, od.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


SQL_MARKET_SHARE_Q8 = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE o_custkey IN (
  SELECT c_custkey FROM customer, nation n1, region
  WHERE c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA')
GROUP BY o_year ORDER BY o_year
"""


def q_important_stock_q11(spark, sf):
    """TPC-H Q11 shape: per-part value with a HAVING gate against a
    global scalar (fraction of total) — agg, then broadcast the scalar
    back over the groups. Value proxy = revenue (no partsupp)."""
    li, su, na = (_t(spark, sf, n) for n in ("lineitem", "supplier", "nation"))
    nat_supp = (
        su.join(F.broadcast(na.filter(F.col("n_name") == "NATION_5")), su.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"))
    )
    total = val.agg(F.sum("value").alias("grand"))
    # compare at cent precision: both sides are merge-order-dependent
    # double sums, so an unrounded threshold can flip parts sitting within
    # float noise of the cutoff between engines
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.round("value", 2) > F.round(F.col("grand") * 0.0008, 2))
        .select("l_partkey", F.round("value", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


SQL_IMPORTANT_STOCK_Q11 = """
WITH val AS (
  SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) AS value
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_5')
  GROUP BY l_partkey
)
SELECT l_partkey, ROUND(value, 2) AS part_value FROM val
WHERE ROUND(value, 2) > ROUND((SELECT SUM(value) FROM val) * 0.0008, 2)
ORDER BY part_value DESC, l_partkey
"""


def q_shipmode_q12(spark, sf):
    """TPC-H Q12 shape: conditional priority counts over a late-shipment
    gate. No l_shipmode/commitdate in the fixture — the category is
    l_linestatus and "late" is shipped >30 days after order date."""
    li, od = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


SQL_SHIPMODE_Q12 = """
SELECT l_linestatus,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_top_supplier_q15(spark, sf):
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the
    supplier(s) hitting the global max — agg + broadcast scalar max."""
    li, su = _t(spark, sf, "lineitem"), _t(spark, sf, "supplier")
    # round inside the agg BEFORE the max/equality: the raw double sum is
    # merge-order-dependent, and the plan evaluates `rev` twice (once for
    # the scalar max, once as probe side) — exact equality on unrounded
    # sums can intermittently match nothing
    rev = (
        li.filter(F.col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(su), F.col("l_suppkey") == su.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


SQL_TOP_SUPPLIER_Q15 = """
WITH rev AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_supplier_cnt_q16(spark, sf):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, with a NOT-IN exclusion subquery (negative-balance suppliers
    stand in for Q16's complaint filter; lineitem stands in for
    partsupp as the part↔supplier bridge)."""
    li, pt, su = (_t(spark, sf, n) for n in ("lineitem", "part", "supplier"))
    bad = su.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("bad_key"))
    parts = pt.filter((F.col("p_brand") != "Brand#1") & (F.col("p_type") != "ECONOMY"))
    return (
        li.join(F.broadcast(parts), li.l_partkey == pt.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


SQL_SUPPLIER_CNT_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_potential_promo_q20(spark, sf):
    """TPC-H Q20 shape: nested IN-subquery chain — suppliers in one
    nation who moved a large quantity of 'red' parts (HAVING over a
    part×supplier agg feeding a semi join)."""
    li, pt, su, na = (_t(spark, sf, n) for n in ("lineitem", "part", "supplier", "nation"))
    red = pt.filter(F.col("p_name").like("red%")).select("p_partkey")
    movers = (
        li.join(F.broadcast(red), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 45)
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(F.broadcast(na.filter(F.col("n_name") == "NATION_7")), su.s_nationkey == F.col("n_nationkey"), "left_semi")
        .join(movers, su.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


SQL_POTENTIAL_PROMO_Q20 = """
SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 45)
ORDER BY s_name
"""


def q_waiting_q21(spark, sf):
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    finished multi-supplier order — EXISTS (another supplier on the
    order) + NOT EXISTS (another late supplier), i.e. a semi join and
    an anti join back onto the same fact. "Late" = shipped >60 days
    after order date (fixture has no commit/receipt dates)."""
    li, od, su, na = (_t(spark, sf, n) for n in ("lineitem", "orders", "supplier", "nation"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    lo = li.join(od.filter(F.col("o_orderstatus") == "F"), li.l_orderkey == od.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_linenumber", late.alias("is_late")
    )
    l1 = lo.filter(F.col("is_late")).alias("l1")
    l2 = lo.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")).alias("l2")
    l3 = (
        lo.filter(F.col("is_late"))
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
        .alias("l3")
    )
    qualifying = (
        l1.join(l2, (F.col("l1.l_orderkey") == F.col("o2")) & (F.col("l1.l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l1.l_orderkey") == F.col("o3")) & (F.col("l1.l_suppkey") != F.col("s3")), "left_anti")
    )
    nat_supp = su.join(
        F.broadcast(na.filter(F.col("n_name").isin("NATION_2", "NATION_4"))),
        su.s_nationkey == F.col("n_nationkey"),
        "left_semi",
    ).select("s_suppkey", "s_name")
    return (
        qualifying.join(F.broadcast(nat_supp), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


SQL_WAITING_Q21 = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name IN ('NATION_2', 'NATION_4'))
  AND EXISTS (
    SELECT 1 FROM lineitem l2 JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      AND o2.o_orderstatus = 'F')
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND o3.o_orderstatus = 'F' AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""


_BM25_TERMS = ["spark", "join", "stream"]


def q_bm25_topk(spark, sf):
    """BM25 top-k document retrieval (log-free rational-idf variant so
    the floating-point ranking is hash-comparable vs DuckDB). The
    selective term filter runs before the tf shuffle; the per-query df
    table is broadcast; top-k is TakeOrderedAndProject."""
    from revtron_utils_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=15)


def _sql_bm25() -> str:
    from revtron_utils_spark.operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=15)


SQL_BM25_TOPK = _sql_bm25()


def q_hybrid_search(spark, sf):
    """Hybrid RAG retrieval: BM25 top-50 and cosine top-50 fused by
    integer reciprocal-rank fusion (scale div (60+rank) — ordering-
    equivalent to 1/(60+rank), exactly summable, hence hash-comparable).
    Both legs are TakeOrderedAndProject top-ks, so fusion touches ≤100
    rows regardless of corpus size."""
    from revtron_utils_spark.operators.retrieval import hybrid_topk

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qvec = emb.filter(F.col("vec_id") == min_id).select("embedding").first()[0]
    return hybrid_topk(docs, emb, _BM25_TERMS, qvec, k_each=50, topn=15)


def _sql_hybrid() -> str:
    from revtron_utils_spark.operators.retrieval import bm25_oracle_sql

    bm = bm25_oracle_sql(_BM25_TERMS, k=50)
    return f"""
WITH bm AS (SELECT * FROM ({bm})),
bmr AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM bm),
cs AS (SELECT * FROM (
  WITH q AS (SELECT {_QUANT} AS qv FROM embeddings
             WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
  e AS (SELECT vec_id, {_QUANT} AS ev FROM embeddings)
  SELECT e.vec_id,
         ROUND(list_inner_product(e.ev, q.qv)
               / (SQRT(list_inner_product(e.ev, e.ev))
                  * SQRT(list_inner_product(q.qv, q.qv))), 6) AS cosine
  FROM e, q ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 50)),
csr AS (SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id) AS cos_rank
        FROM cs),
j AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.bm25_rank, c.cos_rank
      FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id)
SELECT doc_id, bm25_rank, cos_rank,
       COALESCE(1000000000000 // (60 + bm25_rank), 0)
       + COALESCE(1000000000000 // (60 + cos_rank), 0) AS rrf_int
FROM j ORDER BY rrf_int DESC, doc_id LIMIT 15
"""


SQL_HYBRID_SEARCH = _sql_hybrid()


def q_approx_distinct_poly(spark, sf):
    """Engine-exact HyperLogLog (`rollup.hll_poly_distinct`): distinct
    event_ids per event_type through a poly-hash HLL whose whole
    estimate — integer rho ranks, dyadic-exact harmonic sum, shared α
    literal — is bit-reproducible, so the sketch hash-matches the
    DuckDB oracle (the DataSketches twin `sketch_rollup` stays
    rows-only). p=4 keeps the fixture's per-group cardinality (~200 at
    sf0.001) above the ~2.5·m raw-estimate bias floor; accuracy is
    asserted separately in tests at p=8 with 5k keys."""
    from revtron_utils_spark.operators.rollup import hll_poly_distinct

    ev = _t(spark, sf, "events").select(
        "event_type", F.col("event_id").cast("string").alias("eid")
    )
    return hll_poly_distinct(ev, ["event_type"], "eid", p=4)


def _sql_approx_distinct_poly() -> str:
    from revtron_utils_spark.operators.rollup import hll_poly_oracle_sql

    return hll_poly_oracle_sql(
        ["event_type"],
        "eid",
        "(SELECT event_type, CAST(event_id AS VARCHAR) AS eid FROM events)",
        p=4,
    )


SQL_APPROX_DISTINCT_POLY = _sql_approx_distinct_poly()


def q_ams_f2(spark, sf):
    """AMS tug-of-war F2 sketch (`rollup.ams_f2`): per return flag, the
    estimated self-join size Σf² of the order-key frequency vector —
    the skew/join-blowup predictor — from 16 exact-integer signed
    counters (mergeable by addition) in ONE scan. Engine-exact signs
    (shifted fmix parity) make the estimate hash-match the oracle."""
    from revtron_utils_spark.operators.rollup import ams_f2

    return ams_f2(_t(spark, sf, "lineitem"), ["l_returnflag"], "l_orderkey", k=16)


def _sql_ams_f2() -> str:
    from revtron_utils_spark.operators.rollup import ams_f2_oracle_sql

    return ams_f2_oracle_sql("lineitem", ["l_returnflag"], "l_orderkey", k=16)


SQL_AMS_F2 = _sql_ams_f2()


def q_kmv_distinct(spark, sf):
    """KMV (k-minimum-values) distinct sketch (`operators/kmv.py`):
    distinct customers per order priority via the k=64 smallest
    fmix32(poly) hashes. Unlike HLL this synopsis also supports set
    INTERSECTION estimation (see `kmv_intersect`); the adaptive
    prefilter bounds the shuffle to ~slack·k hashes per group while a
    deterministic rescue pass keeps the k-minima exact, so the whole
    estimate hash-matches the oracle's direct computation."""
    from revtron_utils_spark.operators.kmv import kmv_distinct

    return kmv_distinct(_t(spark, sf, "orders"), ["o_orderpriority"], "o_custkey", k=64)


def _sql_kmv_distinct() -> str:
    from revtron_utils_spark.operators.kmv import kmv_distinct_oracle_sql

    return kmv_distinct_oracle_sql("orders", ["o_orderpriority"], "o_custkey", k=64)


SQL_KMV_DISTINCT = _sql_kmv_distinct()


def q_kmv_intersect(spark, sf):
    """KMV set-expression estimation — the capability HLL lacks: for
    every pair of order priorities, estimated union / intersection /
    Jaccard of their customer sets from k=64 sketches (combined k-min
    list + agreement fraction rho, Beyer et al. SIGMOD'07). Single
    integer-exact IEEE divisions make the estimates bit-reproducible,
    so the oracle re-implements the full pipeline and hashes match."""
    from revtron_utils_spark.operators.kmv import kmv_overlap_pairs, kmv_partial

    st = kmv_partial(_t(spark, sf, "orders"), ["o_orderpriority"], "o_custkey", k=64)
    return kmv_overlap_pairs(st, "o_orderpriority", k=64)


def _sql_kmv_intersect() -> str:
    from revtron_utils_spark.operators.kmv import kmv_overlap_oracle_sql

    return kmv_overlap_oracle_sql("orders", "o_orderpriority", "o_custkey", k=64)


SQL_KMV_INTERSECT = _sql_kmv_intersect()


def q_cms_counts(spark, sf):
    """Count-Min sketch frequency rollup (`rollup.cms_build/estimate`):
    the corpus token distribution folded into a 4×256 sparse sketch,
    then point-queried for every distinct token. Unlike library sketch
    binaries, the construction is exact integer arithmetic over the
    cross-engine poly hash family — the oracle reproduces every cell
    and every collision, so even the sketch's OVERestimates hash-match
    bit-for-bit."""
    from revtron_utils_spark.operators import rollup as RU

    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("term"))
    sketch = RU.cms_build(toks, "term", width=256, depth=4)
    keys = toks.distinct()
    return RU.cms_estimate(sketch, keys, "term", width=256, depth=4)


def _sql_cms_counts() -> str:
    from revtron_utils_spark.operators.rollup import CMS_P, CMS_PARAMS

    from revtron_utils_spark.functions.polyhash import poly_hash_sql

    width, depth = 256, 4
    poly = poly_hash_sql("term")
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS row, ((h * {a} + {b}) % {CMS_P}) % {width} AS bucket FROM h"
        for i, (a, b) in enumerate(CMS_PARAMS[:depth])
    )
    joins = "\n".join(
        f"LEFT JOIN cells c{i} ON c{i}.row = {i}"
        f" AND c{i}.bucket = ((k.h * {a} + {b}) % {CMS_P}) % {width}"
        for i, (a, b) in enumerate(CMS_PARAMS[:depth])
    )
    least = ", ".join(f"COALESCE(c{i}.cnt, 0)" for i in range(depth))
    return rf"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
  FROM documents
), h AS (
  SELECT term, {poly} AS h FROM tok
), cells AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    {unions}
  ) GROUP BY 1, 2
), keys AS (
  SELECT DISTINCT term, h FROM h
)
SELECT k.term, least({least}) AS est
FROM keys k
{joins}
"""


SQL_CMS_COUNTS = _sql_cms_counts()


def q_collocations(spark, sf):
    """Corpus collocation mining: adjacent-bigram PMI lift over the
    lowercased token stream. Log-free rational PMI as a fixed-order
    double chain over exactly-representable integer counts — engine
    bit-exact (the BM25 precedent). min_count prunes the tail before
    the vocabulary joins."""
    from revtron_utils_spark.operators.retrieval import collocations

    docs = _t(spark, sf, "documents")
    return collocations(docs, min_count=5)


def _sql_collocations() -> str:
    from revtron_utils_spark.operators.retrieval import collocations_oracle_sql

    return collocations_oracle_sql(min_count=5)


SQL_COLLOCATIONS = _sql_collocations()


def q_dup_spans(spark, sf):
    """Exact duplicate-substring mining (Lee-et-al-style substring dedup
    via k-gram posting lists): maximal token spans whose every 5-gram
    repeats corpus-wide. Wide exchanges are keyed on the gram only;
    the islands merge windows by document (bounded partitions)."""
    from revtron_utils_spark.operators.substring import duplicate_spans

    docs = _t(spark, sf, "documents")
    return duplicate_spans(docs, k=5)


def _sql_dup_spans() -> str:
    from revtron_utils_spark.operators.substring import duplicate_spans_oracle_sql

    return duplicate_spans_oracle_sql(k=5)


SQL_DUP_SPANS = _sql_dup_spans()


_MIXTURE = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_mixture_sample(spark, sf):
    """Domain-mixture sampling: largest corpus matching a 50/30/20
    source mixture with no domain oversampled — per-domain deterministic
    hash thresholds derived from one O(domains) count aggregate."""
    from revtron_utils_spark.operators.curation import mixture_sample

    docs = _t(spark, sf, "documents")
    return mixture_sample(docs, "doc_id", "source", _MIXTURE).select("doc_id", "source")


def _sql_mixture() -> str:
    # Mirrors mixture_proportion_rates op-for-op: the oracle recomputes
    # per-domain counts, T = min(n/p), and floor(((p*T)/n)*M) in the
    # same correctly-rounded double arithmetic.
    from revtron_utils_spark.operators.curation import HASH_MOD

    total = sum(_MIXTURE.values())
    vals = ", ".join(
        f"('{s}', CAST({p / total!r} AS DOUBLE))" for s, p in _MIXTURE.items()
    )
    b = _sql_bucket("doc_id")
    return f"""
WITH p(dom, p) AS (VALUES {vals}),
n AS (
  SELECT source AS dom, CAST(COUNT(*) AS BIGINT) AS n FROM documents
  WHERE source IN (SELECT dom FROM p) GROUP BY 1
),
np AS (SELECT n.dom, n.n, p.p FROM n JOIN p USING (dom)),
t AS (SELECT MIN(n / p) AS t FROM np),
thr AS (
  SELECT dom, CAST(FLOOR(((p * t.t) / n) * {HASH_MOD}) AS BIGINT) AS thr
  FROM np CROSS JOIN t
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON d.source = thr.dom
WHERE {b} < thr.thr
"""


SQL_MIXTURE_SAMPLE = _sql_mixture()


def q_cap_per_domain(spark, sf):
    """At most 10 docs per source by deterministic hash rank — exact
    window semantics, computed via a lossless per-domain hash-threshold
    prefilter so no hot domain is ever sorted whole in one task."""
    from revtron_utils_spark.operators.curation import cap_per_domain

    docs = _t(spark, sf, "documents")
    return cap_per_domain(docs, "doc_id", "source", n=10).select("doc_id", "source")


def _sql_cap() -> str:
    b = _sql_bucket("doc_id")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {b} ASC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 10
"""


SQL_CAP_PER_DOMAIN = _sql_cap()


def q_token_budget(spark, sf):
    """Fill a 500-token budget per source in deterministic hash order
    (inclusive running sum) — 'give me N tokens per domain',
    reproducibly."""
    from revtron_utils_spark.operators.curation import take_token_budget

    docs = _t(spark, sf, "documents")
    return take_token_budget(docs, "doc_id", "source", budget=500).select(
        "doc_id", "source"
    )


def _sql_token_budget() -> str:
    b = _sql_bucket("doc_id")
    return rf"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         SUM(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')))
           OVER (PARTITION BY source ORDER BY {b} ASC, doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM documents
) WHERE run <= 500
"""


SQL_TOKEN_BUDGET = _sql_token_budget()


_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_steps(spark, sf):
    """Ordered-funnel conversion (view → click → purchase): per-user
    strictly-increasing min-chain, one user-key agg + join per step —
    never a per-user event array (power users OOM that plan at scale)."""
    from revtron_utils_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf, "events")
    return funnel_counts(ev, _FUNNEL_STEPS)


def _sql_funnel() -> str:
    from revtron_utils_spark.operators.funnel import funnel_oracle_sql

    return funnel_oracle_sql(_FUNNEL_STEPS)


SQL_FUNNEL_STEPS = _sql_funnel()


def q_cohort_retention(spark, sf):
    """Weekly cohort-retention triangle over first-activity cohorts —
    two map-side-combinable aggregates + one user-key join."""
    from revtron_utils_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf, "events")
    return cohort_retention(ev, period_days=7)


def _sql_cohort() -> str:
    from revtron_utils_spark.operators.funnel import cohort_retention_oracle_sql

    return cohort_retention_oracle_sql(period_days=7)


SQL_COHORT_RETENTION = _sql_cohort()


def q_rolling_wau(spark, sf):
    """Rolling 7-day active users per day — each (user, day) activity
    contributes to the window_days days it covers (bounded generator),
    then one distinct+count: linear in activity, no per-day window
    rescan, no range self-join."""
    from revtron_utils_spark.operators.funnel import rolling_active_users

    ev = _t(spark, sf, "events")
    return rolling_active_users(ev, window_days=7)


def _sql_wau() -> str:
    from revtron_utils_spark.operators.funnel import rolling_active_users_oracle_sql

    return rolling_active_users_oracle_sql(window_days=7)


SQL_ROLLING_WAU = _sql_wau()


def q_funnel_within(spark, sf):
    """Deadline-bound funnel: view → click → purchase, each later step
    within 3 days of the user's first view — same single-shuffle window
    chain, one extra deadline predicate."""
    from revtron_utils_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf, "events")
    return funnel_counts(ev, _FUNNEL_STEPS, within_days=3)


def _sql_funnel_within() -> str:
    from revtron_utils_spark.operators.funnel import funnel_oracle_sql

    return funnel_oracle_sql(_FUNNEL_STEPS, within_days=3)


SQL_FUNNEL_WITHIN = _sql_funnel_within()


def q_attribution_multi_touch(spark, sf):
    """Position-based + time-decay multi-touch attribution
    (`funnel.multi_touch_attribution`): every view/click in the 30 days
    before a purchase earns U-shaped (0.4/0.2-split/0.4) and
    2^-min(days,20) decay credit; per-channel totals sum rounded shares
    as DECIMAL (exact, order-independent), so the aggregate
    hash-matches the oracle. Decay numerators are integer powers of
    two — zero libm calls anywhere."""
    from revtron_utils_spark.operators.funnel import multi_touch_attribution

    ev = _t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    touch = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", F.col("ts").alias("touch_ts"))
        .agg(F.min("event_type").alias("touch_type"))
    )
    return multi_touch_attribution(p, touch)


SQL_ATTRIBUTION_MULTI = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS cus FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, epoch_us(ts) AS tus, MIN(event_type) AS ch
  FROM events WHERE event_type IN ('view', 'click') GROUP BY user_id, epoch_us(ts)
), j AS (
  SELECT p.event_id, p.cus, t.tus, t.ch
  FROM p JOIN t ON p.user_id = t.user_id
   AND p.cus - t.tus >= 0 AND p.cus - t.tus < 2592000000000
), w AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_id) AS k,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY tus) AS r,
         LEAST((cus - tus) // 86400000000, 20) AS d,
         SUM(CAST(1 AS BIGINT) << CAST(20 - LEAST((cus - tus) // 86400000000, 20) AS INT))
           OVER (PARTITION BY event_id) AS snum
  FROM j
), w2 AS (
  SELECT ch,
         CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
              WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
              WHEN r = 1 OR r = k THEN CAST(0.4 AS DOUBLE)
              ELSE CAST(0.2 AS DOUBLE) / (k - 2) END AS wp,
         CAST((CAST(1 AS BIGINT) << CAST(20 - d AS INT)) AS DOUBLE)
           / CAST(snum AS DOUBLE) AS wd
  FROM w
)
SELECT ch AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(CAST(ROUND(wp, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS credit_position,
       ROUND(CAST(SUM(CAST(ROUND(wd, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS credit_decay
FROM w2 GROUP BY ch
"""


def q_rolling_zscore(spark, sf):
    """Daily-volume anomaly screen (`profile.rolling_zscore`): each
    (event_type, day) total scored against its trailing 7 days
    (current day excluded so an anomaly can't inflate its own
    baseline). Integer-exact window sums over the calendar-bounded
    daily table; hash-matches the oracle."""
    from revtron_utils_spark.operators.profile import rolling_zscore

    return rolling_zscore(
        _t(spark, sf, "events"), "ts", "value", by=["event_type"], window=7
    )


SQL_ROLLING_ZSCORE = """
WITH daily AS (
  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
         SUM(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), win AS (
  SELECT event_type, day_us, x,
         COUNT(x) OVER w AS n, SUM(x) OVER w AS s,
         SUM(CAST(x AS HUGEINT) * x) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_us
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), calc AS (
  SELECT event_type, day_us, x, n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var
  FROM win
)
SELECT event_type, day_us,
       ROUND(CAST(x AS DOUBLE) / 100, 6) AS daily_total,
       ROUND(CASE WHEN n >= 3 AND var > 0
             THEN (CAST(x AS DOUBLE) - m) / sqrt(var) END, 6) AS z
FROM calc
"""


def q_event_transitions(spark, sf):
    """First-order Markov transition matrix (`funnel.event_transitions`):
    P(next event type | current) over per-user streams — one lag
    window + one count aggregate + O(types) margin broadcast; the
    journey-flow summary behind sankey analytics."""
    from revtron_utils_spark.operators.funnel import event_transitions

    return event_transitions(_t(spark, sf, "events"))


SQL_EVENT_TRANSITIONS = """
WITH p AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS f,
         event_type AS t
  FROM events
), c AS (
  SELECT f AS from_type, t AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM p WHERE f IS NOT NULL GROUP BY f, t
), m AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n,
       ROUND(CAST(c.n AS DOUBLE) / CAST(m.tot AS DOUBLE), 6) AS prob
FROM c JOIN m ON c.from_type = m.from_type
"""


def q_ab_test(spark, sf):
    """Welch two-sample test (`funnel.welch_ab_test`): extended price
    between high/low-discount lineitems per return flag — means,
    exact-moment-sum variances, and the t statistic, all from ONE
    map-side-combined pass (Σx² in DECIMAL(38,0)); sqrt is IEEE
    exactly-rounded, so the readout hash-matches the oracle."""
    from revtron_utils_spark.operators.funnel import welch_ab_test

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_discount") > 0.05, F.lit("hi")).otherwise(F.lit("lo")).alias(
            "disc_band"
        ),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return welch_ab_test(li, "cents", "disc_band", by=["l_returnflag"])


SQL_AB_TEST = """
WITH b AS (
  SELECT l_returnflag AS g,
         CASE WHEN l_discount > 0.05 THEN 'hi' ELSE 'lo' END AS v,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x
  FROM lineitem
), s AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
  FROM b GROUP BY g, v
), d AS (
  SELECT g, v, n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         -- n=1 guard mirrors the Spark side's NULL variance (unguarded,
         -- DuckDB's IEEE float div would yield NaN here: 0/0)
         CASE WHEN n > 1 THEN
           (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
         ELSE NULL END AS var
  FROM s
)
SELECT a.g AS l_returnflag, a.v AS variant_a, b2.v AS variant_b,
       a.n AS n_a, b2.n AS n_b,
       ROUND(a.m, 6) AS mean_a, ROUND(b2.m, 6) AS mean_b,
       ROUND((a.m - b2.m) / sqrt(a.var / a.n + b2.var / b2.n), 6) AS t_stat
FROM d a JOIN d b2 ON a.g = b2.g AND a.v < b2.v
"""


def q_top_paths(spark, sf):
    """Most common session journeys (`funnel.top_session_paths`):
    30-minute-gap sessions rendered as ordered event-type paths
    (max 10 steps), counted, top-20 — the sankey/journey-mining
    readout. Bounded per-session collect, map-side-combined path
    counts, TakeOrdered top-k."""
    from revtron_utils_spark.operators.funnel import top_session_paths

    return top_session_paths(_t(spark, sf, "events"), k=20)


SQL_TOP_PATHS = """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s2 AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
), p AS (
  SELECT user_id, sid,
         array_to_string(
           list_slice(array_agg(event_type ORDER BY us, event_id), 1, 10), '>') AS path
  FROM s2 GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
"""


def q_attribution_last_touch(spark, sf):
    """Last-touch attribution: each purchase credits the latest
    preceding view/click — the as-of join applied to marketing
    attribution (same single-shuffle union+window form). Tied touch
    timestamps dedupe to min(event_type) in both engines."""
    from revtron_utils_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    touch = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", F.col("ts").alias("touch_ts"))
        .agg(F.min("event_type").alias("touch_type"))
        .withColumn("touch_ts2", F.col("touch_ts"))
    )
    j = asof_join(p, touch, on="user_id", left_ts="ts", right_ts="touch_ts")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("touch_ts2_r").alias("touch_us"),
        F.col("touch_type_r").alias("touch_type"),
    )


SQL_ATTRIBUTION = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, ts AS touch_ts, MIN(event_type) AS touch_type
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
       epoch_us(t.touch_ts) AS touch_us, t.touch_type
FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.touch_ts
"""


def q_quantile_rollup(spark, sf):
    """Mergeable quantile-sketch maintenance: fold three event batches
    through per-(group, log-bin) partials and read p50/p95 estimates —
    the incremental percentile refresh that replaces rescanning history
    at 100 TB. Rows-only gate (ln-based binning isn't cross-engine
    hashable); merge==recompute and the error bound are pytest-proven."""
    from revtron_utils_spark.operators.rollup import maintain_quantile_rollup

    ev = _t(spark, sf, "events")
    batches = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]
    return maintain_quantile_rollup(batches, ["event_type"], "value", [0.5, 0.95])


# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# CDC application + snapshot reconciliation + k-core (round 6)
# --------------------------------------------------------------------------

def _cdc_base(spark, sf):
    od = _t(spark, sf, "orders")
    return od.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )


def _cdc_changes(base):
    """Deterministic changelog synthesized from the base snapshot:
    updates (key % 5 == 0, seq 1: status flip + price bump), deletes
    (key % 7 == 0, seq 2 — so a key hit by both, key % 35 == 0, resolves
    to the delete), and inserts of brand-new keys (key % 11 == 0 under
    key + 10^9, seq 1)."""
    upd = base.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        "o_orderpriority",
        (F.col("price_c") + 100).alias("price_c"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "price_c",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = base.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + 1).alias("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_orderpriority",
        (F.col("price_c") + 1).alias("price_c"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    return upd.unionByName(dele).unionByName(ins)


def q_cdc_apply(spark, sf):
    """Changelog application (`operators/cdc.py::cdc_apply`) — the
    generalized form of the reference's incremental Salesforce→Postgres
    sync (updated + deleted record propagation,
    revtron/salesforce/main.py:110-128 applied via database upsert):
    fold a deterministic synthetic changelog (updates seq 1, deletes
    seq 2, fresh-key inserts) into the orders snapshot with
    latest-image-wins semantics; a key hit by both an update and a
    later delete resolves to the delete. One key-partitioned window —
    the same shuffle the downstream MERGE needs."""
    from revtron_utils_spark.operators.cdc import cdc_apply

    base = _cdc_base(spark, sf)
    return cdc_apply(base, _cdc_changes(base), ["o_orderkey"], "seq")


_CDC_BASE_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, "
    "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders"
)

_CDC_CHANGES_SQL = f"""
SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_orderpriority,
       price_c + 100 AS price_c, 1 AS seq, 'U' AS op
FROM ({_CDC_BASE_SQL}) WHERE o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       price_c, 2 AS seq, 'D' AS op
FROM ({_CDC_BASE_SQL}) WHERE o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey + 1 AS o_custkey,
       'N' AS o_orderstatus, o_orderpriority,
       price_c + 1 AS price_c, 1 AS seq, 'U' AS op
FROM ({_CDC_BASE_SQL}) WHERE o_orderkey % 11 = 0
"""


def _sql_cdc_apply() -> str:
    from revtron_utils_spark.operators.cdc import cdc_apply_oracle_sql

    return cdc_apply_oracle_sql(
        _CDC_BASE_SQL,
        _CDC_CHANGES_SQL,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_orderpriority", "price_c"],
        "seq",
    )


SQL_CDC_APPLY = _sql_cdc_apply()


def q_table_diff(spark, sf):
    """Snapshot reconciliation (`operators/cdc.py::table_diff`) — the
    post-sync audit: diff the orders snapshot against the CDC-applied
    result of `q_cdc_apply`, so every status class is populated
    (added = fresh inserts, removed = deletes, changed = updates with
    the changed-column list, unchanged = the rest). One co-partitioned
    full outer join on the key, null-safe per-column compare."""
    from revtron_utils_spark.operators.cdc import cdc_apply, table_diff

    base = _cdc_base(spark, sf)
    new = cdc_apply(base, _cdc_changes(base), ["o_orderkey"], "seq")
    return table_diff(base, new, ["o_orderkey"])


def _sql_table_diff() -> str:
    from revtron_utils_spark.operators.cdc import table_diff_oracle_sql

    new_sql = SQL_CDC_APPLY.rstrip()
    return table_diff_oracle_sql(
        _CDC_BASE_SQL,
        new_sql,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_orderpriority", "price_c"],
    )


SQL_TABLE_DIFF = _sql_table_diff()


def q_k_core(spark, sf):
    """k-core peel (`graph.k_core`): the densest-region extractor over
    the bipartite customer↔supplier trade graph (distinct order⋈lineitem
    pairs, supplier ids offset into their own namespace) — iteratively
    removes nodes with fewer than k=3 trading partners until the 3-core
    fixpoint. Deterministic (degree-only decisions), fixed synchronous
    rounds; the oracle unrolls the identical peel as chained CTEs, so
    the surviving (node, in-core degree) set hash-verifies. rounds=6 is
    past the fixture's peel depth: rounds 6 and 7 return identical sets
    at sf0.01 AND sf0.1 (verified), so the gate reports the true
    fixpoint, not a truncated peel."""
    from revtron_utils_spark.operators.graph import k_core

    od = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        od.join(li, od["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    return k_core(edges, k=3, rounds=6)


def _sql_k_core() -> str:
    from revtron_utils_spark.operators.graph import k_core_oracle_sql

    edges = (
        "SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    )
    return k_core_oracle_sql(edges, k=3, rounds=6)


SQL_K_CORE = _sql_k_core()


# --------------------------------------------------------------------------
# end-to-end corpus pipeline (round-6 composition gate)
# --------------------------------------------------------------------------


def q_corpus_pipeline(spark, sf):
    """End-to-end training-corpus build — the full ingest chain as ONE
    composed plan, the way a 100 TB run executes it (not stage-by-stage
    with materialized intermediates):

      WARC parse -> domain blocklist -> HTML main-text extraction ->
      CCNet paragraph dedup -> Gopher quality gate -> capped MinHash-LSH
      near-dup removal -> eval-set n-gram decontamination -> source
      mixture sampling.

    Every stage is the SAME hash-verified operator behind its individual
    gate (`warc_extract`, `url_normalize`, `html_extract`, `line_dedup`,
    `gopher_filters`, `minhash_pairs_capped`, `decontaminate`,
    `mixture_sample`); this query verifies their COMPOSITION — schema
    handoff, filter pushdown through the chain, no redundant scans.
    The fixture wraps each document into an HTML page inside a
    two-record WARC (request + response), with ~1/11 of crawl URIs on a
    blocklisted ad-tracker domain. The DuckDB oracle replays the whole
    chain as chained CTEs, so the final (doc_id, source, text_md5)
    corpus hash-verifies end to end."""
    from revtron_utils_spark.functions import classifier as CL
    from revtron_utils_spark.functions.html import html_extract
    from revtron_utils_spark.functions.url import filter_blocked_domains
    from revtron_utils_spark.operators.curation import decontaminate, mixture_sample
    from revtron_utils_spark.sources.warc import parse_warc_records

    docs = _t(spark, sf, "documents")
    crlf = "\r\n"

    # -- crawl fixture: HTML page (same shape as q_html_extract) inside
    # a 2-record WARC; ~1/11 of URIs land on a blocklisted tracker host
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><style>p{margin:0}</style><script>var x=1&amp;2;</script>'
            '</head><body><!-- generated fixture --><nav><a href="/">home</a> '
            '<a href="/about">about</a></nav><div id="main"><h1>Source '
        ),
        F.col("source"),
        F.lit(" &amp; lang "),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p><p>too short</p><p><a href="/x">one</a> <a href="/y">two</a> '
            "three</p></div><footer>&copy; 2024 example.com</footer></body></html>"
        ),
    )
    host = F.when(
        F.col("doc_id") % 11 == 0, F.lit("ads.tracker-net.com")
    ).otherwise(F.concat(F.lit("ex-"), F.col("source"), F.lit(".com")))
    uri = F.concat(F.lit("http://"), host, F.lit("/"), F.col("doc_id").cast("string"))
    warc = F.concat(
        F.lit(f"WARC/1.0{crlf}WARC-Type: request{crlf}WARC-Target-URI: "),
        uri,
        F.lit(f"{crlf}Content-Length: 0{crlf}{crlf}{crlf}{crlf}"),
        F.lit(f"WARC/1.0{crlf}WARC-Type: response{crlf}WARC-Target-URI: "),
        uri,
        F.lit(f"{crlf}Content-Length: "),
        F.length(html).cast("string"),
        F.lit(f"{crlf}{crlf}"),
        html,
        F.lit(f"{crlf}{crlf}"),
    )
    crawl = docs.select("doc_id", warc.alias("warc"))

    # 1. WARC parse: response payloads + provenance URI
    resp = (
        parse_warc_records(crawl, "warc", "doc_id")
        .where(F.col("warc_type") == "response")
        .select("doc_id", "target_uri", F.col("payload").alias("html"))
    )
    # 2. registered-domain blocklist on the crawl URI (anti-join)
    blocklist = spark.createDataFrame([("tracker-net.com",)], ["domain"])
    clean = filter_blocked_domains(resp, "target_uri", blocklist)
    # 3. HTML -> main text (boilerplate/nav/link-dense blocks dropped)
    text_df = html_extract(clean, "html", impl="expr").select("doc_id", "main_text")
    # 4. paragraph-ize (first-10-tokens / shared boilerplate line /
    # remainder — the line_dedup gate's construction, fed by the
    # pipeline) + CCNet cross-corpus paragraph dedup
    toks = TX.tokens("main_text")
    built = text_df.select(
        "doc_id",
        F.concat(
            F.concat_ws(" ", F.slice(toks, 1, 10)),
            F.lit("\nsubscribe to our newsletter today\n"),
            F.concat_ws(" ", F.slice(toks, 11, F.greatest(F.size(toks) - 10, F.lit(1)))),
        ).alias("text"),
    )
    dd = DD.paragraph_dedup(built, "text", "doc_id")
    # 5. Gopher heuristic quality gate. This is the chain's first fan-out
    # point — the MinHash signature build, the near-dup anti-join's left
    # side, and decontamination's gram-explode + anti-join-back all read
    # the cleaned corpus — so persist it (the "cleaned corpus"
    # materialization every real pipeline makes) instead of re-running
    # WARC->HTML->dedup once per branch
    gq = DD._persist(dd.where(CL.gopher_quality_flags("text").getField("pass_all")))
    # LAZY plan cut at the cleaned-corpus seam (guide §7.3 "very large
    # plans"): the WARC→HTML→paragraph-dedup→gopher prefix is thousands
    # of expression nodes, and every downstream DataFrame operation
    # (the LSH pair build, decontaminate, mixture_sample — ~40 calls)
    # re-ran the Analyzer over it, putting the query's BUILD at 3.8-5.2s
    # of py4j/analysis round-trips. The checkpoint truncates the logical
    # plan to an RDD leaf; materialization still happens inside the
    # timed action (eager=False), and the upstream computes once either
    # way (it was already persisted).
    gq = gq.localCheckpoint(eager=False)
    # 6. near-dup removal: capped MinHash-LSH pairs, drop the larger id
    pairs = DD.minhash_poly_pairs(
        gq,
        num_hashes=32,
        bands=8,
        shingle_n=3,
        jaccard_threshold=0.3,
        max_bucket=2,
        hot_bucket_mode="sample",
    )
    # the near-dup id set is pair-count-sized (tiny); persist IT, not the
    # joined corpus — downstream reads of `nd` then cost one cached-gq
    # scan plus a broadcast anti-join instead of a fresh LSH self-join
    nd_ids = DD._persist(pairs.select(F.col("id_b").alias("doc_id")).distinct())
    nd = gq.join(nd_ids, "doc_id", "left_anti")
    # 7. eval-set decontamination: raw eval slice's 8-grams vs the
    # processed train text
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    dec = decontaminate(nd, eval_df, ngram_n=8)
    # 8. target source mixture over the survivors. mixture_sample reads
    # its input twice (the O(domains) count aggregate, then the
    # threshold scan) — persist the decontaminated corpus so the whole
    # upstream chain computes ONCE, not once per pass (MEMORY_AND_DISK,
    # released via the dedup cache registry; at 100 TB this persist is
    # the survivors frame, a fraction of the raw crawl)
    survivors = DD._persist(dec.join(docs.select("doc_id", "source"), "doc_id"))
    final = mixture_sample(survivors, "doc_id", "source", _MIXTURE)
    return final.select("doc_id", "source", F.md5("text").alias("text_md5"))


def _sql_corpus_pipeline() -> str:
    from revtron_utils_spark.functions.html import BLOCK_SPLIT, DROP_ELEMENTS, ENTITIES
    from revtron_utils_spark.functions.url import _CC_SLD, _URL_RE
    from revtron_utils_spark.operators.curation import HASH_MOD

    # --- html-extract chain (same construction as _sql_html_extract)
    clean = "html"
    clean = f"regexp_replace({clean}, '(?s)<!--.*?-->', ' ', 'g')"
    for tag in DROP_ELEMENTS:
        clean = (
            f"regexp_replace({clean}, "
            rf"'(?is)<{tag}(?:\s[^>]*)?>.*?</{tag}\s*>', ' ', 'g')"
        )

    def text_of(b: str) -> str:
        t = rf"regexp_replace({b}, '(?s)<[^>]*>', ' ', 'g')"
        for ent, rep in ENTITIES:
            rep_sql = rep.replace("'", "''")
            t = f"replace({t}, '{ent}', '{rep_sql}')"
        return rf"trim(regexp_replace({t}, '\s+', ' ', 'g'))"

    words = f"len(string_split({text_of('b')}, ' '))"
    anchors = r"(len(string_split_regex(b, '(?i)<a[\s>]')) - 1)"
    cond = f"{text_of('b')} <> '' AND {words} >= 3 AND 2 * {anchors} <= {words}"

    # --- registered-domain chain (same construction as _sql_url_normalize)
    g = lambda i: f"regexp_extract(target_uri, '{_URL_RE}', {i})"  # noqa: E731
    cc = ", ".join(f"'{d}'" for d in _CC_SLD)

    # --- mixture stage constants
    total = sum(_MIXTURE.values())
    vals = ", ".join(
        f"('{s}', CAST({p / total!r} AS DOUBLE))" for s, p in _MIXTURE.items()
    )
    bucket = _sql_bucket("j.doc_id")

    return rf"""
WITH docs0 AS (SELECT doc_id, source, lang, text FROM documents),
hsyn AS (
  SELECT doc_id,
         'http://' || CASE WHEN doc_id % 11 = 0 THEN 'ads.tracker-net.com'
                           ELSE 'ex-' || source || '.com' END
         || '/' || CAST(doc_id AS VARCHAR) AS uri,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{margin:0}}</style><script>var x=1&amp;2;</script>'
         || '</head><body><!-- generated fixture --><nav><a href="/">home</a> '
         || '<a href="/about">about</a></nav><div id="main"><h1>Source '
         || source || ' &amp; lang ' || lang || '</h1><p>' || text
         || '</p><p>too short</p><p><a href="/x">one</a> <a href="/y">two</a> '
         || 'three</p></div><footer>&copy; 2024 example.com</footer></body></html>'
         AS page
  FROM docs0
), w AS (
  SELECT doc_id,
         'WARC/1.0' || E'\r\n' || 'WARC-Type: request' || E'\r\n'
         || 'WARC-Target-URI: ' || uri || E'\r\n' || 'Content-Length: 0'
         || E'\r\n\r\n\r\n\r\n'
         || 'WARC/1.0' || E'\r\n' || 'WARC-Type: response' || E'\r\n'
         || 'WARC-Target-URI: ' || uri || E'\r\n'
         || 'Content-Length: ' || CAST(len(page) AS VARCHAR)
         || E'\r\n\r\n' || page || E'\r\n\r\n' AS warc
  FROM hsyn
), recs AS (
  SELECT doc_id,
         unnest(string_split_regex(warc, 'WARC/1\.0\r\n')) AS rec
  FROM w
), nonempty AS (SELECT * FROM recs WHERE rec <> ''),
hd AS (
  SELECT doc_id,
         regexp_extract(rec, '(?s)^(.*?)\r\n\r\n', 1) AS headers,
         regexp_replace(regexp_extract(rec, '(?s)\r\n\r\n(.*)$', 1),
                        '(\r\n)+$', '') AS payload
  FROM nonempty
), resp AS (
  SELECT doc_id,
         regexp_extract(headers, '(?im)^WARC-Target-URI: ([^\r\n]+)', 1) AS target_uri,
         payload AS html
  FROM hd
  WHERE regexp_extract(headers, '(?im)^WARC-Type: ([^\r\n]+)', 1) = 'response'
), dom AS (
  SELECT doc_id, html,
         CASE WHEN {g(1)} = '' THEN NULL ELSE
           CASE WHEN len(string_split(lower({g(2)}), '.')) >= 3
                     AND array_to_string(string_split(lower({g(2)}), '.')[
                           greatest(len(string_split(lower({g(2)}), '.'))-1, 1):
                           len(string_split(lower({g(2)}), '.'))], '.') IN ({cc})
                THEN array_to_string(string_split(lower({g(2)}), '.')[
                       greatest(len(string_split(lower({g(2)}), '.'))-2, 1):
                       len(string_split(lower({g(2)}), '.'))], '.')
                ELSE array_to_string(string_split(lower({g(2)}), '.')[
                       greatest(len(string_split(lower({g(2)}), '.'))-1, 1):
                       len(string_split(lower({g(2)}), '.'))], '.')
           END
         END AS domain
  FROM resp
), allowed AS (
  SELECT doc_id, html FROM dom WHERE domain IS DISTINCT FROM 'tracker-net.com'
), clean AS (
  SELECT doc_id, {clean} AS cleaned FROM allowed
), blk AS (
  SELECT doc_id, string_split_regex(cleaned, '{BLOCK_SPLIT}') AS blocks FROM clean
), xt AS (
  SELECT doc_id,
         array_to_string(
           list_transform(list_filter(blocks, b -> {cond}), b -> {text_of('b')}),
           ' ') AS main_text
  FROM blk
), built AS (
  SELECT doc_id,
         coalesce(array_to_string(toks[1:10], ' '), '') || chr(10)
         || 'subscribe to our newsletter today' || chr(10)
         || coalesce(array_to_string(toks[11:len(toks)], ' '), '') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(main_text), '\s+'), t -> t <> '') AS toks
        FROM xt)
), ls AS (
  SELECT doc_id,
         unnest(range(len(string_split(text, chr(10))))) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM built
), norm AS (
  SELECT doc_id, pos, line,
         md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS key
  FROM ls
  WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g')) <> ''
), kept AS (
  SELECT doc_id, pos, line FROM norm
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) = 1
), dd AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
), gs AS (
  SELECT doc_id, text, len(toks) AS n,
         COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0) AS sum_len,
         len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) AS n_sym,
         len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) AS n_stop
  FROM (SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
        FROM dd)
), gq AS (
  SELECT doc_id, text FROM gs
  WHERE (n >= 20 AND n <= 100000) AND (sum_len >= 3 * n AND sum_len <= 10 * n)
    AND (n_alpha * 5 >= n * 4) AND (n_sym * 10 <= n) AND (n_stop >= 2)
), mt AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM gq
), shg AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM mt
), shf AS (SELECT * FROM shg WHERE len(sh) > 0),
mh AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_SHINGLE_HASH_SQL}) AS h0 FROM shf
), sig AS (
  SELECT doc_id, list_transform(range(0, 32), i ->
     list_min(list_transform(h0, x -> ((((2*i+1)*2654435761) % 1000000007) * x + (9176*i*i + 11)) % 1000000007))) AS sig
  FROM mh
), banded AS (
  SELECT doc_id, band, array_to_string(sig[(band*4+1):(band*4+4)], ',') AS bkey
  FROM sig, range(0, 8) AS r(band)
  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 2
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), neardup AS (
  SELECT DISTINCT c.id_b
  FROM cand c JOIN shf x ON c.id_a = x.doc_id JOIN shf y ON c.id_b = y.doc_id
  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.3
), nd AS (
  SELECT doc_id, text FROM gq WHERE doc_id NOT IN (SELECT id_b FROM neardup)
), trgrams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 8
           THEN list_transform(range(1, len(toks) - 6),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                               toks[i+4], toks[i+5], toks[i+6], toks[i+7]))
           ELSE CAST([] AS VARCHAR[]) END) AS gword
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
        FROM nd)
), evgrams AS (
  SELECT DISTINCT
         unnest(CASE WHEN len(toks) >= 8
           THEN list_transform(range(1, len(toks) - 6),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                               toks[i+4], toks[i+5], toks[i+6], toks[i+7]))
           ELSE CAST([] AS VARCHAR[]) END) AS gword
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
        FROM docs0 WHERE doc_id % 97 = 0)
), contaminated AS (
  SELECT DISTINCT t.doc_id FROM trgrams t JOIN evgrams e ON t.gword = e.gword
), dec AS (
  SELECT doc_id, text FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), j AS (
  SELECT dec.doc_id, dec.text, d.source FROM dec JOIN docs0 d USING (doc_id)
), p(dom, p) AS (VALUES {vals}),
cnt AS (
  SELECT source AS dom, CAST(COUNT(*) AS BIGINT) AS n FROM j
  WHERE source IN (SELECT dom FROM p) GROUP BY 1
),
np AS (SELECT cnt.dom, cnt.n, p.p FROM cnt JOIN p USING (dom)),
tmin AS (SELECT MIN(n / p) AS t FROM np),
thr AS (
  SELECT dom, CAST(FLOOR(((p * tmin.t) / n) * {HASH_MOD}) AS BIGINT) AS thr
  FROM np CROSS JOIN tmin
)
SELECT j.doc_id, j.source, md5(j.text) AS text_md5
FROM j JOIN thr ON j.source = thr.dom
WHERE {bucket} < thr.thr
"""


SQL_CORPUS_PIPELINE = _sql_corpus_pipeline()


def q_token_diversity(spark, sf):
    """Lexical-diversity profile (`profile.token_diversity`): per-source
    type-token ratio and unbiased Gini-Simpson index — log-free (no
    entropy), so every quantity is an exact integer sum plus one
    exactly-rounded division and the whole readout hash-matches the
    oracle. One (source, token) partial-aggregated shuffle + an
    O(groups) rollup."""
    from revtron_utils_spark.operators.profile import token_diversity

    return token_diversity(_t(spark, sf, "documents"), ["source"])


def _sql_token_diversity() -> str:
    from revtron_utils_spark.operators.profile import token_diversity_oracle_sql

    return token_diversity_oracle_sql("documents", ["source"])


SQL_TOKEN_DIVERSITY = _sql_token_diversity()


def q_embedding_pipeline(spark, sf):
    """End-to-end embedding-corpus pipeline — the vector-side sibling of
    `corpus_pipeline`, composed as ONE plan from three hash-verified
    stages: per-label outlier screen (`similarity.embedding_outliers`,
    drop each label's top-5 farthest-from-centroid vectors) → SemDeDup
    (`semdedup.semantic_dedup`, sign-LSH clusters + smaller-id-wins
    cosine ≥ 0.4 within-cluster dedup) → brute-force kNN readout
    (`similarity.knn_join`, top-4 neighbors incl. self for every
    vec_id % 50 == 0 query, quantized-int cosine). Every stage uses the
    engine-exact quantized arithmetic of its standalone gate, so the
    final (query_id, neighbor_id, rank, cosine) set hash-matches the
    chained-CTE oracle. At corpus scale the kNN readout swaps for the
    IVF/PQ path (rows-only gates `ivf_ann`/`pq_ann`); the composition
    and handoff schema are what this gate pins."""
    from revtron_utils_spark.operators import semdedup as SD

    emb = _t(spark, sf, "embeddings")
    # 1. outlier screen (scale=1000, top-5 per label — same operating
    # point as the `embedding_outliers` gate)
    out = SIM.embedding_outliers(
        emb, "embedding", "vec_id", "label", top_k=5, scale=1000
    )
    clean = emb.join(out.select("vec_id"), "vec_id", "left_anti")
    # 2. SemDeDup at the `semdedup` gate's operating point
    sd = SD.semantic_dedup(clean, threshold=0.4, planes=4, dim=64)
    kept = clean.join(
        sd.where(F.col("kept")).select("vec_id"), "vec_id", "left_semi"
    )
    # 3. kNN readout over the deduplicated corpus
    queries = kept.where(F.col("vec_id") % 50 == 0)
    knn = SIM.knn_join(queries, kept, k=4)
    return knn.select(
        F.col("lid").alias("query_id"),
        F.col("rid").alias("neighbor_id"),
        "rank",
        "cosine",
    )


def _sql_embedding_pipeline() -> str:
    planes = " + ".join(
        f"(CASE WHEN list_inner_product(ev, {_semdedup_plane_sql(j)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )
    return f"""
WITH oq AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), onn AS (SELECT label, COUNT(*) AS n FROM oq GROUP BY label),
oe AS (SELECT label, vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM oq),
os AS (SELECT label, pos, SUM(v) AS s FROM oe GROUP BY label, pos),
od AS (
  SELECT oe.label, oe.vec_id,
         SUM((onn.n * oe.v - os.s) * (onn.n * oe.v - os.s)) AS d2n
  FROM oe JOIN os ON oe.label = os.label AND oe.pos = os.pos
          JOIN onn ON oe.label = onn.label
  GROUP BY oe.label, oe.vec_id
), outl AS (
  SELECT vec_id FROM (
    SELECT od.vec_id,
           ROW_NUMBER() OVER (PARTITION BY od.label ORDER BY od.d2n DESC, od.vec_id) AS rk
    FROM od
  ) WHERE rk <= 5
), clean AS (
  SELECT vec_id, {_QUANT} AS ev FROM embeddings
  WHERE vec_id NOT IN (SELECT vec_id FROM outl)
), cl AS (
  SELECT vec_id, ev, ({planes}) AS cluster_id FROM clean
), drp AS (
  SELECT DISTINCT a.vec_id
  FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
  WHERE list_inner_product(a.ev, b.ev)
        / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))) >= 0.4
), kept AS (
  SELECT vec_id, ev FROM cl WHERE vec_id NOT IN (SELECT vec_id FROM drp)
), j AS (
  SELECT q.vec_id AS query_id, k.vec_id AS neighbor_id,
         ROUND(list_inner_product(q.ev, k.ev)
               / (SQRT(list_inner_product(q.ev, q.ev))
                  * SQRT(list_inner_product(k.ev, k.ev))), 6) AS cosine
  FROM kept q JOIN kept k ON q.vec_id % 50 = 0
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM j
) WHERE rn <= 4
"""


SQL_EMBEDDING_PIPELINE = _sql_embedding_pipeline()


def q_skew_report(spark, sf):
    """Join-key skew diagnostic (`skew.join_skew_report`): the 10
    heaviest o_custkey values in orders with exact counts, row share,
    and ratio-to-mean-frequency — the decision input for salted_join /
    AQE skew handling, naming the keys whose blowup `ams_f2` predicts
    in aggregate. One key-partial shuffle + broadcast scalar totals;
    hash-matches the oracle."""
    from revtron_utils_spark.operators.skew import join_skew_report

    return join_skew_report(_t(spark, sf, "orders"), ["o_custkey"], top_k=10)


def _sql_skew_report() -> str:
    from revtron_utils_spark.operators.skew import join_skew_report_oracle_sql

    return join_skew_report_oracle_sql("orders", ["o_custkey"], top_k=10)


SQL_SKEW_REPORT = _sql_skew_report()


# -- annotation / preference-data analytics (operators/annotation.py):
# the label-quality side of a training pipeline. Fixtures derive a
# rating panel and a pairwise-comparison stream from lineitem: each
# order's lineitems act as ratings (rater = l_linenumber, label =
# l_returnflag), and within-order lineitem pairs act as comparisons
# between shipmodes (higher l_quantity wins; quantity/shipmode ties
# are skipped).

_SQL_RATINGS = (
    "SELECT l_orderkey AS item, l_linenumber AS rater, l_returnflag AS label "
    "FROM lineitem"
)
_SQL_COMPARISONS = """
WITH lb AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT CASE WHEN a.l_quantity > b.l_quantity THEN a.p_brand ELSE b.p_brand END AS winner,
       CASE WHEN a.l_quantity > b.l_quantity THEN b.p_brand ELSE a.p_brand END AS loser
FROM lb a JOIN lb b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
WHERE a.l_quantity <> b.l_quantity AND a.p_brand <> b.p_brand
"""


def _ratings(spark, sf):
    return _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("item"),
        F.col("l_linenumber").alias("rater"),
        F.col("l_returnflag").alias("label"),
    )


def _comparisons(spark, sf):
    # brands as the compared catalog: lineitem ⋈ part (broadcast-scale
    # dim at any SF ratio in spirit; Spark picks broadcast via AQE),
    # then within-order lineitem pairs — higher quantity wins
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    part = _t(spark, sf, "part").select("p_partkey", "p_brand")
    lb = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "l_linenumber", "l_quantity", "p_brand"
    )
    a, b = lb.alias("a"), lb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).where(
        (F.col("a.l_quantity") != F.col("b.l_quantity"))
        & (F.col("a.p_brand") != F.col("b.p_brand"))
    )
    hi = F.col("a.l_quantity") > F.col("b.l_quantity")
    return pairs.select(
        F.when(hi, F.col("a.p_brand")).otherwise(F.col("b.p_brand")).alias("winner"),
        F.when(hi, F.col("b.p_brand")).otherwise(F.col("a.p_brand")).alias("loser"),
    )


def q_majority_vote(spark, sf):
    """Crowd-label aggregation (`annotation.majority_vote`): per-order
    modal return flag across its lineitem "raters" — modal label with
    deterministic (votes DESC, label ASC) tie-break, vote share, and
    unanimity. One (item,label) partial-aggregated shuffle plus an
    item-keyed window; exact counts + one rounded division hash-match
    the oracle."""
    from revtron_utils_spark.operators.annotation import majority_vote

    return majority_vote(_ratings(spark, sf), "item", "rater", "label")


def _sql_majority_vote() -> str:
    from revtron_utils_spark.operators.annotation import majority_vote_oracle_sql

    return majority_vote_oracle_sql(
        f"({_SQL_RATINGS}) r", "item", "rater", "label"
    )


SQL_MAJORITY_VOTE = _sql_majority_vote()


def q_annotator_kappa(spark, sf):
    """Inter-annotator agreement (`annotation.cohen_kappa_pairs`):
    Cohen's kappa for every lineitem-position pair over co-rated
    orders. Item-keyed self-join (per-item cost bounded by the 7-line
    panel), exact confusion counts, DECIMAL-exact marginal cross
    products, two final divisions — hash-matches the oracle."""
    from revtron_utils_spark.operators.annotation import cohen_kappa_pairs

    return cohen_kappa_pairs(_ratings(spark, sf), "item", "rater", "label")


def _sql_annotator_kappa() -> str:
    from revtron_utils_spark.operators.annotation import (
        cohen_kappa_pairs_oracle_sql,
    )

    return cohen_kappa_pairs_oracle_sql(_SQL_RATINGS, "item", "rater", "label")


SQL_ANNOTATOR_KAPPA = _sql_annotator_kappa()


def q_bradley_terry(spark, sf):
    """Preference-strength estimation (`annotation.bradley_terry`):
    Bradley-Terry MM over ~O(lineitem) within-order shipmode
    comparisons, 20 fixed iterations (the pagerank convention). The
    comparison stream reduces with ONE map-side-combined count; the
    iterations run on a single-row O(items²) state frame with
    index-ordered F.aggregate folds, one projection per iteration, so
    the readout is bit-equal to the oracle's unrolled MATERIALIZED-CTE
    list_reduce folds."""
    from revtron_utils_spark.operators.annotation import bradley_terry

    return bradley_terry(_comparisons(spark, sf), "winner", "loser", iterations=20)


def _sql_bradley_terry() -> str:
    from revtron_utils_spark.operators.annotation import bradley_terry_oracle_sql

    return bradley_terry_oracle_sql(_SQL_COMPARISONS, "winner", "loser", 20)


SQL_BRADLEY_TERRY = _sql_bradley_terry()


def q_win_rate_wilson(spark, sf):
    """Win-rate leaderboard with Wilson intervals
    (`annotation.win_rate_wilson`) over the same comparison stream as
    `bradley_terry`: exact win/game counts from one map-side-combined
    aggregation, then a single pinned algebraic form of the Wilson
    bound (every op an exactly-rounded IEEE multiply/divide/sqrt, so
    the rounded readout hash-matches the token-identical oracle)."""
    from revtron_utils_spark.operators.annotation import win_rate_wilson

    return win_rate_wilson(_comparisons(spark, sf), "winner", "loser")


def _sql_win_rate_wilson() -> str:
    from revtron_utils_spark.operators.annotation import win_rate_wilson_oracle_sql

    return win_rate_wilson_oracle_sql(_SQL_COMPARISONS, "winner", "loser")


SQL_WIN_RATE_WILSON = _sql_win_rate_wilson()


def q_vocab_drift(spark, sf):
    """Corpus distribution shift (`profile.vocab_drift`): total-
    variation distance between the token distributions of two document
    sources plus the 20 most-divergent tokens — the log-free drift
    readout (KL/JS would need libm logs that differ across engines;
    TVD is an exact DECIMAL sum + one division). One (token)
    partial-aggregated shuffle, broadcast totals, TakeOrdered top-k;
    hash-matches the oracle."""
    from revtron_utils_spark.operators.profile import vocab_drift

    return vocab_drift(
        _t(spark, sf, "documents"), "source", "src0", "src1", top_k=20
    )


def _sql_vocab_drift() -> str:
    from revtron_utils_spark.operators.profile import vocab_drift_oracle_sql

    return vocab_drift_oracle_sql("documents", "source", "src0", "src1", top_k=20)


SQL_VOCAB_DRIFT = _sql_vocab_drift()


def q_scorer_spearman(spark, sf):
    """Scorer-agreement readout (`profile.spearman_corr`): per-language
    Spearman rank correlation between two quality signals over the
    documents corpus — document length (n_chars) vs distinct-token
    count. Average ranks for ties kept integral by doubling (Pearson is
    affine-invariant), DECIMAL-exact moment sums, `grouped_linreg`'s
    fixed closed form — hash-matches the oracle."""
    from revtron_utils_spark.operators.profile import spearman_corr

    docs = _t(spark, sf, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.array_distinct(TX.tokens("text"))).cast("long").alias("y"),
    )
    return spearman_corr(docs, "x", "y", by=["lang"])


def _sql_scorer_spearman() -> str:
    from revtron_utils_spark.operators.profile import spearman_corr_oracle_sql

    inner = (
        r"(SELECT lang, CAST(n_chars AS BIGINT) AS x, "
        r"CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), "
        r"t -> t <> ''))) AS BIGINT) AS y FROM documents) d"
    )
    return spearman_corr_oracle_sql(inner, "x", "y", by=["lang"])


SQL_SCORER_SPEARMAN = _sql_scorer_spearman()


def q_degree_assortativity(spark, sf):
    """Graph-structure readout (`graph.degree_assortativity`): Pearson
    correlation of endpoint degrees over the symmetrized
    customer↔supplier trade graph (the k_core/pagerank fixture) — the
    one-number shape check (bipartite trade graphs run disassortative)
    you make before paying for iterative algorithms. Two shuffles + two
    node-keyed joins + one moment aggregate; DECIMAL-exact sums
    hash-match the oracle."""
    from revtron_utils_spark.operators.graph import degree_assortativity

    od = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        od.join(li, od["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    return degree_assortativity(edges)


def _sql_degree_assortativity() -> str:
    from revtron_utils_spark.operators.graph import degree_assortativity_oracle_sql

    edges = (
        "SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    )
    return degree_assortativity_oracle_sql(edges)


SQL_DEGREE_ASSORTATIVITY = _sql_degree_assortativity()


def q_preference_pipeline(spark, sf):
    """End-to-end preference-leaderboard build — the annotation-side
    composition gate (sibling of `corpus_pipeline` /
    `embedding_pipeline`): the comparison stream reduces to directed
    pair counts ONCE (persisted — the single corpus-sized shuffle),
    and BOTH readouts derive from that shared frame: the Bradley-Terry
    MM state (`annotation.bradley_terry_from_counts`) and the Wilson
    leaderboard (`annotation.win_rate_wilson_from_totals`, wins/games
    summed over the two count orientations). One plan, one scan of the
    stream, final (strength DESC, item) ranking — hash-matches the
    chained-CTE oracle reusing the exact standalone-round SQL bodies."""
    from revtron_utils_spark.operators import dedup as DD
    from revtron_utils_spark.operators.annotation import (
        bradley_terry_from_counts,
        win_rate_wilson_from_totals,
    )
    from pyspark.sql import Window

    comp = _comparisons(spark, sf)
    counts = DD._persist(
        comp.groupBy(
            F.col("winner").alias("w"), F.col("loser").alias("l")
        ).agg(F.count(F.lit(1)).alias("nc"))
    )
    bt = bradley_terry_from_counts(
        counts.select("w", "l", F.col("nc").cast("double").alias("c")), 20
    )
    sides = counts.select(
        F.col("w").alias("item"),
        F.col("nc").alias("win_c"),
        F.col("nc").alias("game_c"),
    ).unionByName(
        counts.select(
            F.col("l").alias("item"),
            F.lit(0).cast("long").alias("win_c"),
            F.col("nc").alias("game_c"),
        )
    )
    totals = sides.groupBy("item").agg(
        F.sum("win_c").alias("wins"), F.sum("game_c").alias("n")
    )
    wr = win_rate_wilson_from_totals(totals)
    lb = wr.join(bt, "item")
    return lb.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("strength").desc(), F.col("item").asc())
        ),
    )


def _sql_preference_pipeline() -> str:
    from revtron_utils_spark.operators.annotation import (
        bradley_terry_rounds_sql,
        wilson_select_sql,
    )

    return f"""
WITH comp AS ({_SQL_COMPARISONS}),
cin AS (
  SELECT winner AS w, loser AS l, CAST(COUNT(*) AS BIGINT) AS nc
  FROM comp GROUP BY 1, 2
),
ci0 AS (SELECT w, l, CAST(nc AS DOUBLE) AS c FROM cin),
{bradley_terry_rounds_sql(20)},
bt AS (SELECT unnest(it) AS item, ROUND(unnest(p) / s, 6) AS strength FROM fin),
sides AS (
  SELECT w AS item, nc AS win_c, nc AS game_c FROM cin
  UNION ALL SELECT l AS item, CAST(0 AS BIGINT), nc FROM cin
),
a AS (
  SELECT item, CAST(SUM(win_c) AS BIGINT) AS wins,
         CAST(SUM(game_c) AS BIGINT) AS n
  FROM sides GROUP BY item
),
wr AS ({wilson_select_sql(1.96)})
SELECT wr.item, wr.wins, wr.n, wr.win_rate, wr.wilson_lo, wr.wilson_hi,
       bt.strength,
       CAST(ROW_NUMBER() OVER (ORDER BY bt.strength DESC, wr.item ASC) AS INT) AS rank
FROM wr JOIN bt ON wr.item = bt.item
"""


SQL_PREFERENCE_PIPELINE = _sql_preference_pipeline()


def q_calibration(spark, sf):
    """Classifier reliability curve (`evaluation.calibration_curve`):
    the hashed-linear quality score (exact integer numerator over token
    count) binned into deciles of its [−1e6, 1e6] mean-weight range,
    with the observed Gopher pass rate per bin — the mis-calibration
    readout AUC's single number hides. One map-side-combined
    aggregation; exact bin arithmetic (double products of exact ints,
    boundary-safe floor) hash-matches the oracle."""
    from revtron_utils_spark.functions import classifier as CL
    from revtron_utils_spark.operators.evaluation import calibration_curve

    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    scored = docs.select(
        CL.hashed_linear_score_num("text", dim=4096, seed=0).alias("num"),
        TX.token_count("text").cast("long").alias("den"),
        CL.gopher_quality_flags("text").getField("pass_all").alias("y"),
    )
    return calibration_curve(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


def _sql_calibration() -> str:
    from revtron_utils_spark.operators.evaluation import calibration_curve_oracle_sql

    scored = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS den,
         COALESCE(list_sum(list_transform(toks, tk ->
           (({_TOKHASH_SQL} % 4096 + 1) * 2654435761) % 2000001 - 1000000
         )), 0) AS num,
         COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0) AS sum_len,
         len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) AS n_sym,
         len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) AS n_stop
  FROM t
)
SELECT num, den,
       ((den >= 20 AND den <= 100000) AND (sum_len >= 3 * den AND sum_len <= 10 * den)
        AND (n_alpha * 5 >= den * 4) AND (n_sym * 10 <= den) AND (n_stop >= 2)) AS y
FROM s
"""
    return calibration_curve_oracle_sql(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


SQL_CALIBRATION = _sql_calibration()


def q_join_size_estimate(spark, sf):
    """Join-cardinality prediction (`skew.join_size_estimate`): the
    exact output size of the events-to-events self-join on user_id —
    Σ_k c(k)² (the quantity `ams_f2` sketches) — from ONE key-count
    aggregation joined with itself, never the row-level join. Top-10
    output-heaviest users with per-key output rows and share;
    DECIMAL/HUGEINT products hash-match the oracle."""
    from revtron_utils_spark.operators.skew import join_size_estimate

    ev = _t(spark, sf, "events").select("user_id")
    return join_size_estimate(ev, ev, ["user_id"], top_k=10)


def _sql_join_size_estimate() -> str:
    from revtron_utils_spark.operators.skew import join_size_estimate_oracle_sql

    side = "SELECT user_id FROM events"
    return join_size_estimate_oracle_sql(side, side, ["user_id"], top_k=10)


SQL_JOIN_SIZE_ESTIMATE = _sql_join_size_estimate()


def q_streaming_tumbling(spark, sf):
    """Watermarked tumbling-window aggregation run to completion —
    the second HASH-VERIFIED streaming gate (after `streaming_dedup`):
    events streamed through `readStream` → 1-hour watermark → 1-hour
    tumbling count + exact integer cents sum per event type → append
    mode → availableNow → memory sink. Append mode emits exactly the
    windows whose end ≤ the final watermark (max event time − 1 h) —
    and ONLY window-end/watermark arithmetic decides membership, never
    micro-batch interleaving — so the emitted set is deterministic and
    the DuckDB oracle reproduces it as a batch GROUP BY with the same
    boundary predicate."""
    ev = _t(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tmp = _stream_staging("drv_stream_tw")
    src = f"{tmp}/src"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .select(
            F.unix_micros(F.col("w.start")).alias("ws"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
    return _drain_append(spark, "streaming_tumbling", agg, "drv_stream_tw", tmp)


SQL_STREAMING_TUMBLING = """
WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
b AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY 1, 2
)
SELECT b.* FROM b, mx
WHERE b.ws + 3600000000 <= mx.m - 3600000000
"""


def q_vocab_richness(spark, sf):
    """Vocabulary projection (`profile.vocab_richness`): per-source
    token totals, type counts, hapax/dis-legomena, bias-corrected Chao1
    richness, and Good-Turing OOV mass — "how much vocabulary is still
    unseen" per corpus slice. One (source, token) partial-aggregated
    shuffle + O(groups) rollup; exact integers (HUGEINT/DECIMAL hapax
    product) + one division each hash-match the oracle."""
    from revtron_utils_spark.operators.profile import vocab_richness

    return vocab_richness(_t(spark, sf, "documents"), ["source"])


def _sql_vocab_richness() -> str:
    from revtron_utils_spark.operators.profile import vocab_richness_oracle_sql

    return vocab_richness_oracle_sql("documents", ["source"])


SQL_VOCAB_RICHNESS = _sql_vocab_richness()


def q_concentration_gini(spark, sf):
    """Corpus concentration (`profile.concentration_gini`): Gini
    coefficient of per-user event counts over the zipf-ish events table
    — the "is one key eating the corpus" readout that complements
    `skew_report`'s named top-k. One key-count shuffle + one rank
    window over the bounded counts frame; exact DECIMAL rank-weighted
    sums + one division hash-match the oracle."""
    from revtron_utils_spark.operators.profile import concentration_gini

    return concentration_gini(_t(spark, sf, "events"), ["user_id"])


def _sql_concentration_gini() -> str:
    from revtron_utils_spark.operators.profile import concentration_gini_oracle_sql

    return concentration_gini_oracle_sql("events", ["user_id"])


SQL_CONCENTRATION_GINI = _sql_concentration_gini()


def q_classifier_eval(spark, sf):
    """Classifier acceptance readout (`evaluation.classification_report`):
    per-class precision/recall/F1 of the marker-token language-ID
    against the stored lang labels — the confusion audit you run before
    trusting a labeler at corpus scale. One (actual, predicted)
    partial-aggregated shuffle + O(classes) rollup; exact counts and
    single-division metric forms hash-match the oracle."""
    from revtron_utils_spark.operators.evaluation import classification_report

    docs = _t(spark, sf, "documents")
    pairs = docs.select(
        F.col("lang").alias("actual"), TX.lang_id("text").alias("pred")
    )
    return classification_report(pairs, "actual", "pred")


def _sql_classifier_eval() -> str:
    from revtron_utils_spark.operators.evaluation import (
        classification_report_oracle_sql,
    )

    pairs = (
        f"SELECT d.lang AS actual, lp.lang_pred AS pred "
        f"FROM ({SQL_LANG_ID}) lp JOIN documents d USING (doc_id)"
    )
    return classification_report_oracle_sql(pairs, "actual", "pred")


SQL_CLASSIFIER_EVAL = _sql_classifier_eval()


def q_score_auc(spark, sf):
    """Threshold-free score acceptance (`evaluation.rank_auc`): ROC AUC
    of the English-marker-token count as a predictor of the stored
    lang='en' label, per source — Mann-Whitney U with exact average-rank
    tie handling (integral scores make ties the common case, exercising
    the correction). DECIMAL rank sums + one division hash-match the
    oracle."""
    from revtron_utils_spark.operators.evaluation import rank_auc

    from revtron_utils_spark.functions.text import LANG_MARKERS

    en = [F.lit(m) for m in LANG_MARKERS["en"]]
    docs = _t(spark, sf, "documents").select(
        "source",
        F.size(
            F.filter(
                TX.tokens("text"),
                lambda t: F.array_contains(F.array(*en), F.lower(t)),
            )
        ).cast("long").alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return rank_auc(docs, "score", "is_en", by=["source"])


def _sql_score_auc() -> str:
    from revtron_utils_spark.operators.evaluation import rank_auc_oracle_sql

    scored = rf"""
SELECT source,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                x -> lower(x) IN {_MARKER_SQL['en']})) AS BIGINT) AS score,
       (lang = 'en') AS is_en
FROM documents
"""
    return rank_auc_oracle_sql(scored, "score", "is_en", by=["source"])


SQL_SCORE_AUC = _sql_score_auc()


def q_compression_ratio(spark, sf):
    """Deflate-compressibility quality gate
    (`curation.compression_filter`): per-document zlib ratio + keep
    flag over the documents corpus — the RefinedWeb/Dolma-style
    long-range-repetition signal that n-gram stats under-catch.
    Rows-only BY DESIGN: zlib is not SQL-reproducible; the value
    contract is pinned by the pytest differential against direct
    python zlib (tests/test_quality.py). One narrow Arrow pass, no
    shuffle."""
    from revtron_utils_spark.operators.curation import compression_filter

    return compression_filter(_t(spark, sf, "documents"))


def q_embedding_pipeline_scaled(spark, sf):
    """The 100-TB configuration of `embedding_pipeline`, hash-gated
    END-TO-END since round 10: the adaptive plane count is a
    deterministic function of the post-outlier corpus count, and the
    oracle derives the SAME count with a log2-free integer predicate
    (see `_sql_embedding_pipeline_scaled`) — so the dynamic sizing
    itself is under the hash gate. Same outlier screen as the exact
    pipeline, but SemDeDup with ``planes='auto'``
    (clusters ∝ n, expected cluster population bounded near 1000 — the
    within-cluster O(Σc²) verify stays linear in n instead of the fixed-
    plane O(n²/2^planes)), and the kNN readout restricted to each
    query's OWN sign-LSH cluster (``knn_join`` blocked on cluster_id),
    so per-query work is bounded by cluster size, not corpus size.
    `tools/scale_study.py` fits this variant's curve next to the exact
    gate's — the pair is the recall-vs-cost story every LSH family in
    the repo tells."""
    from revtron_utils_spark.operators import semdedup as SD

    emb = _t(spark, sf, "embeddings")
    out = SIM.embedding_outliers(
        emb, "embedding", "vec_id", "label", top_k=5, scale=1000
    )
    clean = emb.join(out.select("vec_id"), "vec_id", "left_anti")
    sd = SD.semantic_dedup(clean, threshold=0.4, planes="auto", dim=64)
    kept = clean.join(
        sd.where(F.col("kept")).select("vec_id", "cluster_id"), "vec_id"
    )
    queries = kept.where(F.col("vec_id") % 50 == 0)
    knn = SIM.knn_join(queries, kept, k=4, block_cols=("cluster_id",))
    return knn.select(
        F.col("lid").alias("query_id"),
        F.col("rid").alias("neighbor_id"),
        "rank",
        "cosine",
    )


def _sql_embedding_pipeline_scaled() -> str:
    """Hash twin for the 100-TB pipeline configuration (round-9 verdict
    task 7): the ONE dynamic piece — SemDeDup's auto plane count — is
    ``max(1, ceil(log2(max(2, n_clean/1000))))``, which equals the pure
    INTEGER predicate ``min p ≥ 1 with 1000·2^p ≥ n_clean`` (no engine
    evaluates log2: Python's float path can't round across a 2^k
    boundary because n/1000 has granularity 1e-3 ≫ ulp). The plane
    WEIGHTS were always the deterministic `semdedup._plane` integers.
    Everything else reuses the hash-verified `embedding_pipeline`
    stages, with the kNN readout blocked on cluster_id."""
    return f"""
WITH oq AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), onn AS (SELECT label, COUNT(*) AS n FROM oq GROUP BY label),
oe AS (SELECT label, vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM oq),
os AS (SELECT label, pos, SUM(v) AS s FROM oe GROUP BY label, pos),
od AS (
  SELECT oe.label, oe.vec_id,
         SUM((onn.n * oe.v - os.s) * (onn.n * oe.v - os.s)) AS d2n
  FROM oe JOIN os ON oe.label = os.label AND oe.pos = os.pos
          JOIN onn ON oe.label = onn.label
  GROUP BY oe.label, oe.vec_id
), outl AS (
  SELECT vec_id FROM (
    SELECT od.vec_id,
           ROW_NUMBER() OVER (PARTITION BY od.label ORDER BY od.d2n DESC, od.vec_id) AS rk
    FROM od
  ) WHERE rk <= 5
), clean AS MATERIALIZED (
  SELECT vec_id, {_QUANT} AS ev FROM embeddings
  WHERE vec_id NOT IN (SELECT vec_id FROM outl)
), pl AS (
  -- auto plane count, log2-free: min p>=1 with 1000*2^p >= n_clean
  SELECT MIN(p) AS planes FROM generate_series(1, 40) t(p)
  WHERE CAST(1000 AS HUGEINT) * (CAST(1 AS HUGEINT) << p)
        >= (SELECT COUNT(*) FROM clean)
), pw AS (
  -- semdedup._plane: ((j*131 + d + 7) * 2654435761) % 1000003 - 501001
  SELECT j, d,
         ((j * 131 + d + 7) * 2654435761) % 1000003 - 501001 AS w
  FROM generate_series(0, 39) s(j) CROSS JOIN generate_series(0, 63) t(d)
  WHERE j < (SELECT planes FROM pl)
), ce AS (
  SELECT vec_id, unnest(ev) AS v, generate_subscripts(ev, 1) - 1 AS d
  FROM clean
), sig AS (
  SELECT ce.vec_id, pw.j, SUM(ce.v * pw.w) AS dot
  FROM ce JOIN pw ON ce.d = pw.d
  GROUP BY 1, 2
), cid AS (
  SELECT vec_id,
         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
         AS cluster_id
  FROM sig GROUP BY vec_id
), cl AS MATERIALIZED (
  SELECT c.vec_id, c.ev, cid.cluster_id
  FROM clean c JOIN cid ON c.vec_id = cid.vec_id
), drp AS (
  SELECT DISTINCT a.vec_id
  FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
  WHERE list_inner_product(a.ev, b.ev)
        / (SQRT(list_inner_product(a.ev, a.ev)) * SQRT(list_inner_product(b.ev, b.ev))) >= 0.4
), kept AS MATERIALIZED (
  SELECT vec_id, ev, cluster_id FROM cl
  WHERE vec_id NOT IN (SELECT vec_id FROM drp)
), j AS (
  SELECT q.vec_id AS query_id, k.vec_id AS neighbor_id,
         ROUND(list_inner_product(q.ev, k.ev)
               / (SQRT(list_inner_product(q.ev, q.ev))
                  * SQRT(list_inner_product(k.ev, k.ev))), 6) AS cosine
  FROM kept q JOIN kept k ON q.cluster_id = k.cluster_id
  WHERE q.vec_id % 50 = 0
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM j
) WHERE rn <= 4
"""


SQL_EMBEDDING_PIPELINE_SCALED = _sql_embedding_pipeline_scaled()


def q_kaplan_meier(spark, sf):
    """Right-censored survival curve (`survival.kaplan_meier`):
    per-market-segment Kaplan-Meier over customer ordering lifetimes —
    duration = capped weeks between first and last order, event = the
    customer went quiet ≥ 90 days before the corpus horizon (otherwise
    right-censored). Complements `cohort_retention`: KM handles the
    censored tail the fixed offset grid cannot. One per-customer agg +
    one (segment, week) agg; the at-risk window and the survival
    product-fold run over the BOUNDED ≤105-bucket spine; exact integer
    d/n counts, one division per factor, identical ascending-time fold
    in the oracle's list_reduce."""
    from revtron_utils_spark.operators.survival import kaplan_meier

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    per = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_d"),
        F.max("o_orderdate").alias("last_d"),
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    subj = (
        per.crossJoin(F.broadcast(mx))
        .join(cust, per.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.least(
                F.floor(F.datediff("last_d", "first_d") / 7), F.lit(104)
            ).cast("int").alias("dur_w"),
            (F.datediff("mx", "last_d") > 90).cast("int").alias("gone"),
        )
    )
    return kaplan_meier(subj, "dur_w", "gone", by=["segment"])


def _sql_kaplan_meier() -> str:
    from revtron_utils_spark.operators.survival import kaplan_meier_oracle_sql

    subjects = """
SELECT c.c_mktsegment AS segment,
       CAST(LEAST(FLOOR(date_diff('day', p.first_d, p.last_d) / 7), 104)
            AS INTEGER) AS dur_w,
       CAST(date_diff('day', p.last_d, m.mx) > 90 AS INTEGER) AS gone
FROM (SELECT o_custkey, MIN(o_orderdate) AS first_d,
             MAX(o_orderdate) AS last_d
      FROM orders GROUP BY o_custkey) p
CROSS JOIN (SELECT MAX(o_orderdate) AS mx FROM orders) m
JOIN customer c ON p.o_custkey = c.c_custkey
"""
    return kaplan_meier_oracle_sql(subjects, "dur_w", "gone", by=["segment"])


SQL_KAPLAN_MEIER = _sql_kaplan_meier()


def _nation_month_revenue(spark, sf):
    """Shared series for the time-series gates: exact monthly revenue
    cents per nation (orders ⋈ customer ⋈ broadcast nation)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )


_SQL_NATION_MONTH_REVENUE = """
SELECT n.n_name AS nation,
       CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_cusum_changepoint(spark, sf):
    """Changepoint location (`timeseries.cusum_changepoint`): per-nation
    peak of the cumulative deviation of monthly revenue from its mean —
    the "when did this source's volume shift" audit run before
    retraining on a new crawl. One partial-agg shuffle to the bounded
    (nation, month) spine + per-group windows; exact integer cumsums,
    DECIMAL i·total, ONE division — hash-matches the oracle."""
    from revtron_utils_spark.operators.timeseries import cusum_changepoint

    return cusum_changepoint(
        _nation_month_revenue(spark, sf), "month", "cents", by=["nation"]
    )


def _sql_cusum_changepoint() -> str:
    from revtron_utils_spark.operators.timeseries import (
        cusum_changepoint_oracle_sql,
    )

    return cusum_changepoint_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_CUSUM_CHANGEPOINT = _sql_cusum_changepoint()


def q_page_hinkley(spark, sf):
    """Page-Hinkley drift alarm (`timeseries.page_hinkley`): per-nation
    maximal RISE of the cumulative monthly-revenue deviation above its
    running minimum — the mean-increase detector complementing
    `cusum_changepoint`'s |deviation| peak on the same series. n-scaled
    integer cumsums, one final division."""
    from revtron_utils_spark.operators.timeseries import page_hinkley

    return page_hinkley(
        _nation_month_revenue(spark, sf), "month", "cents", by=["nation"]
    )


def _sql_page_hinkley() -> str:
    from revtron_utils_spark.operators.timeseries import page_hinkley_oracle_sql

    return page_hinkley_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_PAGE_HINKLEY = _sql_page_hinkley()


def q_odds_ratio(spark, sf):
    """Per-status 2×2 effect sizes (`profile.odds_ratio`): does URGENT
    priority raise the odds of a high-value order, by order status —
    the direction-and-magnitude companion to `contingency_chi2`. Four
    exact integer cells per segment, DECIMAL OR cross-products, pinned
    float readouts with zero-cell NULL guards."""
    from revtron_utils_spark.operators.profile import odds_ratio

    o = _t(spark, sf, "orders").select(
        "o_orderstatus",
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
        (F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 15_000_000).alias(
            "high"
        ),
    )
    return odds_ratio(o, "urgent", "high", by=["o_orderstatus"])


def _sql_odds_ratio() -> str:
    from revtron_utils_spark.operators.profile import odds_ratio_oracle_sql

    units = """
SELECT o_orderstatus, o_orderpriority = '1-URGENT' AS urgent,
       CAST(round(o_totalprice * 100) AS BIGINT) > 15000000 AS high
FROM orders
"""
    return odds_ratio_oracle_sql(units, "urgent", "high", by=["o_orderstatus"])


SQL_ODDS_RATIO = _sql_odds_ratio()


def q_mann_kendall(spark, sf):
    """Monotone-trend test (`timeseries.mann_kendall`): exact
    Mann-Kendall S and Kendall tau-a of per-nation monthly revenue —
    the nonparametric drift detector that pairs with `cusum_changepoint`
    (trend strength vs shift location). The pairwise self-join runs on
    the BOUNDED monthly spine (O(months²) per nation by construction);
    exact integer sign sums, ONE division."""
    from revtron_utils_spark.operators.timeseries import mann_kendall

    return mann_kendall(
        _nation_month_revenue(spark, sf), "month", "cents", by=["nation"]
    )


def _sql_mann_kendall() -> str:
    from revtron_utils_spark.operators.timeseries import mann_kendall_oracle_sql

    return mann_kendall_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_MANN_KENDALL = _sql_mann_kendall()


def q_association_rules(spark, sf):
    """Co-occurrence rules (`basket.association_rules`): top-50 brand
    pairs by lift over order baskets (lineitem ⋈ broadcast part,
    baskets = orders, items = p_brand) — the tag/domain co-occurrence
    audit. One distinct (basket, item) shuffle; the pair self-join
    blows up only O(basket_size²) with TPC-H baskets ≤ 7 lines; item
    supports broadcast from the bounded brand catalog; exact counts,
    DECIMAL lift products, ONE division per metric."""
    from revtron_utils_spark.operators.basket import association_rules

    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    baskets = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_pair_count=2, top_k=50
    )


def _sql_association_rules() -> str:
    from revtron_utils_spark.operators.basket import association_rules_oracle_sql

    baskets = """
SELECT l.l_orderkey, p.p_brand
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""
    return association_rules_oracle_sql(
        baskets, "l_orderkey", "p_brand", min_pair_count=2, top_k=50
    )


SQL_ASSOCIATION_RULES = _sql_association_rules()


def q_rfm_segments(spark, sf):
    """Entity tiering (`segment.rfm_segments`): customers scored 1–4 on
    recency (days since last order vs corpus horizon), frequency
    (order count), monetary ($1000 spend buckets — integer DIV keeps
    the metric exact where double division would not be at corpus
    scale), rolled up per segment. Quartile boundaries come from each
    metric's BOUNDED distinct-value histogram (4·cum ≥ n·k), never an
    entity-wide ntile window; exact counts/sums, one division per
    average."""
    from revtron_utils_spark.operators.segment import rfm_segments

    orders = _t(spark, sf, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    ent = per.crossJoin(F.broadcast(mx)).select(
        F.datediff("mx", "last_d").cast("int").alias("rec"),
        F.col("freq").cast("int").alias("frq"),
        F.expr("cents DIV 100000").alias("mon"),
    )
    return rfm_segments(ent, "rec", "frq", "mon")


def _sql_rfm_segments() -> str:
    from revtron_utils_spark.operators.segment import rfm_segments_oracle_sql

    entities = """
SELECT CAST(date_diff('day', p.last_d, m.mx) AS INTEGER) AS rec,
       CAST(p.freq AS INTEGER) AS frq,
       p.cents // 100000 AS mon
FROM (SELECT o_custkey, MAX(o_orderdate) AS last_d, COUNT(*) AS freq,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey) p
CROSS JOIN (SELECT MAX(o_orderdate) AS mx FROM orders) m
"""
    return rfm_segments_oracle_sql(entities, "rec", "frq", "mon")


SQL_RFM_SEGMENTS = _sql_rfm_segments()


def q_link_prediction(spark, sf):
    """Missing-edge scores (`graph.link_prediction`): top-100
    non-adjacent part pairs by common co-purchase partners + Jaccard,
    over the SAME k-nearest-partner sparsified graph as
    `triangle_counts` (top-10 partners, deterministic hash tie-break —
    max degree ~50, so the wedge enumeration is bounded). Exact integer
    cn/degrees, ONE division, total (cn DESC, jaccard DESC, u, w) order
    makes the top-k cut deterministic."""
    from revtron_utils_spark.operators.graph import link_prediction

    sparse = _copurchase_sparse(spark, sf)
    return link_prediction(
        sparse, src="id_a", dst="id_b", min_common=2, top_k=100
    )


def _sql_link_prediction() -> str:
    from revtron_utils_spark.operators.graph import link_prediction_oracle_sql

    edges = """
SELECT id_a AS src, id_b AS dst FROM (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, COUNT(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
QUALIFY row_number() OVER (
  PARTITION BY id_a
  ORDER BY w DESC, (id_a * 2654435761 + id_b * 40503) % 999999937, id_b
) <= 10
"""
    return link_prediction_oracle_sql(edges, min_common=2, top_k=100)


SQL_LINK_PREDICTION = _sql_link_prediction()


def q_bootstrap_ci(spark, sf):
    """Distributed uncertainty (`bootstrap.poisson_bootstrap_ci`):
    95% percentile-bootstrap CI for mean order value (cents) per order
    priority, B=100 Poisson(1) resamples — the Google-style one-scan
    bootstrap that replaces undistributable with-replacement
    resampling at corpus scale. The B-fold explode happens inside the
    scan (shuffle carries only groups×B partials); weights come from a
    pinned integer hash, so every resample mean is engine-exact."""
    from revtron_utils_spark.operators.bootstrap import poisson_bootstrap_ci

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.col("o_orderkey").alias("uid"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return poisson_bootstrap_ci(
        orders, "uid", "cents", by=["o_orderpriority"], n_boot=100
    )


def _sql_bootstrap_ci() -> str:
    from revtron_utils_spark.operators.bootstrap import (
        poisson_bootstrap_ci_oracle_sql,
    )

    units = """
SELECT o_orderpriority, o_orderkey AS uid,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
"""
    return poisson_bootstrap_ci_oracle_sql(
        units, "uid", "cents", by=["o_orderpriority"], n_boot=100
    )


SQL_BOOTSTRAP_CI = _sql_bootstrap_ci()


def q_benford(spark, sf):
    """Synthetic-data tripwire (`profile.benford_deviation`): χ²
    distance of the first-digit distribution of order values (cents)
    from Benford's law, per order priority — the "was this metric
    generated" audit (TPC-H's uniform price generator fails it loudly,
    which is exactly the point). One (group, digit) shuffle + windows
    over the bounded 9-row spine; exact digit counts, literal-double
    expectations."""
    from revtron_utils_spark.operators.profile import benford_deviation

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return benford_deviation(orders, "cents", by=["o_orderpriority"])


def _sql_benford() -> str:
    from revtron_utils_spark.operators.profile import (
        benford_deviation_oracle_sql,
    )

    values = """
SELECT o_orderpriority,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
"""
    return benford_deviation_oracle_sql(values, "cents", by=["o_orderpriority"])


SQL_BENFORD = _sql_benford()


def q_streaming_sliding(spark, sf):
    """Watermarked SLIDING-window aggregation run to completion — the
    third HASH-VERIFIED streaming gate (after `streaming_dedup` and
    `streaming_tumbling`): 2-hour windows sliding every hour, so every
    event lands in exactly TWO overlapping windows — the state-sharing
    shape tumbling never exercises. Append mode again emits exactly the
    windows whose end ≤ final watermark (max event time − 1 h), pure
    window arithmetic, so the DuckDB oracle reproduces the set by
    exploding each event into its two member windows and applying the
    same boundary predicate."""
    ev = _t(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tmp = _stream_staging("drv_stream_sw")
    src = f"{tmp}/src"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .select(
            F.unix_micros(F.col("w.start")).alias("ws"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
    return _drain_append(spark, "streaming_sliding", agg, "drv_stream_sw", tmp)


SQL_STREAMING_SLIDING = """
WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
member AS (
  SELECT epoch_us(date_trunc('hour', ts)) - u.k * 3600000000 AS ws,
         event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events, UNNEST(range(0, 2)) AS u(k)
),
b AS (
  SELECT ws, event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM member GROUP BY 1, 2
)
SELECT b.* FROM b, mx
WHERE b.ws + 7200000000 <= mx.m - 3600000000
"""


def q_ewma_series(spark, sf):
    """Smoothed level (`timeseries.ewma`): α=0.3 exponentially weighted
    moving average of per-nation monthly revenue — the drift-dashboard
    denominator. Ascending-time prefix fold over the bounded monthly
    spine (the kaplan_meier pattern), identical list_reduce in the
    oracle; exact integer bucket sums in, deterministic doubles out."""
    from revtron_utils_spark.operators.timeseries import ewma

    return ewma(_nation_month_revenue(spark, sf), "month", "cents", by=["nation"])


def _sql_ewma_series() -> str:
    from revtron_utils_spark.operators.timeseries import ewma_oracle_sql

    return ewma_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_EWMA_SERIES = _sql_ewma_series()


def q_theil_sen(spark, sf):
    """Robust trend magnitude (`timeseries.theil_sen`): lower-median
    pairwise slope of per-nation monthly revenue — the outlier-proof
    slope that pairs with `mann_kendall`'s direction test on the same
    O(months²)-bounded pair budget. Integer rank axis keeps
    denominators exact; one division per slope; deterministic
    (slope, i, j) median rank pick."""
    from revtron_utils_spark.operators.timeseries import theil_sen

    return theil_sen(
        _nation_month_revenue(spark, sf), "month", "cents", by=["nation"]
    )


def _sql_theil_sen() -> str:
    from revtron_utils_spark.operators.timeseries import theil_sen_oracle_sql

    return theil_sen_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_THEIL_SEN = _sql_theil_sen()


def q_seasonality(spark, sf):
    """Calendar seasonality (`timeseries.seasonality_index`):
    month-of-year index of order value per nation — each month's
    average order against the nation's overall average, DECIMAL cross
    products and ONE division. One (nation, month) partial-agg shuffle
    + a bounded ≤12-row window."""
    from revtron_utils_spark.operators.timeseries import seasonality_index

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    obs = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return seasonality_index(obs, "d", "cents", by=["nation"])


def _sql_seasonality() -> str:
    from revtron_utils_spark.operators.timeseries import (
        seasonality_index_oracle_sql,
    )

    obs = """
SELECT n.n_name AS nation, o.o_orderdate AS d,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""
    return seasonality_index_oracle_sql(obs, "d", "cents", by=["nation"])


SQL_SEASONALITY = _sql_seasonality()


def q_hellinger_drift(spark, sf):
    """Numeric-feature drift (`profile.hellinger_drift`): Hellinger
    distance between the 1995 and 1999 order-value distributions ($5k
    buckets) — the log-free companion to `vocab_drift` (sqrt is IEEE
    exactly-rounded where KL/PSI's logarithms are not, so the readout
    is engine-deterministic). One (bucket, slice) shuffle over the
    bounded value histogram."""
    from revtron_utils_spark.operators.profile import hellinger_drift

    orders = _t(spark, sf, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 500000").alias(
            "bucket"
        ),
    )
    return hellinger_drift(orders, "bucket", "yr", 1995, 1999)


def _sql_hellinger_drift() -> str:
    from revtron_utils_spark.operators.profile import hellinger_drift_oracle_sql

    values = """
SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket
FROM orders
"""
    return hellinger_drift_oracle_sql(values, "bucket", "yr", "1995", "1999")


SQL_HELLINGER_DRIFT = _sql_hellinger_drift()


def q_dispersion_index(spark, sf):
    """Arrival burstiness (`timeseries.dispersion_index`): Fano factor
    of hourly event counts per event type over the zipf-ish events
    table — ≈1 is Poisson, ≫1 is the bot/batch-replay signature. One
    (type, hour) partial-agg shuffle + one DECIMAL moment aggregate,
    ONE division."""
    from revtron_utils_spark.operators.timeseries import dispersion_index

    ev = _t(spark, sf, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    )
    return dispersion_index(ev, "hour", by=["event_type"])


def _sql_dispersion_index() -> str:
    from revtron_utils_spark.operators.timeseries import (
        dispersion_index_oracle_sql,
    )

    series = "SELECT event_type, date_trunc('hour', ts) AS hour FROM events"
    return dispersion_index_oracle_sql(series, "hour", by=["event_type"])


SQL_DISPERSION_INDEX = _sql_dispersion_index()


def q_analytics_pipeline(spark, sf):
    """Per-nation time-series health report — the time-series
    composition gate (sibling of `corpus_pipeline` /
    `preference_pipeline`): the corpus-sized orders⋈customer⋈nation
    monthly-revenue aggregation runs ONCE (persisted), and FOUR
    readouts derive from that shared 2k-row frame — CUSUM shift
    location, Mann-Kendall direction, Theil-Sen slope, and the final
    EWMA level — joined into one row per nation. Tests cross-operator
    plan composition (one scan, one shuffle to the bounded spine, then
    spine-sized work) the way a monitoring pipeline actually runs."""
    from pyspark.sql import Window

    from revtron_utils_spark.operators.dedup import _persist
    from revtron_utils_spark.operators.timeseries import (
        cusum_changepoint,
        ewma,
        mann_kendall,
        theil_sen,
    )

    series = _persist(
        _nation_month_revenue(spark, sf)
        .groupBy("nation", "month")
        .agg(F.sum("cents").alias("x"))
    )
    cus = cusum_changepoint(series, "month", "x", by=["nation"]).select(
        "nation", "n_buckets", "peak_t", "peak_cusum"
    )
    mk = mann_kendall(series, "month", "x", by=["nation"]).select(
        "nation", "s_stat", "tau"
    )
    ts = theil_sen(series, "month", "x", by=["nation"]).select("nation", "slope")
    ew = ewma(series, "month", "x", by=["nation"])
    last = (
        ew.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(F.col("t").desc())
            ),
        )
        .where(F.col("_r") == 1)
        .select("nation", F.col("ewma").alias("ewma_last"))
    )
    return (
        cus.join(mk, "nation").join(ts, "nation").join(last, "nation")
        .orderBy("nation")
    )


def _sql_analytics_pipeline() -> str:
    from revtron_utils_spark.operators.timeseries import (
        cusum_changepoint_oracle_sql,
        ewma_oracle_sql,
        mann_kendall_oracle_sql,
        theil_sen_oracle_sql,
    )

    shared = "SELECT nation, month, x AS cents FROM series_shared"
    cus = cusum_changepoint_oracle_sql(shared, "month", "cents", by=["nation"])
    mk = mann_kendall_oracle_sql(shared, "month", "cents", by=["nation"])
    ts = theil_sen_oracle_sql(shared, "month", "cents", by=["nation"])
    ew = ewma_oracle_sql(shared, "month", "cents", by=["nation"])
    return f"""
WITH series_shared AS (
  SELECT nation, month, CAST(SUM(cents) AS BIGINT) AS x
  FROM ({_SQL_NATION_MONTH_REVENUE}) raw
  GROUP BY nation, month
)
SELECT c.nation, c.n_buckets, c.peak_t, c.peak_cusum,
       m.s_stat, m.tau, t.slope, e.ewma_last
FROM ({cus}) c
JOIN ({mk}) m USING (nation)
JOIN ({ts}) t USING (nation)
JOIN (
  SELECT nation, ewma AS ewma_last FROM ({ew})
  QUALIFY ROW_NUMBER() OVER (PARTITION BY nation ORDER BY t DESC) = 1
) e USING (nation)
"""


SQL_ANALYTICS_PIPELINE = _sql_analytics_pipeline()


def q_logrank(spark, sf):
    """Cohort churn comparison (`survival.logrank_test`): do AUTOMOBILE
    and BUILDING customers stop ordering at the same rate — the
    hypothesis-test companion to `kaplan_meier` on the same subject
    frame (capped-week lifetimes, 90-day quiet = event). Exact integer
    O, DECIMAL-exact E/V term products with one division each,
    exactly-rounded sqrt."""
    from revtron_utils_spark.operators.survival import logrank_test

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    per = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_d"),
        F.max("o_orderdate").alias("last_d"),
    )
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    subj = (
        per.crossJoin(F.broadcast(mx))
        .join(cust, per.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.least(
                F.floor(F.datediff("last_d", "first_d") / 7), F.lit(104)
            ).cast("int").alias("dur_w"),
            (F.datediff("mx", "last_d") > 90).cast("int").alias("gone"),
        )
    )
    return logrank_test(
        subj, "dur_w", "gone", "segment", "AUTOMOBILE", "BUILDING"
    )


def _sql_logrank() -> str:
    from revtron_utils_spark.operators.survival import logrank_test_oracle_sql

    subjects = """
SELECT c.c_mktsegment AS segment,
       CAST(LEAST(FLOOR(date_diff('day', p.first_d, p.last_d) / 7), 104)
            AS INTEGER) AS dur_w,
       CAST(date_diff('day', p.last_d, m.mx) > 90 AS INTEGER) AS gone
FROM (SELECT o_custkey, MIN(o_orderdate) AS first_d,
             MAX(o_orderdate) AS last_d
      FROM orders GROUP BY o_custkey) p
CROSS JOIN (SELECT MAX(o_orderdate) AS mx FROM orders) m
JOIN customer c ON p.o_custkey = c.c_custkey
"""
    return logrank_test_oracle_sql(
        subjects, "dur_w", "gone", "segment", "'AUTOMOBILE'", "'BUILDING'"
    )


SQL_LOGRANK = _sql_logrank()


def q_fleiss_kappa(spark, sf):
    """Panel agreement (`annotation.fleiss_kappa`): chance-corrected
    multi-rater agreement over the lineitem rating panel restricted to
    4-rater items (Fleiss is defined for fixed panels; the ragged rest
    is dropped and counted) — the whole-panel companion to the pairwise
    `annotator_kappa`. One (item, label) shuffle + two scalar
    aggregates; exact integer/DECIMAL sums, pinned divisions."""
    from revtron_utils_spark.operators.annotation import fleiss_kappa

    return fleiss_kappa(_ratings(spark, sf), "item", "label", n_raters=4)


def _sql_fleiss_kappa() -> str:
    from revtron_utils_spark.operators.annotation import fleiss_kappa_oracle_sql

    return fleiss_kappa_oracle_sql(_SQL_RATINGS, "item", "label", n_raters=4)


SQL_FLEISS_KAPPA = _sql_fleiss_kappa()


def q_prop_ztest(spark, sf):
    """Conversion-rate comparison (`funnel.prop_ztest`): pooled
    two-proportion z for every order-priority pair, success = the order
    fully shipped (status F) — the categorical companion to `ab_test`'s
    Welch on revenue. One map-side-combined count pass + a pair join
    over the bounded 5-variant catalog; pinned divisions,
    exactly-rounded sqrt."""
    from revtron_utils_spark.operators.funnel import prop_ztest

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority", (F.col("o_orderstatus") == "F").cast("int").alias("ok")
    )
    return prop_ztest(orders, "o_orderpriority", "ok")


def _sql_prop_ztest() -> str:
    from revtron_utils_spark.operators.funnel import prop_ztest_oracle_sql

    trials = (
        "SELECT o_orderpriority, CAST(o_orderstatus = 'F' AS INTEGER) AS ok "
        "FROM orders"
    )
    return prop_ztest_oracle_sql(trials, "o_orderpriority", "ok")


SQL_PROP_ZTEST = _sql_prop_ztest()


def q_cramers_v(spark, sf):
    """Association effect size (`profile.cramers_v`): Cramér's V
    between order priority and order status — the [0,1] normalization
    that makes `contingency_chi2` comparable across corpus sizes;
    sqrt-only (the hellinger_drift determinism argument vs mutual
    information). One count pass + margin broadcasts + one scalar
    aggregate."""
    from revtron_utils_spark.operators.profile import cramers_v

    return cramers_v(
        _t(spark, sf, "orders"), "o_orderpriority", "o_orderstatus"
    )


def _sql_cramers_v() -> str:
    from revtron_utils_spark.operators.profile import cramers_v_oracle_sql

    return cramers_v_oracle_sql("orders", "o_orderpriority", "o_orderstatus")


SQL_CRAMERS_V = _sql_cramers_v()


def q_population_estimate(spark, sf):
    """Capture-recapture corpus sizing (`profile.chapman_estimate`):
    estimate the total unique user population from two overlapping
    behavioral samples (users who click vs users who view) — the
    mark-recapture answer to "how many uniques exist across snapshots
    given the dedup overlap". One distinct-membership aggregate, exact
    counts, DECIMAL product, ONE division."""
    from revtron_utils_spark.operators.profile import chapman_estimate

    ev = _t(spark, sf, "events")
    return chapman_estimate(ev, "user_id", "event_type", "click", "view")


def _sql_population_estimate() -> str:
    from revtron_utils_spark.operators.profile import chapman_estimate_oracle_sql

    return chapman_estimate_oracle_sql(
        "SELECT user_id, event_type FROM events",
        "user_id",
        "event_type",
        "'click'",
        "'view'",
    )


SQL_POPULATION_ESTIMATE = _sql_population_estimate()


def q_neyman_allocation(spark, sf):
    """Optimal eval-budget split (`segment.neyman_allocation`): how many
    of a 1000-unit sample to draw per order priority to minimize the
    mean-estimate variance — high-variance strata earn more slots;
    largest-remainder integerization keeps Σ = 1000 exactly. One moment
    aggregate + windows over the bounded 5-stratum frame."""
    from revtron_utils_spark.operators.segment import neyman_allocation

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return neyman_allocation(orders, "o_orderpriority", "cents", total_n=1000)


def _sql_neyman_allocation() -> str:
    from revtron_utils_spark.operators.segment import neyman_allocation_oracle_sql

    values = (
        "SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) "
        "AS cents FROM orders"
    )
    return neyman_allocation_oracle_sql(
        values, "o_orderpriority", "cents", total_n=1000
    )


SQL_NEYMAN_ALLOCATION = _sql_neyman_allocation()


def q_integrity_audit(spark, sf):
    """Star-schema join health (`quality.fk_audit`): orphan counts and
    rates for all five FK edges of the fixture schema in one bounded
    report — the referential audit run before trusting any rollup.
    Each edge is a distinct parent-key projection + anti join (no
    driver-side counts); the union frame is O(edges)."""
    from revtron_utils_spark.operators.quality import fk_audit

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    return fk_audit(
        [
            ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
            ("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
            ("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey"),
        ]
    )


def _sql_integrity_audit() -> str:
    from revtron_utils_spark.operators.quality import fk_audit_oracle_sql

    return fk_audit_oracle_sql(
        [
            ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
            ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
            ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ]
    )


SQL_INTEGRITY_AUDIT = _sql_integrity_audit()


def q_holt_forecast(spark, sf):
    """Level+trend forecast (`timeseries.holt_linear`): Holt double
    exponential smoothing of per-nation monthly revenue with the
    one-step-ahead readout — `ewma_series`'s big sibling, ONE
    struct-accumulator fold per group (O(spine), only the final state
    emitted). Identical fold in the oracle with every literal cast to
    DOUBLE."""
    from revtron_utils_spark.operators.timeseries import holt_linear

    return holt_linear(
        _nation_month_revenue(spark, sf), "month", "cents", by=["nation"]
    )


def _sql_holt_forecast() -> str:
    from revtron_utils_spark.operators.timeseries import holt_linear_oracle_sql

    return holt_linear_oracle_sql(
        _SQL_NATION_MONTH_REVENUE, "month", "cents", by=["nation"]
    )


SQL_HOLT_FORECAST = _sql_holt_forecast()


def q_ks_test(spark, sf):
    """Sup-norm drift (`profile.ks_test`): two-sample KS distance
    between the 1995 and 1999 order-value distributions on the same
    $5k buckets as `hellinger_drift` — Hellinger integrates the
    disagreement, KS locates its worst point. Exact DECIMAL CDF cross
    products, deterministic argmax, ONE division, exactly-rounded
    sqrt for the scaled statistic."""
    from revtron_utils_spark.operators.profile import ks_test

    orders = _t(spark, sf, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 500000").alias(
            "bucket"
        ),
    )
    return ks_test(orders, "bucket", "yr", 1995, 1999)


def _sql_ks_test() -> str:
    from revtron_utils_spark.operators.profile import ks_test_oracle_sql

    values = """
SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket
FROM orders
"""
    return ks_test_oracle_sql(values, "bucket", "yr", "1995", "1999")


SQL_KS_TEST = _sql_ks_test()


def q_mann_whitney(spark, sf):
    """Rank-based two-sample test (`profile.mann_whitney`): is the
    quantity distribution of returned lineitems ('R') stochastically
    larger than accepted ones ('A')? The tie-heavy integer quantity
    spine (50 distinct values) is exactly where the DOUBLED-midrank
    trick matters: 2·midrank stays an integer, the rank/tie sums stay
    DECIMAL-exact, and only the pinned z tail touches floats."""
    from revtron_utils_spark.operators.profile import mann_whitney

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
    )
    return mann_whitney(li, "qty", "l_returnflag", "A", "R")


def _sql_mann_whitney() -> str:
    from revtron_utils_spark.operators.profile import mann_whitney_oracle_sql

    values = (
        "SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag FROM lineitem"
    )
    return mann_whitney_oracle_sql(values, "qty", "l_returnflag", "'A'", "'R'")


SQL_MANN_WHITNEY = _sql_mann_whitney()


def q_did_estimate(spark, sf):
    """Difference-in-differences (`profile.did_estimate`): 1995→1996
    order-value change for BUILDING-segment customers net of the same
    change for MACHINERY customers — the quasi-experimental before/
    after readout when cohorts weren't randomized. Exact four-cell
    integer cents sums; pinned divisions/subtractions."""
    from revtron_utils_spark.operators.profile import did_estimate

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select("c_mktsegment", "yr", "cents")
    return did_estimate(
        j, "c_mktsegment", "yr", "cents", "BUILDING", "MACHINERY", 1996, 1995
    )


def _sql_did_estimate() -> str:
    from revtron_utils_spark.operators.profile import did_estimate_oracle_sql

    units = """
SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return did_estimate_oracle_sql(
        units, "c_mktsegment", "yr", "cents",
        "'BUILDING'", "'MACHINERY'", "1996", "1995",
    )


SQL_DID_ESTIMATE = _sql_did_estimate()


def q_bh_fdr(spark, sf):
    """Benjamini-Hochberg step-up (`profile.bh_fdr`) over a per-nation
    family of deterministic p-values (the order-key checksum mod a
    prime, scaled to [0,1] — a fixture that exercises the rank /
    step-up / tie machinery end-to-end; real callers feed
    `permutation_test` or `prop_ztest`-derived p-values). The step-up
    is pure rank arithmetic — the float comparison ``p·m ≤ k·α`` is
    pinned identically on both engines."""
    from revtron_utils_spark.operators.profile import bh_fdr

    o = _t(spark, sf, "orders").select("o_custkey", "o_orderkey")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    fam = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            (
                (F.sum("o_orderkey") % F.lit(9973)).cast("double")
                / F.lit(9973.0)
            ).alias("p")
        )
    )
    return bh_fdr(fam, "nation", "p", alpha=0.25)


def _sql_bh_fdr() -> str:
    from revtron_utils_spark.operators.profile import bh_fdr_oracle_sql

    fam = """
SELECT c_nationkey AS nation,
       CAST(SUM(o_orderkey) % 9973 AS DOUBLE) / 9973.0 AS p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""
    return bh_fdr_oracle_sql(fam, "nation", "p", alpha=0.25)


SQL_BH_FDR = _sql_bh_fdr()


def q_harmonic_centrality(spark, sf):
    """Sampled harmonic centrality (`graph.harmonic_centrality_sampled`)
    over the customer↔supplier trade graph: truncated multi-source BFS
    from 16 poly-hash-picked pivots, radius 3 — closeness-style
    "how near is this node to everywhere" with INTEGER 12/d harmonic
    sums (lcm(1..4) fixed point), so even the iterative BFS gate is
    hash-exact against the unrolled-CTE oracle."""
    from revtron_utils_spark.operators.graph import harmonic_centrality_sampled

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return harmonic_centrality_sampled(pair, n_sources=16, radius=3)


def _sql_harmonic_centrality() -> str:
    from revtron_utils_spark.operators.graph import (
        harmonic_centrality_sampled_oracle_sql,
    )

    edges = (
        "SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return harmonic_centrality_sampled_oracle_sql(
        edges, n_sources=16, radius=3
    )


SQL_HARMONIC_CENTRALITY = _sql_harmonic_centrality()


def q_loo_influence(spark, sf):
    """Leave-one-group-out data valuation (`profile.loo_group_influence`):
    which nation's orders pull the global mean order value up or down —
    the per-source influence readout a composition pipeline consults
    before re-weighting. ONE corpus scan for all G leave-outs (exact
    algebra, not G re-scans)."""
    from revtron_utils_spark.operators.profile import loo_group_influence

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"), "cents"
    )
    return loo_group_influence(j, "nation", "cents")


def _sql_loo_influence() -> str:
    from revtron_utils_spark.operators.profile import (
        loo_group_influence_oracle_sql,
    )

    units = """
SELECT c_nationkey AS nation, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return loo_group_influence_oracle_sql(units, "nation", "cents")


SQL_LOO_INFLUENCE = _sql_loo_influence()


def q_clustering_coefficient(spark, sf):
    """Local clustering coefficient (`graph.clustering_coefficient`)
    over the same top-10-sparsified part co-purchase graph as
    `triangle_counts`: community cores (neighbors buy together) vs
    bridge parts. Triangles via the degree-oriented wedge join;
    cc = 2t/(d(d−1)) is the one pinned float op."""
    from revtron_utils_spark.operators.graph import clustering_coefficient

    sparse = _copurchase_sparse(spark, sf)
    return clustering_coefficient(sparse, src="id_a", dst="id_b")


def _sql_clustering_coefficient() -> str:
    from revtron_utils_spark.operators.graph import (
        clustering_coefficient_oracle_sql,
    )

    edges = """
SELECT id_a AS src, id_b AS dst FROM (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, COUNT(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
) QUALIFY row_number() OVER (
    PARTITION BY id_a
    ORDER BY w DESC, (id_a * 2654435761 + id_b * 40503) % 999999937, id_b
  ) <= 10
"""
    return clustering_coefficient_oracle_sql(edges)


SQL_CLUSTERING_COEFFICIENT = _sql_clustering_coefficient()


def q_propensity_effect(spark, sf):
    """Propensity-score subclassification (`profile.
    propensity_strata_effect`): the urgent-order 'treatment' effect on
    order value, stratified by customer account-balance bands (the
    confounder proxy) — Σ (n_q/N)·(ȳ₁q − ȳ₀q) over strata with both
    arms, plus the coverage share the two-armed strata actually
    represent. The causal sibling of `did_estimate` and `cuped`."""
    from revtron_utils_spark.operators.profile import propensity_strata_effect

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("treat"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000").alias(
            "stratum"
        ),
    )
    j = o.join(c, o.o_custkey == c.c_custkey).select("stratum", "treat", "cents")
    return propensity_strata_effect(j, "stratum", "treat", "cents")


def _sql_propensity_effect() -> str:
    from revtron_utils_spark.operators.profile import (
        propensity_strata_effect_oracle_sql,
    )

    units = """
SELECT CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS stratum,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS treat,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return propensity_strata_effect_oracle_sql(units, "stratum", "treat", "cents")


SQL_PROPENSITY_EFFECT = _sql_propensity_effect()


def q_ece(spark, sf):
    """Expected Calibration Error (`evaluation.
    expected_calibration_error`) of the hashed-linear quality score
    against the Gopher pass label — the single-number summary of the
    `calibration` reliability curve, in the midpoint convention (the
    per-bin confidence is the bin midpoint, a constant — which is
    exactly what keeps the readout engine-exact; mean-confidence would
    be an order-dependent float sum)."""
    from revtron_utils_spark.functions import classifier as CL
    from revtron_utils_spark.operators.evaluation import (
        expected_calibration_error,
    )

    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    scored = docs.select(
        CL.hashed_linear_score_num("text", dim=4096, seed=0).alias("num"),
        TX.token_count("text").cast("long").alias("den"),
        CL.gopher_quality_flags("text").getField("pass_all").alias("y"),
    )
    return expected_calibration_error(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


def _sql_ece() -> str:
    from revtron_utils_spark.operators.evaluation import (
        expected_calibration_error_oracle_sql,
    )

    scored = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS den,
         COALESCE(list_sum(list_transform(toks, tk ->
           (({_TOKHASH_SQL} % 4096 + 1) * 2654435761) % 2000001 - 1000000
         )), 0) AS num,
         COALESCE(list_sum(list_transform(toks, tk -> CAST(length(tk) AS BIGINT))), 0) AS sum_len,
         len(list_filter(toks, tk -> regexp_matches(tk, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(toks, tk -> starts_with(tk, '#') OR contains(tk, '...'))) AS n_sym,
         len(list_filter(toks, tk -> lower(tk) IN ('the','be','to','of','and','that','have','with'))) AS n_stop
  FROM t
)
SELECT num, den,
       ((den >= 20 AND den <= 100000) AND (sum_len >= 3 * den AND sum_len <= 10 * den)
        AND (n_alpha * 5 >= den * 4) AND (n_sym * 10 <= den) AND (n_stop >= 2)) AS y
FROM s
"""
    return expected_calibration_error_oracle_sql(
        scored, "num", "den", "y", score_min=-1_000_000, score_max=1_000_000
    )


SQL_ECE = _sql_ece()


def q_trend_test(spark, sf):
    """Cochran-Armitage trend (`profile.cochran_armitage`): does the
    return rate drift monotonically across quantity buckets? Five
    exact integer moments from ONE aggregation (the ordered-dose
    sibling of `prop_ztest`), pinned float z tail."""
    from revtron_utils_spark.operators.profile import cochran_armitage

    li = _t(spark, sf, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT) div 10").alias("dose"),
        (F.col("l_returnflag") == "R").alias("ret"),
    )
    return cochran_armitage(li, "dose", "ret")


def _sql_trend_test() -> str:
    from revtron_utils_spark.operators.profile import cochran_armitage_oracle_sql

    units = (
        "SELECT CAST(l_quantity AS BIGINT) // 10 AS dose,"
        " l_returnflag = 'R' AS ret FROM lineitem"
    )
    return cochran_armitage_oracle_sql(units, "dose", "ret")


SQL_TREND_TEST = _sql_trend_test()


def q_dedup_canonical(spark, sf):
    """Quality-aware near-dup collapse (`curation.
    keep_cluster_canonical`): the step after `dedup_clusters` — keep
    the LONGEST member of every near-dup cluster (token count as the
    quality score; ties → smallest doc_id) instead of an arbitrary
    min-id survivor. The canonical "dedup without throwing away your
    best copy" pipeline stage, end-to-end: Jaccard pairs → connected
    components → per-cluster argmax.

    Scale note: the raw `ngram_jaccard_pairs` at threshold 0.2 over
    coarse (lang, source) blocks is gate-fixture-sized ONLY — at
    corpus scale use `minhash_pairs_capped` as the pair source (as
    `corpus_pipeline` does); see `keep_cluster_canonical`'s docstring."""
    from revtron_utils_spark.operators.curation import keep_cluster_canonical
    from revtron_utils_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        block_cols=("lang", "source"),
        shingle_n=3,
        threshold=0.2,
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b", nodes=docs, node_col="doc_id"
    )
    labeled = comp.select(F.col("node").alias("doc_id"), "component").join(
        docs.select("doc_id", TX.token_count("text").cast("long").alias("quality")),
        "doc_id",
    )
    return keep_cluster_canonical(labeled, "component", "quality", "doc_id")


SQL_DEDUP_CANONICAL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, source,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), f AS (SELECT * FROM t WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM f a JOIN f b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
), comp AS (
  SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
), q AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(COALESCE(text, '')), '\s+'),
                              tk -> tk != '')) AS BIGINT) AS quality
  FROM documents
), labeled AS (
  SELECT c.doc_id, c.component, q.quality,
         CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.doc_id ASC) AS _rn
  FROM comp c JOIN q USING (doc_id)
)
SELECT doc_id, component, quality, n_members FROM labeled WHERE _rn = 1
"""


def q_gini_split(spark, sf):
    """Feature usefulness (`evaluation.gini_split_gain`): the best
    decision-stump threshold of the order-value histogram against the
    fully-shipped label, per order priority — the log-free information
    readout (Gini gain is rational in exact counts where info-gain's
    logs are not engine-deterministic). One (group, bucket) shuffle +
    cumsum windows over the bounded histogram, single-division
    common-denominator impurities."""
    from revtron_utils_spark.operators.evaluation import gini_split_gain

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 500000").alias(
            "bucket"
        ),
        (F.col("o_orderstatus") == "F").cast("int").alias("shipped"),
    )
    return gini_split_gain(
        orders, "bucket", "shipped", by=["o_orderpriority"]
    )


def _sql_gini_split() -> str:
    from revtron_utils_spark.operators.evaluation import (
        gini_split_gain_oracle_sql,
    )

    values = """
SELECT o_orderpriority,
       CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket,
       CAST(o_orderstatus = 'F' AS INTEGER) AS shipped
FROM orders
"""
    return gini_split_gain_oracle_sql(
        values, "bucket", "shipped", by=["o_orderpriority"]
    )


SQL_GINI_SPLIT = _sql_gini_split()


_DIST_MATCH_WEIGHTS = {"en": 2, "de": 1, "fr": 1, "es": 1, "zh": 1}


def q_distribution_match(spark, sf):
    """Target-mix resampling (`curation.distribution_match`): rebalance
    the documents corpus to an explicit 2:1:1:1:1 language mix with a
    300-doc budget — largest-remainder quotas + the deterministic
    hash-threshold draw (id_hash·c_b < k_b·MOD, exact DECIMAL cross
    multiply). NO per-bucket sort: quotas and in-plan bucket counts
    broadcast onto one filtered scan — the plan that survives a hot
    bucket at 100 TB."""
    from revtron_utils_spark.operators.curation import distribution_match

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return distribution_match(
        docs, "doc_id", "lang", _DIST_MATCH_WEIGHTS, total_keep=300
    )


def _sql_distribution_match() -> str:
    from revtron_utils_spark.operators.curation import (
        distribution_match_oracle_sql,
    )

    return distribution_match_oracle_sql(
        "SELECT doc_id, lang, source FROM documents",
        "doc_id",
        "lang",
        _DIST_MATCH_WEIGHTS,
        total_keep=300,
    )


SQL_DISTRIBUTION_MATCH = _sql_distribution_match()


def q_slice_overlap(spark, sf):
    """Cross-slice audience overlap (`profile.slice_overlap`): the
    exact pairwise Jaccard/containment matrix of user sets across all
    five event types — the exact small-catalog twin of `kmv_intersect`
    and the all-pairs generalization of `population_estimate`'s input.
    One distinct (id, slice) shuffle + an id-keyed pair join bounded by
    the slice catalog; exact counts, one division per metric."""
    from revtron_utils_spark.operators.profile import slice_overlap

    ev = _t(spark, sf, "events")
    return slice_overlap(ev, "user_id", "event_type")


def _sql_slice_overlap() -> str:
    from revtron_utils_spark.operators.profile import slice_overlap_oracle_sql

    return slice_overlap_oracle_sql(
        "SELECT user_id, event_type FROM events", "user_id", "event_type"
    )


SQL_SLICE_OVERLAP = _sql_slice_overlap()


def q_mcnemar(spark, sf):
    """Paired labeler comparison (`evaluation.mcnemar_test`): does the
    full lang_id model beat the bare en-marker heuristic at detecting
    English, judged on the SAME documents — only the discordant pairs
    count ((b−c)²/(b+c), exact integers, one division). The paired
    test `prop_ztest` cannot do (unpaired variance overstates). One
    map-side-combined count pass."""
    from revtron_utils_spark.operators.evaluation import mcnemar_test

    from revtron_utils_spark.functions.text import LANG_MARKERS

    en = [F.lit(m) for m in LANG_MARKERS["en"]]
    docs = _t(spark, sf, "documents")
    marker_hits = F.size(
        F.filter(
            TX.tokens("text"),
            lambda t: F.array_contains(F.array(*en), F.lower(t)),
        )
    )
    pairs = docs.select(
        ((TX.lang_id("text") == "en") == (F.col("lang") == "en")).alias(
            "correct_a"
        ),
        ((marker_hits >= 1) == (F.col("lang") == "en")).alias("correct_b"),
    )
    return mcnemar_test(pairs, "correct_a", "correct_b")


def _sql_mcnemar() -> str:
    from revtron_utils_spark.operators.evaluation import mcnemar_test_oracle_sql

    pairs = rf"""
SELECT ((lp.lang_pred = 'en') = (d.lang = 'en')) AS correct_a,
       ((len(list_filter(string_split_regex(trim(d.text), '\s+'),
             x -> lower(x) IN {_MARKER_SQL['en']})) >= 1) = (d.lang = 'en'))
         AS correct_b
FROM ({SQL_LANG_ID}) lp JOIN documents d USING (doc_id)
"""
    return mcnemar_test_oracle_sql(pairs, "correct_a", "correct_b")


SQL_MCNEMAR = _sql_mcnemar()


def q_gain_curve(spark, sf):
    """Targeting readout (`evaluation.gain_curve`): cumulative-gains
    curve of the en-marker-count score against the stored lang='en'
    label per source — WHERE to cut, beside `score_auc`'s single
    separability number. Descending-score cumsums over the bounded
    integer-score histogram; exact counts, one division per share."""
    from revtron_utils_spark.operators.evaluation import gain_curve

    from revtron_utils_spark.functions.text import LANG_MARKERS

    en = [F.lit(m) for m in LANG_MARKERS["en"]]
    docs = _t(spark, sf, "documents").select(
        "source",
        F.size(
            F.filter(
                TX.tokens("text"),
                lambda t: F.array_contains(F.array(*en), F.lower(t)),
            )
        ).cast("long").alias("score"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return gain_curve(docs, "score", "is_en", by=["source"])


def _sql_gain_curve() -> str:
    from revtron_utils_spark.operators.evaluation import gain_curve_oracle_sql

    scored = rf"""
SELECT source,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                x -> lower(x) IN {_MARKER_SQL['en']})) AS BIGINT) AS score,
       CAST(lang = 'en' AS INTEGER) AS is_en
FROM documents
"""
    return gain_curve_oracle_sql(scored, "score", "is_en", by=["source"])


SQL_GAIN_CURVE = _sql_gain_curve()


def q_cohort_ltv(spark, sf):
    """Cohort value curves (`funnel.cohort_ltv`): cumulative revenue
    per customer by monthly cohort age over orders — the money side of
    `cohort_retention`. Integer (y·12+m) month arithmetic, exact cents
    and member counts, one cumulative window over the bounded
    cohort×age grid, ONE division per cell."""
    from revtron_utils_spark.operators.funnel import cohort_ltv

    orders = _t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return cohort_ltv(orders, "o_custkey", "o_orderdate", "cents")


def _sql_cohort_ltv() -> str:
    from revtron_utils_spark.operators.funnel import cohort_ltv_oracle_sql

    events = (
        "SELECT o_custkey, o_orderdate, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    return cohort_ltv_oracle_sql(events, "o_custkey", "o_orderdate", "cents")


SQL_COHORT_LTV = _sql_cohort_ltv()


# --------------------------------------------------------------------------
# round 8: HITS, randomization test, text statistics, sparse lexical
# similarity, histogram outliers
# --------------------------------------------------------------------------


def q_contrastive_pairs(spark, sf):
    """Contrastive training pairs over the language-clustered corpus:
    cluster-chain positives (k−1 pairs per cluster, no k² blow-up) +
    hash-ring derangement negatives (one rank equi-join, no random
    sampling) — the embedding-training data generator downstream of the
    dedup clustering family."""
    from revtron_utils_spark.operators.curation import contrastive_pairs

    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return contrastive_pairs(docs, "doc_id", "lang")


def _sql_contrastive_pairs() -> str:
    from revtron_utils_spark.operators.curation import (
        contrastive_pairs_oracle_sql,
    )

    return contrastive_pairs_oracle_sql(
        "SELECT doc_id, lang FROM documents", "doc_id", "lang"
    )


SQL_CONTRASTIVE_PAIRS = _sql_contrastive_pairs()


def q_percentile_normalize(spark, sf):
    """Per-document within-source percentile of document length —
    quantile normalization without a per-group sort: global rank via
    the two-pass distributed_rank (range repartition + offsets), local
    rank recovered by subtracting each group's broadcast min rank."""
    from revtron_utils_spark.operators.curation import percentile_normalize

    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return percentile_normalize(docs, "n_chars", "doc_id", by=["source"])


def _sql_percentile_normalize() -> str:
    from revtron_utils_spark.operators.curation import (
        percentile_normalize_oracle_sql,
    )

    return percentile_normalize_oracle_sql(
        "SELECT doc_id, source, n_chars FROM documents",
        "n_chars",
        "doc_id",
        by=["source"],
    )


SQL_PERCENTILE_NORMALIZE = _sql_percentile_normalize()


def q_markov_attribution(spark, sf):
    """Markov removal-effect attribution over user event journeys
    (truncated at first purchase): integer-quantized transition matrix,
    8 absorbing-propagation steps on a single-row O(channels²) state,
    every cross-state sum an index-ordered fold mirrored by the
    oracle's list_reduce — bit-exact shares."""
    from revtron_utils_spark.operators.funnel import markov_attribution

    ev = _t(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    return markov_attribution(
        ev, "user_id", "ts", "event_type", conversion="purchase", k_steps=8
    )


def _sql_markov_attribution() -> str:
    from revtron_utils_spark.operators.funnel import (
        markov_attribution_oracle_sql,
    )

    return markov_attribution_oracle_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        "user_id",
        "ts",
        "event_type",
        conversion="purchase",
        k_steps=8,
    )


SQL_MARKOV_ATTRIBUTION = _sql_markov_attribution()


def q_conformal_bounds(spark, sf):
    """Split-conformal prediction bounds per return flag: deterministic
    hash split → integer-floored train-mean predictor → (1−α)
    interpolated quantile of calibration residuals via the
    combinable-histogram exact-quantile path."""
    from revtron_utils_spark.operators.quantiles import conformal_bounds

    li = _t(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_returnflag",
    )
    return conformal_bounds(li, "uid", "cents", ["l_returnflag"])


def _sql_conformal_bounds() -> str:
    from revtron_utils_spark.operators.quantiles import (
        conformal_bounds_oracle_sql,
    )

    units = (
        "SELECT l_orderkey * 8 + l_linenumber AS uid, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, "
        "l_returnflag FROM lineitem"
    )
    return conformal_bounds_oracle_sql(units, "uid", "cents", ["l_returnflag"])


SQL_CONFORMAL_BOUNDS = _sql_conformal_bounds()


def q_seasonal_outliers(spark, sf):
    """Month-over-years anomaly flags: each (status, year, month)
    revenue bucket vs the month-of-year average across years — integer
    cross-multiplied flags (no division in the decision), seasonal
    structure cancels by construction."""
    from revtron_utils_spark.operators.timeseries import seasonal_outliers

    orders = _t(spark, sf, "orders").select(
        "o_orderstatus",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return seasonal_outliers(
        orders, "o_orderdate", "cents", ["o_orderstatus"]
    )


def _sql_seasonal_outliers() -> str:
    from revtron_utils_spark.operators.timeseries import (
        seasonal_outliers_oracle_sql,
    )

    series = (
        "SELECT o_orderstatus, o_orderdate, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    return seasonal_outliers_oracle_sql(
        series, "o_orderdate", "cents", ["o_orderstatus"]
    )


SQL_SEASONAL_OUTLIERS = _sql_seasonal_outliers()


def q_cuped(spark, sf):
    """CUPED variance-reduced group means: per-returnflag mean quantity
    adjusted by the pooled price covariate — exact DECIMAL moment sums,
    one θ division, fixed-order adjustment expression."""
    from revtron_utils_spark.operators.profile import cuped_adjustment

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return cuped_adjustment(li, "cents", "qty", "l_returnflag")


def _sql_cuped() -> str:
    from revtron_utils_spark.operators.profile import (
        cuped_adjustment_oracle_sql,
    )

    units = (
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem"
    )
    return cuped_adjustment_oracle_sql(units, "cents", "qty", "l_returnflag")


SQL_CUPED = _sql_cuped()


def q_entity_resolution(spark, sf):
    """End-to-end entity resolution over part names — the composition
    gate for the record-linkage pipeline: (1) blocked fuzzy self-join
    (noun block, levenshtein ≤ 2), (2) distributed connected
    components over the match graph (large-star/small-star), (3)
    golden record per entity: member count + canonical name (modal,
    ties → lexicographically smallest). Every stage is an existing
    scale path; the oracle replays the same edges through a
    recursive-CTE reachability closure (the `dedup_clusters`
    precedent)."""
    from pyspark.sql import Window

    from revtron_utils_spark.operators.fuzzy import fuzzy_self_pairs
    from revtron_utils_spark.operators.graph import connected_components

    pt = _t(spark, sf, "part").select("p_partkey", "p_name")
    # VALUE-SPACE resolution (the 100-TB shape): real catalogs repeat
    # names thousands of times, so an id-space match graph is dense
    # cliques — one duplicated name with k rows contributes k² edges
    # and connected components pays for all of them (measured: 64M
    # edges / 127 s at the 50k fixture). Instead: collapse to one
    # representative id per DISTINCT name, pair and cluster the
    # representatives (the graph is value-sized), then attach the full
    # row set back by value. Output is identical — the cluster min over
    # representatives IS the min over all member ids.
    # Blocking: noun + the adjective's 2-char prefix (an edit in the
    # first two chars escapes the block — standard blocking recall
    # tradeoff).
    reps = pt.groupBy("p_name").agg(F.min("p_partkey").alias("_rep"))
    rdf = reps.select(F.col("_rep").alias("p_partkey"), "p_name")
    noun = F.element_at(F.split(F.col("p_name"), " "), 2)
    prefix = F.substring(F.col("p_name"), 1, 2)
    pairs = fuzzy_self_pairs(
        rdf, "p_name", "p_partkey", [noun, prefix], max_dist=2
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b", nodes=rdf, node_col="p_partkey"
    )
    members = (
        pt.join(reps, "p_name")
        .join(
            comp.select(F.col("node").alias("_rep"), "component"), "_rep"
        )
        .select("component", "p_name")
    )
    nc = members.groupBy("component", "p_name").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_c").desc(), F.col("p_name").asc()
    )
    canon = (
        nc.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component", F.col("p_name").alias("canonical_name"))
    )
    sizes = members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return sizes.join(canon, "component").select(
        F.col("component").alias("entity_id"), "n_members", "canonical_name"
    )


SQL_ENTITY_RESOLUTION = """
WITH RECURSIVE reps AS (
  SELECT p_name, MIN(p_partkey) AS rep FROM part GROUP BY p_name
),
b AS (
  SELECT rep AS id, p_name AS t, string_split(p_name, ' ')[2] AS blk,
         substr(p_name, 1, 2) AS pfx
  FROM reps
),
pairs AS (
  SELECT l.id AS u, r.id AS v
  FROM b l JOIN b r ON l.blk = r.blk AND l.pfx = r.pfx AND l.id < r.id
  WHERE levenshtein(l.t, r.t) <= 2
),
sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(u, v) AS (
  SELECT rep, rep FROM reps
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
members AS (
  SELECT c.component, p.p_name
  FROM part p JOIN reps ON p.p_name = reps.p_name
  JOIN comp c ON reps.rep = c.id
),
nc AS (SELECT component, p_name, COUNT(*) AS c FROM members GROUP BY 1, 2),
canon AS (
  SELECT component, p_name AS canonical_name FROM (
    SELECT component, p_name,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY c DESC, p_name ASC) AS rn
    FROM nc
  ) WHERE rn = 1
),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM members GROUP BY component
)
SELECT s.component AS entity_id, s.n_members, c.canonical_name
FROM sizes s JOIN canon c USING (component)
"""


def q_dawid_skene(spark, sf):
    """All-integer Dawid-Skene EM (3 fixed rounds) over the lineitem
    rater panel: confusion-aware crowd-label aggregation — posteriors,
    confusion rows, and priors are fixed-point integers; per-item
    likelihoods are exact DECIMAL products, so the MAP labels and
    posteriors hash-match the oracle's unrolled MATERIALIZED CTE
    rounds bit-exactly."""
    from revtron_utils_spark.operators.annotation import dawid_skene

    # one vote per (item, rater): the fixture repeats line numbers
    # within an order, so dedup to the deterministic MIN label —
    # panels are then <= 7 raters, inside the default scale=10^4
    # exact product width (both engines dedup identically)
    r = (
        _ratings(spark, sf)
        .where(F.col("rater") <= 7)
        .groupBy("item", "rater")
        .agg(F.min("label").alias("label"))
    )
    return dawid_skene(r, "item", "rater", "label")


def _sql_dawid_skene() -> str:
    from revtron_utils_spark.operators.annotation import (
        dawid_skene_oracle_sql,
    )

    capped = (
        f"SELECT item, rater, MIN(label) AS label FROM ({_SQL_RATINGS}) "
        "WHERE rater <= 7 GROUP BY item, rater"
    )
    return dawid_skene_oracle_sql(capped, "item", "rater", "label")


SQL_DAWID_SKENE = _sql_dawid_skene()


def q_hits(spark, sf):
    """Integer-arithmetic HITS over the DIRECTED customer→supplier
    trade graph (hubs = heavy buyers, authorities = popular
    suppliers) — 4 mutual-reinforcement rounds with int64 L1
    fixed-point renormalization; the oracle unrolls the identical
    rounds as chained CTEs, so the gate is hash-exact."""
    from revtron_utils_spark.operators.graph import hits

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return hits(edges, iterations=4)


def _sql_hits() -> str:
    from revtron_utils_spark.operators.graph import hits_oracle_sql

    edges = (
        "SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    return hits_oracle_sql(edges, iterations=4)


SQL_HITS = _sql_hits()


def q_permutation_test(spark, sf):
    """Deterministic randomization test: is the mean quantity of
    returned lineitems ('R') different from accepted ones ('A')? 100
    hash-reassigned replicates, integer sums, add-one-smoothed
    two-sided p — the non-parametric companion to ab_test."""
    from revtron_utils_spark.operators.bootstrap import permutation_test

    li = _t(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_returnflag",
    )
    return permutation_test(
        li, "uid", "qty", "l_returnflag", "A", "R", n_perm=100
    )


def _sql_permutation_test() -> str:
    from revtron_utils_spark.operators.bootstrap import (
        permutation_test_oracle_sql,
    )

    units = (
        "SELECT l_orderkey * 8 + l_linenumber AS uid, "
        "CAST(l_quantity AS BIGINT) AS qty, l_returnflag FROM lineitem"
    )
    return permutation_test_oracle_sql(
        units, "uid", "qty", "l_returnflag", "A", "R", n_perm=100
    )


SQL_PERMUTATION_TEST = _sql_permutation_test()


def q_readability(spark, sf):
    """Flesch Reading Ease per document with the deterministic
    vowel-group syllable heuristic — exact integer counts, one
    fixed-order double expression, pure projection."""
    from revtron_utils_spark.operators.textstats import readability

    return readability(_t(spark, sf, "documents"))


def _sql_readability() -> str:
    from revtron_utils_spark.operators.textstats import readability_oracle_sql

    return readability_oracle_sql()


SQL_READABILITY = _sql_readability()


def q_rake_keywords(spark, sf):
    """Corpus-level RAKE keyword extraction: stopword-delimited
    candidate phrases scored by integer fixed-point degree/frequency
    word scores — top 25 phrases, bit-exact (no doubles anywhere)."""
    from revtron_utils_spark.operators.textstats import rake_keywords

    return rake_keywords(_t(spark, sf, "documents"), top_k=25)


def _sql_rake_keywords() -> str:
    from revtron_utils_spark.operators.textstats import (
        rake_keywords_oracle_sql,
    )

    return rake_keywords_oracle_sql(top_k=25)


SQL_RAKE_KEYWORDS = _sql_rake_keywords()


def q_tfidf_cosine(spark, sf):
    """Sparse lexical near-duplicate pairs: rational-idf tf-idf cosine
    via a df-capped inverted-index self-join — DECIMAL-exact weights,
    norms, and dots; the lexical complement of the dense embedding
    near-dup miners."""
    from revtron_utils_spark.operators.retrieval import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf, "documents"), threshold=0.9, df_cap=400
    )


def _sql_tfidf_cosine() -> str:
    from revtron_utils_spark.operators.retrieval import (
        tfidf_cosine_pairs_oracle_sql,
    )

    return tfidf_cosine_pairs_oracle_sql(threshold=0.9, df_cap=400)


SQL_TFIDF_COSINE = _sql_tfidf_cosine()


def q_hbos_outliers(spark, sf):
    """Histogram-Based Outlier Scores over (quantity, price-in-cents)
    lineitems: integer inverse-bin-density factors multiplied in exact
    DECIMAL — the top-50 most anomalous rows, log-free HBOS."""
    from revtron_utils_spark.operators.profile import hbos_scores

    li = _t(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return hbos_scores(
        li, "uid", {"qty": 5, "cents": 500_000}, top_k=50
    )


def _sql_hbos_outliers() -> str:
    from revtron_utils_spark.operators.profile import hbos_scores_oracle_sql

    base = (
        "SELECT l_orderkey * 8 + l_linenumber AS uid, "
        "CAST(l_quantity AS BIGINT) AS qty, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem"
    )
    return hbos_scores_oracle_sql(
        base, "uid", {"qty": 5, "cents": 500_000}, top_k=50
    )


SQL_HBOS_OUTLIERS = _sql_hbos_outliers()




def q_kruskal_wallis(spark, sf):
    """K-sample rank test (`profile.kruskal_wallis`): do the three
    l_returnflag populations ('A'/'N'/'R') draw their quantities from
    the same distribution? The k-group extension of `mann_whitney` on
    the same tie-heavy 50-value integer spine — doubled midranks keep
    every rank integral, the per-group R_g²/n_g sum runs as a
    group-ordered float fold, and only the pinned H tail is float."""
    from revtron_utils_spark.operators.profile import kruskal_wallis

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
    )
    return kruskal_wallis(li, "qty", "l_returnflag")


def _sql_kruskal_wallis() -> str:
    from revtron_utils_spark.operators.profile import kruskal_wallis_oracle_sql

    values = (
        "SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag FROM lineitem"
    )
    return kruskal_wallis_oracle_sql(values, "qty", "l_returnflag")


SQL_KRUSKAL_WALLIS = _sql_kruskal_wallis()


def q_anova_f(spark, sf):
    """One-way ANOVA (`profile.anova_oneway`): do mean order values
    differ across the five o_orderpriority classes, and how much
    variance does priority explain (η²)? Exact DECIMAL cents sums per
    group (width MEASURED fail-fast), one ordered Σ S_g²/n_g fold,
    pinned F/η² tail."""
    from revtron_utils_spark.operators.profile import anova_oneway

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return anova_oneway(o, "cents", "o_orderpriority")


def _sql_anova_f() -> str:
    from revtron_utils_spark.operators.profile import anova_oneway_oracle_sql

    values = (
        "SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)"
        " AS cents FROM orders"
    )
    return anova_oneway_oracle_sql(values, "cents", "o_orderpriority")


SQL_ANOVA_F = _sql_anova_f()


def q_brown_forsythe(spark, sf):
    """Equal-variance test (`profile.brown_forsythe`): is quantity
    dispersion homogeneous across the returnflag×linestatus states —
    the robust-Levene guard a pipeline runs before trusting `anova_f`
    or `ab_test` pooled variances. Doubled group medians from the
    per-group cumulative histogram keep the |x − med| deviations
    integer-exact end-to-end."""
    from revtron_utils_spark.operators.profile import brown_forsythe

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.concat("l_returnflag", "l_linestatus").alias("state"),
    )
    return brown_forsythe(li, "qty", "state")


def _sql_brown_forsythe() -> str:
    from revtron_utils_spark.operators.profile import brown_forsythe_oracle_sql

    values = (
        "SELECT CAST(l_quantity AS BIGINT) AS qty,"
        " l_returnflag || l_linestatus AS state FROM lineitem"
    )
    return brown_forsythe_oracle_sql(values, "qty", "state")


SQL_BROWN_FORSYTHE = _sql_brown_forsythe()


def q_kendall_tau(spark, sf):
    """Kendall τ-b concordance (`profile.kendall_tau`) between lineitem
    quantity and discount percent — are bigger orders discounted more?
    The O(n²)-pairs statistic collapsed to the 50×11-cell joint
    histogram: every concordant/discordant count an exact DECIMAL
    cell-pair product, ties handled by the τ-b margins, one pinned
    sqrt tail."""
    from revtron_utils_spark.operators.profile import kendall_tau

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("disc_pct"),
    )
    return kendall_tau(li, "qty", "disc_pct")


def _sql_kendall_tau() -> str:
    from revtron_utils_spark.operators.profile import kendall_tau_oracle_sql

    values = (
        "SELECT CAST(l_quantity AS BIGINT) AS qty,"
        " CAST(round(l_discount * 100) AS BIGINT) AS disc_pct FROM lineitem"
    )
    return kendall_tau_oracle_sql(values, "qty", "disc_pct")


SQL_KENDALL_TAU = _sql_kendall_tau()




def q_ndcg_at_k(spark, sf):
    """Ranking quality (`evaluation.ndcg_at_k`): per-customer NDCG@10
    of the value-ranked order list against graded urgency relevance
    (1-URGENT=2, 2-HIGH=1, else 0) — "does sorting by money surface
    the urgent work". The retrieval-eval readout for the bm25/hybrid
    family: deterministic row_number ranks, shared Python float DCG
    weights (neither engine calls log2), position-ordered folds."""
    from revtron_utils_spark.operators.evaluation import ndcg_at_k

    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("order_id"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 2)
        .when(F.col("o_orderpriority") == "2-HIGH", 1)
        .otherwise(0)
        .alias("rel"),
    )
    return ndcg_at_k(o, "cust", "order_id", "cents", "rel", k=10)


def _sql_ndcg_at_k() -> str:
    from revtron_utils_spark.operators.evaluation import ndcg_at_k_oracle_sql

    cands = """
SELECT o_custkey AS cust, o_orderkey AS order_id,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 2
            WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS rel
FROM orders
"""
    return ndcg_at_k_oracle_sql(cands, "cust", "order_id", "cents", "rel", k=10)


SQL_NDCG_AT_K = _sql_ndcg_at_k()


def q_mean_avg_precision(spark, sf):
    """Order-sensitive retrieval eval (`evaluation.mean_avg_precision`):
    per-customer Average Precision of the value-ranked order list with
    binary URGENT relevance — AUC's front-loaded sibling (a hit at
    rank 1 outweighs one at rank 50). Integer hits@p cumsum over the
    deterministic ranking, position-ordered precision fold, one final
    division per query."""
    from revtron_utils_spark.operators.evaluation import mean_avg_precision

    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("order_id"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("rel"),
    )
    return mean_avg_precision(o, "cust", "order_id", "cents", "rel")


def _sql_mean_avg_precision() -> str:
    from revtron_utils_spark.operators.evaluation import (
        mean_avg_precision_oracle_sql,
    )

    cands = """
SELECT o_custkey AS cust, o_orderkey AS order_id,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel
FROM orders
"""
    return mean_avg_precision_oracle_sql(
        cands, "cust", "order_id", "cents", "rel"
    )


SQL_MEAN_AVG_PRECISION = _sql_mean_avg_precision()


def q_matthews_corr(spark, sf):
    """Imbalance-honest classifier readout (`evaluation.matthews_corr`):
    per-source MCC of the marker-token language-ID as an is-English
    detector — the single number that stays honest when one class
    dominates (exactly the regime of PII/contamination gates, where
    accuracy and F1 both flatter). Four integer confusion cells,
    DECIMAL cross products, one pinned sqrt tail."""
    from revtron_utils_spark.operators.evaluation import matthews_corr

    docs = _t(spark, sf, "documents")
    pairs = docs.select(
        "source",
        (F.col("lang") == "en").alias("actual"),
        (TX.lang_id("text") == "en").alias("pred"),
    )
    return matthews_corr(pairs, "actual", "pred", by=["source"])


def _sql_matthews_corr() -> str:
    from revtron_utils_spark.operators.evaluation import matthews_corr_oracle_sql

    pairs = f"""
SELECT d.source, (d.lang = 'en') AS actual, (lp.lang_pred = 'en') AS pred
FROM ({SQL_LANG_ID}) lp JOIN documents d USING (doc_id)
"""
    return matthews_corr_oracle_sql(pairs, "actual", "pred", by=["source"])


SQL_MATTHEWS_CORR = _sql_matthews_corr()


def q_cronbach_alpha(spark, sf):
    """Battery reliability (`annotation.cronbach_alpha`): Cronbach's α
    of the 7 lineitem positions as "items" scoring each order's
    quantity — do the positions move together (one consistent
    order-size signal) or independently? Complete-case subjects only
    (orders with all 7 lines), exact DECIMAL moments, item-ordered
    variance fold, pinned α tail — the score-scale companion to
    `annotator_kappa`/`fleiss_kappa`."""
    from revtron_utils_spark.operators.annotation import cronbach_alpha

    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("subj"),
        F.col("l_linenumber").alias("item"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return cronbach_alpha(li, "subj", "item", "qty")


def _sql_cronbach_alpha() -> str:
    from revtron_utils_spark.operators.annotation import (
        cronbach_alpha_oracle_sql,
    )

    ratings = (
        "SELECT l_orderkey AS subj, l_linenumber AS item,"
        " CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    )
    return cronbach_alpha_oracle_sql(ratings, "subj", "item", "qty")


SQL_CRONBACH_ALPHA = _sql_cronbach_alpha()




def q_modularity(spark, sf):
    """Partition quality (`graph.modularity`): Newman modularity of the
    nation partition over the customer↔supplier trade graph — "does
    trade cluster along nation lines more than degree chance predicts".
    Per-community exact integers (m, e_c, d_c); the 4·m·e_c − d_c²
    numerator stays DECIMAL, one pinned division — the acceptance
    readout for `label_propagation`/`dedup_clusters` partitions."""
    from revtron_utils_spark.operators.graph import modularity

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    cust = _t(spark, sf, "customer").select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_nationkey").alias("community"),
    )
    supp = _t(spark, sf, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        F.col("s_nationkey").alias("community"),
    )
    return modularity(edges, cust.unionByName(supp))


def _sql_modularity() -> str:
    from revtron_utils_spark.operators.graph import modularity_oracle_sql

    edges = (
        "SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    comm = (
        "SELECT c_custkey * 2 AS node, c_nationkey AS community FROM customer"
        " UNION ALL "
        "SELECT s_suppkey * 2 + 1 AS node, s_nationkey AS community FROM supplier"
    )
    return modularity_oracle_sql(edges, comm)


SQL_MODULARITY = _sql_modularity()


def q_acf_lags(spark, sf):
    """Autocorrelation (`timeseries.acf_lags`): per-priority monthly
    order-count series, ACF at lags 1..5 — "does last month predict
    this month" screened before anyone fits `ewma_series`/
    `holt_forecast`. n-scaled integer deviations keep every lag
    product DECIMAL-exact; one pinned division per (group, lag)."""
    from revtron_utils_spark.operators.timeseries import acf_lags

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
    )
    series = o.groupBy(F.col("o_orderpriority").alias("prio"), "mon").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return acf_lags(series, "prio", "mon", "cnt", max_lag=5)


def _sql_acf_lags() -> str:
    from revtron_utils_spark.operators.timeseries import acf_lags_oracle_sql

    series = """
SELECT o_orderpriority AS prio,
       CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS mon,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY 1, 2
"""
    return acf_lags_oracle_sql(series, "prio", "mon", "cnt", max_lag=5)


SQL_ACF_LAGS = _sql_acf_lags()


def q_regression_influence(spark, sf):
    """Row-level fit diagnostics (`profile.regression_influence`): per
    nation, the 3 orders that most distort the order-value-over-time
    trend line (Cook's distance + leverage) — the record-level
    companion to `grouped_linreg` (the fit) and `loo_influence`
    (group-level leave-out). Exact DECIMAL residual numerators from one
    scan, pinned float tail, deterministic top-3 window."""
    from revtron_utils_spark.operators.profile import regression_influence

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("order_id"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("long").alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"), "order_id", "day", "cents"
    )
    return regression_influence(j, "nation", "day", "cents", "order_id")


def _sql_regression_influence() -> str:
    from revtron_utils_spark.operators.profile import (
        regression_influence_oracle_sql,
    )

    points = """
SELECT c_nationkey AS nation, o_orderkey AS order_id,
       CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS day,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return regression_influence_oracle_sql(
        points, "nation", "day", "cents", "order_id"
    )


SQL_REGRESSION_INFLUENCE = _sql_regression_influence()


def q_mantel_haenszel(spark, sf):
    """Confounder-adjusted association (`profile.mantel_haenszel`):
    does URGENT priority associate with a finished order status once
    you stratify by market segment — OR_MH pooled over the five
    segment strata, reported against the crude OR (the Simpson's-
    paradox guard that completes `odds_ratio`). Exact per-stratum
    cells; stratum-ordered a·d/n folds; pinned divisions."""
    from revtron_utils_spark.operators.profile import mantel_haenszel

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("treat"),
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "treat", "done"
    )
    return mantel_haenszel(j, "c_mktsegment", "treat", "done")


def _sql_mantel_haenszel() -> str:
    from revtron_utils_spark.operators.profile import mantel_haenszel_oracle_sql

    units = """
SELECT c_mktsegment,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS treat,
       CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS done
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return mantel_haenszel_oracle_sql(units, "c_mktsegment", "treat", "done")


SQL_MANTEL_HAENSZEL = _sql_mantel_haenszel()




def q_friedman_test(spark, sf):
    """Repeated-measures rank test (`profile.friedman_test`): do the
    five market segments rank consistently in revenue WITHIN each
    nation (the block)? Ranking inside each nation removes the
    nation-size effect — the within-block-ranked sibling of
    `kruskal_wallis`. Doubled midranks per block, all-integer Q
    numerator AND denominator, one pinned division; nations missing a
    segment are dropped and counted."""
    from revtron_utils_spark.operators.profile import friedman_test

    o = _t(spark, sf, "orders").select(
        "o_custkey", F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.sum("cents").alias("rev"))
    )
    return friedman_test(cells, "nation", "segment", "rev")


def _sql_friedman_test() -> str:
    from revtron_utils_spark.operators.profile import friedman_test_oracle_sql

    rows = """
SELECT c_nationkey AS nation, c_mktsegment AS segment,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""
    return friedman_test_oracle_sql(rows, "nation", "segment", "rev")


SQL_FRIEDMAN_TEST = _sql_friedman_test()


def q_cochran_q(spark, sf):
    """k related binary detectors (`profile.cochran_q`): do the three
    document gates — is-English (marker-token lang-ID), long-form
    (>200 chars), multi-line — fire at systematically different rates
    on the SAME documents? The k-arm extension of `mcnemar_test`:
    all-integer G/L sums, one pinned division."""
    from revtron_utils_spark.operators.profile import cochran_q

    # guarded spread at the scan, so the lang-ID regexes below run on
    # every core of a one-split table
    docs = DD._spread_if_narrow(_t(spark, sf, "documents"))
    flat = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("en").alias("det"),
                    (TX.lang_id("text") == "en").cast("int").alias("fired"),
                ),
                F.struct(
                    F.lit("long").alias("det"),
                    (F.length("text") > 200).cast("int").alias("fired"),
                ),
                F.struct(
                    F.lit("multiline").alias("det"),
                    (F.size(F.split(F.col("text"), "\\n")) > 1)
                    .cast("int")
                    .alias("fired"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.det").alias("det"), F.col("e.fired").alias("fired"))
    return cochran_q(flat, "doc_id", "det", "fired")


def _sql_cochran_q() -> str:
    from revtron_utils_spark.operators.profile import cochran_q_oracle_sql

    rows = f"""
SELECT d.doc_id, 'en' AS det,
       CASE WHEN lp.lang_pred = 'en' THEN 1 ELSE 0 END AS fired
FROM documents d JOIN ({SQL_LANG_ID}) lp USING (doc_id)
UNION ALL
SELECT doc_id, 'long' AS det,
       CASE WHEN length(text) > 200 THEN 1 ELSE 0 END AS fired
FROM documents
UNION ALL
SELECT doc_id, 'multiline' AS det,
       CASE WHEN len(string_split(text, chr(10))) > 1 THEN 1 ELSE 0 END AS fired
FROM documents
"""
    return cochran_q_oracle_sql(rows, "doc_id", "det", "fired")


SQL_COCHRAN_Q = _sql_cochran_q()


def q_durbin_watson(spark, sf):
    """Residual serial correlation (`timeseries.durbin_watson`): after
    fitting monthly revenue vs month index per order priority, are the
    residuals independent (DW≈2) or is the line hiding a cycle? Exact
    integer residual numerators (scale cancels in DW), time-ordered
    double folds, one division per group."""
    from revtron_utils_spark.operators.timeseries import durbin_watson

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    series = o.groupBy(F.col("o_orderpriority").alias("prio"), "mon").agg(
        # month revenue in DOLLARS: cents sums overflow the 16x width
        # bound at sf>=1 (n=84 months, y<=1e10 cents); dollars keep the
        # residual numerators inside DECIMAL(38,0) through sf100.
        # Integer division (div), not float-divide-then-truncate: the
        # oracle's `// 100` is exact, and float true-division only agrees
        # while the cents sum stays well under 2^53
        F.expr("sum(cents) div 100").alias("rev")
    )
    return durbin_watson(series, "prio", "mon", "mon", "rev")


def _sql_durbin_watson() -> str:
    from revtron_utils_spark.operators.timeseries import durbin_watson_oracle_sql

    series = """
SELECT o_orderpriority AS prio,
       CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS mon,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS rev
FROM orders GROUP BY 1, 2
"""
    return durbin_watson_oracle_sql(series, "prio", "mon", "mon", "rev")


SQL_DURBIN_WATSON = _sql_durbin_watson()


def q_effect_sizes(spark, sf):
    """Effect sizes next to significance (`profile.effect_sizes`):
    Cohen's d + Hedges g of URGENT vs non-urgent order value per market
    segment — the "is the difference big enough to matter" readout
    `ab_test`'s z/p can't give at corpus n. One conditional DECIMAL
    aggregation, pinned variance/pool/d/g tail."""
    from revtron_utils_spark.operators.profile import effect_sizes

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("treat"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "treat", "cents"
    )
    return effect_sizes(j, "treat", "cents", by=["c_mktsegment"])


def _sql_effect_sizes() -> str:
    from revtron_utils_spark.operators.profile import effect_sizes_oracle_sql

    units = """
SELECT c_mktsegment,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS treat,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return effect_sizes_oracle_sql(units, "treat", "cents", by=["c_mktsegment"])


SQL_EFFECT_SIZES = _sql_effect_sizes()


def q_community_quality(spark, sf):
    """Composition gate: detect communities, then GRADE them —
    `label_propagation` (3 synchronous rounds over the sparse
    k-nearest-partner co-purchase graph, the `label_propagation` gate's
    exact fixture) feeding `graph.modularity` (per-community Newman Q
    contribution). The loop a real curation pipeline closes before
    trusting community-based dedup or mixture decisions: detect →
    score → accept/reject. Both stages reuse their standalone gates'
    exact arithmetic, so the composed readout hash-matches the nested
    oracle (LP rounds unrolled inside modularity's community CTE)."""
    from revtron_utils_spark.operators.dedup import _persist
    from revtron_utils_spark.operators.graph import label_propagation, modularity

    sparse = _persist(_copurchase_sparse(spark, sf))
    comm = label_propagation(sparse, "id_a", "id_b", iterations=3).select(
        "node", F.col("label").alias("community")
    )
    return modularity(sparse, comm, src="id_a", dst="id_b")


def _sql_community_quality() -> str:
    from revtron_utils_spark.operators.graph import (
        label_propagation_oracle_sql,
        modularity_oracle_sql,
    )

    edges_ab = r"""
SELECT id_a AS a, id_b AS b FROM (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, COUNT(*) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
QUALIFY row_number() OVER (
  PARTITION BY id_a
  ORDER BY w DESC, (id_a * 2654435761 + id_b * 40503) % 999999937, id_b
) <= 10
"""
    lp = label_propagation_oracle_sql(edges_ab, iterations=3)
    edges_sd = f"SELECT a AS src, b AS dst FROM ({edges_ab})"
    communities = f"SELECT node, label AS community FROM ({lp})"
    return modularity_oracle_sql(edges_sd, communities)


SQL_COMMUNITY_QUALITY = _sql_community_quality()




def q_welch_anova(spark, sf):
    """Variance-honest k-group means test (`profile.welch_anova`): the
    Welch F over order value by priority — the test to trust when
    `brown_forsythe` rejects the equal-variance assumption the classic
    `anova_f` needs. Exact DECIMAL moments; the weight/mean/Λ passes
    run as group-ordered folds over ONE collected array; pinned
    F and Satterthwaite df₂ tail."""
    from revtron_utils_spark.operators.profile import welch_anova

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return welch_anova(o, "cents", "o_orderpriority")


def _sql_welch_anova() -> str:
    from revtron_utils_spark.operators.profile import welch_anova_oracle_sql

    values = (
        "SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)"
        " AS cents FROM orders"
    )
    return welch_anova_oracle_sql(values, "cents", "o_orderpriority")


SQL_WELCH_ANOVA = _sql_welch_anova()


def q_grubbs_test(spark, sf):
    """Single-outlier test (`profile.grubbs_test`): each nation's most
    extreme order value and its Grubbs G — the formal "is the worst
    point actually an outlier" readout next to the scoring screens
    (`hbos_outliers`, `regression_influence`). Integer n-scaled
    deviation argmax (ties → min order id), pinned G tail."""
    from revtron_utils_spark.operators.profile import grubbs_test

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("order_id"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"), "order_id", "cents"
    )
    return grubbs_test(j, "cents", "nation", "order_id")


def _sql_grubbs_test() -> str:
    from revtron_utils_spark.operators.profile import grubbs_test_oracle_sql

    values = """
SELECT c_nationkey AS nation, o_orderkey AS order_id,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return grubbs_test_oracle_sql(values, "cents", "nation", "order_id")


SQL_GRUBBS_TEST = _sql_grubbs_test()


def q_runs_test(spark, sf):
    """Randomness-of-sequence test (`timeseries.runs_test`): is each
    priority's monthly order-count series random around its median, or
    does it clump into regimes — the fit-free companion to
    `durbin_watson` (same series as `acf_lags`). Doubled-median
    dichotomy, integer run counting, pinned z."""
    from revtron_utils_spark.operators.timeseries import runs_test

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
    )
    series = o.groupBy(F.col("o_orderpriority").alias("prio"), "mon").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return runs_test(series, "prio", "mon", "cnt")


def _sql_runs_test() -> str:
    from revtron_utils_spark.operators.timeseries import runs_test_oracle_sql

    series = """
SELECT o_orderpriority AS prio,
       CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS mon,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY 1, 2
"""
    return runs_test_oracle_sql(series, "prio", "mon", "cnt")


SQL_RUNS_TEST = _sql_runs_test()


def q_moods_median(spark, sf):
    """Robust k-sample location test (`profile.moods_median`): do the
    A/N/R return-flag populations share a common median quantity — the
    outlier-immune cross-check on `kruskal_wallis` (same fixture,
    different statistic: KW uses the full rank distribution, Mood's
    only the above/below-median dichotomy). Doubled grand median over
    the bounded 50-value spine, integer 2×k cells, group-ordered
    chi-square fold."""
    from revtron_utils_spark.operators.profile import moods_median

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
    )
    return moods_median(li, "qty", "l_returnflag")


def _sql_moods_median() -> str:
    from revtron_utils_spark.operators.profile import moods_median_oracle_sql

    values = (
        "SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag FROM lineitem"
    )
    return moods_median_oracle_sql(values, "qty", "l_returnflag")


SQL_MOODS_MEDIAN = _sql_moods_median()


def q_regression_adjustment(spark, sf):
    """ANCOVA-adjusted treatment effect (`experiment.
    regression_adjustment`): per-mktsegment orderkey-parity "arms",
    account-balance covariate, order-value outcome — the pooled
    within-arm slope β is a ratio of exact cross-scaled DECIMAL
    integers, ATE_adj a fixed-order double tail."""
    from revtron_utils_spark.operators.experiment import regression_adjustment

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    units = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        (F.col("o_orderkey") % 2).alias("arm"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return regression_adjustment(
        units, "bal", "cents", "arm", 1, 0, by=["c_mktsegment"]
    )


def _sql_regression_adjustment() -> str:
    from revtron_utils_spark.operators.experiment import (
        regression_adjustment_oracle_sql,
    )

    units = """
SELECT c_mktsegment, o_orderkey % 2 AS arm,
       CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""
    return regression_adjustment_oracle_sql(
        units, "bal", "cents", "arm", "1", "0", by=["c_mktsegment"]
    )


SQL_REGRESSION_ADJUSTMENT = _sql_regression_adjustment()


def q_group_sequential(spark, sf):
    """Interim-analysis boundary check (`experiment.
    group_sequential_check`): four orderkey-derived looks, custkey-
    parity arms, order-value metric vs the pinned O'Brien–Fleming
    z boundaries — cumulative exact DECIMAL cells, pinned z tails,
    literal boundary array shared token-for-token with the oracle."""
    from revtron_utils_spark.operators.experiment import group_sequential_check

    o = _t(spark, sf, "orders").select(
        (F.lit(1) + F.col("o_orderkey") % 4).alias("look"),
        (F.col("o_custkey") % 2).alias("arm"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return group_sequential_check(o, "look", "arm", "cents", 1, 0)


def _sql_group_sequential() -> str:
    from revtron_utils_spark.operators.experiment import (
        group_sequential_check_oracle_sql,
    )

    units = (
        "SELECT 1 + o_orderkey % 4 AS look, o_custkey % 2 AS arm, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    return group_sequential_check_oracle_sql(
        units, "look", "arm", "cents", "1", "0"
    )


SQL_GROUP_SEQUENTIAL = _sql_group_sequential()


def q_seasonal_naive(spark, sf):
    """Forecast-baseline error readout (`timeseries.
    seasonal_naive_eval`): monthly revenue per order status, seasonal
    lag 12 vs naive lag 1 — exact integer error sums, cross-multiplied
    MASE ratio with ONE pinned division."""
    from revtron_utils_spark.operators.timeseries import seasonal_naive_eval

    series = (
        _t(spark, sf, "orders")
        .groupBy(
            "o_orderstatus",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mth"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    return seasonal_naive_eval(
        series, "mth", "cents", 12, by=["o_orderstatus"]
    )


def _sql_seasonal_naive() -> str:
    from revtron_utils_spark.operators.timeseries import (
        seasonal_naive_eval_oracle_sql,
    )

    series = """
SELECT o_orderstatus, year(o_orderdate) * 12 + month(o_orderdate) AS mth,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
FROM orders GROUP BY 1, 2
"""
    return seasonal_naive_eval_oracle_sql(
        series, "mth", "cents", 12, by=["o_orderstatus"]
    )


SQL_SEASONAL_NAIVE = _sql_seasonal_naive()


def q_partial_correlation(spark, sf):
    """Confound screen (`association.partial_correlation`): quantity ↔
    revenue correlation per returnflag with the discount partialled
    out — nine exact DECIMAL moments in one pass, pinned recursion."""
    from revtron_utils_spark.operators.association import partial_correlation

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
    )
    return partial_correlation(
        li, "qty", "cents", "disc", by=["l_returnflag"]
    )


def _sql_partial_correlation() -> str:
    from revtron_utils_spark.operators.association import (
        partial_correlation_oracle_sql,
    )

    values = (
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, "
        "CAST(round(l_discount * 100) AS BIGINT) AS disc FROM lineitem"
    )
    return partial_correlation_oracle_sql(
        values, "qty", "cents", "disc", by=["l_returnflag"]
    )


SQL_PARTIAL_CORRELATION = _sql_partial_correlation()


def q_gamma_somers_d(spark, sf):
    """Ordinal association (`association.gamma_somers_d`): does a
    higher discount band go with a higher quantity band — joint-
    histogram concordance (never O(rows²)), doubled-denominator
    exact ratios."""
    from revtron_utils_spark.operators.association import gamma_somers_d

    li = _t(spark, sf, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return gamma_somers_d(li, "disc", "qty")


def _sql_gamma_somers_d() -> str:
    from revtron_utils_spark.operators.association import (
        gamma_somers_d_oracle_sql,
    )

    values = (
        "SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc, "
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    )
    return gamma_somers_d_oracle_sql(values, "disc", "qty")


SQL_GAMMA_SOMERS_D = _sql_gamma_somers_d()


def q_risk_ratios(spark, sf):
    """2×2 risk readout (`association.risk_ratios`): urgent-priority
    exposure vs high-value outcome per order status — exact cells,
    exact-integer risk ratio, pinned Wald CI with the shared z
    literal."""
    from revtron_utils_spark.operators.association import risk_ratios

    o = _t(spark, sf, "orders").select(
        "o_orderstatus",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("exposed"),
        F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0).alias("high"),
    )
    return risk_ratios(o, "exposed", "high", by=["o_orderstatus"])


def _sql_risk_ratios() -> str:
    from revtron_utils_spark.operators.association import risk_ratios_oracle_sql

    units = (
        "SELECT o_orderstatus, "
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS exposed, "
        "CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS high "
        "FROM orders"
    )
    return risk_ratios_oracle_sql(units, "exposed", "high", by=["o_orderstatus"])


SQL_RISK_RATIOS = _sql_risk_ratios()


def q_ratio_metric_ci(spark, sf):
    """Delta-method ratio metric (`experiment.ratio_metric_ci`):
    revenue-per-unit-quantity per returnflag with the correct
    unit-of-analysis CI — exact moments, pinned variance tail."""
    from revtron_utils_spark.operators.experiment import ratio_metric_ci

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return ratio_metric_ci(li, "cents", "qty", by=["l_returnflag"])


def _sql_ratio_metric_ci() -> str:
    from revtron_utils_spark.operators.experiment import (
        ratio_metric_ci_oracle_sql,
    )

    units = (
        "SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, "
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    )
    return ratio_metric_ci_oracle_sql(units, "cents", "qty", by=["l_returnflag"])


SQL_RATIO_METRIC_CI = _sql_ratio_metric_ci()


def q_quantile_share(spark, sf):
    """Palma-style value shares (`concentration.quantile_share`):
    bottom-40% vs top-10% of customer balances per market segment —
    deterministic (value, custkey) rank, integer cut indices, exact
    set sums."""
    from revtron_utils_spark.operators.concentration import quantile_share

    c = _t(spark, sf, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    return quantile_share(
        c, "bal", ["c_custkey"], by=["c_mktsegment"]
    )


def _sql_quantile_share() -> str:
    from revtron_utils_spark.operators.concentration import (
        quantile_share_oracle_sql,
    )

    values = (
        "SELECT c_mktsegment, c_custkey, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer"
    )
    return quantile_share_oracle_sql(
        values, "bal", ["c_custkey"], by=["c_mktsegment"]
    )


SQL_QUANTILE_SHARE = _sql_quantile_share()


def q_jonckheere(spark, sf):
    """Ordered-trend test (`hypothesis_tests.jonckheere_terpstra`):
    does quantity trend with line number — joint-histogram doubled J,
    tie-corrected variance from exact margin polynomials."""
    from revtron_utils_spark.operators.hypothesis_tests import (
        jonckheere_terpstra,
    )

    li = _t(spark, sf, "lineitem").select(
        F.col("l_linenumber").cast("long").alias("ln"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return jonckheere_terpstra(li, "qty", "ln")


def _sql_jonckheere() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        jonckheere_terpstra_oracle_sql,
    )

    values = (
        "SELECT CAST(l_linenumber AS BIGINT) AS ln, "
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    )
    return jonckheere_terpstra_oracle_sql(values, "qty", "ln")


SQL_JONCKHEERE = _sql_jonckheere()


def q_page_trend(spark, sf):
    """Ordered repeated-measures trend (`hypothesis_tests.
    page_trend_test`): does revenue fall along the priority order
    WITHIN each nation — Page's L over friedman's doubled within-block
    midranks, catalog-ordered weights, pinned z over the no-tie null
    moments."""
    from revtron_utils_spark.operators.hypothesis_tests import page_trend_test

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.sum("cents").alias("rev"))
    )
    return page_trend_test(cells, "nation", "prio", "rev")


def _sql_page_trend() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        page_trend_test_oracle_sql,
    )

    rows = """
SELECT c_nationkey AS nation, o_orderpriority AS prio,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""
    return page_trend_test_oracle_sql(rows, "nation", "prio", "rev")


SQL_PAGE_TREND = _sql_page_trend()


def q_yuen_t(spark, sf):
    """Robust two-sample location (`hypothesis_tests.yuen_trimmed_t`):
    urgent vs low-priority order values compared by 20%-trimmed means
    with winsorized variances — the heavy-tail-safe t the plain
    `effect_sizes` machinery can't give. Exact rank-range sums,
    pinned Yuen/Satterthwaite tail."""
    from revtron_utils_spark.operators.hypothesis_tests import yuen_trimmed_t

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return yuen_trimmed_t(o, "cents", "o_orderpriority", "1-URGENT", "5-LOW")


def _sql_yuen_t() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        yuen_trimmed_t_oracle_sql,
    )

    values = (
        "SELECT o_orderpriority, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    return yuen_trimmed_t_oracle_sql(
        values, "cents", "o_orderpriority", "'1-URGENT'", "'5-LOW'"
    )


SQL_YUEN_T = _sql_yuen_t()


def q_tvd_drift(spark, sf):
    """Exact distribution drift (`concentration.tvd_drift`): total-
    variation distance between the 1996 and 1998 order-value
    histograms — the no-transcendentals companion to
    `hellinger_drift`: cleared-denominator exact integer numerator,
    ONE pinned division."""
    from revtron_utils_spark.operators.concentration import tvd_drift

    orders = _t(spark, sf, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 500000").alias(
            "bucket"
        ),
    )
    return tvd_drift(orders, "bucket", "yr", 1996, 1998)


def _sql_tvd_drift() -> str:
    from revtron_utils_spark.operators.concentration import tvd_drift_oracle_sql

    values = """
SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket
FROM orders
"""
    return tvd_drift_oracle_sql(values, "bucket", "yr", "1996", "1998")


SQL_TVD_DRIFT = _sql_tvd_drift()


def q_bland_altman(spark, sf):
    """Method agreement (`association.bland_altman`): do catalog price
    and the discount-adjusted charge agree as "measurements" of an
    item's value per returnflag — mean difference ± limits of
    agreement with the within-LoA recount (correlation can't see a
    constant offset; Bland–Altman can). Exact difference moments,
    token-identical float bounds."""
    from revtron_utils_spark.operators.association import bland_altman

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("m1"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("m2"),
    )
    return bland_altman(li, "m1", "m2", by=["l_returnflag"])


def _sql_bland_altman() -> str:
    from revtron_utils_spark.operators.association import (
        bland_altman_oracle_sql,
    )

    units = """
SELECT l_returnflag,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS m1,
       CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS m2
FROM lineitem
"""
    return bland_altman_oracle_sql(units, "m1", "m2", by=["l_returnflag"])


SQL_BLAND_ALTMAN = _sql_bland_altman()


def q_wilson_ci(spark, sf):
    """Proportion interval done right (`experiment.wilson_ci`): the
    urgent-order share per market segment with the score-test CI that
    stays honest at extreme p̂ and small n — exact counts, pinned
    sqrt-only tail, shared z literal."""
    from revtron_utils_spark.operators.experiment import wilson_ci

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    units = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
    )
    return wilson_ci(units, "urgent", by=["c_mktsegment"])


def _sql_wilson_ci() -> str:
    from revtron_utils_spark.operators.experiment import wilson_ci_oracle_sql

    units = (
        "SELECT c_mktsegment, CASE WHEN o_orderpriority = '1-URGENT' "
        "THEN 1 ELSE 0 END AS urgent "
        "FROM orders JOIN customer ON o_custkey = c_custkey"
    )
    return wilson_ci_oracle_sql(units, "urgent", by=["c_mktsegment"])


SQL_WILSON_CI = _sql_wilson_ci()


def q_sign_test(spark, sf):
    """Assumption-free paired comparison (`hypothesis_tests.
    sign_test`): does the catalog price systematically exceed the
    discounted charge per returnflag — only the sign of each pair's
    difference, ties counted separately; exact counts, one pinned z."""
    from revtron_utils_spark.operators.hypothesis_tests import sign_test

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("m1"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("m2"),
    )
    return sign_test(li, "m1", "m2", by=["l_returnflag"])


def _sql_sign_test() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        sign_test_oracle_sql,
    )

    units = """
SELECT l_returnflag,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS m1,
       CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS m2
FROM lineitem
"""
    return sign_test_oracle_sql(units, "m1", "m2", by=["l_returnflag"])


SQL_SIGN_TEST = _sql_sign_test()


def q_poisson_rate(spark, sf):
    """Two-sample rate comparison (`hypothesis_tests.
    poisson_rate_test`): orders per customer, AUTOMOBILE vs BUILDING —
    the count-metric test whose variance IS the mean; exact totals,
    pinned rate/z tail."""
    from revtron_utils_spark.operators.hypothesis_tests import (
        poisson_rate_test,
    )

    o = _t(spark, sf, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("events")
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    units = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        "c_mktsegment",
        F.coalesce(F.col("events"), F.lit(0)).alias("events"),
        F.lit(1).alias("exposure"),
    )
    return poisson_rate_test(
        units, "c_mktsegment", "AUTOMOBILE", "BUILDING", "events", "exposure"
    )


def _sql_poisson_rate() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        poisson_rate_test_oracle_sql,
    )

    units = """
SELECT c_mktsegment,
       COALESCE(o.events, 0) AS events,
       1 AS exposure
FROM customer
LEFT JOIN (SELECT o_custkey, COUNT(*) AS events FROM orders GROUP BY o_custkey) o
  ON c_custkey = o.o_custkey
"""
    return poisson_rate_test_oracle_sql(
        units, "c_mktsegment", "'AUTOMOBILE'", "'BUILDING'", "events", "exposure"
    )


SQL_POISSON_RATE = _sql_poisson_rate()


def q_hodges_lehmann(spark, sf):
    """Robust location (`hypothesis_tests.hodges_lehmann`): the
    pseudo-median of quantity per returnflag — the Walsh-average
    median dual to the signed-rank test, collapsed onto the bounded
    value histogram (never O(rows²)); doubled weights clear the
    diagonal halves, rank selection stays exact."""
    from revtron_utils_spark.operators.hypothesis_tests import hodges_lehmann

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return hodges_lehmann(li, "qty", by=["l_returnflag"])


def _sql_hodges_lehmann() -> str:
    from revtron_utils_spark.operators.hypothesis_tests import (
        hodges_lehmann_oracle_sql,
    )

    values = (
        "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    )
    return hodges_lehmann_oracle_sql(values, "qty", by=["l_returnflag"])


SQL_HODGES_LEHMANN = _sql_hodges_lehmann()


_REGISTRY: dict[str, tuple[Callable, str | None]] = {
    "flagship": (q_flagship, SQL_FLAGSHIP),
    "where_eq": (q_where_eq, SQL_WHERE_EQ),
    "where_in": (q_where_in, SQL_WHERE_IN),
    "where_not_in": (q_where_not_in, SQL_WHERE_NOT_IN),
    "where_like": (q_where_like, SQL_WHERE_LIKE),
    "where_not_like": (q_where_not_like, SQL_WHERE_NOT_LIKE),
    "where_null_checks": (q_where_null_checks, SQL_WHERE_NULL_CHECKS),
    "where_between": (q_where_between, SQL_WHERE_BETWEEN),
    "where_not_between": (q_where_not_between, SQL_WHERE_NOT_BETWEEN),
    "where_theta": (q_where_theta, SQL_WHERE_THETA),
    "where_or": (q_where_or, SQL_WHERE_OR),
    "sort_limit_offset": (q_sort_limit_offset, SQL_SORT_LIMIT_OFFSET),
    "count_star": (q_count_star, SQL_COUNT_STAR),
    "table_size_profile": (q_table_size_profile, SQL_TABLE_SIZE_PROFILE),
    "profile": (q_profile, SQL_PROFILE),
    "groupby_q1": (q_groupby_q1, SQL_GROUPBY_Q1),
    "rollup": (q_rollup, SQL_ROLLUP),
    "cube": (q_cube, SQL_CUBE),
    "pivot": (q_pivot, SQL_PIVOT),
    "distinct_counts": (q_distinct_counts, SQL_DISTINCT_COUNTS),
    "stats_moments": (q_stats_moments, SQL_STATS_MOMENTS),
    "percentiles": (q_percentiles, SQL_PERCENTILES),
    "robust_stats": (q_robust_stats, SQL_ROBUST_STATS),
    "grouped_linreg": (q_grouped_linreg, SQL_GROUPED_LINREG),
    "contingency_chi2": (q_contingency_chi2, SQL_CONTINGENCY_CHI2),
    "conditional_agg": (q_conditional_agg, SQL_CONDITIONAL_AGG),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "unpivot": (q_unpivot, SQL_UNPIVOT),
    "data_quality": (q_data_quality, SQL_DATA_QUALITY),
    "date_parts": (q_date_parts, SQL_DATE_PARTS),
    "join_q3": (q_join_q3, SQL_JOIN_Q3),
    "join_q5": (q_join_q5, SQL_JOIN_Q5),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "window_topk": (q_window_topk, SQL_WINDOW_TOPK),
    "window_lag": (q_window_lag, SQL_WINDOW_LAG),
    "window_running": (q_window_running, SQL_WINDOW_RUNNING),
    "window_rank_ntile": (q_window_rank_ntile, SQL_WINDOW_RANK_NTILE),
    "vocab_df": (q_vocab_df, SQL_VOCAB_DF),
    "tfidf_top_term": (q_tfidf_top_term, SQL_TFIDF_TOP_TERM),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "union_distinct": (q_union_distinct, SQL_UNION_DISTINCT),
    "except": (q_except, SQL_EXCEPT),
    "null_ordering": (q_null_ordering, SQL_NULL_ORDERING),
    "null_safe_join": (q_null_safe_join, SQL_NULL_SAFE_JOIN),
    "curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    "raw_sql": (q_raw_sql, RAW_SQL),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "date_window": (q_date_window, SQL_DATE_WINDOW),
    "tumbling_counts": (q_tumbling_counts, SQL_TUMBLING_COUNTS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "session_agg": (q_session_agg, SQL_SESSION_AGG),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "asof_forward": (q_asof_forward, SQL_ASOF_FORWARD),
    "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
    "incremental_merge": (q_incremental_merge, SQL_INCREMENTAL_MERGE),
    "upsert_nullpreserve": (q_upsert_nullpreserve, SQL_UPSERT_NULLPRESERVE),
    "upsert_overwrite": (q_upsert_overwrite, SQL_UPSERT_OVERWRITE),
    "keyed_update": (q_keyed_update, SQL_KEYED_UPDATE),
    "delete_where": (q_delete_where, SQL_DELETE_WHERE),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_groups": (q_dedup_groups, SQL_DEDUP_GROUPS),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "rolling_fingerprint": (q_rolling_fingerprint, SQL_ROLLING_FINGERPRINT),
    "ngram_counts": (q_ngram_counts, SQL_NGRAM_COUNTS),
    "rarity_scores": (q_rarity_scores, SQL_RARITY_SCORES),
    "quantile_filter": (q_quantile_filter, SQL_QUANTILE_FILTER),
    "importance_weights": (q_importance_weights, SQL_IMPORTANCE_WEIGHTS),
    "lm_score": (q_lm_score, SQL_LM_SCORE),
    "perplexity_filter": (q_perplexity_filter, SQL_PERPLEXITY_FILTER),
    "lm_crossdomain": (q_lm_crossdomain, SQL_LM_CROSSDOMAIN),
    "kneser_ney": (q_kneser_ney, SQL_KNESER_NEY),
    "deterministic_shuffle": (q_deterministic_shuffle, SQL_DETERMINISTIC_SHUFFLE),
    "leakage_safe_split": (q_leakage_safe_split, SQL_LEAKAGE_SAFE_SPLIT),
    "bpe_learned": (q_bpe_learned, None),
    "unigram_lm_learned": (q_unigram_lm_learned, None),
    "unigram_tokens": (q_unigram_tokens, None),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "gopher_filters": (q_gopher_filters, SQL_GOPHER_FILTERS),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "ngram_containment": (q_ngram_containment, SQL_NGRAM_CONTAINMENT),
    "mojibake_fix": (q_mojibake_fix, SQL_MOJIBAKE_FIX),
    "ngram_decontaminate": (q_ngram_decontaminate, SQL_NGRAM_DECONTAMINATE),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "pagerank": (q_pagerank, SQL_PAGERANK),
    "pagerank_seeded": (q_pagerank_seeded, SQL_PAGERANK_SEEDED),
    "hybrid_search": (q_hybrid_search, SQL_HYBRID_SEARCH),
    "collocations": (q_collocations, SQL_COLLOCATIONS),
    "cms_counts": (q_cms_counts, SQL_CMS_COUNTS),
    "approx_distinct_poly": (q_approx_distinct_poly, SQL_APPROX_DISTINCT_POLY),
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "ams_f2": (q_ams_f2, SQL_AMS_F2),
    "kmv_intersect": (q_kmv_intersect, SQL_KMV_INTERSECT),
    "pq_ann": (q_pq_ann, None),
    "decontaminate_bloom": (q_decontaminate_bloom, SQL_DECONTAMINATE_BLOOM),
    "streaming_interval_join": (q_streaming_interval_join, None),
    "triangle_counts": (q_triangle_counts, SQL_TRIANGLE_COUNTS),
    "label_propagation": (q_label_propagation, SQL_LABEL_PROPAGATION),
    "train_test_split": (q_train_test_split, SQL_TRAIN_TEST_SPLIT),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "pii_scan": (q_pii_scan, SQL_PII_SCAN),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "embedding_decontaminate": (q_embedding_decontaminate, SQL_EMBEDDING_DECONTAMINATE),
    "correlated_avg": (q_correlated_avg, SQL_CORRELATED_AVG),
    "rollup_maintenance": (q_rollup_maintenance, SQL_ROLLUP_MAINTENANCE),
    "fuzzy_pairs": (q_fuzzy_pairs, SQL_FUZZY_PAIRS),
    "exists_q4": (q_exists_q4, SQL_EXISTS_Q4),
    "outerjoin_q13": (q_outerjoin_q13, SQL_OUTERJOIN_Q13),
    "antijoin_q22": (q_antijoin_q22, SQL_ANTIJOIN_Q22),
    "window_range_frame": (q_window_range_frame, SQL_WINDOW_RANGE_FRAME),
    "window_firstlast": (q_window_firstlast, SQL_WINDOW_FIRSTLAST),
    "scd2_history": (q_scd2_history, SQL_SCD2_HISTORY),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "salted_agg": (q_salted_agg, SQL_SALTED_AGG),
    "skew_stress": (q_skew_stress, SQL_SKEW_STRESS),
    "mincost_q2": (q_mincost_q2, SQL_MINCOST_Q2),
    "nation_volume_q7": (q_nation_volume_q7, SQL_NATION_VOLUME_Q7),
    "market_share_q8": (q_market_share_q8, SQL_MARKET_SHARE_Q8),
    "profit_q9": (q_profit_q9, SQL_PROFIT_Q9),
    "important_stock_q11": (q_important_stock_q11, SQL_IMPORTANT_STOCK_Q11),
    "shipmode_q12": (q_shipmode_q12, SQL_SHIPMODE_Q12),
    "top_supplier_q15": (q_top_supplier_q15, SQL_TOP_SUPPLIER_Q15),
    "supplier_cnt_q16": (q_supplier_cnt_q16, SQL_SUPPLIER_CNT_Q16),
    "potential_promo_q20": (q_potential_promo_q20, SQL_POTENTIAL_PROMO_Q20),
    "waiting_q21": (q_waiting_q21, SQL_WAITING_Q21),
    "returned_q10": (q_returned_q10, SQL_RETURNED_Q10),
    "promo_share_q14": (q_promo_share_q14, SQL_PROMO_SHARE_Q14),
    "having_q18": (q_having_q18, SQL_HAVING_Q18),
    "disjunctive_q19": (q_disjunctive_q19, SQL_DISJUNCTIVE_Q19),
    "revenue_q6": (q_revenue_q6, SQL_REVENUE_Q6),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "cosine_neardup": (q_cosine_neardup, SQL_COSINE_NEARDUP),
    "minhash_pairs_poly": (q_minhash_pairs_poly, SQL_MINHASH_PAIRS_POLY),
    "minhash_pairs_capped": (q_minhash_pairs_capped, SQL_MINHASH_PAIRS_CAPPED),
    "html_extract": (q_html_extract, SQL_HTML_EXTRACT),
    "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
    "url_normalize": (q_url_normalize, SQL_URL_NORMALIZE),
    "warc_extract": (q_warc_extract, SQL_WARC_EXTRACT),
    "streaming_dedup": (q_streaming_dedup, SQL_STREAMING_DEDUP),
    "avg_qty_q17": (q_avg_qty_q17, SQL_AVG_QTY_Q17),
    "dedup_index_probe_poly": (q_dedup_index_probe_poly, SQL_DEDUP_INDEX_PROBE_POLY),
    "simhash_pairs_poly": (q_simhash_pairs_poly, SQL_SIMHASH_PAIRS_POLY),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "text_neardup_poly": (q_text_neardup_poly, SQL_TEXT_NEARDUP_POLY),
    "semdedup_kmeans": (q_semdedup_kmeans, None),
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "embedding_outliers": (q_embedding_outliers, SQL_EMBEDDING_OUTLIERS),
    "rest_extract": (q_rest_extract, SQL_REST_EXTRACT),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "dup_spans": (q_dup_spans, SQL_DUP_SPANS),
    "mixture_sample": (q_mixture_sample, SQL_MIXTURE_SAMPLE),
    "cap_per_domain": (q_cap_per_domain, SQL_CAP_PER_DOMAIN),
    "token_budget": (q_token_budget, SQL_TOKEN_BUDGET),
    "funnel_steps": (q_funnel_steps, SQL_FUNNEL_STEPS),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "rolling_wau": (q_rolling_wau, SQL_ROLLING_WAU),
    "funnel_within": (q_funnel_within, SQL_FUNNEL_WITHIN),
    "attribution_last_touch": (q_attribution_last_touch, SQL_ATTRIBUTION),
    "attribution_multi_touch": (q_attribution_multi_touch, SQL_ATTRIBUTION_MULTI),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "ab_test": (q_ab_test, SQL_AB_TEST),
    "top_paths": (q_top_paths, SQL_TOP_PATHS),
    "rolling_zscore": (q_rolling_zscore, SQL_ROLLING_ZSCORE),
    # rows-only (probabilistic / iterative / UDF-backed — no SQL oracle)
    "rest_writeback": (q_rest_writeback, None),
    "sketch_rollup": (q_sketch_rollup, None),
    "quantile_rollup": (q_quantile_rollup, None),
    "approx_distinct": (q_approx_distinct, None),
    "minhash_pairs": (q_minhash_pairs, None),
    "simhash_pairs": (q_simhash_pairs, None),
    "ivf_ann": (q_ivf_ann, None),
    "ivf_ann_poly": (q_ivf_ann_poly, SQL_IVF_ANN_POLY),
    "pq_ann_poly": (q_pq_ann_poly, SQL_PQ_ANN_POLY),
    "cramer_von_mises": (q_cramer_von_mises, SQL_CRAMER_VON_MISES),
    "winsorized_stats": (q_winsorized_stats, SQL_WINSORIZED_STATS),
    "correlation_matrix": (q_correlation_matrix, SQL_CORRELATION_MATRIX),
    "krippendorff_alpha": (q_krippendorff_alpha, SQL_KRIPPENDORFF_ALPHA),
    "shapley_attribution": (q_shapley_attribution, SQL_SHAPLEY_ATTRIBUTION),
    "brier_decomposition": (q_brier_decomposition, SQL_BRIER_DECOMPOSITION),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "tukey_hsd": (q_tukey_hsd, SQL_TUKEY_HSD),
    "dunn_test": (q_dunn_test, SQL_DUNN_TEST),
    "iv_wald": (q_iv_wald, SQL_IV_WALD),
    "srm_check": (q_srm_check, SQL_SRM_CHECK),
    "mrr_at_k": (q_mrr_at_k, SQL_MRR_AT_K),
    "ffill_series": (q_ffill_series, SQL_FFILL_SERIES),
    "ols_two_factor": (q_ols_two_factor, SQL_OLS_TWO_FACTOR),
    "dataset_card": (q_dataset_card, SQL_DATASET_CARD),
    "sample_size_power": (q_sample_size_power, SQL_SAMPLE_SIZE_POWER),
    "hhi_concentration": (q_hhi_concentration, SQL_HHI_CONCENTRATION),
    "lorenz_curve": (q_lorenz_curve, SQL_LORENZ_CURVE),
    "cosine_neardup_lsh": (q_cosine_neardup_lsh, None),
    "cosine_neardup_lsh_poly": (
        q_cosine_neardup_lsh_poly,
        SQL_COSINE_NEARDUP_LSH_POLY,
    ),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "image_resize": (q_image_resize, SQL_IMAGE_RESIZE),
    "audio_stats": (q_audio_stats, None),
    "text_neardup_hashed": (q_text_neardup_hashed, None),
    "dedup_index_probe": (q_dedup_index_probe, None),
    "frame_sampling": (q_frame_sampling, SQL_FRAME_SAMPLING),
    "streaming_sessionize": (q_streaming_sessionize, None),
    "streaming_heavy_hitters": (q_streaming_heavy_hitters, None),
    "corpus_pipeline": (q_corpus_pipeline, SQL_CORPUS_PIPELINE),
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "table_diff": (q_table_diff, SQL_TABLE_DIFF),
    "k_core": (q_k_core, SQL_K_CORE),
    "embedding_pipeline": (q_embedding_pipeline, SQL_EMBEDDING_PIPELINE),
    "token_diversity": (q_token_diversity, SQL_TOKEN_DIVERSITY),
    "embedding_pipeline_scaled": (
        q_embedding_pipeline_scaled,
        SQL_EMBEDDING_PIPELINE_SCALED,
    ),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "majority_vote": (q_majority_vote, SQL_MAJORITY_VOTE),
    "annotator_kappa": (q_annotator_kappa, SQL_ANNOTATOR_KAPPA),
    "bradley_terry": (q_bradley_terry, SQL_BRADLEY_TERRY),
    "win_rate_wilson": (q_win_rate_wilson, SQL_WIN_RATE_WILSON),
    "compression_ratio": (q_compression_ratio, None),
    "vocab_drift": (q_vocab_drift, SQL_VOCAB_DRIFT),
    "scorer_spearman": (q_scorer_spearman, SQL_SCORER_SPEARMAN),
    "degree_assortativity": (q_degree_assortativity, SQL_DEGREE_ASSORTATIVITY),
    "preference_pipeline": (q_preference_pipeline, SQL_PREFERENCE_PIPELINE),
    "classifier_eval": (q_classifier_eval, SQL_CLASSIFIER_EVAL),
    "score_auc": (q_score_auc, SQL_SCORE_AUC),
    "vocab_richness": (q_vocab_richness, SQL_VOCAB_RICHNESS),
    "concentration_gini": (q_concentration_gini, SQL_CONCENTRATION_GINI),
    "streaming_tumbling": (q_streaming_tumbling, SQL_STREAMING_TUMBLING),
    "calibration": (q_calibration, SQL_CALIBRATION),
    "join_size_estimate": (q_join_size_estimate, SQL_JOIN_SIZE_ESTIMATE),
    "kaplan_meier": (q_kaplan_meier, SQL_KAPLAN_MEIER),
    "cusum_changepoint": (q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT),
    "mann_kendall": (q_mann_kendall, SQL_MANN_KENDALL),
    "association_rules": (q_association_rules, SQL_ASSOCIATION_RULES),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "link_prediction": (q_link_prediction, SQL_LINK_PREDICTION),
    "bootstrap_ci": (q_bootstrap_ci, SQL_BOOTSTRAP_CI),
    "benford_digits": (q_benford, SQL_BENFORD),
    "streaming_sliding": (q_streaming_sliding, SQL_STREAMING_SLIDING),
    "ewma_series": (q_ewma_series, SQL_EWMA_SERIES),
    "theil_sen": (q_theil_sen, SQL_THEIL_SEN),
    "seasonality": (q_seasonality, SQL_SEASONALITY),
    "hellinger_drift": (q_hellinger_drift, SQL_HELLINGER_DRIFT),
    "dispersion_index": (q_dispersion_index, SQL_DISPERSION_INDEX),
    "analytics_pipeline": (q_analytics_pipeline, SQL_ANALYTICS_PIPELINE),
    "logrank_test": (q_logrank, SQL_LOGRANK),
    "fleiss_kappa": (q_fleiss_kappa, SQL_FLEISS_KAPPA),
    "prop_ztest": (q_prop_ztest, SQL_PROP_ZTEST),
    "cramers_v": (q_cramers_v, SQL_CRAMERS_V),
    "population_estimate": (q_population_estimate, SQL_POPULATION_ESTIMATE),
    "neyman_allocation": (q_neyman_allocation, SQL_NEYMAN_ALLOCATION),
    "integrity_audit": (q_integrity_audit, SQL_INTEGRITY_AUDIT),
    "holt_forecast": (q_holt_forecast, SQL_HOLT_FORECAST),
    "ks_test": (q_ks_test, SQL_KS_TEST),
    "mann_whitney": (q_mann_whitney, SQL_MANN_WHITNEY),
    "did_estimate": (q_did_estimate, SQL_DID_ESTIMATE),
    "bh_fdr": (q_bh_fdr, SQL_BH_FDR),
    "harmonic_centrality": (q_harmonic_centrality, SQL_HARMONIC_CENTRALITY),
    "loo_influence": (q_loo_influence, SQL_LOO_INFLUENCE),
    "clustering_coefficient": (
        q_clustering_coefficient,
        SQL_CLUSTERING_COEFFICIENT,
    ),
    "propensity_effect": (q_propensity_effect, SQL_PROPENSITY_EFFECT),
    "ece": (q_ece, SQL_ECE),
    "trend_test": (q_trend_test, SQL_TREND_TEST),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "page_hinkley": (q_page_hinkley, SQL_PAGE_HINKLEY),
    "odds_ratio": (q_odds_ratio, SQL_ODDS_RATIO),
    "gini_split": (q_gini_split, SQL_GINI_SPLIT),
    "distribution_match": (q_distribution_match, SQL_DISTRIBUTION_MATCH),
    "slice_overlap": (q_slice_overlap, SQL_SLICE_OVERLAP),
    "mcnemar_test": (q_mcnemar, SQL_MCNEMAR),
    "gain_curve": (q_gain_curve, SQL_GAIN_CURVE),
    "cohort_ltv": (q_cohort_ltv, SQL_COHORT_LTV),
    "dawid_skene": (q_dawid_skene, SQL_DAWID_SKENE),
    "entity_resolution": (q_entity_resolution, SQL_ENTITY_RESOLUTION),
    "cuped": (q_cuped, SQL_CUPED),
    "seasonal_outliers": (q_seasonal_outliers, SQL_SEASONAL_OUTLIERS),
    "conformal_bounds": (q_conformal_bounds, SQL_CONFORMAL_BOUNDS),
    "markov_attribution": (q_markov_attribution, SQL_MARKOV_ATTRIBUTION),
    "percentile_normalize": (q_percentile_normalize, SQL_PERCENTILE_NORMALIZE),
    "contrastive_pairs": (q_contrastive_pairs, SQL_CONTRASTIVE_PAIRS),
    "hits": (q_hits, SQL_HITS),
    "permutation_test": (q_permutation_test, SQL_PERMUTATION_TEST),
    "readability": (q_readability, SQL_READABILITY),
    "rake_keywords": (q_rake_keywords, SQL_RAKE_KEYWORDS),
    "tfidf_cosine": (q_tfidf_cosine, SQL_TFIDF_COSINE),
    "hbos_outliers": (q_hbos_outliers, SQL_HBOS_OUTLIERS),
    "kruskal_wallis": (q_kruskal_wallis, SQL_KRUSKAL_WALLIS),
    "anova_f": (q_anova_f, SQL_ANOVA_F),
    "brown_forsythe": (q_brown_forsythe, SQL_BROWN_FORSYTHE),
    "kendall_tau": (q_kendall_tau, SQL_KENDALL_TAU),
    "ndcg_at_k": (q_ndcg_at_k, SQL_NDCG_AT_K),
    "mean_avg_precision": (q_mean_avg_precision, SQL_MEAN_AVG_PRECISION),
    "matthews_corr": (q_matthews_corr, SQL_MATTHEWS_CORR),
    "cronbach_alpha": (q_cronbach_alpha, SQL_CRONBACH_ALPHA),
    "modularity": (q_modularity, SQL_MODULARITY),
    "acf_lags": (q_acf_lags, SQL_ACF_LAGS),
    "regression_influence": (q_regression_influence, SQL_REGRESSION_INFLUENCE),
    "mantel_haenszel": (q_mantel_haenszel, SQL_MANTEL_HAENSZEL),
    "friedman_test": (q_friedman_test, SQL_FRIEDMAN_TEST),
    "cochran_q": (q_cochran_q, SQL_COCHRAN_Q),
    "durbin_watson": (q_durbin_watson, SQL_DURBIN_WATSON),
    "effect_sizes": (q_effect_sizes, SQL_EFFECT_SIZES),
    "community_quality": (q_community_quality, SQL_COMMUNITY_QUALITY),
    "welch_anova": (q_welch_anova, SQL_WELCH_ANOVA),
    "grubbs_test": (q_grubbs_test, SQL_GRUBBS_TEST),
    "runs_test": (q_runs_test, SQL_RUNS_TEST),
    "moods_median": (q_moods_median, SQL_MOODS_MEDIAN),
    "regression_adjustment": (q_regression_adjustment, SQL_REGRESSION_ADJUSTMENT),
    "group_sequential": (q_group_sequential, SQL_GROUP_SEQUENTIAL),
    "seasonal_naive": (q_seasonal_naive, SQL_SEASONAL_NAIVE),
    "partial_correlation": (q_partial_correlation, SQL_PARTIAL_CORRELATION),
    "gamma_somers_d": (q_gamma_somers_d, SQL_GAMMA_SOMERS_D),
    "risk_ratios": (q_risk_ratios, SQL_RISK_RATIOS),
    "ratio_metric_ci": (q_ratio_metric_ci, SQL_RATIO_METRIC_CI),
    "quantile_share": (q_quantile_share, SQL_QUANTILE_SHARE),
    "jonckheere": (q_jonckheere, SQL_JONCKHEERE),
    "page_trend": (q_page_trend, SQL_PAGE_TREND),
    "yuen_t": (q_yuen_t, SQL_YUEN_T),
    "tvd_drift": (q_tvd_drift, SQL_TVD_DRIFT),
    "bland_altman": (q_bland_altman, SQL_BLAND_ALTMAN),
    "wilson_ci": (q_wilson_ci, SQL_WILSON_CI),
    "sign_test": (q_sign_test, SQL_SIGN_TEST),
    "poisson_rate": (q_poisson_rate, SQL_POISSON_RATE),
    "hodges_lehmann": (q_hodges_lehmann, SQL_HODGES_LEHMANN),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
