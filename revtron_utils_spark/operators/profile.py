"""Table profiling — per-column statistics in ONE aggregation pass
(null counts, distinct estimates, numeric min/max/mean, string lengths),
the data-quality sweep a pipeline runs before training ingestion.

Everything folds into a single ``agg`` so Spark computes the whole
profile in one scan + one reduce regardless of column count — never one
job per column. Distinct counts default to HLL++ (``approx_distinct``)
because exact per-column distincts are the scan-dominating cost at
100 TB; pass ``approx_distinct=False`` for oracle-exact profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .guards import integral_long

_NUMERIC = (T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.ShortType)


from .hypothesis_tests import (  # noqa: F401  (re-export: split round 12)
    ks_test,
    ks_test_oracle_sql,
    mann_whitney,
    mann_whitney_oracle_sql,
    kruskal_wallis,
    kruskal_wallis_oracle_sql,
    anova_oneway,
    anova_oneway_oracle_sql,
    brown_forsythe,
    brown_forsythe_oracle_sql,
    friedman_test,
    friedman_test_oracle_sql,
    cochran_q,
    cochran_q_oracle_sql,
    welch_anova,
    welch_anova_oracle_sql,
    grubbs_test,
    grubbs_test_oracle_sql,
    moods_median,
    moods_median_oracle_sql,
    cramer_von_mises,
    cramer_von_mises_oracle_sql,
    tukey_hsd,
    tukey_hsd_oracle_sql,
    dunn_test,
    dunn_test_oracle_sql,
)
from .association import (  # noqa: F401  (re-export: split round 12)
    contingency_chi2,
    contingency_chi2_oracle_sql,
    cramers_v,
    cramers_v_oracle_sql,
    cochran_armitage,
    cochran_armitage_oracle_sql,
    odds_ratio,
    odds_ratio_oracle_sql,
    mantel_haenszel,
    mantel_haenszel_oracle_sql,
    spearman_corr,
    spearman_corr_oracle_sql,
    kendall_tau,
    kendall_tau_oracle_sql,
    correlation_matrix,
    correlation_matrix_oracle_sql,
)
from .experiment import (  # noqa: F401  (re-export: split round 12)
    grouped_linreg,
    grouped_linreg_oracle_sql,
    cuped_adjustment,
    cuped_adjustment_oracle_sql,
    did_estimate,
    did_estimate_oracle_sql,
    bh_fdr,
    bh_fdr_oracle_sql,
    loo_group_influence,
    loo_group_influence_oracle_sql,
    propensity_strata_effect,
    propensity_strata_effect_oracle_sql,
    effect_sizes,
    effect_sizes_oracle_sql,
    regression_influence,
    regression_influence_oracle_sql,
    iv_wald,
    iv_wald_oracle_sql,
    srm_check,
    srm_check_oracle_sql,
    ols_two_factor,
    ols_two_factor_oracle_sql,
    sample_size_power,
    sample_size_power_oracle_sql,
)
from .concentration import (  # noqa: F401  (re-export: split round 12)
    _BENFORD_P,
    _hbos_width_guard,
    rolling_zscore,
    token_diversity,
    token_diversity_oracle_sql,
    vocab_drift,
    vocab_drift_oracle_sql,
    vocab_richness,
    vocab_richness_oracle_sql,
    concentration_gini,
    concentration_gini_oracle_sql,
    benford_deviation,
    benford_deviation_oracle_sql,
    hellinger_drift,
    hellinger_drift_oracle_sql,
    chapman_estimate,
    chapman_estimate_oracle_sql,
    slice_overlap,
    slice_overlap_oracle_sql,
    hbos_scores,
    hbos_scores_oracle_sql,
    winsorized_stats,
    winsorized_stats_oracle_sql,
    hhi_concentration,
    hhi_concentration_oracle_sql,
    lorenz_curve,
    lorenz_curve_oracle_sql,
)


def profile_table(df: DataFrame, approx_distinct: bool = True) -> DataFrame:
    """One row per column: name, type, n_nulls, null_rate, n_distinct
    (approximate by default), and for numeric columns min/max/mean, for
    strings min/max length. Single scan, single reduce."""
    n_col = F.count(F.lit(1))
    aggs = [n_col.alias("__n")]
    specs = []
    for f in df.schema.fields:
        c = F.col(f.name)
        prefix = f.name
        aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{prefix}__nulls"))
        distinct = (
            F.approx_count_distinct(f.name)
            if approx_distinct
            else F.countDistinct(f.name)
        )
        aggs.append(distinct.alias(f"{prefix}__distinct"))
        if isinstance(f.dataType, _NUMERIC):
            aggs += [
                F.min(c).cast("double").alias(f"{prefix}__min"),
                F.max(c).cast("double").alias(f"{prefix}__max"),
                F.round(F.avg(c), 6).alias(f"{prefix}__mean"),
            ]
            kind = "numeric"
        elif isinstance(f.dataType, T.StringType):
            aggs += [
                F.min(F.length(c)).cast("double").alias(f"{prefix}__min"),
                F.max(F.length(c)).cast("double").alias(f"{prefix}__max"),
                F.lit(None).cast("double").alias(f"{prefix}__mean"),
            ]
            kind = "string_len"
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"{prefix}__min"),
                F.lit(None).cast("double").alias(f"{prefix}__max"),
                F.lit(None).cast("double").alias(f"{prefix}__mean"),
            ]
            kind = "other"
        # normalize engine-specific spellings (Spark reads non-UTC
        # parquet timestamps as timestamp_ntz)
        dtype = f.dataType.simpleString().replace("timestamp_ntz", "timestamp")
        specs.append((f.name, dtype, kind))

    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__n"]
    out = [
        {
            "column": name,
            "dtype": dtype,
            "stat_kind": kind,
            "n_rows": n,
            "n_nulls": row[f"{name}__nulls"],
            "null_rate": round(row[f"{name}__nulls"] / n, 6) if n else None,
            "n_distinct": row[f"{name}__distinct"],
            "min": row[f"{name}__min"],
            "max": row[f"{name}__max"],
            "mean": row[f"{name}__mean"],
        }
        for name, dtype, kind in specs
    ]
    spark = df.sparkSession
    schema = (
        "column string, dtype string, stat_kind string, n_rows bigint, n_nulls bigint, "
        "null_rate double, n_distinct bigint, min double, max double, mean double"
    )
    return spark.createDataFrame(out, schema)
