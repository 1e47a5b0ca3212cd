#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced end-to-end with the ``noop`` sink (full computation,
no driver-side result transfer), timed wall-clock after a warm-up of the
session itself.
"""

from __future__ import annotations

import json
import os
import sys
import time
import weakref
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entry_mod
from revtron_utils_spark.session import get_spark

HEADLINE = [
    "flagship",
    # The multi-stage composition pipelines run FIRST (round-9 verdict
    # task 2): at suite position ~170 they measured 3-4x their isolated
    # cost under accumulated host/JVM pressure while their components
    # didn't — running them before 180 queries of heap churn makes the
    # recorded number comparable to an isolated run. Per-query
    # round-over-round diffs for these six must compare r10+ to
    # isolated r9 re-times, not to r9 in-suite positions.
    "curation_pipeline",
    "corpus_pipeline",
    "embedding_pipeline",
    "embedding_pipeline_scaled",
    "analytics_pipeline",
    "preference_pipeline",
    "where_theta",
    "groupby_q1",
    "join_q3",
    "join_q5",
    "window_topk",
    "rollup",
    "sessionize",
    "asof_join",
    "asof_forward",
    "grouping_sets",
    "range_join",
    "tumbling_counts",
    "incremental_merge",
    "upsert_nullpreserve",
    "dedup_exact",
    "token_stats",
    "text_quality",
    "quality_classifier",
    "gopher_filters",
    "ngram_counts",
    "rarity_scores",
    "quantile_filter",
    "importance_weights",
    "lm_score",
    "kneser_ney",
    "perplexity_filter",
    "embedding_decontaminate",
    "deterministic_shuffle",
    "leakage_safe_split",
    "image_resize",
    "minhash_pairs",
    "minhash_pairs_poly",
    "simhash_pairs",
    "simhash_pairs_poly",
    "cosine_topk",
    "cosine_neardup",
    "cosine_neardup_lsh",
    "cosine_neardup_lsh_poly",
    "semdedup",
    "percentiles",
    "dedup_clusters",
    "doc_chunks",
    "sequence_packing",
    "pii_scan",
    "decontaminate",
    "train_test_split",
    "correlated_avg",
    "skew_stress",
    "fuzzy_pairs",
    "rollup_maintenance",
    "sketch_rollup",
    "exists_q4",
    "outerjoin_q13",
    "mincost_q2",
    "market_share_q8",
    "important_stock_q11",
    "shipmode_q12",
    "top_supplier_q15",
    "supplier_cnt_q16",
    "potential_promo_q20",
    "waiting_q21",
    "window_range_frame",
    "returned_q10",
    "having_q18",
    "disjunctive_q19",
    "revenue_q6",
    "session_agg",
    "bm25_topk",
    "dup_spans",
    "mixture_sample",
    "cap_per_domain",
    "token_budget",
    "funnel_steps",
    "cohort_retention",
    "rolling_wau",
    "pagerank",
    "triangle_counts",
    "hybrid_search",
    "collocations",
    "pq_ann",
    "decontaminate_bloom",
    "cms_counts",
    "approx_distinct_poly",
    "minhash_pairs_capped",
    "html_extract",
    "line_dedup",
    "url_normalize",
    "warc_extract",
    "avg_qty_q17",
    "kmv_distinct",
    "kmv_intersect",
    "ngram_containment",
    "robust_stats",
    "embedding_outliers",
    "mojibake_fix",
    "grouped_linreg",
    "contingency_chi2",
    "attribution_multi_touch",
    "event_transitions",
    "ab_test",
    "ngram_decontaminate",
    "label_propagation",
    "top_paths",
    "ams_f2",
    "rolling_zscore",
    "cdc_apply",
    "table_diff",
    "k_core",
    "token_diversity",
    "skew_report",
    "majority_vote",
    "annotator_kappa",
    "bradley_terry",
    "win_rate_wilson",
    "compression_ratio",
    "vocab_drift",
    "scorer_spearman",
    "degree_assortativity",
    "classifier_eval",
    "score_auc",
    "vocab_richness",
    "concentration_gini",
    "streaming_tumbling",
    "calibration",
    "join_size_estimate",
    "kaplan_meier",
    "cusum_changepoint",
    "mann_kendall",
    "association_rules",
    "rfm_segments",
    "link_prediction",
    "bootstrap_ci",
    "benford_digits",
    "streaming_sliding",
    "ewma_series",
    "theil_sen",
    "seasonality",
    "hellinger_drift",
    "dispersion_index",
    "logrank_test",
    "fleiss_kappa",
    "prop_ztest",
    "cramers_v",
    "population_estimate",
    "neyman_allocation",
    "integrity_audit",
    "holt_forecast",
    "ks_test",
    "gini_split",
    "distribution_match",
    "slice_overlap",
    "mcnemar_test",
    "gain_curve",
    "cohort_ltv",
    "hits",
    "permutation_test",
    "readability",
    "rake_keywords",
    "tfidf_cosine",
    "hbos_outliers",
    "dawid_skene",
    "entity_resolution",
    "cuped",
    "seasonal_outliers",
    "conformal_bounds",
    "markov_attribution",
    "percentile_normalize",
    "contrastive_pairs",
    "mann_whitney",
    "did_estimate",
    "bh_fdr",
    "harmonic_centrality",
    "loo_influence",
    "clustering_coefficient",
    "propensity_effect",
    "ece",
    "trend_test",
    "dedup_canonical",
    "page_hinkley",
    "odds_ratio",
    "kruskal_wallis",
    "anova_f",
    "brown_forsythe",
    "kendall_tau",
    "ndcg_at_k",
    "mean_avg_precision",
    "matthews_corr",
    "cronbach_alpha",
    "modularity",
    "acf_lags",
    "regression_influence",
    "mantel_haenszel",
    "friedman_test",
    "cochran_q",
    "durbin_watson",
    "effect_sizes",
    "community_quality",
    "welch_anova",
    "grubbs_test",
    "runs_test",
    "moods_median",
    # round-11 wave
    "ivf_ann_poly",
    "pq_ann_poly",
    "cramer_von_mises",
    "winsorized_stats",
    "correlation_matrix",
    "krippendorff_alpha",
    "shapley_attribution",
    "brier_decomposition",
    "ngram_novelty",
    "tukey_hsd",
    "dunn_test",
    "iv_wald",
    "srm_check",
    "mrr_at_k",
    "ffill_series",
    "ols_two_factor",
    "dataset_card",
    "sample_size_power",
    "hhi_concentration",
    "lorenz_curve",
    # round-12 wave
    "regression_adjustment",
    "group_sequential",
    "seasonal_naive",
    "partial_correlation",
    "gamma_somers_d",
    "risk_ratios",
    "ratio_metric_ci",
    "quantile_share",
    "jonckheere",
    "page_trend",
    "yuen_t",
    "tvd_drift",
    "bland_altman",
    "wilson_ci",
    "sign_test",
    "poisson_rate",
    "hodges_lehmann",
]


# Fixed per-query subset for the FINAL summary line (r13, VERDICT task
# 6): the driver captures only the last ~2000 bytes of stdout and parses
# the LAST line, so the 245-entry map of the detail line never reaches
# it (r4's long single line was lost the same way) and PERF per_query /
# scaling stayed empty for two rounds. This list is FIXED — the driver
# diffs common queries round-over-round, so names must stay stable: the
# top-45 by r13-baseline min-of-passes cost, plus the TPC-H canaries,
# the r12 weak-tail watch list, and the reworked LSH/ANN queries. At
# 2-decimal values the summary line stays ≈1.5 kB (asserted below).
# Append only; never remove or rename.
SUMMARY_QUERIES = [
    "community_quality", "dawid_skene", "corpus_pipeline", "pagerank",
    "clustering_coefficient", "harmonic_centrality", "perplexity_filter",
    "robust_stats", "hits", "analytics_pipeline", "label_propagation",
    "preference_pipeline", "embedding_pipeline", "triangle_counts",
    "lm_score", "k_core", "kneser_ney", "embedding_pipeline_scaled",
    "ams_f2", "calibration", "leakage_safe_split", "ngram_novelty",
    "fuzzy_pairs", "ece", "brier_decomposition", "dedup_canonical",
    "cronbach_alpha", "bradley_terry", "link_prediction",
    "conformal_bounds", "kmv_intersect", "dedup_clusters",
    "markov_attribution", "ngram_containment", "krippendorff_alpha",
    "modularity", "degree_assortativity", "streaming_tumbling",
    "cochran_q", "permutation_test", "correlation_matrix", "page_trend",
    "partial_correlation", "kmv_distinct", "streaming_sliding",
    "join_q3", "groupby_q1", "where_theta", "rollup", "sign_test",
    "jonckheere", "yuen_t", "bland_altman", "cosine_neardup_lsh",
    "cosine_neardup_lsh_poly", "pq_ann_poly", "flagship",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark(app_name="revtron-bench")
    warm_session(spark, sf_dir)

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    qmin: dict[str, float] = {}
    gc_ms: dict[str, int] = {}
    loadavg: dict[str, float] = {}
    suspects: dict[str, dict] = {}
    errors: dict[str, str] = {}

    # JVM GC-time counter (round-9 verdict task 2): per-query GC delta
    # distinguishes "plan regressed" from "suite heap pressure at
    # position ~170" without isolated re-timing
    try:
        _gc_beans = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

        def _gc_now() -> int:
            return sum(b.getCollectionTime() for b in _gc_beans)

    except Exception:  # pragma: no cover - py4j internals moved

        def _gc_now() -> int:
            return 0

    for name in HEADLINE:
        fn = queries[name]
        # 1-minute loadavg sampled at query START (round-11 verdict task
        # 7): host-epoch adjudication of an elevated number becomes
        # data-driven — a spike whose load column is high is the host,
        # not the plan. Our own 32 worker threads contribute, so read
        # this as a RELATIVE trace along the suite, not an absolute.
        try:
            loadavg[name] = round(os.getloadavg()[0], 2)
        except OSError:  # pragma: no cover - non-POSIX
            pass
        g0 = _gc_now()
        try:
            timings[name] = round(run_noop(fn, spark, sf_dir), 3)
            gc_ms[name] = _gc_now() - g0
        except Exception as exc:  # one broken query must not zero the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            release(spark)
            continue
        # warm (steady-state) pass: same full recompute — caches are
        # dropped between the two executions — but with the query's
        # codegen/JIT already compiled, i.e. what a long-lived cluster
        # session pays per run. Cold stays the headline (methodology
        # stable across rounds); warm isolates single-threaded Janino/
        # JIT compile bursts, which host contention inflates most.
        release(spark)
        try:
            warm[name] = round(run_noop(fn, spark, sf_dir), 3)
        except Exception:
            pass
        finally:
            release(spark)
        # Outlier triage (round-9 verdict task 1): a single-run host
        # spike (top_supplier_q15 recorded 8.38s cold in r9-final vs
        # ~1.2s real) used to be indistinguishable from a regression.
        # When cold is >2x warm by >1s, run a THIRD pass — two warm
        # samples agreeing means the cold number was the spike; the
        # suspect record carries all three so the round-over-round diff
        # never keys off a single sample.
        w = warm.get(name)
        passes = [timings[name]] + ([w] if w is not None else [])
        if w is not None and timings[name] > max(2 * w, w + 1.0):
            try:
                w2 = round(run_noop(fn, spark, sf_dir), 3)
                passes.append(w2)
                suspects[name] = {
                    "cold": timings[name],
                    "warm": w,
                    "warm2": w2,
                    "loadavg": loadavg.get(name),
                }
            except Exception:
                pass
            finally:
                release(spark)
        qmin[name] = round(min(passes), 3)

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_warm": round(sum(warm.values()), 3),
        "queries_warm": warm,
        "queries_min": qmin,
        "value_min": round(sum(qmin.values()), 3),
        "queries_gc_ms": gc_ms,
        "queries_loadavg": loadavg,
        "suspects": suspects,
        "sf": sf,
    }
    if errors:
        # value covers only the surviving queries — flag it so a broken
        # query can't masquerade as a round-over-round speedup
        detail["errors"] = errors
        detail["incomplete"] = True
    # Per-query detail goes to a file AND an early stdout line; the LAST
    # stdout line is a compact summary that survives any fixed-size tail
    # capture (round 4's 84-entry dicts outgrew the driver's tail buffer
    # and the official number was lost to truncation).
    Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
        json.dumps(detail, indent=2) + "\n"
    )
    print(json.dumps(detail))
    summary = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "value_warm": detail["value_warm"],
        "n_queries": len(timings),
        "sf": sf,
        # fixed per-query subset (cold seconds, the same numbers as the
        # detail line's "queries") sized to survive the driver's
        # fixed-size stdout tail capture — see SUMMARY_QUERIES
        "queries": {
            n: round(timings[n], 2) for n in SUMMARY_QUERIES if n in timings
        },
    }
    if errors:
        summary["errors"] = {k: v[:80] for k, v in errors.items()}
        summary["incomplete"] = True
    line = json.dumps(summary)
    while len(line) > 1800 and summary["queries"]:
        # never let the last line outgrow the driver's tail buffer — the
        # headline value must always parse; drop subset entries from the
        # end (lowest-priority) until it fits
        summary["queries"].pop(list(summary["queries"])[-1])
        line = json.dumps(summary)
    print(line)
    if errors:
        sys.exit(2)


_WARMED: weakref.WeakSet = weakref.WeakSet()


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM/session so the first timed query doesn't pay startup
    cost; a session is warmed once. The ``region`` read is skipped when
    ``sf_dir`` has no region table (the scale-study fixture directories)."""
    if spark in _WARMED:
        return
    _WARMED.add(spark)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # ...and the Arrow Python workers (pandas/numpy import once per
    # worker): the first pandas_udf query would otherwise be charged
    # ~5s of interpreter spawn that isn't query work
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s

    spark.range(256).repartition(64).select(
        _warm(col("id").cast("double"))
    ).collect()
    # ...and the parquet datasource + noop sink (first read otherwise pays
    # ~2s of JVM class-loading that isn't query work; a long-lived cluster
    # session is always past this point)
    from revtron_utils_spark.io import read_table

    if os.path.exists(f"{sf_dir}/region.parquet"):
        read_table(spark, sf_dir, "region").write.mode("overwrite").format(
            "noop"
        ).save()
    # ...and the in-memory columnar cache: the session's FIRST
    # CachedBatch build pays ~2s of one-time codegen/JIT (measured at
    # sf0.1 — a 270k-row persist cost 2.9s first, 0.5s after) that
    # would otherwise be charged to whichever query persists first
    _wc = spark.range(100_000).selectExpr("cast(id as string) s", "id").persist()
    _wc.count()
    _wc.unpersist()


def release(spark) -> None:
    """Release frames persisted inside operators, so queries don't
    compete with earlier queries' caches for executor memory."""
    from revtron_utils_spark.operators.dedup import release_caches

    release_caches()
    spark.catalog.clearCache()


def run_noop(fn, spark, sf_dir: str) -> float:
    """Build query ``fn`` and force it end-to-end with the ``noop`` sink;
    returns the wall seconds of build plus execution."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
