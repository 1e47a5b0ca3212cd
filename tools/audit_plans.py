#!/usr/bin/env python
"""Dump physical-plan facts for every headline query into PLANS.md —
plan-shape evidence (pushdown, broadcast, exchange count, codegen
coverage AND codegen compile health) alongside the timing numbers in
BASELINE.md.

Plans are built with AQE disabled so CollapseCodegenStages runs at plan
time and every WholeStageCodegen subtree can be janino-compiled
statically (with AQE on, codegen stages only form per query stage at
execution and the silent runtime fallback — janino >64KB → interpreted
expression tree, round 5's 138s ams_f2 — is invisible to any static
audit). Exits non-zero if any query has a codegen stage that would be
disabled at runtime.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench
import __spark_entry__ as entry_mod
from revtron_utils_spark.plans.audit import (
    HUGE_METHOD_LIMIT,
    PlanFacts,
    codegen_compile_stats,
)
from revtron_utils_spark.session import get_spark


# A CASE expression with more branches than this in ONE projection is
# treated as a driver-built per-key chain (the data-cardinality cousin
# of the ams_f2 codegen blowup) — thresholds belong in a broadcast-
# joined table (see curation._threshold_table), not the expression tree.
CASE_BRANCH_LIMIT = 64

# Queries whose unpartitioned Window is bounded by construction —
# audited one by one (r8). Two legitimate shapes:
#   (a) rank over an already-`.limit(top_k)`-ed frame (≤ k rows; the
#       static check can't see the upstream TakeOrderedAndProject):
#       skew_report, join_size_estimate, vocab_drift, hybrid_search
#       (RRF over top-k shortlists), rolling_wau (bounded day spine
#       after a distinct-day aggregate).
#   (b) rank/cumsum over a DOCUMENTED caller-bounded spine (score
#       histograms, bucketed time, label sets, 9 Benford digits,
#       O(strata)/O(raters) frames) — ks_test and gain_curve
#       additionally enforce the bound at runtime via
#       guards.require_bounded_spines.
# Composition gates (analytics_pipeline, preference_pipeline,
# attribution_multi_touch) inherit shape (b) from their members.
# Anything NOT listed here that plans an unpartitioned window fails.
BOUNDED_SPINE_OK: set[str] = {
    # (a) post-limit ranks
    "skew_report",
    "join_size_estimate",
    "vocab_drift",
    "hybrid_search",
    "rolling_wau",
    # (b) caller-bounded spines
    "ks_test",
    "mann_whitney",  # require_bounded_spines-guarded value spine (r9)
    "bh_fdr",  # require_bounded_spines-guarded test family (r9)
    "kruskal_wallis",  # require_bounded_spines-guarded value spine (r10)
    "moods_median",  # require_bounded_spines-guarded grand-median spine (r10)
    "cramer_von_mises",  # same guarded bucket spine as ks_test (r11)
    "dunn_test",  # same guarded doubled-midrank spine as kruskal_wallis (r11)
    "dataset_card",  # median over the bounded document-LENGTH histogram (r11)
    "lorenz_curve",  # cumsum over the <= n_bands band frame (r11)
    "group_sequential",  # cumsum over the <= K(looks) aggregated frame (r12)
    "gain_curve",
    "cusum_changepoint",
    "theil_sen",
    "seasonality",
    "logrank_test",
    "benford_digits",
    "scorer_spearman",
    "score_auc",
    "gini_split",
    "rfm_segments",
    "neyman_allocation",
    "majority_vote",
    # compositions of (b) members
    "analytics_pipeline",
    "preference_pipeline",
    "attribution_multi_touch",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    # AQE off: materialize WholeStageCodegen subtrees at plan time so the
    # wscg column is real and each stage can be compile-checked
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    queries = entry_mod.queries()

    rows = []
    unhealthy: list[str] = []
    for name in bench.HEADLINE:
        try:
            df = queries[name](spark, sf_dir)
            f = PlanFacts.of(df)
            join = (
                "broadcast"
                if f.has_broadcast_join
                else "sort-merge"
                if f.has_sort_merge_join
                else "bnl"
                if f.has_bnl_join
                else "—"
            )
            stats = codegen_compile_stats(df)
            if stats:
                worst = max(s.max_method_code_size for s in stats)
                bad = [s for s in stats if not s.healthy]
                cg = f"FAIL({worst})" if bad else str(worst)
                if bad:
                    unhealthy.append(name)
            else:
                cg = "—"  # no codegen stages formed (e.g. pure python path)
            case_cell = str(f.max_case_branches)
            if f.max_case_branches > CASE_BRANCH_LIMIT:
                case_cell = f"FAIL({f.max_case_branches})"
                unhealthy.append(f"{name}[case-chain]")
            if f.unpartitioned_windows and name in BOUNDED_SPINE_OK:
                w0_cell = f"{f.unpartitioned_windows} (bounded)"
            elif f.unpartitioned_windows:
                w0_cell = f"FAIL({f.unpartitioned_windows})"
                unhealthy.append(f"{name}[unpartitioned-window]")
            else:
                w0_cell = "0"
            rows.append(
                (
                    name,
                    f.exchanges,
                    join,
                    "yes" if f.pushed_filters else "—",
                    max(f.codegen_stages, len(stats)),
                    "yes" if f.has_take_ordered else "—",
                    cg,
                    case_cell,
                    w0_cell,
                )
            )
        except Exception as e:  # pragma: no cover - diagnostic path
            rows.append((name, "?", f"error: {e}", "", "", "", "", "", ""))

    lines = [
        "# PLANS — physical-plan audit of the headline suite",
        "",
        f"Generated by `python tools/audit_plans.py {sf_dir}` (AQE disabled",
        "at plan time so codegen stages materialize statically). Facts",
        "parsed from `explain(formatted)` by `plans/audit.py::PlanFacts`:",
        "**exch** = Exchange (shuffle/broadcast) operators in the plan,",
        "**join** = dominant join strategy, **pushed** = filters reached the",
        "parquet scan, **wscg** = distinct WholeStageCodegen spans, **topk** =",
        "TakeOrderedAndProject (per-partition heaps, no global sort),",
        "**cgmax** = largest janino-compiled method (bytes) across the",
        f"query's codegen stages — must stay ≤ {HUGE_METHOD_LIMIT} or Spark",
        "silently falls back to interpreting the expression tree per row",
        "(FAIL(-1) = generated code does not compile at all),",
        "**case** = largest CASE-WHEN branch count in one projection —",
        f"above {CASE_BRANCH_LIMIT} is treated as a driver-built per-key",
        "chain and fails (thresholds belong in a broadcast-joined table),",
        "**w0** = Window operators with NO partition spec — all rows to",
        "one task; fails unless the query is in the audited",
        'bounded-spine allowlist (shown as "(bounded)").',
        "",
        "Shuffle-free scans (pure projections/generators) show exch=0; the",
        "iterative operators (connected components, pagerank) report the",
        "per-round plan of their final assembled DataFrame (a checkpoint",
        "scan — hence pagerank's exch=0). Conversely, operators that fan a",
        "dedup._persist'd intermediate into several branches (e.g.",
        "triangle_counts: canon feeds deg+ann, oriented feeds 3 joins) are",
        "audited BEFORE the cache materializes, so the static plan repeats",
        "the upstream subtree per branch and inflates exch; at runtime the",
        "InMemoryRelation computes once and the real exchange count is the",
        "single-branch figure.",
        "",
        "| query | exch | join | pushed | wscg | topk | cgmax | case | w0 |",
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    Path("PLANS.md").write_text("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    if unhealthy:
        print(f"PLAN AUDIT FAILURES ({len(unhealthy)}): {', '.join(unhealthy)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
