from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite (round-11, r10 verdict task 8): the full run crossed
# 50 minutes, dominated by the hypothesis/differential modules and the
# full-registry smoke sweep. Those modules are auto-marked `slow` here
# (centrally — no per-file pytestmark drift) so the per-commit loop is
#
#     python -m pytest tests/ -q -m "not slow"     # fast tier
#     python -m pytest tests/ -q                   # full tier (round close)
#
# Membership rule: a module goes in SLOW_MODULES when its runtime is
# dominated by randomized differentials / full-registry sweeps rather
# than targeted unit+oracle checks — the fast tier must still execute
# every operator at least once (the per-operator unit/oracle tests all
# live outside these modules).
SLOW_MODULES = {
    "test_properties",            # hypothesis differentials (~5 min)
    "test_registry_smoke",        # all 306 registry queries end-to-end
    "test_lm",                    # KN/backoff hypothesis differentials
    "test_bpe",                   # distributed-BPE reference differentials
    "test_corpus_pipeline",       # end-to-end pipeline fanout/cache checks
    "test_timeseries_properties", # ewma/KM/MK property differentials
    "test_cdc",                   # cdc/table_diff python-model sweeps
    "test_drift_corr",            # vocab-drift property differential
    "test_substring",             # duplicate-span hypothesis differential
    "test_rollup_fuzzy",          # CMS/quantile-sketch error-bound sweeps
}


# Individual ≥20 s differentials inside otherwise-fast modules
# (round-12 verdict task 5): each operator named here keeps multiple
# sibling unit/oracle tests in the fast tier (verified at demotion
# time), so the per-commit loop still executes it — the full tier
# (bare pytest at round close) runs these like everything else.
SLOW_TESTS = {
    ("test_evaluation", "test_rank_auc_matches_python_model_with_ties"),
    ("test_annotation", "test_bradley_terry_property_differential"),
    ("test_pq", "test_rerank_reproduces_exact_topk"),
    ("test_dedup_similarity", "test_neardup_lsh_bench_recall"),
    ("test_graph_curation", "test_decontaminate_bloom_fp_is_failsafe_and_deterministic"),
    ("test_dedup_similarity", "test_hashed_tf_embedding_properties"),
    # second demotion pass (the 2-shard wall was 18 min): each
    # operator keeps a fast sibling — tumbling-equals-batch covers
    # streaming equivalence per commit, encode_roundtrip covers unigram
    ("test_streaming", "test_stream_interval_join_matches_batch"),
    ("test_streaming", "test_streaming_sliding_equals_batch_and_doubles_membership"),
    ("test_unigram", "test_train_hypothesis_differential"),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__ if item.module else ""
        if mod in SLOW_MODULES:
            item.add_marker(pytest.mark.slow)
        elif (mod, item.name.split("[")[0]) in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from revtron_utils_spark.session import get_spark

    spark = get_spark(app_name="revtron-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> (Spark jobs ``fn`` fired, its result),
    counted through a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"budget-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    from revtron_utils_spark import Engine

    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"))
    eng.attach_dir(sf_dir)
    return eng


def duck():
    """DuckDB connection with the fixture tables registered as views —
    mirrors the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con
