"""Generated code is kept across queries: a cycle of short queries run a
second time compiles no new class (``get_spark`` sizes Spark's codegen
cache; at Spark's default of 100 entries the second round recompiles
most of what the first one made)."""

from __future__ import annotations

from bench import release, run_noop
from revtron_utils_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
)

#: the short registry reads of the benchmark's ``interactive`` workload
#: (145 distinct generated classes, more than Spark's default cache holds)
SHORT_READS = (
    "where_eq where_in where_not_in where_like where_not_like where_null_checks "
    "where_between where_not_between where_theta where_or sort_limit_offset "
    "count_star table_size_profile raw_sql flagship groupby_q1 join_q3 revenue_q6 "
    "exists_q4 having_q18 rollup grouping_sets window_topk tumbling_counts "
    "curation_pipeline"
).split()


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    # integer literals are inlined into the generated code, so this
    # projection is a class no other query makes: compiled once, then hit
    made = []
    for _ in range(2):
        c0 = codegen_compiles(spark)
        spark.range(4).selectExpr("id * 7919 + 104729 AS x").collect()
        made.append(codegen_compiles(spark) - c0)
    assert made[0] > 0 and made[1] == 0


def test_second_round_of_short_reads_compiles_nothing(spark, sf_dir):
    import __spark_entry__

    queries = __spark_entry__.queries()

    def round_compiles() -> dict[str, int]:
        out = {}
        for name in SHORT_READS:
            c0 = codegen_compiles(spark)
            run_noop(queries[name], spark, sf_dir)
            release(spark)
            out[name] = codegen_compiles(spark) - c0
        return out

    round_compiles()
    again = {n: c for n, c in round_compiles().items() if c}
    assert not again, f"{sum(again.values())} classes recompiled: {again}"
