"""revtron_utils_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``ditat-llc/revtron-utils``, rebuilt
Spark-first (DataFrame/SQL + Catalyst; Structured Streaming for
incremental sync) rather than ported.

Public surface:
    Engine       — the ``Database`` analog (get/upsert/update/delete/catalog)
    ColumnModel  — declarative column spec (``Database.ColumnModel`` analog)
    get_spark    — tuned SparkSession factory
    timer        — instrumentation decorator (``revtron.functions.time.timer``)
    compile_where— the where-DSL → Column compiler
"""

from .dsl import WhereDSLError, compile_where, kwargs_filters
from .engine import ColumnModel, Engine
from .functions.timer import timer
from .operators.merge import (
    MergeKeyError,
    delete_where,
    keyed_update,
    observe_hits,
    upsert_merge,
    upsert_merge_many,
)
from .session import get_spark

# compat alias: the reference exposes `Database`
Database = Engine

__all__ = [
    "ColumnModel",
    "Database",
    "Engine",
    "MergeKeyError",
    "WhereDSLError",
    "compile_where",
    "delete_where",
    "get_spark",
    "keyed_update",
    "kwargs_filters",
    "observe_hits",
    "timer",
    "upsert_merge",
    "upsert_merge_many",
]

__version__ = "0.1.0"
