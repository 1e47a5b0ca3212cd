"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to the environment instead of the legacy 200,
UTC session timezone (required for DuckDB-oracle comparison), and
Arrow enabled for the Pandas-UDF slow path.

At 100 TB these same knobs are what matter: ``spark.sql.adaptive.*``
handles skew and small-partition coalescing after each shuffle, and
``spark.sql.files.maxPartitionBytes`` bounds scan task size.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: directory holding the ``revtron_utils_spark`` package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"

#: bound of Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``, default 100). Each distinct generated class is one cache
#: entry, and a query makes several (whole-stage iterators, projections,
#: orderings). At 100 a cycle of queries evicts its own classes before
#: they come back: the 25 benchmark ``interactive`` ops make 145 classes,
#: and a second round of them recompiled 116 (Janino, then JIT work on
#: the new classes). Sized from the measured working set: all 325
#: registry queries at sf0.001 make 4,853 distinct classes and grow
#: Metaspace by 103 MB (~21 KB per class), so 8,192 entries hold the
#: whole registry with headroom and cost at most ~170 MB of Metaspace (an
#: evicted class can be unloaded with its own class loader). It is a
#: static conf, read once per JVM when the first class is generated: a
#: session built elsewhere (a vanilla one, or the one a ``__spark_entry__``
#: caller passes in) keeps Spark's 100 and cannot take it after start.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(
    app_name: str = "revtron_utils_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count. On a real
    cluster pass ``master=None`` and let spark-submit decide.

    Python workers fork from :mod:`revtron_utils_spark.worker_daemon`,
    which keeps each task from re-reading ``pyspark.zip``; the package
    root is appended to ``spark.executorEnv.PYTHONPATH`` so the workers
    can import it from any working directory.

    Generated code is kept across queries: the codegen cache holds
    :data:`CODEGEN_CACHE_MAX_ENTRIES` classes instead of Spark's 100.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # fixture parquet stores naive timestamp[us]; read as TIMESTAMP_LTZ
        # (UTC session) so unix_micros / window / session_window resolve —
        # Spark 4 otherwise infers TIMESTAMP_NTZ, which they reject
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # environment-driven overrides (cluster parameterization + local A/B
    # experiments): SPARK_GRAFT_CONF="spark.foo=1;spark.bar=2"
    conf = {
        "spark.python.daemon.module": "revtron_utils_spark.worker_daemon",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        conf[k.strip()] = v.strip()
    conf.update(extra_conf or {})
    paths = [p for p in conf.get(_PYTHONPATH_KEY, "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        paths.append(_PACKAGE_ROOT)
    conf[_PYTHONPATH_KEY] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far: a
    cache miss compiles, a hit does not, so the delta over a query is the
    number of classes it had to (re)generate."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
