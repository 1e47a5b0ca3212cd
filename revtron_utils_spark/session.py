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

import logging
import os
from pathlib import Path

from pyspark.sql import SparkSession

#: directory holding the ``revtron_utils_spark`` package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
_DEFAULT_JAVA_OPTIONS_KEY = "spark.driver.defaultJavaOptions"

_log = logging.getLogger(__name__)

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

#: HotSpot's tier-4 (C2) compile thresholds for the driver JVM (in local
#: mode the executors run in it too), 5x their JDK 17 defaults (5000,
#: 600, 15000, 40000). The JVM lives for seconds, and at the defaults C2
#: spends them on planner code that runs a few thousand times and is
#: never hot again: on a benchmark ``interactive`` run (4 vCPUs) the JIT
#: threads used 8.2 of the cold pass's 14.1 JVM thread-CPU seconds, and
#: ``-XX:+CITime`` reported 31.4 s of C2 over 3,831 methods (JDK, Janino,
#: Catalyst, Scala collections; generated classes only 1.7 s), against
#: 5.6 s of C1. At 5x, C2 took 12.4 s over 2,236 methods, and
#: ``interactive`` ``warm_cpu_s`` fell ~27% and ``cold_cpu_s`` ~23%.
#: Warm-but-not-hot methods stay on C1 code; data loops cross 200k
#: back-edges almost at once and still reach C2. Sizing on a 100M-row
#: ``range -> groupBy`` aggregate (steady state): 5x cost 0.54/0.59 ->
#: 0.62/0.60 s; 10x cost +33%, ``CompileThresholdScaling=10`` (C1 too)
#: +62%, and ``TieredStopAtLevel=1`` (no C2) 2.5x. JVM flags apply at
#: launch only: a JVM that ``get_spark`` did not start keeps its own.
JIT_TIER4_THRESHOLDS = {
    "Tier4InvocationThreshold": 25000,
    "Tier4MinInvocationThreshold": 3000,
    "Tier4CompileThreshold": 75000,
    "Tier4BackEdgeThreshold": 200000,
}


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

    The driver JVM starts with :data:`JIT_TIER4_THRESHOLDS` in
    ``spark.driver.defaultJavaOptions``; a caller's value of that option
    is appended after them and ``spark.driver.extraJavaOptions`` comes
    later still, so a caller's flag wins. JVM flags apply at launch
    only: attached to a JVM started elsewhere whose thresholds are not
    the engine's, it logs a warning.
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
    # engine flags first: a caller's defaultJavaOptions, then Spark's
    # extraJavaOptions, come after them and win
    jit_flags = " ".join(f"-XX:{k}={v}" for k, v in JIT_TIER4_THRESHOLDS.items())
    caller_opts = conf.get(_DEFAULT_JAVA_OPTIONS_KEY, "")
    conf[_DEFAULT_JAVA_OPTIONS_KEY] = f"{jit_flags} {caller_opts}".rstrip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warn_if_jit_policy_missing(spark, jit_flags)
    return spark


def _warn_if_jit_policy_missing(spark: SparkSession, jit_flags: str) -> None:
    """Log a warning if this JVM was started without ``jit_flags`` (not
    by ``get_spark``) and its tier-4 thresholds are not the engine's: JVM
    flags cannot change after start."""
    have = jit_thresholds(spark)
    if have == JIT_TIER4_THRESHOLDS:
        return
    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    if jit_flags in jvm.java.lang.String.join(" ", args):
        return  # launched by get_spark; a caller's flag overrode ours
    _log.warning(
        "JVM tier-4 JIT thresholds are %s, not %s: this JVM was started "
        "without get_spark's launch options, and JIT policy cannot apply "
        "after start (C2 will compile lukewarm planner code)",
        have,
        JIT_TIER4_THRESHOLDS,
    )


def jit_thresholds(spark: SparkSession) -> dict[str, int]:
    """The JVM's values of the flags in :data:`JIT_TIER4_THRESHOLDS`."""
    jvm = spark.sparkContext._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    return {k: int(bean.getVMOption(k).getValue()) for k in JIT_TIER4_THRESHOLDS}


def jit_compile_seconds(spark: SparkSession) -> float:
    """JIT compile time (all compiler threads, C1 and C2) of this JVM so
    far, in seconds; the delta over a query is the JIT work it caused
    (compiles run on background threads, so some land after it)."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far: a
    cache miss compiles, a hit does not, so the delta over a query is the
    number of classes it had to (re)generate."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
