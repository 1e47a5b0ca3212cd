"""The driver JVM's JIT policy (``session.JIT_TIER4_THRESHOLDS``): the
test session runs it, a caller's JVM options are merged after it and win,
and a JVM started without it is reported, not silently slow."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from revtron_utils_spark.session import JIT_TIER4_THRESHOLDS, jit_thresholds

ROOT = Path(__file__).resolve().parent.parent


def _run_driver(tmp_path, body: str, graft_conf: str = "") -> subprocess.CompletedProcess:
    """Run ``body`` in a fresh Python driver (and so a fresh JVM) from a
    directory outside the repository; its last stdout line is the result."""
    script = f"import sys\nsys.path.insert(0, {str(ROOT)!r})\n" + textwrap.dedent(body)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    if graft_conf:
        env["SPARK_GRAFT_CONF"] = graft_conf
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out


def test_session_jvm_runs_the_engine_thresholds(spark):
    assert jit_thresholds(spark) == JIT_TIER4_THRESHOLDS


def test_caller_java_options_are_merged_after_the_engine_flags(tmp_path):
    out = _run_driver(
        tmp_path,
        """
        import json
        from revtron_utils_spark.session import get_spark, jit_thresholds
        spark = get_spark(
            app_name="jit-merge",
            master="local[1]",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    "-Dgraft.probe=1 -XX:Tier4InvocationThreshold=7000",
            },
        )
        jvm = spark.sparkContext._jvm
        runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        args = list(runtime.getInputArguments())
        print(json.dumps([jit_thresholds(spark), jvm.System.getProperty("graft.probe"),
                          jvm.System.getProperty("graft.default"), args]))
        spark.stop()
        """,
        graft_conf="spark.driver.defaultJavaOptions=-Dgraft.default=2",
    )
    have, probe, default, args = json.loads(out.stdout.strip().splitlines()[-1])
    assert (probe, default) == ("1", "2")  # neither caller option was dropped
    assert have == {**JIT_TIER4_THRESHOLDS, "Tier4InvocationThreshold": 7000}
    # engine flags, then the caller's defaultJavaOptions, then extraJavaOptions
    invocation = JIT_TIER4_THRESHOLDS["Tier4InvocationThreshold"]
    engine_at = args.index(f"-XX:Tier4InvocationThreshold={invocation}")
    assert engine_at < args.index("-Dgraft.default=2") < args.index("-Dgraft.probe=1")
    # the JVM is get_spark's own: a caller's override is not reported
    assert "JIT thresholds" not in out.stderr


def test_attaching_to_a_vanilla_jvm_warns_once(tmp_path):
    out = _run_driver(
        tmp_path,
        """
        import logging
        from pyspark.sql import SparkSession
        from revtron_utils_spark.session import get_spark
        logging.basicConfig(format="%(levelname)s %(name)s: %(message)s")
        SparkSession.builder.master("local[1]").config("spark.driver.memory", "512m").getOrCreate()
        spark = get_spark(app_name="jit-vanilla", master="local[1]")
        print(spark.range(3).count())
        spark.stop()
        """,
    )
    assert out.stdout.strip().splitlines()[-1] == "3"
    warnings = [
        ln for ln in out.stderr.splitlines()
        if ln.startswith("WARNING revtron_utils_spark.session: JVM tier-4 JIT thresholds")
    ]
    assert len(warnings) == 1, out.stderr[-3000:]
    assert "cannot apply after start" in warnings[0]
