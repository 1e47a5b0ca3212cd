"""The PySpark worker daemon (``revtron_utils_spark/worker_daemon.py``):
a zip archive's directory is re-read only when the archive changed, the
session's Python workers run under the wrapper, and a driver started
outside the repository still runs Python tasks."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import functions as F

from revtron_utils_spark import worker_daemon

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zd_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    # re-set the stock method so monkeypatch restores it after install()
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    worker_daemon.install()
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zd_mod_a", "zd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    importer = zipimport.zipimporter(str(archive))
    reads.clear()
    importer.invalidate_caches()  # first call: no stamp yet
    importer.invalidate_caches()  # unchanged archive: no read
    assert reads == [str(archive)]
    assert importlib.import_module("zd_mod_a").X == 1

    _write_zip(archive, {"zd_mod_a": "X = 1\n", "zd_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()  # every importer of the archive sees it
    assert reads.count(str(archive)) == 2
    assert importlib.import_module("zd_mod_b").Y == 2
    importer.invalidate_caches()
    assert reads.count(str(archive)) == 2


def test_session_workers_run_under_the_wrapper(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "revtron_utils_spark.worker_daemon"
    )
    # the worker's method is the wrapper its daemon installed before forking
    wrapped = F.udf(lambda _: zipimport.zipimporter.invalidate_caches.__name__)
    got = spark.range(4).select(wrapped("id").alias("m")).distinct().collect()
    assert [r.m for r in got] == ["_invalidate_if_changed"]


def test_driver_outside_the_repo_runs_python_tasks(tmp_path):
    """The daemon module must be importable by workers wherever the
    driver runs: ``get_spark`` puts the package root on the executors'
    ``PYTHONPATH`` — without it every Python task fails."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from revtron_utils_spark.session import get_spark
        spark = get_spark(app_name="daemon-subprocess", master="local[1]")
        print(spark.sparkContext.parallelize([1, 2, 3]).map(lambda x: x * 2).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[2, 4, 6]"
