"""Benchmark of revtron_utils_spark through its public API.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One process, one ``local[<cores>]`` Spark session.  A run generates the
workload's inputs from ``--seed``, sets the session up several times
(``setup_s`` is the median), runs a cold pass over the workload's ops and
then warm passes for ``--seconds`` seconds, checks every output, and
prints one JSON result as the last line of standard output: the
end-to-end metrics (op CPU time; wall time goes to the diagnostics line
before it) with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``perfbench/METRICS.md`` defines every metric.  A traced run wraps the library's public functions (see
``perfbench/trace.py``), writes its spans under ``.perfbench-work/``, and
reads Spark's event log for jobs, stages, tasks, shuffle and spill.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
SETUPS = 5
CANARY_ROWS = 20_000_000


# import the benchmark as the ``perfbench`` package, never its modules by
# bare name (``trace`` would shadow the standard library's)
_HERE = str(Path(__file__).resolve().parent)
sys.path[:] = [str(ROOT)] + [p for p in sys.path if p != _HERE]


def _environment() -> None:
    """Everything a run writes stays in the checkout; Python workers find
    the library on ``PYTHONPATH``; timestamps render in UTC on both the
    Spark and the DuckDB side.  Runs before the JVM starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


import numpy as np  # noqa: E402

from perfbench import workloads  # noqa: E402
from perfbench.stats import self_times, supported_tail  # noqa: E402
from perfbench.trace import Tracer, outermost_time  # noqa: E402
from revtron_utils_spark import Engine  # noqa: E402
from revtron_utils_spark.operators.dedup import release_caches  # noqa: E402
from revtron_utils_spark.session import get_spark  # noqa: E402

WRITE_CALLS = {
    "Engine.save_table",
    "Engine.upsert",
    "Engine.update",
    "Engine.delete",
    "Engine.create_table",
}


# ------------------------------------------------------------------ session


class Session:
    """Owns the Spark session and the JVM behind it."""

    def __init__(self, cores: int, run_dir: Path, trace: bool):
        self.cores = cores
        self.eventlog = run_dir / "eventlog"
        self.conf = {
            "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
            "spark.local.dir": str(WORK / "tmp"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} "
            f"-Dderby.system.home={WORK}",
        }
        if trace:
            self.eventlog.mkdir(parents=True, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None
        self.jvm_pid: int | None = None

    def setup(self, inputs: Path) -> dict:
        """(Re)build the session and warm it; returns the wall seconds of
        the build and of the warm-up, and the CPU seconds of both."""
        c0 = self.cpu_seconds()
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
        )
        t1 = time.perf_counter()
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        eng = Engine(self.spark)
        eng.attach("warmup", str(next(inputs.glob("*.parquet"))))
        eng.get("warmup", limit=5).collect()
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "warmup_s": t2 - t1, "cpu_s": self.cpu_seconds() - c0}

    def canary(self) -> float:
        """A fixed pure-Spark job (median of 5 runs after one untimed):
        tells a slow host from slow code."""
        job = self.spark.range(CANARY_ROWS).selectExpr("id % 1009 AS g").groupBy("g").count()
        job.collect()
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            job.collect()
            times.append(time.perf_counter() - t0)
        return _median(times)

    def gc_seconds(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def cpu_seconds(self) -> float:
        """CPU time so far of this Python process and of the JVM with its
        Python workers (every process under it, reaped ones included).
        Unlike wall time it does not count time the host gave the CPU to
        another machine."""
        jvm = _tree_cpu(self.jvm_pid) if self.jvm_pid is not None else 0.0
        return time.process_time() + jvm

    def jvm_peak_rss_mb(self) -> float:
        for line in Path(f"/proc/{self.jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        return 0.0

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _tree_cpu(pid: int) -> float:
    """utime + stime + reaped children's, in seconds, of ``pid`` and every
    process below it; a process that exits mid-walk is skipped."""
    total = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            fields = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
            total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
            for task in Path(f"/proc/{p}/task").iterdir():
                todo.extend(int(c) for c in (task / "children").read_text().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / _CLK_TCK


_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ passes


@dataclass
class Pass:
    """One pass over a workload's ops: per-op wall and CPU seconds, and
    the rows the ops returned or applied."""

    wall: list[float]
    cpu: list[float]
    rows: int

    @property
    def wall_s(self) -> float:
        return sum(self.wall)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu)


class Runner:
    def __init__(self, session: Session, workload, tracer: Tracer | None = None):
        self.session = session
        self.workload = workload
        self.tracer = tracer
        self.outcomes: list[tuple[str, int, object]] = []
        self.errors: list[dict] = []
        self.attempted = 0
        self.op_stats: list[dict] = []  # per-op plan statistics, traced passes
        self.op_names: list[str] = []  # of the latest pass

    def run_pass(self, pass_no: int, traced: bool = False) -> Pass:
        """One pass over the workload's ops.  Only the ops themselves are
        timed; cache release between ops and bookkeeping are not."""
        spark = self.session.spark
        sc = spark.sparkContext
        ops = self.workload.prepare(spark, pass_no)
        self.op_names = [op.name for op in ops]
        tracer = self.tracer if traced else None
        times: list[float] = []
        cpu: list[float] = []
        rows = 0
        for op in ops:
            self.attempted += 1
            before = self._files() if traced and op.source_bytes else None
            c0 = self.session.cpu_seconds()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    out = op.execute(op.build())
                else:
                    out = self._traced(sc, tracer, pass_no, op)
            except Exception as e:  # an op failure is a result, never an abort
                dt = time.perf_counter() - t0
                self.errors.append(
                    {"op": op.name, "pass": pass_no, "error": _first_line(e),
                     "traceback": traceback.format_exc(limit=4)}
                )
                out = None
            else:
                dt = time.perf_counter() - t0
            cpu.append(self.session.cpu_seconds() - c0)
            times.append(dt)
            if out is not None:
                rows += out.n_rows
                self.outcomes.append((op.name, pass_no, out))
                if traced:
                    self.op_stats.append(self._op_stats(pass_no, op, out, dt, before))
                out.df = None
            release_caches()
            spark.catalog.clearCache()
        return Pass(times, cpu, rows)

    def _traced(self, sc, tracer: Tracer, pass_no: int, op):
        tracer.active = True
        tracer.op = op.name
        try:
            tracer.phase = "build"
            sc.setJobGroup(f"{pass_no}:{op.name}:build", op.name)
            v = tracer.span("bench", f"{op.name}:build", op.build)
            tracer.phase = "execute"
            sc.setJobGroup(f"{pass_no}:{op.name}:execute", op.name)
            return tracer.span("bench", f"{op.name}:execute", op.execute, v)
        finally:
            tracer.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _files(self) -> dict[str, int]:
        out = {}
        for wh in getattr(self.workload, "warehouses", {}).values():
            for p in Path(wh).rglob("*"):
                if p.is_file():
                    out[str(p)] = p.stat().st_size
        return out

    def _op_stats(self, pass_no: int, op, out, dt: float, before) -> dict:
        st = {"op": op.name, "pass": pass_no, "kind": op.kind, "seconds": dt}
        if before is not None:
            after = self._files()
            st["created_bytes"] = sum(s for p, s in after.items() if p not in before)
            st["source_bytes"] = op.source_bytes
        if out.df is not None:
            st.update(_plan_stats(out.df))
        return st

    def check(self) -> None:
        """Compare every recorded outcome with the expected one; a wrong
        result is recorded in ``errors``."""
        expected = self.workload.expected()
        for name, pass_no, out in self.outcomes:
            check = expected.get(name)
            problem = "no expected result" if check is None else None
            if check is not None:
                try:
                    problem = check(out)
                except Exception as e:
                    problem = f"check raised {_first_line(e)}"
            if problem:
                self.errors.append({"op": name, "pass": pass_no, "error": problem})


def _first_line(e: BaseException) -> str:
    text = str(e).strip().splitlines()
    return f"{type(e).__name__}: {text[0][:300] if text else ''}"


def _plan_stats(df) -> dict:
    """Catalyst phase times, exchange count and a plan fingerprint of an
    executed DataFrame."""
    import hashlib
    import re

    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"{ph}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    plan = qe.executedPlan().toString()
    out["exchanges"] = len(re.findall(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b", plan))
    shape = re.sub(r"#\d+|\[id=#?\d+\]|\d+", "", plan)
    out["plan"] = hashlib.sha1(shape.encode()).hexdigest()[:12]
    return out


# ------------------------------------------------------------------ metrics


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def warm_passes(runner: Runner, seconds: float, first: int) -> list[Pass]:
    """The workload's fixed number of warm passes, cut short once their op
    time reaches ``seconds`` (at least one).  A count that followed the
    host's speed would change the samples, and a later pass costs less
    CPU than an earlier one while the JIT still compiles."""
    out: list[Pass] = []
    while len(out) < runner.workload.warm_passes and (
        not out or sum(p.wall_s for p in out) < seconds
    ):
        out.append(runner.run_pass(first + len(out)))
    return out


def end_to_end(setup_s: float, cold: Pass, warm: list[Pass]) -> dict:
    """CPU time of this process and the JVM tree, not wall time: on a
    shared host, wall time also counts the CPU time the hypervisor gives
    to other machines (``steal`` in /proc/stat)."""
    return {
        "setup_s": (setup_s, "s"),
        "cold_cpu_s": (cold.cpu_s, "s"),
        "warm_cpu_s": (_median([p.cpu_s for p in warm]), "s"),
        "rows_per_cpu_s": (sum(p.rows for p in warm) / sum(p.cpu_s for p in warm), "1/s"),
    }


def wall_summary(cold: Pass, warm: list[Pass]) -> dict:
    """Wall-clock figures, per-op medians and the supported latency tail,
    for the diagnostics line.  The per-op median is not a gated metric:
    over a mix of ops of unequal cost it falls between two of them and
    jumps between runs."""
    samples = [t for p in warm for t in p.wall]
    q = supported_tail(len(samples))
    return {
        "cold_s": cold.wall_s,
        "warm_s": _median([p.wall_s for p in warm]),
        "op_p50_s": float(np.percentile(samples, 50)),
        "op_p50_cpu_s": float(np.percentile([t for p in warm for t in p.cpu], 50)),
        "rows_per_s": sum(p.rows for p in warm) / sum(p.wall_s for p in warm),
        "op_samples": len(samples),
        "tail_percentile": q,
        "tail_s": None if q is None else float(np.percentile(samples, q)),
    }


def per_layer(runner: Runner, tracer: Tracer, session_info: dict, cold_pass: int) -> dict:
    spans = [s for s in tracer.spans if s.get("pass") == cold_pass]
    self_t = self_times(spans)
    own: dict[str, float] = {}
    for s in spans:
        own[s["layer"]] = own.get(s["layer"], 0.0) + self_t[s["id"]]
    build_entry = sum(
        self_t[s["id"]] for s in spans if s["layer"] == "entry" and s["phase"] == "build"
    )
    io_calls = sum(1 for s in spans if s["name"] == "read_parquet")
    io_misses = sum(1 for s in spans if s["name"] == "_read_parquet_uncached")
    stats = [s for s in runner.op_stats if s["pass"] == cold_pass]
    created = sum(s.get("created_bytes", 0) for s in stats)
    source = sum(s.get("source_bytes", 0) for s in stats)
    wl = runner.workload
    src_ops = [s for s in stats if s["kind"] in ("source_read", "source_write")]
    src_rows = sum(
        out.n_rows for name, p, out in runner.outcomes
        if p == cold_pass and name.startswith("rest.")
    )
    calls = wl.accumulators[cold_pass].value if hasattr(wl, "accumulators") else 0
    ev = session_info["eventlog"]
    m = {
        "entry.build_s": (float(build_entry), "s"),
        "entry.build_jobs": (ev["build_jobs"], "count"),
        "io.read_s": (own.get("io", 0.0), "s"),
        "io.read_calls": (io_calls, "count"),
        "io.cache_hit_ratio": ((io_calls - io_misses) / io_calls if io_calls else 0.0, "ratio"),
        "engine.get_s": (outermost_time(spans, {"Engine.get"}), "s"),
        "dsl.compile_s": (own.get("dsl", 0.0), "s"),
        "engine.write_s": (outermost_time(spans, WRITE_CALLS), "s"),
        "engine.write_amp": (created / source if source else 0.0, "ratio"),
        "tables.merge_s": (outermost_time(spans, {"VersionedTable.merge"}), "s"),
        "tables.files_rewritten_ratio": (
            wl.files_rewritten_ratio(cold_pass) if hasattr(wl, "files_rewritten_ratio") else 0.0,
            "ratio",
        ),
        "streaming.sync_window_s": (outermost_time(spans, {"IncrementalSyncer.sync_window"}), "s"),
        "sources.read_s": (
            sum((s["seconds"] for s in src_ops if s["kind"] == "source_read"), 0.0), "s"
        ),
        "sources.write_s": (
            sum((s["seconds"] for s in src_ops if s["kind"] == "source_write"), 0.0), "s"
        ),
        "sources.api_calls_per_krow": (calls / (src_rows / 1000.0) if src_rows else 0.0, "count"),
        "operators.self_s": (own.get("operators", 0.0), "s"),
        "operators.calls": (sum(1 for s in spans if s["layer"] == "operators"), "count"),
        "functions.self_s": (own.get("functions", 0.0), "s"),
        "spark.analysis_s": (sum(s.get("analysis_s", 0.0) for s in stats), "s"),
        "spark.optimization_s": (sum(s.get("optimization_s", 0.0) for s in stats), "s"),
        "spark.planning_s": (sum(s.get("planning_s", 0.0) for s in stats), "s"),
        "spark.exec_s": (
            sum(s["end"] - s["start"] for s in spans
                if s["layer"] == "bench" and s["name"].endswith(":execute")),
            "s",
        ),
        "spark.jobs": (ev["jobs"], "count"),
        "spark.stages": (ev["stages"], "count"),
        "spark.tasks": (ev["tasks"], "count"),
        "spark.exchanges": (sum(s.get("exchanges", 0) for s in stats), "count"),
        "spark.shuffle_write_mb": (ev["shuffle_write_bytes"] / 2**20, "MB"),
        "spark.spill_mb": (ev["spill_bytes"] / 2**20, "MB"),
        "spark.task_cpu_s": (ev["task_cpu_ns"] / 1e9, "s"),
        "spark.gc_s": (session_info["gc_s"], "s"),
        "session.start_s": (session_info["start_s"], "s"),
        "session.warmup_s": (session_info["warmup_s"], "s"),
        "session.jvm_peak_rss_mb": (session_info["jvm_peak_rss_mb"], "MB"),
        "trace.overhead_s": (session_info["overhead_s"], "s"),
    }
    return m


def read_eventlog(path: Path, pass_no: int) -> dict:
    """Jobs, stages, tasks, shuffle write, spill and task CPU of the
    traced pass ``pass_no``, attributed through the job groups."""
    prefix = f"{pass_no}:"
    stages: set[int] = set()
    out = {"jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "task_cpu_ns": 0}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(prefix):
                    continue
                out["jobs"] += 1
                out["build_jobs"] += group.endswith(":build")
                stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stages:
                    out["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev.get("Stage ID") not in stages:
                    continue
                out["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                out["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
    return out


# ------------------------------------------------------------------ main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _environment()

    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cores = os.cpu_count() or 4
    diag: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    phases = diag["phase_s"] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    session = Session(cores, run_dir, trace=bool(args.trace))
    try:
        wl = workloads.make(args.workload, args.seed, run_dir)
        lap("inputs")
        setups = [session.setup(wl.inputs) for _ in range(SETUPS)]
        setup_s = _median([st["cpu_s"] for st in setups])
        diag["setup_wall_s"] = _median([st["build_s"] + st["warmup_s"] for st in setups])
        lap("setup")
        diag["loadavg_before"] = os.getloadavg()
        diag["canary_before_s"] = session.canary()
        tracer = None
        if args.trace:
            tracer = Tracer()
            diag["traced_callables"] = tracer.install()
        runner = Runner(session, wl, tracer)
        gc0 = session.gc_seconds()
        cold = runner.run_pass(0, traced=tracer is not None)
        gc_s = session.gc_seconds() - gc0
        diag["cold_op_s"] = {n: round(t, 4) for n, t in zip(runner.op_names, cold.wall)}
        lap("cold")
        if tracer:
            for s in tracer.spans:
                s["pass"] = 0
            # a traced warm pass between two untraced ones: the overhead
            # is its time minus theirs, with warming spread evenly
            n0 = len(tracer.spans)
            before = runner.run_pass(1)
            traced = runner.run_pass(2, traced=True)
            after = runner.run_pass(3)
            for s in tracer.spans[n0:]:
                s["pass"] = 2
            warm = [before, after]
            overhead = traced.wall_s - (before.wall_s + after.wall_s) / 2
        else:
            warm = warm_passes(runner, args.seconds, 1)
        lap("warm")
        diag["loadavg_after"] = os.getloadavg()
        diag["canary_after_s"] = session.canary()
        diag["passes"] = 1 + len(warm)
        if tracer:
            info = {
                "gc_s": gc_s,
                "start_s": setups[0]["build_s"],
                "warmup_s": _median([st["warmup_s"] for st in setups]),
                "jvm_peak_rss_mb": session.jvm_peak_rss_mb(),
                "overhead_s": overhead,
            }
            app_id = session.spark.sparkContext.applicationId
            tracer.uninstall()
        runner.check()
        lap("check")
        session.close()
        lap("close")
        if tracer:
            info["eventlog"] = read_eventlog(session.eventlog / app_id, 0)
            metrics = per_layer(runner, tracer, info, 0)
            spans_path = run_dir / "spans.jsonl"
            with open(spans_path, "w") as fh:
                for s in tracer.spans:
                    fh.write(json.dumps(s) + "\n")
            with open(run_dir / "ops.jsonl", "w") as fh:
                for s in runner.op_stats:
                    fh.write(json.dumps(s) + "\n")
            diag["spans"] = str(spans_path.relative_to(ROOT))
        else:
            metrics = end_to_end(setup_s, cold, warm)
            diag["wall"] = wall_summary(cold, warm)
    finally:
        session.close()
        for p in run_dir.iterdir():  # keep only the span and op records
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
        if not any(run_dir.iterdir()):
            run_dir.rmdir()
    failed = len({(e["op"], e["pass"]) for e in runner.errors})
    diag["failed_fraction"] = failed / runner.attempted
    diag["errors"] = runner.errors[:20]
    print(json.dumps({"diagnostics": diag}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
