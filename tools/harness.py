#!/usr/bin/env python
"""One measurement harness: every mode builds one session, warms it with
``bench.warm_session`` and times queries exactly the way ``bench.py``
does (``bench.run_noop``, ``bench.release`` between passes).

    python tools/harness.py time NAMES [--sf-dir D] [--reps 2]
    python tools/harness.py build [--sf-dir D] [--profile NAMES]
    python tools/harness.py profile NAMES [--sf-dir D] [--summary]
    python tools/harness.py position [--sf-dir D] [--n 40] [--order reverse]
    python tools/harness.py plans ROUND SUFFIX [NAME ...] [--sf-dir D]

NAMES is a comma-separated list of registry queries. ``--sf-dir``
defaults to ``$SPARK_GRAFT_SF_DIR``, as in ``bench.py``.

- ``time``: wall seconds of each query, ``--reps`` passes each, and
  ``codegen=N``, the classes Spark's code generator compiled during the
  rep (0 when every generated class came from the codegen cache), and
  ``jit=X.XXs``, the JVM's JIT compile time during the rep.
- ``build``: wall seconds of the build alone (Python-side DataFrame
  construction, no action) of every registry query, slowest first; with
  ``--profile NAMES``, cProfile those query builds instead.
- ``profile``: runs each query once with the Spark event log on, then
  prints per job its duration and per stage its task count, task and CPU
  time, input, shuffle read/write, spill, GC and fetch wait. Jobs are
  attributed to queries through ``setJobDescription``. ``--summary``
  prints one line per query instead. This is the one mode that needs the
  event log, because shuffle bytes are only reported there.
- ``position``: runs the last ``--n`` HEADLINE queries in forward or
  reverse order, bracketed by the TPC-H canaries, to tell a
  suite-position (JVM state) effect from a slow query.
- ``plans``: writes ``explain('formatted')`` of each query (default: all
  of HEADLINE) to ``plans/<ROUND>/<query>_<SUFFIX>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE, release, run_noop, warm_session  # noqa: E402
from revtron_utils_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
    jit_compile_seconds,
)

CANARY = ["join_q3", "groupby_q1", "where_theta", "rollup"]


def _names(s: str) -> list[str]:
    return [n for n in s.split(",") if n]


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="harness.py", description=__doc__.split("\n\n")[0]
    )
    modes = ap.add_subparsers(dest="mode", required=True)
    m = modes.add_parser("time", help="time queries as bench.py does")
    m.add_argument("names", type=_names)
    m.add_argument("--reps", type=int, default=2)
    m = modes.add_parser("build", help="time (or cProfile) query builds only")
    m.add_argument("--profile", type=_names, default=[], metavar="NAMES")
    m = modes.add_parser("profile", help="event-log stage profile")
    m.add_argument("names", type=_names)
    m.add_argument("--summary", action="store_true")
    m = modes.add_parser("position", help="suite-position A/B of the HEADLINE tail")
    m.add_argument("--n", type=int, default=40)
    m.add_argument("--order", choices=["forward", "reverse"], default="reverse")
    m = modes.add_parser("plans", help="dump formatted plans")
    m.add_argument("round")
    m.add_argument("suffix")
    m.add_argument("names", nargs="*")
    for m in modes.choices.values():
        m.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    return ap


def main(argv: list[str] | None = None) -> None:
    ap = _parser()
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    queries = entry_mod.queries()
    asked = getattr(args, "names", None) or getattr(args, "profile", None) or []
    unknown = [n for n in asked if n not in queries]
    if unknown:
        ap.error(f"unknown query name(s): {', '.join(unknown)}")

    conf = None
    if args.mode == "profile":
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": tempfile.mkdtemp(prefix="harness-events-"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name=f"harness-{args.mode}", extra_conf=conf)
    if args.mode != "plans":  # plans only builds, nothing runs
        warm_session(spark, args.sf_dir)
    MODES[args.mode](spark, queries, args)


def _time(spark, queries, args) -> None:
    for name in args.names:
        for i in range(args.reps):
            c0, j0 = codegen_compiles(spark), jit_compile_seconds(spark)
            dt = run_noop(queries[name], spark, args.sf_dir)
            n = codegen_compiles(spark) - c0
            jit = jit_compile_seconds(spark) - j0
            print(f"{name} rep{i}: {dt:.2f}s codegen={n} jit={jit:.2f}s", flush=True)
            release(spark)


def _build(spark, queries, args) -> None:
    if args.profile:
        import cProfile
        import pstats

        for name in args.profile:
            fn = queries[name]
            fn(spark, args.sf_dir)  # warm module-level lazies
            release(spark)
            pr = cProfile.Profile()
            pr.runcall(fn, spark, args.sf_dir)
            release(spark)
            print(f"===== {name} =====", flush=True)
            pstats.Stats(pr, stream=sys.stdout).sort_stats("cumulative").print_stats(30)
        return

    out = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            fn(spark, args.sf_dir)
        except Exception as e:  # noqa: BLE001 - record, keep going
            print(f"{name}: BUILD ERROR {e}", flush=True)
            continue
        out[name] = time.perf_counter() - t0
        release(spark)
        print(f"{name}: {out[name]:.3f}", flush=True)
    print("\n== total build %.1f s over %d queries ==" % (sum(out.values()), len(out)))
    for k, v in sorted(out.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{v:7.3f}  {k}")


def _position(spark, queries, args) -> None:
    def run(name: str) -> float:
        dt = round(run_noop(queries[name], spark, args.sf_dir), 3)
        release(spark)
        return dt

    tail = HEADLINE[-args.n :]
    if args.order == "reverse":
        tail = tail[::-1]
    out: dict[str, object] = {
        "order": args.order,
        "n": args.n,
        "loadavg0": round(os.getloadavg()[0], 2),
    }
    out["canary_pre"] = {q: run(q) for q in CANARY}
    out["times"] = {q: run(q) for q in tail}
    out["canary_post"] = {q: run(q) for q in CANARY}
    out["loadavg1"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out, indent=1))


def _plans(spark, queries, args) -> None:
    names = args.names or HEADLINE
    out_dir = REPO / "plans" / args.round
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            df = queries[name](spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record, keep going
            txt = f"ERROR building plan: {type(exc).__name__}: {exc}\n"
        # as bench.py does between queries: a frame an earlier build
        # cached would otherwise replace a matching subtree of this plan
        release(spark)
        (out_dir / f"{name}_{args.suffix}.txt").write_text(txt)
        print(f"wrote plans/{args.round}/{name}_{args.suffix}.txt")
    print(f"done: {len(names)}/{len(names)}")


def _new_stage() -> dict:
    return {
        "name": "?", "tasks": 0, "t0": None, "t1": None, "task_time": 0,
        "sr": 0, "sw": 0, "spill": 0, "input": 0, "gc": 0, "fetch_wait": 0,
        "cpu": 0,
    }


def _parse_event_log(path: Path) -> tuple[dict, dict, dict]:
    """``(jobs, stages, stage_jobs)`` from one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(_new_stage)
    stage_jobs: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                jobs[e["Job ID"]] = {
                    "desc": desc or "",
                    "t0": e.get("Submission Time", 0),
                    "t1": None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_jobs[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e.get("Completion Time", 0)
            elif ev == "SparkListenerStageCompleted":
                # task ends precede stage completion in the event log, so
                # fill in the entry they created instead of replacing it
                si = e["Stage Info"]
                st = stages[si["Stage ID"]]
                st["name"] = si.get("Stage Name", "")[:90]
                st["tasks"] = si.get("Number of Tasks", 0)
                st["t0"] = si.get("Submission Time")
                st["t1"] = si.get("Completion Time")
            elif ev == "SparkListenerTaskEnd":
                st = stages[e["Stage ID"]]
                ti = e.get("Task Info", {})
                tm = e.get("Task Metrics") or {}
                st["task_time"] += (ti.get("Finish Time", 0) or 0) - (
                    ti.get("Launch Time", 0) or 0
                )
                st["gc"] += tm.get("JVM GC Time", 0)
                st["cpu"] += tm.get("Executor CPU Time", 0) // 1_000_000
                srm = tm.get("Shuffle Read Metrics") or {}
                st["sr"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                st["fetch_wait"] += srm.get("Fetch Wait Time", 0)
                st["sw"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += tm.get("Disk Bytes Spilled", 0)
                st["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs, stages, stage_jobs


def _profile(spark, queries, args) -> None:
    evt_dir = Path(spark.conf.get("spark.eventLog.dir"))

    wall = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"Q:{name}")
        wall[name] = run_noop(queries[name], spark, args.sf_dir)
        spark.sparkContext.setJobDescription(None)
        release(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    jobs, stages, stage_jobs = _parse_event_log(next(evt_dir.glob(f"*{app_id}*")))
    shutil.rmtree(evt_dir)
    per_q_jobs = defaultdict(list)
    for jid, j in jobs.items():
        if j["desc"].startswith("Q:"):
            per_q_jobs[j["desc"][2:]].append(jid)

    def mb(b: int) -> str:
        return f"{b / 1048576:.1f}M"

    for name in args.names:
        jids = per_q_jobs.get(name, [])
        if args.summary:
            sids = [s for s, j in stage_jobs.items() if j in jids and s in stages]
            jdur = sum(((jobs[j]["t1"] or 0) - jobs[j]["t0"]) / 1000 for j in jids)
            sw = sum(stages[s]["sw"] for s in sids)
            print(
                f"SUMMARY {name}: wall={wall[name]:.2f}s "
                f"jobs={len(jids)} stages={len(sids)} jobsum={jdur:.2f}s "
                f"shuffle_write={mb(sw)}"
            )
            continue
        print(f"\n===== {name}  wall={wall[name]:.2f}s =====")
        for jid in sorted(jids):
            j = jobs[jid]
            dur = ((j["t1"] or 0) - j["t0"]) / 1000
            sids = sorted(s for s, jj in stage_jobs.items() if jj == jid and s in stages)
            print(f"  job {jid}: {dur:6.2f}s  ({len(sids)} stages)")
            for sid in sids:
                st = stages[sid]
                sdur = ((st["t1"] or 0) - st["t0"]) / 1000 if st["t0"] else -1
                print(
                    f"    stage {sid:4d} {sdur:6.2f}s wall, "
                    f"{st['task_time']/1000:7.2f}s tasks, cpu {st['cpu']/1000:6.2f}s, "
                    f"{st['tasks']:3d}t, in {mb(st['input'])}, "
                    f"sr {mb(st['sr'])}, sw {mb(st['sw'])}, "
                    f"spill {mb(st['spill'])}, gc {st['gc']/1000:.2f}s, "
                    f"fw {st['fetch_wait']/1000:.2f}s  | {st['name']}"
                )


MODES = {
    "time": _time,
    "build": _build,
    "profile": _profile,
    "position": _position,
    "plans": _plans,
}


if __name__ == "__main__":
    main()
