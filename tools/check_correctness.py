#!/usr/bin/env python
"""Local emulation of the driver's correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` twin on the same sf dir,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entry_mod
from revtron_utils_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_value(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("--json requires a path argument")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]

    from bench import release

    spark = get_spark(app_name="check-correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:160]}")
            failures.append(name)
            results[name] = {"err": f"spark: {str(e).splitlines()[0][:200]}"}
            continue
        finally:
            # frames persisted inside operators must not pile up across
            # the sweep (same hygiene as bench.py)
            release(spark)
        if name not in oracles:
            results[name] = {"mode": "rows_only", "spark_rows": len(srows), "err": None}
            print(f"ok?   {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            if len(srows) == 0 and name not in ("cosine_neardup",):
                print(f"      WARNING: 0 rows from rows-only query")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:160]}")
            failures.append(name)
            results[name] = {"err": f"duckdb: {str(e).splitlines()[0][:200]}"}
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"value-hash mismatch ({sh} vs {dh})")
                sset = {tuple(norm_value(v) for v in r) for r in srows}
                dset = {tuple(norm_value(v) for v in r) for r in drows}
                diff_s = list(sset - dset)[:3]
                diff_d = list(dset - sset)[:3]
                problems.append(f"  spark-only: {diff_s}")
                problems.append(f"  duck-only:  {diff_d}")
        rows_ok = len(srows) == len(drows)
        schema_ok = sorted(scols) == sorted(dcols)
        results[name] = {
            "rows_match": rows_ok,
            "schema_match": schema_ok,
            # null (not true) when a rows/schema mismatch short-circuited
            # the hash comparison — hashes were never compared then
            "hash_match": (
                not any("hash" in p for p in problems)
                if rows_ok and schema_ok
                else None
            ),
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": results}, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
