#!/usr/bin/env python
"""Scale-curve rehearsal for the dedup/LSH family (SCALE.md evidence).

The driver fixtures stop at sf0.1 (5k documents / 2k embeddings / 20k
parts), which can't distinguish an O(n) pair miner from an O(n²) one.
This script synthesizes fixtures with the same generative character at
1× / ~3.2× / 10× the sf0.1 row counts (vocab-sampled token text with
planted exact + near duplicates at fixed rates, clustered embeddings
with planted near-copies, adjective-noun part names), runs the
expensive registry queries at each size, and fits the scaling exponent
alpha in t ~ n^alpha by least squares over log-log points.

Caveats recorded alongside the numbers: at these absolute sizes every
query carries a fixed overhead floor (plan compile + job scheduling,
~0.5-1 s), which biases alpha DOWN for fast queries; pair queries whose
output grows ~n² (all-pairs over planted dup rates) carry a verify-join
term that grows with the PAIR count, not the row count.

Usage: python tools/scale_study.py [--sizes 5000,15811,50000] [--out /tmp/scale_study]
"""

from __future__ import annotations

import argparse
import json
import math
import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = [
    "dedup_exact",
    "minhash_pairs",
    "simhash_pairs",
    "dedup_clusters",
    "fuzzy_pairs",
    "cosine_neardup",
    "cosine_neardup_lsh",
    "decontaminate",
]

_SYL = "ba be bi bo bu ka ke ki ko ku la le li lo lu ma me mi mo mu".split()
NOUN_BASE = "ring bolt screw washer gear axle cam rod".split()


def _word(rng: random.Random, n_syl: int) -> str:
    return "".join(rng.choice(_SYL) for _ in range(n_syl))


def make_fixtures(out_dir: Path, n_docs: int, seed: int = 42) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)

    # --- documents: vocab token text, 2% exact dups, 5% near dups ----
    vocab = (
        "batch part spark line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge "
        "data join shuffle plan stage task codegen arrow pandas broadcast "
        # Gopher-gate stopwords: without them the quality stage of
        # corpus_pipeline (stopword_ok needs >= 2 hits) rejects every
        # synthetic doc and the mixture stage has nothing to sample
        "the be to of and that have with"
    ).split()
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and r < 0.07:  # near duplicate: mutate 3 tokens
            toks = texts[rng.randrange(i)].split()
            for _ in range(3):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(50)))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(["en", "zh", "de", "fr"]) for _ in range(n_docs)],
            "source": [f"src{rng.randrange(8)}" for _ in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, out_dir / "documents.parquet")

    # --- embeddings: isotropic vectors (random 64-dim cos ≈ 0 ± 0.12,
    # so pairs above 0.4 are essentially only the planted 2% of
    # near-copies — the sparse-pair regime of the driver fixture, which
    # keeps the verified-pair count LINEAR in n) -----------------------
    n_emb = max(2, int(n_docs * 0.4))
    vecs = nprng.normal(0, 1, (n_emb, 64))
    labels = nprng.integers(0, 10, n_emb)
    n_planted = n_emb // 50
    for i in range(n_planted):  # near-copy an earlier vector
        src = int(nprng.integers(0, n_emb - n_planted))
        vecs[n_emb - n_planted + i] = vecs[src] + nprng.normal(0, 0.01, 64)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([int(x) for x in labels], pa.int32()),
        }
    )
    pq.write_table(emb, out_dir / "embeddings.parquet")

    # --- events: zipf-ish users over a 30-day range (funnel/retention/
    # WAU/attribution family). Same naive timestamp[us] layout as the
    # driver fixture so the NTZ-normalization path is exercised. -------
    n_events = n_docs * 20
    n_users = max(5, n_docs // 3)
    # skewed user activity: a few power users, a long tail
    u_weights = 1.0 / np.arange(1, n_users + 1) ** 0.8
    u_weights /= u_weights.sum()
    users = nprng.choice(n_users, size=n_events, p=u_weights)
    ts_us = np.sort(
        nprng.integers(0, 30 * 86400 * 1_000_000, size=n_events, dtype=np.int64)
    ) + np.int64(1704067200) * 1_000_000  # 2024-01-01 epoch
    types = nprng.choice(
        ["view", "click", "signup", "purchase", "error"],
        size=n_events,
        p=[0.4, 0.25, 0.1, 0.15, 0.1],
    )
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array([int(u) for u in users], pa.int64()),
            "event_type": pa.array([str(t) for t in types]),
            "value": pa.array(nprng.uniform(0, 100, n_events), pa.float64()),
            "props": pa.array(["{}"] * n_events),
        }
    )
    pq.write_table(events, out_dir / "events.parquet")

    # --- part: adjective-noun names (fuzzy blocks on the noun). Name
    # diversity scales WITH n (√s more nouns × √s more adjectives →
    # constant ~312 rows/name like sf0.1's 64 names / 20k rows), so the
    # study measures operator scaling at constant value density instead
    # of quadratic output explosion from a fixed name pool -------------
    # --- orders/lineitem: the bipartite customer↔supplier trade graph
    # for pagerank. Customers/suppliers scale with n, lineitems at 4n —
    # the distinct trade-pair space (n/10 × n/50) grows faster than the
    # lineitem count, so the edge list stays in the linear (unsaturated)
    # regime at every study size ---------------------------------------
    n_cust, n_supp = max(10, n_docs // 10), max(5, n_docs // 50)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_docs), pa.int64()),
            "o_custkey": pa.array(
                [rng.randrange(n_cust) for _ in range(n_docs)], pa.int64()
            ),
            # KMV gate dimension: segment labels with overlapping
            # customer sets, as in TPC-H order priorities
            "o_orderpriority": pa.array(
                [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"]) for _ in range(n_docs)]
            ),
            # cdc_apply / table_diff gate columns (status + price)
            "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(n_docs)]),
            "o_totalprice": pa.array(
                [round(rng.uniform(900, 100_000), 2) for _ in range(n_docs)],
                pa.float64(),
            ),
            # time-series gate dimension (cusum/mann_kendall/theil_sen/
            # ewma/seasonality/kaplan_meier/rfm): midnight-aligned dates
            # over a ~5-year horizon, as in TPC-H
            "o_orderdate": pa.array(
                [
                    (788_918_400 + 86_400 * rng.randrange(0, 1826)) * 1_000_000
                    for _ in range(n_docs)
                ],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(orders, out_dir / "orders.parquet")
    # --- customer/nation: the grouping dimensions of the time-series
    # and survival gates; 25 nations as in TPC-H, segments bounded -----
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_cust)], pa.int32()
            ),
            "c_mktsegment": pa.array(
                [
                    rng.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                    )
                    for _ in range(n_cust)
                ]
            ),
            # quantile_share / regression_adjustment gate column:
            # balances in the TPC-H range incl. negatives
            "c_acctbal": pa.array(
                [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
                pa.float64(),
            ),
        }
    )
    pq.write_table(customer, out_dir / "customer.parquet")
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        }
    )
    pq.write_table(nation, out_dir / "nation.parquet")
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            # modularity gate dimension: the nation partition over the
            # trade graph, 25 nations as in TPC-H
            "s_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_supp)], pa.int32()
            ),
        }
    )
    pq.write_table(supplier, out_dir / "supplier.parquet")
    n_li = n_docs * 4
    n_part = n_docs * 4
    qtys = [rng.randrange(1, 51) for _ in range(n_li)]
    okeys = [rng.randrange(n_docs) for _ in range(n_li)]
    # within-order line numbers (annotation-gate rater panel): the
    # occurrence index of each orderkey, as in TPC-H
    _seen: dict[int, int] = {}
    linenos = []
    for k in okeys:
        _seen[k] = _seen.get(k, 0) + 1
        linenos.append(_seen[k])
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_linenumber": pa.array(linenos, pa.int32()),
            "l_suppkey": pa.array(
                [rng.randrange(n_supp) for _ in range(n_li)], pa.int64()
            ),
            # part pool scales with n (as in TPC-H), so the co-purchase
            # graph stays in the sparse regime: ~4 items/order, a part
            # recurs in ~4 orders — edge count linear in lineitem
            "l_partkey": pa.array(
                [rng.randrange(n_part) for _ in range(n_li)], pa.int64()
            ),
            # robust-stats / linreg / chi2 / ab_test gate columns:
            # heavy-tailed prices correlated with quantity, categorical
            # flags, uniform discounts
            "l_returnflag": pa.array([rng.choice("AANR") for _ in range(n_li)]),
            "l_linestatus": pa.array([rng.choice("OOF") for _ in range(n_li)]),
            "l_quantity": pa.array(
                [float(q) for q in qtys], pa.float64()
            ),
            "l_extendedprice": pa.array(
                [
                    round(q * (900 + 100 * rng.random()) * (10 if rng.random() < 0.001 else 1), 2)
                    for q in qtys
                ],
                pa.float64(),
            ),
            "l_discount": pa.array(
                [round(rng.randrange(0, 11) / 100, 2) for _ in range(n_li)], pa.float64()
            ),
            # correlation_matrix gate column, as in TPC-H (0.00-0.08)
            "l_tax": pa.array(
                [round(rng.randrange(0, 9) / 100, 2) for _ in range(n_li)], pa.float64()
            ),
        }
    )
    pq.write_table(lineitem, out_dir / "lineitem.parquet")
    scale = max(1.0, n_docs / 5000)
    n_nouns = max(8, int(8 * math.sqrt(scale)))
    n_adjs = max(8, int(8 * math.sqrt(scale)))
    nouns = list(NOUN_BASE) + [_word(rng, 3) for _ in range(n_nouns - len(NOUN_BASE))]
    adjs = [_word(rng, rng.randrange(2, 5)) for _ in range(n_adjs)]
    names = [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)]
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": names,
            # bounded brand catalog (bradley_terry / win_rate_wilson):
            # 25 brands as in TPC-H, independent of n
            "p_brand": [
                f"Brand#{rng.randrange(1, 6)}{rng.randrange(1, 6)}"
                for _ in range(n_part)
            ],
        }
    )
    pq.write_table(part, out_dir / "part.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="5000,15811,50000")
    ap.add_argument("--out", default="/tmp/scale_study")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument(
        "--noop",
        action="store_true",
        help="materialize with the noop sink instead of count() — "
        "required for narrow map-only queries (count() lets Catalyst "
        "prune the computed columns, timing a bare row scan)",
    )
    args = ap.parse_args()
    sizes = sorted({int(s) for s in args.sizes.split(",")})
    if len(sizes) < 2:
        ap.error("--sizes needs at least two distinct sizes to fit a slope")
    names = args.queries.split(",")

    import __spark_entry__ as entry_mod
    from bench import release, run_noop, warm_session
    from revtron_utils_spark.session import get_spark

    for n in sizes:
        d = Path(args.out) / f"n{n}"
        # l_partkey is the newest fixture column — its absence means the
        # directory predates the co-purchase graph and must regenerate
        def _stale(d: Path) -> bool:
            li = d / "lineitem.parquet"
            if not (d / "documents.parquet").exists() or not li.exists():
                return True
            import pyarrow.parquet as _pq

            if "l_linenumber" not in _pq.read_schema(li).names:
                return True
            if "p_brand" not in _pq.read_schema(d / "part.parquet").names:
                return True
            if not (d / "customer.parquet").exists():
                return True
            if not (d / "supplier.parquet").exists():
                return True
            if "s_nationkey" not in _pq.read_schema(d / "supplier.parquet").names:
                return True
            # r12 additions: l_tax (correlation_matrix) and c_acctbal
            # (quantile_share / regression_adjustment)
            if "l_tax" not in _pq.read_schema(li).names:
                return True
            if "c_acctbal" not in _pq.read_schema(d / "customer.parquet").names:
                return True
            return "o_orderdate" not in _pq.read_schema(d / "orders.parquet").names

        if _stale(d):
            print(f"generating fixtures n={n} ...", file=sys.stderr)
            make_fixtures(d, n)

    spark = get_spark(app_name="scale-study")
    warm_dir = str(Path(args.out) / f"n{sizes[0]}")
    warm_session(spark, warm_dir)

    queries = entry_mod.queries()
    # one untimed pass at the smallest size: plan compile + codegen for
    # each query shape happens here, not inside the first timed point
    for q in names:
        run_noop(queries[q], spark, warm_dir)
        release(spark)

    times: dict[str, dict[int, float]] = {q: {} for q in names}
    rows: dict[str, dict[int, int]] = {q: {} for q in names}
    for n in sizes:
        sf_dir = str(Path(args.out) / f"n{n}")
        for q in names:
            t0 = time.perf_counter()
            df = queries[q](spark, sf_dir)
            if args.noop:
                df.write.mode("overwrite").format("noop").save()
                cnt = -1
            else:
                cnt = df.count()
            times[q][n] = round(time.perf_counter() - t0, 3)
            rows[q][n] = cnt
            release(spark)
            print(f"n={n} {q}: {times[q][n]}s ({cnt} rows)", file=sys.stderr)

    out = {}
    for q in names:
        xs = [math.log(n) for n in sizes]
        ys = [math.log(max(times[q][n], 1e-3)) for n in sizes]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        alpha = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        n1, n2 = sizes[-2], sizes[-1]
        tail = math.log(times[q][n2] / times[q][n1]) / math.log(n2 / n1)
        out[q] = {
            "times": times[q],
            "rows": rows[q],
            "alpha": round(alpha, 2),
            # slope over the two largest sizes — least polluted by the
            # fixed per-query overhead floor
            "alpha_tail": round(tail, 2),
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
