"""Similarity search over embedding columns.

* **cosine_topk** — brute-force top-k: one narrow projection computing
  the similarity (JVM expression, no UDF), then ``orderBy().limit(k)``
  which Catalyst plans as TakeOrderedAndProject — per-partition heaps +
  a k-row driver merge, the right physical plan at any scale (no global
  sort materialization).
* **IVFIndex** — inverted-file ANN: KMeans centroids (trained on a
  sample), vectors written partitioned by ``cluster_id``; a query probes
  the ``nprobe`` nearest centroids and Spark's partition pruning skips
  every other cluster's files — at 100 TB a 16-of-256-cluster probe
  reads ~6% of the data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors as VX
from ..io import read_parquet


def _query_vec_col(query_vec: Sequence[float], quantized: bool) -> Column:
    arr = F.array(*[F.lit(float(v)) for v in query_vec])
    return VX.quantize(arr) if quantized else arr


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_arithmetic: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector. With
    ``exact_arithmetic`` the similarity uses quantized vectors
    (deterministic across engines — see functions/vectors.py); ties break
    on ascending id so results are total-ordered."""
    if exact_arithmetic:
        # quantize the query driver-side (half-away rounding = Spark/DuckDB
        # round()) and fold its norm to a literal — the per-row work is one
        # dot product + one sqrt instead of three dots
        import math

        qints = [
            math.floor(float(v) * 1_000_000 + 0.5)
            if v >= 0
            else math.ceil(float(v) * 1_000_000 - 0.5)
            for v in query_vec
        ]
        qnorm = math.sqrt(sum(x * x for x in qints))
        qv = F.array(*[F.lit(float(x)) for x in qints])
        rowq = VX.quantize(vec_col)
        # try_divide: zero-norm rows yield NULL cosine (sorts after all
        # real scores) instead of an ANSI DIVIDE_BY_ZERO
        sim = F.try_divide(
            VX.int_dot(rowq, qv), F.sqrt(VX.int_dot(rowq, rowq)) * F.lit(qnorm)
        )
    else:
        qv = _query_vec_col(query_vec, False)
        sim = VX.cosine(F.col(vec_col), qv)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """For every left row, its k nearest right rows by cosine. Blocked
    cross join + per-left-key window top-k. Quadratic without blocking —
    pass block_cols (or bucket by an LSH signature) at scale."""
    from pyspark.sql import Window as W

    l = (
        left.select(
            F.col(left_id).alias("lid"), *[F.col(c) for c in block_cols], VX.quantize(vec_col).alias("lq")
        )
        .withColumn("lnrm", F.sqrt(VX.int_dot(F.col("lq"), F.col("lq"))))
        .alias("l")
    )
    r = (
        right.select(
            F.col(right_id).alias("rid"), *[F.col(c) for c in block_cols], VX.quantize(vec_col).alias("rq")
        )
        .withColumn("rnrm", F.sqrt(VX.int_dot(F.col("rq"), F.col("rq"))))
        .alias("r")
    )
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    joined = l.join(r, cond).withColumn(
        "cosine",
        F.round(
            F.try_divide(
                VX.int_dot(F.col("lq"), F.col("rq")),
                F.col("lnrm") * F.col("rnrm"),
            ),
            6,
        ),
    )
    w = W.partitionBy("lid").orderBy(F.col("cosine").desc(), F.col("rid").asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("lid"), F.col("rid"), F.col("cosine"), F.col("__rn").alias("rank"))
    )


class IVFIndex:
    """Inverted-file index: cluster the corpus with KMeans, store vectors
    partitioned by cluster, probe only the nearest ``nprobe`` clusters at
    query time. Partition pruning does the work at scale."""

    def __init__(self, spark: SparkSession, index_path: str, centroids: list[list[float]]):
        self.spark = spark
        self.index_path = index_path
        self.centroids = centroids

    @staticmethod
    def _assign_clusters(df: DataFrame, centroids: list[list[float]], vec_col: str) -> DataFrame:
        """Add ``cluster_id`` = argmax-cosine centroid via an array +
        ``array_position(array_max)`` — linear expression size in k.

        (The obvious fold — ``best = when(sim > best_sim, ...)`` chained
        per centroid — references the previous best TWICE per step, so
        the expression tree doubles each centroid: 2^k interpreted HOF
        evaluations. With k=8 that made index builds ~20× slower than
        this form.)"""
        q = VX.quantize(vec_col)
        sims = F.array(
            *[
                VX.int_cosine(
                    F.col("__q"), VX.quantize(F.array(*[F.lit(float(v)) for v in c]))
                )
                for c in centroids
            ]
        )
        return (
            df.withColumn("__q", q)
            .withColumn("__sims", sims)
            .withColumn(
                "cluster_id",
                (F.array_position("__sims", F.array_max("__sims")) - 1).cast("int"),
            )
            .drop("__q", "__sims")
        )

    @staticmethod
    def _fit_centroids(
        sample: DataFrame,
        vec_col: str,
        n_clusters: int,
        seed: int,
        max_train: int = 50_000,
        iters: int = 20,
    ) -> list[list[float]]:
        """Deterministic k-means++/Lloyd on a bounded driver sample —
        the standard IVF coarse-quantizer recipe (an approximate
        quantizer only needs a representative sample, and a numpy Lloyd
        on ≤50k vectors is milliseconds where a distributed MLlib fit
        pays multi-second job scheduling per iteration)."""
        import numpy as np

        # bound the driver sample RANDOMLY — limit() would take a
        # head-of-data slice, which on a sorted/label-partitioned corpus
        # trains every centroid inside one region of the space
        n_rows = sample.count()
        if n_rows > max_train:
            frac = min(1.0, (max_train * 1.1) / n_rows)
            sample = sample.sample(fraction=frac, seed=seed)
        rows = sample.select(vec_col).limit(max_train).collect()
        X = np.array([r[0] for r in rows], dtype=np.float64)
        # spherical k-means: probe/search rank by COSINE, so the coarse
        # quantizer must cluster direction, not magnitude — normalize
        # rows and euclidean Lloyd becomes cosine clustering
        # (|x−c|² = 2 − 2cos on the unit sphere)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(norms == 0, 1.0, norms)
        k = min(n_clusters, len(X))
        Xn = (X**2).sum(axis=1)[:, None]

        def one_fit(rng):
            # k-means++ seeding
            centers = [X[rng.integers(len(X))]]
            d2 = ((X - centers[0]) ** 2).sum(axis=1)
            for _ in range(1, k):
                probs = d2 / d2.sum() if d2.sum() > 0 else None
                idx = rng.choice(len(X), p=probs)
                centers.append(X[idx])
                d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
            C = np.stack(centers)
            for _ in range(iters):
                # nearest center (euclidean, matching MLlib); |x−c|² =
                # |x|² + |c|² − 2x·c keeps the temp at (n, k), not
                # (n, k, dim)
                d = Xn + (C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
                assign = d.argmin(axis=1)
                newC = np.stack(
                    [
                        X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
                        for j in range(k)
                    ]
                )
                # renormalize: the 2−2cos identity needs BOTH sides
                # unit-norm, and a mean of unit vectors is not — without
                # this, training assigns by a metric that disagrees with
                # the cosine used at serve time
                cn = np.linalg.norm(newC, axis=1, keepdims=True)
                newC = newC / np.where(cn == 0, 1.0, cn)
                if np.allclose(newC, C):
                    break
                C = newC
            inertia = float(
                (Xn + (C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).min(axis=1).sum()
            )
            return inertia, C

        # a few deterministic restarts, keep the lowest within-cluster
        # SSE — k-means++ variance across seeds is the whole ballgame
        # for probe recall, and restarts are milliseconds at ≤50k rows
        best = min(
            (one_fit(np.random.default_rng(seed + r)) for r in range(4)),
            key=lambda t: t[0],
        )
        return [list(map(float, c)) for c in best[1]]

    @classmethod
    def build(
        cls,
        df: DataFrame,
        index_path: str,
        n_clusters: int = 16,
        vec_col: str = "embedding",
        sample_fraction: float = 1.0,
        seed: int = 42,
    ) -> "IVFIndex":
        """Train centroids on a bounded driver sample (numpy k-means++ /
        Lloyd), assign every vector JVM-side, write partitioned by
        cluster."""
        spark = df.sparkSession
        sample = df if sample_fraction >= 1.0 else df.sample(sample_fraction, seed)
        centroids = cls._fit_centroids(sample, vec_col, n_clusters, seed)

        assigned = cls._assign_clusters(df, centroids, vec_col)
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(index_path)
        # persist centroids with the index so it reopens across sessions
        import json
        from pathlib import Path

        (Path(index_path) / "_centroids.json").write_text(json.dumps(centroids))
        return cls(spark, index_path, centroids)

    @classmethod
    def load(cls, spark: SparkSession, index_path: str) -> "IVFIndex":
        """Reopen a previously-built index (centroids travel with it)."""
        import json
        from pathlib import Path

        centroids = json.loads((Path(index_path) / "_centroids.json").read_text())
        return cls(spark, index_path, centroids)

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Probe the nprobe closest clusters (computed driver-side against
        the tiny centroid table), filter on the partition column → Spark
        prunes every other cluster's files → brute-force top-k inside."""
        import math

        def cos(a: Sequence[float], b: Sequence[float]) -> float:
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1e-12
            nb = math.sqrt(sum(x * x for x in b)) or 1e-12
            return d / (na * nb)

        ranked = sorted(
            range(len(self.centroids)),
            key=lambda cid: -cos(query_vec, self.centroids[cid]),
        )
        probe = ranked[:nprobe]
        df = read_parquet(self.spark, self.index_path).filter(F.col("cluster_id").isin(probe))
        return cosine_topk(df, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    top_k: int = 5,
    scale: int = 1_000,
) -> DataFrame:
    """Per-label embedding outliers: the ``top_k`` vectors farthest
    (squared Euclidean) from their label's centroid — the standard
    mislabel/garbage screen before training on an embedded corpus
    (a crawl page embedded mid-cluster is fine; the farthest tail is
    where encoding failures and label noise live).

    Engine-exact arithmetic: with quantized integer components ``x`` and
    per-label component sums ``s`` over ``n`` vectors,

        ‖x − s/n‖² · n² = Σ_d (n·x_d − s_d)²

    is an EXACT int64 (components ≤ ~2·scale, so at scale=1e3 the sum
    stays under 2^63 up to ~10⁶ vectors/label and 1024 dims); the one
    division by ``n²·scale²`` at readout is a single exactly-rounded
    IEEE op, so the reported distances hash-match a SQL oracle.

    Physical shape: one explode → (label, dim) partial-aggregated sum
    (O(labels × dims) rows), centroid sums broadcast back, one
    zip_with fold per row (no UDF), then a per-label row_number top-k
    with id tiebreak. Nothing collects a label's vectors anywhere.
    """
    from pyspark.sql import Window

    qv = F.transform(VX.quantize(vec_col, scale), lambda x: x.cast("long"))
    base = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("lab"), qv.alias("qv")
    ).persist()
    sums = (
        base.select("lab", F.posexplode("qv").alias("pos", "v"))
        .groupBy("lab", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("lab")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda st: st["s"]
            ).alias("sarr"),
        )
    )
    n_df = base.groupBy("lab").agg(F.count(F.lit(1)).alias("n"))
    j = base.join(F.broadcast(sums), "lab").join(F.broadcast(n_df), "lab")
    d2n = F.aggregate(
        F.zip_with(
            "qv",
            "sarr",
            lambda x, s: (F.col("n") * x - s) * (F.col("n") * x - s),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = j.select("lab", "id", F.col("n").alias("n"), d2n.alias("_d2n"))
    w = Window.partitionBy("lab").orderBy(F.col("_d2n").desc(), F.col("id"))
    denom = (F.col("n") * F.col("n")).cast("long") * F.lit(scale * scale)
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_k)
        .select(
            F.col("lab").alias(label_col),
            F.col("id").alias(id_col),
            F.col("_rk").alias("rank"),
            F.round(F.col("_d2n").cast("double") / denom.cast("double"), 6).alias(
                "dist2"
            ),
        )
    )


def _quant_ints(vec: Sequence[float], scale: int) -> list[int]:
    """Driver-side quantization with half-AWAY rounding — the same
    result as Spark/DuckDB ``round(x * scale)`` (Python's round() is
    banker's and would disagree on exact halves)."""
    import math

    return [
        math.floor(float(v) * scale + 0.5)
        if v >= 0
        else math.ceil(float(v) * scale - 0.5)
        for v in vec
    ]


def _int_dist2(qv_col: Column, ints: list[int]) -> Column:
    """Exact int64 squared euclidean between a quantized LONG array
    column and a literal integer vector — zip_with + ordered fold, all
    inside whole-stage codegen. At scale=1e6 and 64 dims the fold peaks
    ~9e15 « 2^63, ANSI-safe."""
    lit = F.array(*[F.lit(int(x)).cast("long") for x in ints])
    return F.aggregate(
        F.zip_with(qv_col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_probe_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_seeds: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF ANN with DETERMINISTIC INTEGER centroid assignment — the
    hash-gateable twin of :class:`IVFIndex` (whose KMeans training is
    iterative float and therefore rows-only-gated). Same search
    machinery — coarse cluster assignment, nprobe pruning, exact
    re-rank — but the "centroids" are the ``n_seeds`` data vectors with
    the smallest ids (deterministic), every distance is an exact int64
    over scale-quantized components, and ties break on integers, so a
    SQL oracle reproduces the ENTIRE path bit-for-bit: assignment,
    probe set, candidate set, final ranking.

    Physical shape (the 100-TB story): the seeds are collected once
    (``n_seeds`` rows, bounded by contract) and folded into the plan as
    LITERALS — assignment is a pure per-row projection (no join, no
    shuffle), the probe filter prunes before the top-k, and the final
    ``orderBy().limit(k)`` plans as TakeOrderedAndProject. One scan,
    one narrow stage, a k-row driver merge. Accuracy matches IVF with
    random-seed centroids: both are Voronoi partitions of the corpus;
    recall vs brute force is asserted in tests.
    """
    qe = df.select(
        F.col(id_col).alias("id"),
        F.transform(VX.quantize(vec_col, scale), lambda x: x.cast("long")).alias(
            "qv"
        ),
    )
    seed_rows = (
        qe.orderBy("id").limit(n_seeds).collect()
    )  # bounded: n_seeds rows
    seeds = [list(r["qv"]) for r in seed_rows]
    qints = _quant_ints(query_vec, scale)
    # probe set: nprobe seeds closest to the query, driver-side exact
    # int math (n_seeds tiny), tie → smaller seed index
    sdist = sorted(
        (sum((a - b) * (a - b) for a, b in zip(s, qints)), j)
        for j, s in enumerate(seeds)
    )
    probes = [j for _, j in sdist[:nprobe]]
    # per-row assignment: argmin over the literal seed array (struct
    # min orders by dist first, then seed index — deterministic ties).
    # Built as ONE SQL string (the pq_adc_exact r12 fix): the python
    # Column loop paid a py4j round-trip per literal/lambda node, all
    # driver wall; semantics (fold, tie order, BIGINT types) unchanged,
    # so the oracle hash is unchanged.
    def _lits(vals):
        return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"

    seeds_sql = "array(" + ",".join(_lits(s) for s in seeds) + ")"
    assign = F.expr(
        f"array_min(transform(sequence(0, {len(seeds) - 1}), j -> "
        f"named_struct('d', aggregate(zip_with(qv, element_at({seeds_sql}, "
        f"j + 1), (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x), "
        f"'j', CAST(j AS BIGINT)))).j"
    )
    dist2 = F.expr(
        f"aggregate(zip_with(qv, {_lits(qints)}, (x, y) -> (x - y) * (x - y)), "
        f"0L, (acc, x) -> acc + x)"
    )
    out = (
        qe.select(
            "id",
            assign.alias("cluster"),
            dist2.alias("dist2"),
        )
        .where(F.col("cluster").isin([int(p) for p in probes]))
        .orderBy(F.col("dist2").asc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias(id_col), "cluster", "dist2")
    )
    return out


def ivf_probe_exact_oracle_sql(
    k: int = 10,
    n_seeds: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`ivf_probe_exact` on the ``embeddings``
    view: same quantization, same smallest-id seeds, same exact-integer
    assignment/probe/top-k with identical tie order."""
    quant = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(round(x * {scale}) AS BIGINT))"
    )
    d2 = (
        "list_sum(list_transform(range(1, {n}), i -> "
        "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, {quant} AS qv FROM embeddings
),
seeds AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, qv
  FROM e ORDER BY vec_id LIMIT {n_seeds}
),
q AS (SELECT qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
assign AS (
  SELECT e.vec_id, e.qv, s.j,
         {d2.format(n=dim + 1, a="e.qv", b="s.qv")} AS sd
  FROM e CROSS JOIN seeds s
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY sd, s.j) = 1
),
probes AS (
  SELECT s.j FROM seeds s CROSS JOIN q
  ORDER BY {d2.format(n=dim + 1, a="s.qv", b="q.qv")}, s.j
  LIMIT {nprobe}
)
SELECT a.vec_id,
       a.j AS cluster,
       CAST({d2.format(n=dim + 1, a="a.qv", b="q.qv")} AS BIGINT) AS dist2
FROM assign a CROSS JOIN q
WHERE a.j IN (SELECT j FROM probes)
ORDER BY dist2, a.vec_id LIMIT {k}
"""
