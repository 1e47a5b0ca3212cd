"""Distributed connected components — the transitive-closure step that
turns pair-wise near-duplicate candidates (minhash/simhash/jaccard pairs)
into whole dedup *clusters*.

The reference has no graph surface at all (its dedup story is Postgres
``ON CONFLICT`` upserts, revtron/database/main.py:88-117); at 100 TB the
near-dup pair list is itself a multi-billion-edge graph, and "keep the
smaller id of each pair" (one propagation round) under-merges any cluster
that isn't star-shaped: a chain a-b, b-c leaves b and c both claiming
different representatives.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame joins + partial-aggregating ``groupBy``s. Converges in
O(log^2 n) rounds on any graph (typically 2-4 on dedup graphs, whose
components are small and dense). Each round is two shuffles on the node
id; a checkpoint truncates lineage so the plan doesn't grow with
iterations. By default that is ``localCheckpoint`` (executor-local
blocks — fine on local[*]); pass ``checkpoint_dir`` to use reliable
``checkpoint`` storage instead, which survives executor loss mid-loop
on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Drop self-loops, orient each undirected edge as (hi, lo), dedup."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node, link every *strictly larger* neighbor to the
    minimum of its neighborhood (including itself)."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node (edges oriented hi→lo), link all smaller-or-equal
    neighbors — and the node itself — to the neighborhood minimum."""
    e = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbr = e.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_ = mins.select("u", F.col("m").alias("v"))
    return nbr.unionByName(self_)


def _driver_union_find(
    e0: DataFrame,
    edges_local: list,
    endpoints: DataFrame,
    nodes: DataFrame | None,
    node_col: str | None,
) -> DataFrame:
    """Small-graph fast path: min-root union-find over the collected
    canonical edge list, labels broadcast-joined onto the vertex set.
    Identical output contract to the distributed loop (component = min
    node id; isolated vertices label themselves) — differentially
    tested against it."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges_local:
        ra, rb = find(r["u"]), find(r["v"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min id stays the root, matching F.least
    members = {v for r in edges_local for v in (r["u"], r["v"])}
    labels = [(x, find(x)) for x in members]

    spark = e0.sparkSession
    ntype = e0.schema["u"].dataType.simpleString()
    lab_df = spark.createDataFrame(labels, f"node {ntype}, component {ntype}")

    all_nodes = endpoints.select(F.col("u").alias("node"))
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        all_nodes = all_nodes.unionByName(
            nodes.select(F.col(nc).alias("node"))
        ).distinct()
    return all_nodes.join(F.broadcast(lab_df), "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Label every node with the minimum node id of its connected
    component. Returns ``(node, component)``.

    ``edges`` is undirected (each pair listed once is enough).  ``nodes``
    optionally supplies the full vertex set so isolated vertices appear
    in the output with ``component == node``.

    ``checkpoint_dir``: when set, per-round lineage cuts use reliable
    ``checkpoint`` storage rooted there (HDFS/S3 path on a cluster)
    instead of ``localCheckpoint`` — executor loss mid-loop then replays
    from the checkpoint instead of killing the job.

    ``driver_threshold``: if the canonical edge set has at most this
    many edges (probed with a bounded ``limit(k+1).collect()`` — never
    an unbounded collect), components are solved by driver union-find
    and broadcast back, skipping the iterative rounds entirely. Dedup
    graphs are proportional to the duplicate rate, not the corpus, so
    even 100-TB corpora routinely produce edge lists this small; the
    star-contraction loop remains the path for genuinely large graphs.
    Pass 0 to disable.

    Convergence is detected by a (count, xor-of-hashes) checksum of the
    canonical edge set — one cheap aggregate per round instead of a full
    set comparison.
    """
    _cut = _lineage_cutter(edges.sparkSession, checkpoint_dir)

    # materialize the edge input ONCE: it is referenced by the canonical
    # edge set, the endpoint universe, and the final isolated-node
    # anti-join — without this an expensive upstream (e.g. a pair-mining
    # self-join) would be recomputed at every reference
    e0 = _cut(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), True)
    endpoints = e0.select("u").unionByName(e0.select(F.col("v").alias("u"))).distinct()
    cur = _canon(e0)

    if driver_threshold:
        # gate on the RAW edge count first — counting the checkpointed
        # e0 is shuffle-free, while probing the canonical set directly
        # would run _canon's full distinct over a possibly-huge edge
        # list only to discard it. raw ≥ canonical, so raw ≤ k proves
        # the canonical set fits; heavily-duplicated big edge lists
        # just miss the fast path and take the loop, which is correct.
        if e0.count() <= driver_threshold:
            sample = cur.collect()
            return _driver_union_find(e0, sample, endpoints, nodes, node_col)

    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # lazy checkpoint: the signature aggregate right below is the
        # round's one action — it materializes the checkpoint AND reads
        # the convergence signature in a single job (eager=True would
        # run a second job per round just to materialize)
        cur = _cut(_canon(_small_star(_large_star(cur))), False)
        n, h = cur.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
        ).first()
        sig = (n, h)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: edge set still changing after {max_iter} "
            "rounds — labels may split components; raise max_iter",
            stacklevel=2,
        )
    # at the fixpoint every edge is (member, root): the labels are the
    # edges themselves plus a self-label per root
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = labels.unionByName(roots)
    # vertices that only appeared in self-loops (dropped by _canon) or in
    # the caller-supplied node set label themselves
    all_nodes = endpoints.select(F.col("u").alias("node"))
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        all_nodes = all_nodes.unionByName(nodes.select(F.col(nc).alias("node"))).distinct()
    isolated = all_nodes.join(out, "node", "left_anti").withColumn(
        "component", F.col("node")
    )
    return out.unionByName(isolated)


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one representative (the minimum id) per connected cluster of
    near-duplicate pairs — the exact transitive generalisation of
    ``dedup.minhash_lsh_dedup``'s single-round heuristic."""
    comp = connected_components(pairs, src=id_a, dst=id_b)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _lineage_cutter(spark, checkpoint_dir):
    """Per-round lineage cut: reliable ``checkpoint`` when a directory is
    given (survives executor loss on a cluster), ``localCheckpoint``
    otherwise (fine on local[*])."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.checkpoint(eager=eager)

    else:

        def _cut(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.localCheckpoint(eager=eager)

    return _cut


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    checkpoint_dir: str | None = None,
    seeds: DataFrame | None = None,
    seed_col: str | None = None,
) -> DataFrame:
    """Integer-arithmetic PageRank: ``(node, rank_int)`` after a fixed
    number of power iterations.

    With ``seeds`` this is *personalized* PageRank: the teleport mass
    (and the dangling mass) is redistributed only to the seed set
    instead of uniformly — the seed-proximity authority signal
    (Common-Crawl harvest ranking against trusted seed domains). The
    per-iteration teleport total is identical to the uniform case
    (``(1−d)·N·scale``), split evenly over the seeds in the same
    integer arithmetic.

    The reference has no graph surface (``/root/reference/revtron/database/
    main.py`` is SQL generation); this is the LLM-pipeline extension —
    link-graph authority scoring is a standard corpus-quality signal
    (seed-page distance / Common-Crawl-style harvest ranking).

    Every operation is exact 64-bit integer arithmetic so the result is
    bit-identical in any engine (the DuckDB oracle unrolls the same
    iterations as chained CTEs):

    - ranks start at ``scale`` per node (total mass ``N*scale``),
    - an edge's contribution is ``rank div outdeg`` (integer division —
      Spark ``div`` and DuckDB ``//`` agree on non-negatives),
    - dangling mass (nodes with no out-edges) is redistributed evenly as
      ``dangling_sum div N``,
    - the update is ``((den-num)*scale) div den
      + (num*(contribs + dangling_share)) div den``.

    Integer division leaks ≤1 rank unit per node per round — a
    deterministic, ranking-preserving variant of the float recurrence
    (relative error ≤ N/scale).

    100 TB posture: the loop is ``iterations`` shuffles on the node id;
    the degree-annotated edge list is computed once and persisted; the
    per-round dangling total is a 1-row aggregate cross-joined back
    (never collected); lineage is cut per round (reliable checkpoint
    with ``checkpoint_dir``).  ``scale`` is auto-clamped so
    ``N * scale * damping_num`` stays below 2^62 — at trillion-node
    graphs precision degrades gracefully instead of overflowing ANSI
    int64 arithmetic.
    """
    spark = edges.sparkSession
    _cut = _lineage_cutter(spark, checkpoint_dir)

    e = _cut(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes.persist()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_int", F.lit(0).cast("bigint"))
    safe_scale = (2**62) // (n * damping_num)
    if safe_scale < scale:
        import warnings

        warnings.warn(
            f"pagerank: scale clamped {scale} -> {safe_scale} to keep "
            f"N*scale*damping inside int64; an external oracle using the "
            f"unclamped scale will not match — pass scale<={safe_scale} "
            "explicitly on both sides",
            stacklevel=2,
        )
        scale = safe_scale
    base = ((damping_den - damping_num) * scale) // damping_den

    seed_flags = None
    n_seeds = 0
    if seeds is not None:
        sc_ = seed_col or seeds.columns[0]
        seed_flags = (
            seeds.select(F.col(sc_).alias("node"))
            .distinct()
            .join(nodes, "node", "left_semi")
            .withColumn("_seed", F.lit(True))
        )
        seed_flags.persist()
        n_seeds = seed_flags.count()
        if n_seeds == 0:
            raise ValueError("pagerank: seed set is empty (or disjoint from the graph)")
        # same total teleport mass as the uniform case, split over seeds
        base_seed = ((damping_den - damping_num) * scale * n) // damping_den // n_seeds

    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(deg, e.src == deg.node).select("src", "dst", "outdeg")
    ed.persist()

    # probe ONCE for dangling nodes (no out-edges): when there are none
    # — e.g. any symmetrized graph — every per-iteration dangling
    # aggregate (two jobs each) collapses to a constant 0. The SET is
    # static (deg never changes), so persist it: the per-round dangling
    # total then reads two caches (ranks ⋈ dangling) instead of
    # re-running the degree aggregate's exchange every round just to
    # anti-join against it (guide §2.4; r12 job-count profile)
    dangling_nodes = nodes.join(deg, "node", "left_anti")
    dangling_nodes.persist()
    has_dangling = bool(dangling_nodes.limit(1).count())
    if not has_dangling:
        dangling_nodes.unpersist()

    ranks = nodes.withColumn("rank_int", F.lit(scale).cast("bigint"))
    # zero-contribution spine: unioned into the contribution aggregate so
    # sink-only nodes flow through the ONE exchange the groupBy already
    # pays, instead of a second per-round "left-join nodes to reattach
    # missing rows" (r12 job-count profile: this family is
    # scheduling-bound — each removed join removes an AQE stage/
    # broadcast job per round). sum(contribs ∪ zeros) per node ==
    # coalesce(sum(contribs), 0), the exact old frame.
    zero = nodes.select("node", F.lit(0).cast("bigint").alias("c"))
    for _it in range(iterations):
        summed = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("rank_int div outdeg").alias("c"))
            .unionByName(zero)
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        if has_dangling:
            div_by = n_seeds if seed_flags is not None else n
            # one bounded row to the driver (the pagerank n = count()
            # contract), folded back as a literal: the crossJoin(
            # broadcast(1-row agg)) shape paid a BroadcastExchange
            # build job per round for a single integer
            dang_tot = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank_int"), F.lit(0)).alias("dang"))
                .first()["dang"]
            )
            dang_share = F.lit(dang_tot // div_by)
        else:
            dang_share = F.lit(0)
        if seed_flags is not None:
            # no broadcast hint: a seed set can be any fraction of the
            # node set (the gate seeds every 10th customer) — AQE picks
            # broadcast only when the flags actually fit
            summed = summed.join(seed_flags, "node", "left")
            is_seed = F.coalesce(F.col("_seed"), F.lit(False))
            base_col = F.when(is_seed, F.lit(base_seed)).otherwise(F.lit(0))
            dang_share = F.when(is_seed, dang_share).otherwise(F.lit(0))
        else:
            base_col = F.lit(base)
        # lazy cut: lineage is truncated immediately, the round's RDD
        # materializes inside the next round's first job instead of
        # paying one eager job per round — the dawid_skene convention;
        # nothing else reads `ranks` mid-round (the dangling probe above
        # runs before the cut). The LAST round stays eager: the edge/
        # node caches are released below before the caller ever acts,
        # so the final frame must be materialized while they exist.
        ranks = _cut(
            summed.select(
                "node",
                base_col.alias("_base"),
                (F.lit(damping_num) * (F.col("contrib") + dang_share)).alias(
                    "_raw"
                ),
            ).select(
                "node",
                F.expr(f"_base + _raw div {damping_den}").alias("rank_int"),
            ),
            eager=(_it == iterations - 1),
        )
    nodes.unpersist()
    ed.unpersist()
    if has_dangling:
        dangling_nodes.unpersist()
    if seed_flags is not None:
        seed_flags.unpersist()
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    *,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    seed_pred: str | None = None,
) -> str:
    """DuckDB SQL mirroring :func:`pagerank` operation-for-operation:
    the power iterations are unrolled as chained CTEs (standard SQL
    forbids aggregation over a recursive reference), every op is the
    same int64 expression, so value hashes match bit-exactly.

    ``edges_sql`` is a SELECT producing ``(src, dst)``.  The caller must
    keep ``N * scale * damping_num < 2^62`` (the Spark side auto-clamps;
    at oracle scales the default never clamps).

    ``seed_pred``: SQL boolean over the bare identifier ``node`` —
    mirrors the Spark side's ``seeds`` DataFrame (personalized PageRank:
    teleport + dangling mass to seeds only).
    """
    base = f"CAST({((damping_den - damping_num) * scale) // damping_den} AS BIGINT)"
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_int FROM nodes)",
    ]
    if seed_pred is not None:
        dnm = damping_den - damping_num
        parts.append(f"sc AS (SELECT COUNT(*) AS s FROM nodes WHERE {seed_pred})")
        # same two-step integer division the Spark driver computes:
        # ((den-num)*scale*n) // den // n_seeds
        base_expr = (
            f"CASE WHEN {seed_pred} THEN "
            f"CAST({dnm * scale} AS BIGINT) * (SELECT n FROM nn)"
            f" // {damping_den} // (SELECT s FROM sc) ELSE 0 END"
        )
        dang_div = "(SELECT s FROM sc)"
    else:
        base_expr = base
        dang_div = "(SELECT n FROM nn)"
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS cnode, SUM(r.rank_int // d.outdeg) AS contrib"
            f" FROM e JOIN {p} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.node GROUP BY 1)"
        )
        parts.append(
            f"d{i} AS (SELECT COALESCE(SUM(r.rank_int), 0)"
            f" // {dang_div} AS dang_share"
            f" FROM {p} r LEFT JOIN deg d ON r.node = d.node"
            f" WHERE d.node IS NULL)"
        )
        if seed_pred is not None:
            dang_term = (
                f"CASE WHEN {seed_pred} THEN (SELECT dang_share FROM d{i})"
                f" ELSE 0 END"
            )
        else:
            dang_term = f"(SELECT dang_share FROM d{i})"
        # c's key is aliased cnode so the bare identifier `node` inside
        # seed_pred/base_expr resolves unambiguously to nodes.node
        parts.append(
            f"r{i} AS (SELECT n.node, {base_expr}"
            f" + (CAST({damping_num} AS BIGINT) * (COALESCE(c.contrib, 0)"
            f" + {dang_term})) // {damping_den} AS rank_int"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.cnode)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rank_int FROM r{iterations}"
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph:
    ``(node, triangles)``, one row per node that participates in ≥1
    triangle.

    Algorithm (Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11): orient every edge from the
    lower-(degree, id) endpoint to the higher, enumerate wedges by
    self-joining the oriented list on the pivot, and close each wedge
    with a semi-check join back into the oriented edges. Orientation
    bounds every node's out-degree by O(sqrt(m)), so the wedge join's
    fan-out — the quadratic hazard in naive triangle counting — is
    bounded by arboricity, not by the max hub degree. Three shuffles
    total; no Python.

    The result is orientation-invariant (each triangle is produced
    exactly once and credited to all three corners), which is what lets
    the DuckDB oracle use the simple ``a < b < c`` 3-way join and still
    hash-match.

    ``assume_canonical=True`` skips the canonicalization distinct (one
    exchange + a duplicate persist) when the caller proves the input is
    already ``(u=greatest, v=least)``-canonical and duplicate-free —
    :func:`clustering_coefficient` builds exactly that frame before
    calling in.
    """
    from .dedup import _persist

    u, v = F.col("u"), F.col("v")
    if assume_canonical:
        canon = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        canon = _persist(
            edges.select(
                F.greatest(F.col(src), F.col(dst)).alias("u"),
                F.least(F.col(src), F.col(dst)).alias("v"),
            )
            .filter(u != v)
            .distinct()
        )
    deg = (
        canon.select(u.alias("node"))
        .unionByName(canon.select(v.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient lower-(deg, id) -> higher-(deg, id). Both endpoint
    # annotations reference the SAME deg frame through aliases + join
    # conditions (not renamed projections): canonically-equal subtrees
    # let ReuseExchange build ONE broadcast where the old shape built —
    # and recomputed the degree aggregate for — two (the k_core r12
    # finding, applied here).
    d1, d2 = deg.alias("_d1"), deg.alias("_d2")
    ann = canon.join(d1, u == F.col("_d1.node")).join(d2, v == F.col("_d2.node"))
    ku = F.struct(F.col("_d1.deg").alias("d"), u.alias("n"))
    kv = F.struct(F.col("_d2.deg").alias("d"), v.alias("n"))
    fwd = ku < kv
    # persist pre-partitioned on the wedge pivot: both sides of the
    # wedge self-join read this cache hash-partitioned on `a`, so the
    # join plans zero exchanges (sorts only) — one setup exchange
    # replaces two join-side exchanges (guide §2.4 "share one exchange")
    oriented = _persist(
        ann.select(
            F.when(fwd, u).otherwise(v).alias("a"),
            F.when(fwd, v).otherwise(u).alias("b"),
            F.when(fwd, kv).otherwise(ku).alias("kb"),
        ).repartition("a")
    )
    # wedges a->b, a->c enumerated once each ((deg,id)-order b < c);
    # the closing oriented edge between b and c is then exactly b->c
    e1 = oriented.select(F.col("a"), F.col("b"), F.col("kb"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("c"), F.col("kb").alias("kc"))
    wedges = e1.join(e2, "a").filter(F.col("kb") < F.col("kc")).select("a", "b", "c")
    closer = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closer, ["b", "c"], "left_semi")
    # credit all three corners with ONE pass: the old 3-branch union
    # re-planned — and re-ran — the whole wedge join once per branch
    # (only exchanges get reused across union branches, not joins)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    # persisted intermediates are registered with dedup._persist and
    # released by the caller via dedup.release_caches() — the returned
    # frame is lazy, so an eager unpersist here would cancel the caches
    # before any action ever used them
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert, Kumara 2007) over the undirected graph: every node starts
    with its own id as label; each round it adopts its neighbors'
    PLURALITY label — after a few rounds labels coalesce inside dense
    regions, splitting the graph into communities, the granularity
    between connected components (too coarse: any bridge merges) and
    triangles (too local).

    Determinism (the published algorithm is famously order-dependent):
    this variant is fully synchronous — all nodes update from the same
    previous-round labels — and plurality ties break on the SMALLEST
    label (``min_by`` over the struct ``(−count, label)``, which works
    for ANY orderable label type, strings included), so a fixed
    iteration count yields a bit-reproducible labeling that a SQL
    oracle can replay with unrolled CTEs (count → QUALIFY row_number
    per node). Nodes with no non-self-loop edge (isolated or
    self-loop-only — self-loops vote for nobody) keep their own label
    and are present in the output.

    100 TB posture: per round one neighbor-join shuffle + one
    (node, label) count aggregate — the same node-keyed shuffle budget
    as a PageRank iteration; labels frame lineage-cut per round
    (reliable checkpoint with ``checkpoint_dir``); nothing collects.

    Cache lifetime (r12): the symmetrized edge cache stays persisted
    past function exit (keeping it alive lets the last round's lineage
    cut stay lazy). Long-lived drivers that call this repeatedly should
    release it via ``operators.dedup.release_caches()`` — the repo-wide
    operator-cache convention the bench follows between queries.

    Returns ``(node, label)``; community members share a label.
    """
    spark = edges.sparkSession
    _cut = _lineage_cutter(spark, checkpoint_dir)

    # cut the RAW edge projection (not just the loop's filtered view):
    # `self_only` at the end re-reads raw, and cutting only e0 left the
    # whole upstream fixture construction planned a second time in the
    # returned frame (r12 plan audit)
    raw = _cut(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")), False)
    e0 = raw.where(F.col("a") != F.col("b"))  # self-loops vote for nobody
    und = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # cache pre-partitioned on the center key: the per-round broadcast
    # join preserves it, and hash(a) satisfies the clustering of BOTH
    # round aggregates (groupBy(a, label) and groupBy(a)), so the whole
    # round plans zero exchanges when the label frame broadcasts (one
    # setup exchange buys `iterations` round exchanges; when labels are
    # too big to broadcast the sort-merge join re-shuffles und by b and
    # the layout is a wash — same bytes either way)
    # registry-persisted (released via dedup.release_caches like every
    # operator cache) instead of unpersisted at function exit: keeping
    # the cache alive lets the LAST round's cut stay lazy too, so a
    # standalone call runs ZERO build-time actions — the caller's first
    # action materializes the graph, every round, and the final labels
    # in one job (r12; this family is scheduling-bound)
    from .dedup import _persist

    und = _persist(und.repartition("a"))
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # lazy init cut (r12): lineage truncates now, the distinct
    # materializes inside round 1's first job instead of paying a
    # separate build-time action — this family is scheduling-bound
    labels = _cut(labels, False)
    for _it in range(iterations):
        nb = und.join(labels, und["b"] == labels["node"]).select(
            F.col("a"), F.col("label")
        )
        counts = nb.groupBy("a", "label").agg(F.count(F.lit(1)).alias("cnt"))
        # smallest label among plurality winners: min_by over the struct
        # (−count, label) — struct ordering is lexicographic, so this is
        # max count then min label, and unlike negating the label it
        # works for string/any-orderable node ids
        new = counts.groupBy("a").agg(
            F.min_by(
                F.col("label"), F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        )
        # lazy cuts every round (r12, the dawid_skene convention):
        # lineage still truncates, but each round's RDD materializes
        # inside the caller's first job instead of one eager job per
        # round — this family is scheduling-bound, not byte-bound. The
        # last round can stay lazy because `und` now lives in the cache
        # registry (released by release_caches, not at function exit).
        labels = _cut(new.select(F.col("a").alias("node"), "label"), False)
    # nodes every one of whose edges was a self-loop never enter `und`
    # (isolated nodes in a node-list sense don't appear in an edge list
    # at all) — they keep their own label rather than vanishing
    self_only = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
        .join(labels, "node", "left_anti")
        .select("node", F.col("node").alias("label"))
    )
    return labels.unionByName(self_only)


def label_propagation_oracle_sql(
    edges_sql: str, iterations: int = 4
) -> str:
    """DuckDB twin of :func:`label_propagation`: the same synchronous
    rounds unrolled as chained CTEs over an edge subquery producing
    columns ``(a, b)``."""
    parts = [
        f"e0 AS ({edges_sql})",
        "und AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM e0 WHERE a <> b"
        " UNION ALL SELECT b AS a, a AS b FROM e0 WHERE a <> b))",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)",
    ]
    for i in range(iterations):
        parts.append(
            f"c{i} AS (SELECT und.a, l{i}.label, COUNT(*) AS cnt "
            f"FROM und JOIN l{i} ON und.b = l{i}.node GROUP BY und.a, l{i}.label)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT a AS node, label FROM c{i} "
            "QUALIFY row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label ASC) = 1)"
        )
    parts.append(
        "allnodes AS (SELECT DISTINCT node FROM "
        "(SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0))"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{iterations}"
        + "\nUNION ALL SELECT node, node AS label FROM allnodes"
        + f" WHERE node NOT IN (SELECT node FROM l{iterations})"
    )


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int = 2,
    rounds: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core peel (Seidman 1983): synchronously remove every node of
    degree < k from the undirected simple graph, repeat, until only the
    maximal subgraph in which every node has ≥ k neighbors remains —
    the standard densest-region extractor (spam-farm / bot-ring
    detection, graph-sparsification preprocessing), coarser than
    triangles, denser than connected components.

    Deterministic by construction (no tie-breaks: a node's fate depends
    only on its degree), run for a FIXED number of synchronous rounds so
    a SQL oracle can replay it as unrolled CTEs — pass ``rounds`` ≥ the
    peel depth and the result is the true fixpoint (each extra round is
    a no-op on a converged graph; callers can assert convergence by
    comparing ``rounds`` and ``rounds+1``).

    100 TB posture: per round one node-keyed degree aggregate + two
    left-semi joins filtering the edge list by surviving endpoints —
    all co-partitioned on the node key; the edge frame is lineage-cut
    per round like its `pagerank`/`label_propagation` siblings; nothing
    collects to the driver.

    Returns ``(node, degree)`` for surviving nodes (degree within the
    core).
    """
    spark = edges.sparkSession
    _cut = _lineage_cutter(spark, checkpoint_dir)

    # cut the projected input before the symmetrizing union: both union
    # branches reference e0, and uncut each would re-plan (and
    # re-compute, inside the und materialization) the caller's whole
    # edge construction once per branch
    e0 = _cut(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
            F.col(src) != F.col(dst)
        ),
        True,
    )
    # checkpoint pre-partitioned on the peel key: the per-round degree
    # aggregate clusters by a, and both endpoint semi-joins broadcast
    # `keep` and so preserve the layout — localCheckpoint keeps the
    # partitioning on the RDD, so every round after the first plans
    # zero exchanges (one setup exchange for `rounds` round exchanges)
    und = _cut(
        e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition("a"),
        True,
    )
    for _ in range(rounds):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.where(F.col("_d") >= k).select("a")
        # both endpoint filters reference the SAME `keep` frame (the
        # second via a join condition instead of a renamed projection):
        # canonically-equal subtrees let ReuseExchange share ONE
        # broadcast build per round where the old shape built (and
        # recomputed the degree aggregate for) two. Cuts are lazy (r12):
        # nothing here persists, so the whole peel materializes in the
        # caller's action with each round's RDD cached by its
        # checkpoint — one job instead of one per round.
        filtered = und.join(keep, "a", "left_semi")
        und = _cut(
            filtered.join(
                keep.alias("_keep_b"),
                F.col("b") == F.col("_keep_b.a"),
                "left_semi",
            ),
            False,
        )
    return und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def k_core_oracle_sql(edges_sql: str, k: int = 2, rounds: int = 8) -> str:
    """DuckDB twin of :func:`k_core`: the same synchronous peel rounds
    unrolled as chained CTEs over an edge subquery with columns
    ``(a, b)``."""
    # AS MATERIALIZED: u{i} is referenced three times per round (the
    # edge scan and both endpoint filters) — left inline, the planner
    # re-expands the whole prefix per reference and the chain goes
    # exponential (measured 108 s vs ~2 s materialized at sf0.01)
    parts = [
        f"e0raw AS MATERIALIZED ({edges_sql})",
        "u0 AS MATERIALIZED (SELECT DISTINCT a, b FROM"
        " (SELECT a, b FROM e0raw WHERE a <> b"
        " UNION ALL SELECT b AS a, a AS b FROM e0raw WHERE a <> b))",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM u{i} GROUP BY a)"
        )
        parts.append(f"k{i} AS MATERIALIZED (SELECT a FROM d{i} WHERE d >= {k})")
        parts.append(
            f"u{i + 1} AS MATERIALIZED (SELECT u.a, u.b FROM u{i} u "
            f"JOIN k{i} x ON u.a = x.a JOIN k{i} y ON u.b = y.a)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree"
        + f"\nFROM u{rounds} GROUP BY a"
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Degree assortativity of an undirected graph — Pearson correlation
    between the endpoint degrees over every (symmetrized, deduplicated,
    self-loop-free) edge. Positive: hubs link hubs (social-network
    shape); negative: hubs link leaves (bipartite/star shape — what a
    healthy customer↔supplier or doc↔domain graph shows). The
    one-number structural readout you check before running pagerank /
    k_core at full scale.

    Engine-exact: degrees are integers, the five moment sums accumulate
    in DECIMAL(38,0) (degree products overflow int64 at ~3e9-degree
    hubs), and the closed form is `grouped_linreg`'s fixed expression —
    hash-matches SQL. Degenerate graphs (uniform degree) return NULL.

    Plan: symmetrize+distinct (one shuffle), degree count (one
    shuffle), two degree joins back to the edge list (node-keyed), one
    map-side-combined moment aggregation. Output one row:
    ``(n_nodes, n_edges, assortativity)`` — n_edges counts undirected
    edges once.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b")).where(
                F.col("a") != F.col("b")
            )
        )
        .distinct()
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), F.col("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    ed = sym.join(da, "a").join(db, "b")
    x = F.col("dx").cast("long")
    y = F.col("dy").cast("long")
    agg = ed.agg(
        F.count(F.lit(1)).alias("_m2"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((x * y).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("_syy"),
    )
    # n_nodes in-plan (broadcast single-row agg) — a driver-side
    # deg.count() would recompute the symmetrize shuffle a second time
    nodes_row = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    agg = agg.join(F.broadcast(nodes_row))
    nd = F.col("_m2").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cov_n = nd * F.col("_sxy").cast("double") - sx * sy
    varx_n = nd * F.col("_sxx").cast("double") - sx * sx
    vary_n = nd * F.col("_syy").cast("double") - sy * sy
    rho = cov_n / (F.sqrt(varx_n) * F.sqrt(vary_n))
    return agg.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        (F.col("_m2") / 2).cast("bigint").alias("n_edges"),
        F.round(F.when((varx_n > 0) & (vary_n > 0), rho), round_to).alias(
            "assortativity"
        ),
    )


def degree_assortativity_oracle_sql(edges_sql: str, round_to: int = 6) -> str:
    """DuckDB twin: same symmetrize/distinct, HUGEINT-exact moments,
    same fixed-order expression. ``edges_sql`` produces ``(src, dst)``."""
    return f"""
WITH e0 AS ({edges_sql}),
sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
    UNION ALL SELECT dst AS a, src AS b FROM e0 WHERE src <> dst
  )
), deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
ed AS (
  SELECT da.d AS dx, db.d AS dy
  FROM sym JOIN deg da ON sym.a = da.node JOIN deg db ON sym.b = db.node
), a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
         SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
         SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
  FROM ed
), d AS (
  SELECT m2,
         CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n,
         CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n
  FROM a
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       CAST(m2 / 2 AS BIGINT) AS n_edges,
       ROUND(CASE WHEN varx_n > 0 AND vary_n > 0
             THEN cov_n / (sqrt(varx_n) * sqrt(vary_n)) END, {round_to}) AS assortativity
FROM d
"""


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    top_k: int | None = 100,
    max_degree: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Neighborhood link-prediction scores — common-neighbor count and
    Jaccard coefficient for the top NON-adjacent node pairs. The
    classic "which edges are missing" readout (Liben-Nowell & Kleinberg
    2003): for u < w not adjacent, ``cn = |N(u) ∩ N(w)|`` and
    ``jaccard = cn / (deg(u) + deg(w) − cn)``.

    Engine-exact: cn and degrees are integers; jaccard is ONE IEEE
    double division; output order is the total (cn DESC, jaccard DESC,
    u, w), so ``top_k`` cuts deterministically and hash-matches SQL.

    Plan: symmetrize+distinct (one shuffle), degree count, wedge
    enumeration through each center v (one self-join — O(Σ deg(v)²),
    the same budget as `triangle_counts`; pass ``max_degree`` to drop
    hub centers first, the `_cap_hot_buckets` discipline, and feed
    sparsified graphs as the gates do), an anti-join against the
    adjacency to keep only absent edges, two node-keyed degree joins.
    Output: ``(u, w, common, deg_u, deg_w, jaccard)``.
    """
    from .dedup import _persist

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # sym feeds FOUR consumers (degrees, both wedge sides, the
    # adjacency anti-join) and Spark does not reuse the exchanges: the
    # unpersisted plan re-scans the upstream edge construction 40×
    # (measured at sf0.01 — cheap under local[32] thread overlap, a
    # catastrophe at 100 TB). Persisting costs ~3 s of materialization
    # barrier at sf0.1 and makes every consumer read the small
    # symmetrized list instead.
    # symmetrize with ONE explode instead of a self-union — a union
    # would evaluate the upstream construction once per branch even
    # inside the persist materialization.
    # the distinct's exchange is keyed on u alone (hash(u) satisfies the
    # (u,v)-dedup aggregate's clustering — subset rule), so the cache
    # comes out pre-partitioned on the center key and BOTH wedge-join
    # sides and the degree aggregate read it with zero further
    # exchanges (guide §2.4: two ops keyed the same way share one
    # exchange)
    sym = _persist(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .filter(F.col("u") != F.col("v"))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym.select(F.col("u").alias("c"), F.col("v").alias("n"))
    if max_degree is not None:
        ok = deg.where(F.col("deg") <= max_degree).select(F.col("u").alias("c"))
        centers = centers.join(ok, "c")
    wedges = (
        centers.alias("a")
        .join(
            centers.alias("b"),
            (F.col("a.c") == F.col("b.c")) & (F.col("a.n") < F.col("b.n")),
        )
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("w"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    adj = sym.where(F.col("u") < F.col("v")).select(
        F.col("u"), F.col("v").alias("w")
    )
    cand = wedges.join(adj, ["u", "w"], "left_anti")
    scored = (
        cand.join(deg.select(F.col("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("u").alias("w"), F.col("deg").alias("deg_w")), "w")
        .select(
            "u",
            "w",
            "common",
            "deg_u",
            "deg_w",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_w") - F.col("common")).cast(
                    "double"
                ),
                round_to,
            ).alias("jaccard"),
        )
    )
    ordered = scored.orderBy(
        F.col("common").desc(), F.col("jaccard").desc(), "u", "w"
    )
    return ordered.limit(top_k) if top_k is not None else ordered


def link_prediction_oracle_sql(
    edges_sql: str,
    min_common: int = 1,
    top_k: int | None = 100,
    max_degree: int | None = None,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same symmetrization, same wedge count, same
    anti-join, same single division and (cn DESC, jaccard DESC, u, w)
    order. ``edges_sql`` must yield columns (src, dst)."""
    cap = (
        f"JOIN (SELECT u AS c FROM deg WHERE deg <= {max_degree}) ok USING (c)"
        if max_degree is not None
        else ""
    )
    limit = f"LIMIT {top_k}" if top_k is not None else ""
    return f"""
WITH raw AS ({edges_sql}),
sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM raw
    UNION ALL SELECT dst AS u, src AS v FROM raw
  ) WHERE u != v
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
centers AS (SELECT sym.u AS c, sym.v AS n FROM sym {cap}),
wedges AS (
  SELECT a.n AS u, b.n AS w, CAST(COUNT(*) AS BIGINT) AS common
  FROM centers a JOIN centers b ON a.c = b.c AND a.n < b.n
  GROUP BY a.n, b.n
  HAVING COUNT(*) >= {min_common}
),
cand AS (
  SELECT wedges.* FROM wedges
  ANTI JOIN (SELECT u, v AS w FROM sym WHERE u < v) adj USING (u, w)
)
SELECT c.u, c.w, c.common, du.deg AS deg_u, dw.deg AS deg_w,
       ROUND(CAST(c.common AS DOUBLE)
             / CAST(du.deg + dw.deg - c.common AS DOUBLE), {round_to}) AS jaccard
FROM cand c
JOIN deg du ON c.u = du.u
JOIN deg dw ON c.w = dw.u
ORDER BY c.common DESC, jaccard DESC, c.u, c.w
{limit}
"""


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
    scale: int = 10**9,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer-arithmetic HITS (Kleinberg's hubs & authorities) over a
    DIRECTED edge list: ``(node, hub_int, auth_int)`` after a fixed
    number of mutual-reinforcement rounds — the "good pointer / good
    pointee" complement to :func:`pagerank` (PageRank is one authority
    number; HITS separates curation quality from content quality, e.g.
    link-hub pages vs destination pages in a crawl graph, or heavy
    buyers vs popular suppliers in a trade graph).

    Reference parity: none (the reference has no graph surface); part
    of the LLM-pipeline/graph extension alongside `pagerank`
    (`graph.py:241`).

    Exactness: the classical L2 normalization is float-order-sensitive,
    so this uses L1 fixed-point renormalization in pure int64 —
    after each half-step the vector is divided by
    ``q = greatest(1, total div scale)`` (integer division), keeping
    every value ≈ ``scale``-bounded and every operation bit-identical
    on both engines (the DuckDB oracle unrolls the same rounds as
    chained CTEs). Ranking-preserving: integer division by a common q
    never reorders.

    100 TB posture: per round, two node-keyed shuffled joins + two
    partial aggregates + two ONE-ROW totals cross-joined back
    (broadcast); each half-step's summed frame is persisted because the
    renormalizer's broadcast job and the main plan both read it;
    lineage cut per round like `pagerank`. ``scale`` is validated
    against ``Σh ≤ E·scale ≤ 2⁶²`` and the call RAISES with the max
    safe value when it would overflow — a silent clamp would desync
    the independently generated oracle SQL.
    """
    spark = edges.sparkSession
    _cut = _lineage_cutter(spark, checkpoint_dir)

    e = _cut(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    n_edges = e.count()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if n_edges == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("bigint").alias("hub_int"),
            F.lit(0).cast("bigint").alias("auth_int"),
        )
    # nodes is read twice per round (both half-step reattach joins);
    # unpersisted it re-ran the union+distinct over e every time — 8
    # extra exchanges per 4-round call (r12 job-count profile: the
    # iterative family is scheduling-bound, ~0.1-0.3 s per job on an
    # otherwise idle local[32], so every removed job is wall-clock)
    nodes = nodes.persist()
    safe_scale = (2**62) // n_edges
    if safe_scale < scale:
        # Fail fast instead of silently clamping (round-9 advice): the
        # oracle SQL is generated independently with the CALLER's scale,
        # so a silent clamp guarantees a bit-exactness mismatch that a
        # stderr warning cannot prevent. The message carries the max
        # safe value so the caller can re-run both sides consistently.
        raise ValueError(
            f"hits: scale={scale} would overflow int64 on the per-round "
            f"raw sums at {n_edges} edges; pass scale<={safe_scale} "
            "(and generate the oracle SQL with the same value)"
        )

    from .dedup import _persist

    def _renorm(raw: DataFrame, col: str) -> DataFrame:
        # `raw` MUST be persisted by the caller: the one-row total below
        # materializes the cache, and the renormalized projection then
        # reads it back instead of re-running the join+aggregate
        # subtree. The total is pulled to the driver as a SCALAR (one
        # bounded row — the same contract as pagerank's n = count) and
        # folded into the plan as a literal: the previous
        # crossJoin(broadcast(1-row agg)) shape paid a BroadcastExchange
        # build job per half-step, which the r12 job-count profile
        # showed is pure scheduling overhead on the per-round path
        # (8 broadcast jobs per 4-round call). q = max(1, tot div scale)
        # in Python ints is bit-identical to greatest(1, _tot div
        # {scale}) for the non-negative tot this sum produces.
        tot = raw.agg(F.coalesce(F.sum("_raw"), F.lit(0)).alias("_tot")).first()[
            "_tot"
        ]
        q = max(1, tot // scale)
        return raw.select("node", F.expr(f"_raw div CAST({q} AS BIGINT)").alias(col))

    hubs = nodes.withColumn("hub_int", F.lit(scale).cast("bigint"))
    auths = None
    # zero-contribution spine: unioning it into the SAME aggregate that
    # sums the edge contributions replaces the per-half-step
    # "left-join nodes to reattach missing rows" (one more join + its
    # broadcast job under AQE) with rows that flow through the one
    # exchange the aggregate already pays — sum(contribs ∪ zeros) ==
    # coalesce(sum(contribs), 0) per node, exactly the old frame
    zero = nodes.select("node", F.lit(0).cast("bigint").alias("_c"))
    for _ in range(iterations):
        a_all = _persist(
            e.join(hubs, e.src == hubs.node)
            .select(e.dst.alias("node"), F.col("hub_int").alias("_c"))
            .unionByName(zero)
            .groupBy("node")
            .agg(F.sum("_c").alias("_raw"))
        )
        # The cut is EAGER on purpose: materializing the renormalized
        # half-step bakes a_all's data into the checkpoint, so the
        # half-step cache can be released immediately instead of
        # accumulating 2 persisted frames per round until a later
        # release_caches() call (round-9 advice — long-lived drivers
        # grew executor storage across hits() calls). The scalar total
        # in _renorm still executes a_all's subtree exactly once
        # (persist hit on the second read).
        auths = _cut(_renorm(a_all, "auth_int"))
        a_all.unpersist()
        h_all = _persist(
            e.join(auths, e.dst == auths.node)
            .select(e.src.alias("node"), F.col("auth_int").alias("_c"))
            .unionByName(zero)
            .groupBy("node")
            .agg(F.sum("_c").alias("_raw"))
        )
        hubs = _cut(_renorm(h_all, "hub_int"))
        h_all.unpersist()
    nodes.unpersist()
    return hubs.join(auths, "node").select("node", "hub_int", "auth_int")


def hits_oracle_sql(
    edges_sql: str,
    *,
    iterations: int = 4,
    scale: int = 10**9,
) -> str:
    """DuckDB twin of :func:`hits`: the mutual-reinforcement rounds are
    unrolled as chained CTEs with the identical int64 L1 fixed-point
    renormalization, so hub/authority integers match bit-exactly.

    Every per-round CTE is ``AS MATERIALIZED`` (the
    `bradley_terry_rounds_sql` lesson): each round references its
    predecessor twice (raw sums + the renormalizer's scalar subquery),
    so DuckDB's default CTE inlining would re-evaluate the whole chain
    exponentially — 4 rounds of inlined chains hang where the
    materialized plan runs in milliseconds."""
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = f"h{i - 1}"
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT n.node, COALESCE(s.raw, 0) AS raw"
            f" FROM nodes n"
            f" LEFT JOIN (SELECT e.dst AS node, SUM(h.h) AS raw FROM e"
            f" JOIN {p} h ON e.src = h.node GROUP BY 1) s ON n.node = s.node)"
        )
        parts.append(
            f"aq{i} AS MATERIALIZED (SELECT GREATEST(1,"
            f" COALESCE(SUM(raw), 0) // {scale}) AS q FROM ar{i})"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT node,"
            f" raw // (SELECT q FROM aq{i}) AS a FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT n.node, COALESCE(s.raw, 0) AS raw"
            f" FROM nodes n"
            f" LEFT JOIN (SELECT e.src AS node, SUM(a.a) AS raw FROM e"
            f" JOIN a{i} a ON e.dst = a.node GROUP BY 1) s ON n.node = s.node)"
        )
        parts.append(
            f"hq{i} AS MATERIALIZED (SELECT GREATEST(1,"
            f" COALESCE(SUM(raw), 0) // {scale}) AS q FROM hr{i})"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT node,"
            f" raw // (SELECT q FROM hq{i}) AS h FROM hr{i})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT h.node, h.h AS hub_int, a.a AS auth_int"
        + f"\nFROM h{iterations} h JOIN a{iterations} a USING (node)"
    )


# deterministic source-pick hash for the sampled-centrality family:
# affine → square → affine mod a prime (the dedup poly-plane shape) so
# an external SQL oracle picks the IDENTICAL sources
_HC_P = 1_000_000_007
_HC_A = 2_654_435_761 % _HC_P
_HC_B = 97_003_999
_HC_C = 54_321


def _hc_hash_col(node_col: str):
    # Integer node-id contract, enforced: a non-numeric id casts to
    # NULL (non-ANSI sessions), which would silently degrade the pivot
    # pick to NULLS-FIRST/node-ASC while the DuckDB oracle (`%` on
    # VARCHAR) ERRORS — a silent engine divergence against the
    # fail-fast house rule (round-9 advice). try_cast makes the
    # NULL-on-failure behavior deterministic across ANSI settings, then
    # the guard raises with THIS operator's message in both session
    # flavors (a vanilla Spark 4 ANSI session would otherwise throw a
    # generic CAST_INVALID_INPUT mid-plan).
    raw = F.expr(f"try_cast(`{node_col}` AS LONG)")
    checked = F.when(
        F.col(node_col).isNotNull() & raw.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "harmonic_centrality_sampled: node id is not "
                    "integer-castable (the poly source-pick hash "
                    "requires integer node ids): "
                ),
                F.col(node_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(raw)
    nid = ((checked % _HC_P) + _HC_P) % _HC_P
    h = (nid * _HC_A) % _HC_P
    h = (h * h + nid) % _HC_P
    return (h * _HC_B + _HC_C) % _HC_P


def hc_hash_sql(node_expr: str) -> str:
    """DuckDB twin of the source-pick hash, token for token."""
    nid = f"(((({node_expr}) % {_HC_P}) + {_HC_P}) % {_HC_P})"
    h1 = f"(({nid} * {_HC_A}) % {_HC_P})"
    h2 = f"(({h1} * {h1} + {nid}) % {_HC_P})"
    return f"({h2} * {_HC_B} + {_HC_C}) % {_HC_P}"


def harmonic_centrality_sampled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_sources: int = 32,
    radius: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Sampled harmonic centrality over an UNDIRECTED view of the edge
    list — the "how close is this node to everywhere" readout
    (pagerank ranks by incoming endorsement, k-core by embeddedness;
    harmonic by reachability). Exact closeness is all-pairs BFS —
    O(n·E), undistributable at corpus scale — so this runs the
    standard estimator: multi-source BFS from ``n_sources``
    hash-picked pivots, truncated at ``radius`` hops (Boldi & Vigna,
    "Axioms for centrality" 2014, recommend harmonic exactly because
    truncation is benign: unreached pairs contribute 0, not ∞).

    Exactness: sources are the ``n_sources`` smallest poly-hash values
    (affine-square-affine mod a prime — four integer literals an
    external oracle copies; ties by node ASC). Distances are exact
    integers from ``radius`` unrolled BFS rounds. The harmonic sum
    Σ 1/d is a bounded-denominator rational: with radius ≤ 4 every
    term is 12/d an INTEGER (lcm(1..4) = 12), so the output
    ``h12 = Σ_s 12/d(s, node)`` is integer-exact — no float
    accumulation at all. Callers divide by ``12·n_sources`` for the
    [0, 1] normalization when they want a float.

    Scale: per BFS round one frontier⋈edges join + one (source, node)
    min-dedup — frontier rows ≤ n_sources·n; lineage cut per round
    (the pagerank convention). radius > 4 would need lcm(1..R) and is
    rejected (12 is the documented fixed-point).

    Output: ``(node, reached, h12)`` for every node reached by ≥ 1
    pivot (pivots see themselves at d=0, contributing 0).
    """
    if not 1 <= radius <= 4:
        raise ValueError(
            "harmonic_centrality_sampled: radius must be 1..4 (h12 uses "
            "the fixed lcm(1..4)=12 integer denominators)"
        )
    from .dedup import _persist

    spark = edges.sparkSession
    _cut = _lineage_cutter(spark, checkpoint_dir)
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # canonicalize BEFORE the dedup (r13): distinct over the min/max
    # canonical pairs shuffles |E| rows; the old symmetrize-then-distinct
    # shuffled 2|E| for the identical undirected edge set (guide §2.3 —
    # shuffle fewer bytes). The both-directions union afterwards is a
    # narrow op over the checkpointed canonical set.
    canon = _cut(
        raw.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    e = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = e.select(F.col("u").alias("node")).distinct()
    sources = _persist(
        nodes.withColumn("_h", _hc_hash_col("node"))
        .orderBy(F.col("_h").asc(), F.col("node").asc())
        .limit(n_sources)
        .select(F.col("node").alias("s"))
    )
    # dist state: one row per (source, node) currently reached, with
    # the EXACT hop distance (BFS layers guarantee first-touch = min)
    dist = sources.select("s", F.col("s").alias("node"), F.lit(0).alias("d"))
    frontier = dist
    for r in range(1, radius + 1):
        # distinct on (s, node) only — d is the round constant, and
        # keeping it out of the key lets the dedup exchange co-partition
        # with the (s, node) anti-join right after (one less shuffle
        # layout change per round)
        nxt = (
            frontier.join(e, frontier.node == e.u)
            .select("s", F.col("v").alias("node"))
            .distinct()
            .withColumn("d", F.lit(r))
            .select("s", "node", "d")
            .join(
                dist.select(
                    F.col("s").alias("_ks"), F.col("node").alias("_kn")
                ),
                (F.col("s") == F.col("_ks")) & (F.col("node") == F.col("_kn")),
                "left_anti",
            )
        )
        frontier = _cut(nxt, eager=False)
        dist = dist.unionByName(frontier)
    # 12/d is exact for d in 1..4; d=0 (pivot itself) contributes 0
    contrib = F.when(F.col("d") > 0, F.expr("12 div d")).otherwise(F.lit(0))
    return (
        dist.groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("reached"),
            F.sum(contrib).alias("h12"),
        )
    )


def harmonic_centrality_sampled_oracle_sql(
    edges_sql: str,
    *,
    n_sources: int = 32,
    radius: int = 3,
) -> str:
    """DuckDB twin: identical poly source pick, ``radius`` unrolled
    BFS rounds (MATERIALIZED — each round references the previous
    twice), identical integer 12/d harmonic sums."""
    h = hc_hash_sql("node")
    parts = [
        f"""WITH raw AS MATERIALIZED (SELECT src AS u, dst AS v FROM ({edges_sql})),
e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw UNION ALL SELECT v AS u, u AS v FROM raw
  ) WHERE u != v
)""",
        "nodes AS (SELECT DISTINCT u AS node FROM e)",
        f"src_pick AS MATERIALIZED (SELECT node AS s FROM nodes"
        f" ORDER BY {h} ASC, node ASC LIMIT {n_sources})",
        "d0 AS MATERIALIZED (SELECT s, s AS node, 0 AS d FROM src_pick)",
    ]
    for r in range(1, radius + 1):
        p = f"d{r - 1}"
        prev_all = " UNION ALL ".join(
            f"SELECT s, node FROM d{i}" for i in range(r)
        )
        parts.append(
            f"f{r} AS MATERIALIZED ("
            f"SELECT DISTINCT fr.s, e.v AS node, {r} AS d"
            f" FROM {p} fr JOIN e ON fr.node = e.u"
            f" WHERE fr.d = {r - 1}"
            f" AND NOT EXISTS (SELECT 1 FROM ({prev_all}) k"
            f" WHERE k.s = fr.s AND k.node = e.v))"
        )
        parts.append(f"d{r} AS MATERIALIZED (SELECT * FROM {p} UNION ALL SELECT * FROM f{r})")
    return (
        ",\n".join(parts)
        + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS reached,
       CAST(SUM(CASE WHEN d > 0 THEN 12 // d ELSE 0 END) AS BIGINT) AS h12
FROM d{radius} GROUP BY node
"""
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Local clustering coefficient per node over the undirected simple
    graph: ``cc = 2·triangles / (deg·(deg−1))`` — the "are my
    neighbors also neighbors of each other" readout that separates
    community cores from bridge nodes (triangle_counts gives the raw
    per-node count; this normalizes it by the wedge capacity).

    Composition, not re-derivation: triangles come from
    :func:`triangle_counts` (degree-oriented wedge join — each
    triangle counted once, no direction double-count) and degrees from
    the same canonical edge set; the one float op is the pinned
    ``2t/(d(d−1))`` division (NULL when deg < 2, where the
    coefficient is undefined; 0.0 for triangle-free nodes).

    Output: ``(node, degree, triangles, cc)`` for every non-isolated
    node.
    """
    from .dedup import _persist

    u, v = F.col("u"), F.col("v")
    canon = _persist(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(u != v)
        .distinct()
    )
    deg = (
        canon.select(u.alias("node"))
        .unionByName(canon.select(v.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(canon, "u", "v", assume_canonical=True)
    d = F.col("degree").cast("double")
    cc = (F.lit(2.0) * F.col("triangles").cast("double")) / (d * (d - F.lit(1.0)))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.round(
                F.when(F.col("degree") >= 2, F.coalesce(cc, F.lit(0.0))),
                round_to,
            ).alias("cc"),
        )
    )


def clustering_coefficient_oracle_sql(
    edges_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: canonical a<b<c 3-way triangle join (the
    `triangle_counts` oracle shape), same degree union, same pinned
    division and deg<2 NULL."""
    return f"""
WITH raw AS MATERIALIZED (
  SELECT GREATEST(src, dst) AS u, LEAST(src, dst) AS v
  FROM ({edges_sql}) WHERE src != dst
),
canon AS MATERIALIZED (SELECT DISTINCT u, v FROM raw),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM canon UNION ALL SELECT v FROM canon
  ) GROUP BY node
),
e AS (SELECT v AS a, u AS b FROM canon),
tri AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree, COALESCE(pt.triangles, 0) AS triangles,
       ROUND(CASE WHEN d.degree >= 2 THEN
             COALESCE(2.0 * CAST(COALESCE(pt.triangles, 0) AS DOUBLE)
                      / (CAST(d.degree AS DOUBLE)
                         * (CAST(d.degree AS DOUBLE) - 1.0)), 0.0)
             END, {round_to}) AS cc
FROM deg d LEFT JOIN pt ON d.node = pt.node
"""


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    round_to: int = 6,
) -> DataFrame:
    """Newman modularity of a given partition over the UNDIRECTED
    simple graph — the "was that community detection any good" readout
    that closes the loop on ``label_propagation`` / ``
    connected_components``: per community c,

        Q_c = e_c/m − (d_c / 2m)²,      Q = Σ_c Q_c,

    with m the undirected edge count, e_c the intra-community edge
    count and d_c the community's degree sum. Q ≈ 0 means the partition
    explains no more structure than a degree-preserving random graph.

    Exactness: m, e_c, d_c are exact integer counts; Q_c·4m² =
    4·m·e_c − d_c² stays DECIMAL(38,0)-exact (4m² < 10³⁸ up to ~10¹⁸
    edges), and the only float op is the single pinned division by 4m².
    Output: one row per community ``(community, n_nodes,
    internal_edges, degree_sum, q_contrib)`` — callers sum q_contrib
    for the scalar Q (an ordered fold if they need it hash-stable).

    Scale: one edge-canonicalization distinct, two edge⋈community
    joins (community frames are data-sized — no broadcast hint, AQE
    decides), one degree aggregation. Nodes missing from
    ``communities`` RAISE — a silent drop would skew e_c vs d_c. The
    check rides IN-PLAN (r12): it fires at the caller's first action as
    a Spark execution exception wrapping the ValueError message, not
    eagerly at call time — callers that need the old fail-fast must
    force an action (e.g. ``.first()``) right after calling.
    """
    from .dedup import _persist

    cm = communities.select(
        F.col(node_col).alias("_n"), F.col(community_col).alias("_c")
    )
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # canonical undirected edge (min, max): each unordered pair once.
    # Persisted: `e` feeds FOUR consumers across THREE separate actions
    # (the missing-node check, the m scalar, the returned frame) —
    # unpersisted, the canonicalization distinct and the caller's whole
    # edge construction re-ran once per action (r12 profile).
    e = _persist(
        raw.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )
    deg_src = e.select(F.col("u").alias("_n")).unionByName(
        e.select(F.col("v").alias("_n"))
    )
    deg = deg_src.groupBy("_n").agg(F.count(F.lit(1)).alias("_deg"))
    # persisted for the same reason: read by the fail-fast count action
    # here and again by the returned per-community aggregate
    labeled = _persist(deg.join(cm, "_n", "left"))
    # fail-fast on unlabeled nodes, IN-PLAN (the require_bounded_spines
    # r12 convention): the eager ``.count()`` here was a full action at
    # query-build time — inside community_quality it materialized the
    # whole label-propagation loop before the query ran. The check now
    # rides as a 1-row broadcast whose projection raise_errors at
    # execution; same message, zero extra action.
    missing_gate = labeled.agg(
        F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0)).alias("_miss")
    ).select(
        F.when(
            F.col("_miss") > 0,
            F.raise_error(
                F.concat(
                    F.lit("modularity: "),
                    F.col("_miss").cast("string"),
                    F.lit(
                        " graph node(s) missing from the communities "
                        "frame — a silent drop would skew e_c against "
                        "d_c; label every node (connected_components/"
                        "label_propagation output does)"
                    ),
                )
            ),
        )
        .otherwise(F.lit(1))
        .alias("_mod_gate")
    )
    # the edge count m rides IN-PLAN on the same 1-row broadcast as the
    # missing-node gate (r12): the old ``.first()`` was the last
    # build-time action here — inside community_quality it materialized
    # the whole upstream graph before the query ran. 4m and 4m² are
    # computed in DECIMAL(38,0) from the count column (exact integers,
    # identical to the old Python literals; the single double rounding
    # happens at the same place — the final cast). m = 0 implies an
    # empty `labeled`, so the old empty-frame early return is the
    # natural result of the same plan.
    gate = missing_gate.crossJoin(
        e.agg(F.count(F.lit(1)).alias("_m"))
    )
    # both endpoint labelings reference the SAME cm frame via aliases +
    # join conditions (not renamed projections): canonically-equal
    # subtrees -> one shared broadcast/exchange build instead of two
    # (the k_core r12 ReuseExchange finding)
    c1, c2 = cm.alias("_cm1"), cm.alias("_cm2")
    intra = (
        e.join(c1, e.u == F.col("_cm1._n"))
        .join(c2, e.v == F.col("_cm2._n"))
        .where(F.col("_cm1._c") == F.col("_cm2._c"))
        .groupBy(F.col("_cm1._c").alias("_c"))
        .agg(F.count(F.lit(1)).alias("_ec"))
    )
    per = (
        labeled.groupBy("_c")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("_deg").alias("degree_sum"),
        )
        .join(intra, "_c", "left")
        .select(
            F.col("_c").alias(community_col),
            "n_nodes",
            F.coalesce(F.col("_ec"), F.lit(0)).cast("bigint").alias(
                "internal_edges"
            ),
            F.col("degree_sum").cast("bigint").alias("degree_sum"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    four_m = dec(F.lit(4)) * dec(F.col("_m"))
    q_num = four_m * dec(F.col("internal_edges")) - dec(
        F.col("degree_sum")
    ) * dec(F.col("degree_sum"))
    return (
        per.join(F.broadcast(gate), F.col("_mod_gate") == 1, "inner")
        .select(
            community_col,
            "n_nodes",
            "internal_edges",
            "degree_sum",
            F.round(
                q_num.cast("double")
                / (four_m * dec(F.col("_m"))).cast("double"),
                round_to,
            ).alias("q_contrib"),
        )
    )


def modularity_oracle_sql(
    edges_sql: str,
    communities_sql: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin: same canonical undirected edges, same integer
    4·m·e_c − d_c² numerator, same single pinned division. The
    ``communities_sql`` must label every node (the engine raises on a
    miss; the twin assumes the contract holds). Expects columns
    (src, dst) and (node, community)."""
    return f"""
WITH cm AS MATERIALIZED (
  SELECT node AS _n, community AS _c FROM ({communities_sql})
),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM ({edges_sql}) WHERE src != dst
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
deg AS (
  SELECT _n, CAST(COUNT(*) AS BIGINT) AS _deg
  FROM (SELECT u AS _n FROM e UNION ALL SELECT v FROM e)
  GROUP BY _n
),
intra AS (
  SELECT cu._c, CAST(COUNT(*) AS BIGINT) AS _ec
  FROM e JOIN cm cu ON e.u = cu._n JOIN cm cv ON e.v = cv._n
  WHERE cu._c = cv._c
  GROUP BY cu._c
),
per AS (
  SELECT cm._c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d._deg) AS BIGINT) AS degree_sum
  FROM deg d JOIN cm ON d._n = cm._n
  GROUP BY cm._c
)
SELECT per._c AS community, per.n_nodes,
       COALESCE(intra._ec, 0) AS internal_edges, per.degree_sum,
       ROUND(CAST(CAST(4 AS HUGEINT) * m.m * COALESCE(intra._ec, 0)
                  - CAST(per.degree_sum AS HUGEINT) * CAST(per.degree_sum AS HUGEINT)
                  AS DOUBLE)
             / CAST(CAST(4 AS HUGEINT) * m.m * m.m AS DOUBLE), {round_to})
       AS q_contrib
FROM per LEFT JOIN intra ON per._c = intra._c, m
"""
