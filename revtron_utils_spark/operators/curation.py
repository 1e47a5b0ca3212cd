"""Training-data curation operators: deterministic splits and samples,
document chunking, sequence packing, PII detection/redaction, and
eval-set decontamination.

These are the pipeline stages between "raw corpus" and "training ready"
that the reference (an ETL utility belt over Postgres/Salesforce) never
needed but a 100 TB text pipeline runs daily. Design rules:

- **Determinism over randomness.** Splits/samples use a modular integer
  hash of the row id, not ``rand()``: re-running the pipeline on the
  same corpus yields byte-identical splits (and the DuckDB oracle can
  reproduce them exactly). No seed-sensitivity across engines/versions.
- **Narrow, shuffle-free where possible.** Split/sample/PII are pure
  projections (whole-stage codegen, no exchange). Chunking is a single
  generator expansion (``posexplode``). Packing is one window shuffle,
  partitionable by a shard column so no global sort bottleneck exists.
- **All SQL-expressible** — every operator here has a DuckDB oracle
  twin in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .guards import require_integral_id

# Knuth's multiplicative constant reduced mod M; M prime < 2^30 so the
# product of two residues stays far inside int64 (no ANSI overflow).
HASH_MOD = 1_000_000_007
HASH_MULT = 2_654_435_761 % HASH_MOD


def _seed_mult(seed: int) -> int:
    """Seed-specific multiplier: a = C·(2·seed+1) mod M, never zero (M
    prime). The seed must change the MULTIPLIER, not shift the input or
    the output: any fixed-multiplier variant is an affine bijection, so
    two seeds' keep-sets are preimages of intervals under the SAME map —
    structurally correlated (measured: two "independent" 20% samples
    overlapped either ~100% or 0% depending on the seed delta).
    Different multipliers give different arithmetic-progression run
    structures, whose intersections behave like independent draws."""
    a = (HASH_MULT * (2 * (int(seed) % HASH_MOD) + 1)) % HASH_MOD
    return a or HASH_MULT


def id_hash(col: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform bucket in [0, HASH_MOD) from an integer id:
    ``(id mod M) · a_seed + seed mod M`` — engine-portable int64
    multiply-mod arithmetic (no md5-hex parsing, no ``rand(seed)``),
    with a seed-dependent multiplier so distinct seeds give
    decorrelated bucketings (see ``_seed_mult``)."""
    c = F.col(col) if isinstance(col, str) else col
    r = ((c.cast("long") % HASH_MOD) + HASH_MOD) % HASH_MOD
    return (r * F.lit(_seed_mult(seed)) + F.lit(int(seed) % HASH_MOD)) % HASH_MOD


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by
    deterministic id hash, proportional to ``weights``.

    A pure projection: no shuffle, no sample() nondeterminism, stable
    under corpus growth (a row's split never changes when other rows are
    added — the property that keeps eval sets frozen across snapshots).
    """
    require_integral_id(df, id_col)
    total = sum(weights.values())
    bucket = id_hash(id_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < int(acc * HASH_MOD)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Deterministic ~``fraction`` sample by id hash (keep iff
    ``bucket < fraction*M``). Repeatable, join-stable (the same ids are
    kept in every table sampled with the same seed — so sampled fact and
    dim tables still join)."""
    require_integral_id(df, id_col)
    return df.filter(id_hash(id_col, seed) < int(fraction * HASH_MOD))


def _threshold_table(df: DataFrame, key_col: str, thresholds: dict) -> DataFrame:
    """(key, _thr) DataFrame typed from ``df``'s key column — the
    in-plan carrier for per-key hash thresholds. A driver-built
    ``F.when`` chain would grow the expression tree (and the janino
    method janino compiles for it) LINEARLY with key cardinality — the
    data-driven cousin of the ams_f2 codegen blowup; a broadcast join
    keeps the plan size constant no matter how many keys exist."""
    kt = df.schema[key_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        sorted(thresholds.items(), key=lambda kv: str(kv[0])),
        f"_k {kt}, _thr long",
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (the deterministic analog of
    ``df.sampleBy``): each stratum keeps its own fraction. The
    stratum→threshold map rides in as a broadcast-joined threshold
    table (NOT a CASE chain — plan size stays constant in the number
    of strata); unlisted strata fall back to ``default_fraction`` via
    a left join + coalesce. Still one scan, no shuffle of ``df``."""
    require_integral_id(df, id_col)
    bucket = id_hash(id_col, seed)
    thr = {v: int(f * HASH_MOD) for v, f in fractions.items()}
    if not thr:
        return df.filter(bucket < F.lit(int(default_fraction * HASH_MOD)))
    tdf = _threshold_table(df, strata_col, thr)
    joined = df.join(F.broadcast(tdf), df[strata_col] == tdf["_k"], "left")
    eff = F.coalesce(F.col("_thr"), F.lit(int(default_fraction * HASH_MOD)))
    return joined.filter(bucket < eff).drop("_k", "_thr")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
    out_text_col: str = "chunk_text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows —
    context-window preparation for embedding/training jobs.

    Chunk ``k`` starts at token ``1 + k*stride``; exactly
    ``1 + ceil(max(n - chunk_tokens, 0) / stride)`` chunks are emitted,
    so every token lands in ≥1 chunk, short docs yield one chunk, and
    no chunk is a pure suffix of its predecessor (a naive
    "while start ≤ n" rule ships a fully-contained duplicate trailing
    chunk for ~(chunk−stride)/stride of documents — duplicated training
    text). NULL text degrades to one empty chunk with ``n_tokens`` 0.
    One ``posexplode`` — a generator inside the scan stage, no shuffle.
    """
    toks = F.when(
        F.col(text_col).isNotNull(),
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""),
    ).otherwise(F.array().cast("array<string>"))
    n = F.size(toks)
    n_chunks = 1 + F.floor(
        (F.greatest(n - chunk_tokens, F.lit(0)) + (stride - 1)) / stride
    ).cast("int")
    max_start = 1 + (n_chunks - 1) * stride
    starts = F.sequence(F.lit(1), max_start, F.lit(stride))
    return (
        df.withColumn("_toks", toks)
        .select(
            F.col(id_col),
            F.posexplode(starts).alias("chunk_id", "_start"),
            F.col("_toks"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice("_toks", F.col("_start"), F.lit(chunk_tokens))).alias(
                out_text_col
            ),
            F.greatest(
                F.least(F.size("_toks") - F.col("_start") + 1, F.lit(chunk_tokens)),
                F.lit(0),
            ).cast("long").alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    order_col: str | list[str],
    token_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences by
    cumulative offset: ``pack = floor(cum_tokens_before / budget)`` in
    ``order_col`` order.

    Offset packing (the streaming concatenate-and-cut strategy used by
    LLM data loaders) rather than bin packing: deterministic, one pass,
    and SQL-expressible. Packs are per-partition when ``partition_cols``
    is given — at 100 TB always shard first (e.g. by source file), since
    an unpartitioned window is a single-reducer global sort.

    ``order_col`` (or the column list) must be a UNIQUE ordering within
    each partition — ties would make the running sum, and therefore the
    pack assignment, run-to-run nondeterministic; pass a tiebreaker
    column if the primary order key repeats.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = W.partitionBy(*(partition_cols or [])).orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, -1
    )
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn(pack_col, F.floor(cum_before / budget).cast("long"))


# --- PII ------------------------------------------------------------------

# Conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB):
# no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"

PII_PATTERNS: dict[str, str] = {"email": EMAIL_RE, "phone": PHONE_RE, "ssn": SSN_RE}


def pii_stats(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Per-row PII hit counts (one ``n_<kind>`` column per pattern) —
    a pure projection used to route documents to redaction/quarantine."""
    c = F.col(text_col)
    out = df
    for kind, pat in (patterns or PII_PATTERNS).items():
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        )
    return out


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with a typed placeholder (``[EMAIL]``,
    ``[PHONE]``, ...). Chained ``regexp_replace`` — JVM-side, codegen'd."""
    c: Column = F.col(text_col)
    for kind, pat in (patterns or PII_PATTERNS).items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return df.withColumn(out_col or text_col, c)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Remove training documents that share any word ``ngram_n``-gram
    with the eval corpus — the standard benchmark-leakage guard.

    Plan shape: eval n-grams are distinct-projected (tiny relative to
    train) and broadcast; train side explodes its n-grams, semi-joins,
    and the contaminated id set anti-joins back. Train text is scanned
    once; the only shuffle is the distinct on contaminated ids.
    """
    from revtron_utils_spark.functions.text import word_ngrams

    # join on 8-byte xxhash64 gram keys, not the k-token strings: the
    # broadcast set and the train-side explode shrink ~10×. Same
    # precedent as the n-gram-Jaccard posting join (dedup.py) — a
    # cross-side collision (≈2⁻⁶⁴ per pair) could only over-remove one
    # training doc, and deterministically so.
    def grams(df: DataFrame):
        return F.explode(
            F.transform(word_ngrams(text_col, ngram_n), lambda s: F.xxhash64(s))
        )

    ev_grams = eval_df.select(grams(eval_df).alias("g")).distinct()
    tr_grams = train.select(F.col(id_col), grams(train).alias("g"))
    contaminated = (
        tr_grams.join(F.broadcast(ev_grams), "g", "left_semi").select(id_col).distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def embedding_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scale: int = 1_000_000,
) -> DataFrame:
    """Semantic eval-leakage guard: drop training rows whose embedding
    lies within cosine ``threshold`` of ANY eval embedding — catches
    the paraphrased benchmark copies that n-gram `decontaminate` (exact
    token overlap) misses.

    Plan shape: the eval side is small by nature (benchmarks are
    thousands-to-millions of rows, never corpus-scale), so it
    broadcasts and the whole guard is ONE scan of the training
    embeddings through a broadcast nested-loop ANTI join — no shuffle
    of the corpus at all, and the anti join short-circuits a row on
    its first contaminated match. Compute is N_train x N_eval dot
    products (the honest brute-force sweep); when the eval set is
    genuinely large, pre-bucket both sides with the hyperplane-LSH
    signatures in `dedup.embedding_neardup_pairs` instead.

    Exactness: quantized-integer dots, one sqrt/div each, cosine
    ROUNDed to 6 before the threshold compare — the repo's proven
    engine-exact cosine (`functions/vectors.py`), so the kept set
    hash-verifies against a DuckDB oracle.
    """
    from ..functions import vectors as VX

    ev = F.broadcast(
        eval_df.select(VX.quantize(vec_col, scale).alias("_eq")).withColumn(
            "_enrm", F.sqrt(VX.int_dot(F.col("_eq"), F.col("_eq")))
        )
    )
    tr = train.withColumn("_tq", VX.quantize(vec_col, scale)).withColumn(
        "_tnrm", F.sqrt(VX.int_dot(F.col("_tq"), F.col("_tq")))
    )
    # try_divide: a zero-norm embedding (all elements quantize to 0 —
    # zero-padded or failed-upstream rows) has undefined cosine; plain
    # division raises DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    # and kills the query. NULL cosine fails the threshold, so
    # zero-norm rows neither contaminate nor get dropped — matching
    # DuckDB's NULL-division semantics in the oracle.
    cos = F.round(
        F.try_divide(
            VX.int_dot(F.col("_tq"), F.col("_eq")),
            F.col("_tnrm") * F.col("_enrm"),
        ),
        6,
    )
    return tr.join(ev, cos >= F.lit(threshold), "left_anti").drop("_tq", "_tnrm")


def cap_per_domain(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    n: int,
    seed: int = 0,
    margin: float = 2.0,
) -> DataFrame:
    """Keep at most ``n`` rows per domain, deterministically chosen by
    hash rank — the "no single source dominates the corpus" cap.

    Result is EXACTLY the ``row_number() OVER (PARTITION BY domain
    ORDER BY hash, id) <= n`` answer, but computed scale-safely: ranking
    a hot domain directly would sort the whole domain in one task, so a
    per-domain hash-threshold prefilter (rate ``margin·n/count``) first
    cuts each domain to ~``margin·n`` candidate rows, and only the
    candidates are ranked. The prefilter is lossless whenever a domain
    retains ≥ min(n, count) survivors — the global n smallest buckets
    all sit below the threshold — and a per-domain survivor check
    escalates any hash-variance shortfall back to rate 1, so the output
    never depends on ``margin``.

    The per-domain counts, thresholds, and the survivor check all stay
    IN-PLAN (the counts frame is aggregated once, persisted, and
    broadcast-joined back): domain cardinality never reaches the driver
    as a dict nor the expression tree as a CASE chain — the only driver
    values are two one-row existence probes."""
    require_integral_id(df, id_col)
    if n < 1:
        raise ValueError("n must be >= 1")
    from .dedup import _persist

    counts = _persist(
        df.groupBy(F.col(domain_col).alias("_d")).agg(
            F.count(F.lit(1)).alias("_c")
        )
    )
    # thr = min(M, floor(margin·n·M / c)); thr == M  ⇔  rate ≥ 1
    thr = F.least(
        F.lit(int(HASH_MOD)).cast("long"),
        F.floor(
            F.lit(float(margin) * n * HASH_MOD) / F.col("_c").cast("double")
        ).cast("long"),
    )
    thr_tbl = counts.select("_d", thr.alias("_thr"))
    bucket = id_hash(id_col, seed)

    def _cand(tbl: DataFrame) -> DataFrame:
        # no broadcast hint: the threshold table is O(domains) — a
        # data-derived cardinality with no contract. AQE broadcasts it
        # whenever it actually fits; at 10⁶-10⁷ domains a forced
        # F.broadcast would be a driver/executor memory wall where the
        # plain join degrades gracefully (the retrieval.py tfidf rule).
        j = df.join(tbl, df[domain_col] == tbl["_d"], "inner")
        return j.filter(bucket < F.col("_thr")).drop("_d", "_thr")

    cand = _cand(thr_tbl)
    if thr_tbl.where(F.col("_thr") < HASH_MOD).limit(1).count() > 0:
        cand = _persist(cand)
        surv = cand.groupBy(F.col(domain_col).alias("_d")).agg(
            F.count(F.lit(1)).alias("_s")
        )
        shortfall = (
            thr_tbl.join(counts.select("_d", "_c"), "_d")
            .join(surv, "_d", "left")
            .where(
                (F.col("_thr") < HASH_MOD)
                & (
                    F.coalesce(F.col("_s"), F.lit(0))
                    < F.least(F.lit(n).cast("long"), F.col("_c"))
                )
            )
            .select("_d")
        )
        shortfall = _persist(shortfall)
        if shortfall.limit(1).count() > 0:
            esc = (
                thr_tbl.join(
                    shortfall.withColumn("_esc", F.lit(True)), "_d", "left"
                )
                .select(
                    "_d",
                    F.when(F.col("_esc"), F.lit(int(HASH_MOD)).cast("long"))
                    .otherwise(F.col("_thr"))
                    .alias("_thr"),
                )
            )
            cand = _cand(esc)
    w = W.partitionBy(domain_col).orderBy(
        id_hash(id_col, seed).asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def take_token_budget(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    budget: int,
    text_col: str = "text",
    token_col: str | None = None,
    seed: int = 0,
    margin: float = 2.0,
) -> DataFrame:
    """Fill a per-domain token budget: walk each domain's rows in
    deterministic hash order and keep rows while the running token total
    (inclusive) stays ≤ ``budget`` — "give me ~1B tokens per source",
    reproducibly. Pass ``token_col`` for precomputed counts, else
    whitespace ``token_count(text_col)`` is used.

    Scale-safe like :func:`cap_per_domain`: ranking a hot domain whole
    would sort it in one task, so a per-domain hash-threshold prefilter
    (rate ``margin·budget/total_tokens``) first cuts each domain to
    ~``margin·budget`` candidate tokens. The prefilter is lossless
    because survivors ARE the hash-order prefix: whenever a domain's
    surviving token sum still covers the budget, the budget-filling
    prefix is contained in it — and a survivor-sum check escalates any
    domain where hash variance undercut the margin back to rate 1, so
    the output never depends on ``margin``.

    Per-domain token totals, thresholds, and the survivor-sum check all
    stay IN-PLAN (one persisted totals frame broadcast-joined back, as
    in :func:`cap_per_domain`): no O(domains) driver dict, no CASE
    chain — the driver sees two one-row existence probes, then one
    window over the bounded candidates."""
    from revtron_utils_spark.functions.text import token_count

    from .dedup import _persist

    require_integral_id(df, id_col)
    tok = (F.col(token_col) if token_col else token_count(text_col)).cast("long")
    tagged = df.withColumn("_tok", tok)
    totals = _persist(
        tagged.groupBy(F.col(domain_col).alias("_d")).agg(
            F.sum("_tok").alias("_t")
        )
    )
    # thr = M when the domain has no tokens, else min(M, floor(margin·
    # budget·M / t)); thr == M  ⇔  rate ≥ 1 (or empty domain)
    thr = F.when(
        F.coalesce(F.col("_t"), F.lit(0)) <= 0, F.lit(int(HASH_MOD)).cast("long")
    ).otherwise(
        F.least(
            F.lit(int(HASH_MOD)).cast("long"),
            F.floor(
                F.lit(float(margin) * budget * HASH_MOD)
                / F.col("_t").cast("double")
            ).cast("long"),
        )
    )
    thr_tbl = totals.select("_d", "_t", thr.alias("_thr"))
    bucket = id_hash(id_col, seed)

    def _cand(tbl: DataFrame) -> DataFrame:
        # O(domains) threshold table: no broadcast hint (AQE decides) —
        # see cap_per_domain._cand for the rationale
        sel = tbl.select("_d", "_thr")
        j = tagged.join(sel, tagged[domain_col] == sel["_d"], "inner")
        return j.filter(bucket < F.col("_thr")).drop("_d", "_thr")

    cand = _cand(thr_tbl)
    if thr_tbl.where(F.col("_thr") < HASH_MOD).limit(1).count() > 0:
        cand = _persist(cand)
        surv = cand.groupBy(F.col(domain_col).alias("_d")).agg(
            F.sum("_tok").alias("_s")
        )
        shortfall = (
            thr_tbl.join(surv, "_d", "left")
            .where(
                (F.col("_thr") < HASH_MOD)
                & (
                    F.coalesce(F.col("_s"), F.lit(0))
                    < F.least(F.lit(int(budget)).cast("long"), F.col("_t"))
                )
            )
            .select("_d")
        )
        shortfall = _persist(shortfall)
        if shortfall.limit(1).count() > 0:
            esc = (
                thr_tbl.join(
                    shortfall.withColumn("_esc", F.lit(True)), "_d", "left"
                )
                .select(
                    "_d",
                    F.when(F.col("_esc"), F.lit(int(HASH_MOD)).cast("long"))
                    .otherwise(F.col("_thr"))
                    .alias("_thr"),
                )
            )
            cand = _cand(esc)
    w = W.partitionBy(domain_col).orderBy(
        id_hash(id_col, seed).asc(), F.col(id_col).asc()
    )
    run = F.sum("_tok").over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        cand.withColumn("_run", run)
        .filter(F.col("_run") <= budget)
        .drop("_run", "_tok")
    )


def mixture_proportion_rates(
    counts: dict[str, int], proportions: dict[str, float]
) -> dict[str, int]:
    """Per-domain keep-thresholds realizing a target mixture.

    Given available counts ``n_s`` and target proportions ``p_s``, the
    largest total ``T`` with no domain oversampled is
    ``T = min_s n_s / p̂_s`` (``p̂`` = normalized proportions); each
    domain keeps rate ``p̂_s·T/n_s`` (= 1 for the binding domain).
    Returns ``{domain: int(rate·HASH_MOD)}`` — plain correctly-rounded
    double arithmetic so an engine-side oracle reproduces the exact
    thresholds from the same counts."""
    if not proportions:
        raise ValueError("proportions must be non-empty")
    total_p = sum(proportions.values())
    norm = {s: p / total_p for s, p in proportions.items()}
    missing = [s for s in norm if counts.get(s, 0) <= 0]
    if missing:
        raise ValueError(f"no rows available for domains {missing}")
    t = min(counts[s] / norm[s] for s in norm)
    return {s: int(((norm[s] * t) / counts[s]) * HASH_MOD) for s in norm}


def mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    proportions: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic domain-mixture sampling — the pretraining
    data-composition primitive ("60% web, 30% code, 10% books"): take
    the largest corpus matching the target mixture without oversampling
    any domain, by per-domain hash-threshold rates. Domains outside
    ``proportions`` are dropped.

    One tiny aggregate collects the per-domain counts (bounded by the
    CALLER-enumerated ``proportions``, never by data cardinality) so
    ``mixture_proportion_rates`` can integerize the thresholds with
    engine-exact double arithmetic; the thresholds then ride back in as
    a broadcast-joined table (not a CASE chain — plan size stays
    constant in the number of domains). The sample itself is a pure
    scan: no shuffle of the kept data, stable row membership under
    corpus growth of other domains (a row's fate depends only on its
    id, its domain's count, and the binding domain)."""
    require_integral_id(df, id_col)
    if not proportions:
        raise ValueError("proportions must be non-empty")
    # r12: the per-domain counts used to be collect()ed to the driver at
    # query-BUILD time, which materialized the caller's ENTIRE upstream
    # chain once for the thresholds and again for the returned plan
    # (corpus_pipeline pays this on every bench pass). The identical
    # double arithmetic of mixture_proportion_rates now rides IN-PLAN
    # over the O(domains) count aggregate: same IEEE op order
    # (n/p̂ → min → (p̂·t)/n → ·HASH_MOD → truncating cast), so the
    # thresholds — and the oracle hash — are bit-identical. The
    # missing-domain fail-fast raises at execution (the r12 guard
    # convention) instead of at build.
    total_p = sum(proportions.values())
    norm = {s: p / total_p for s, p in proportions.items()}
    kt = df.schema[domain_col].dataType.simpleString()
    props_df = df.sparkSession.createDataFrame(
        sorted(norm.items(), key=lambda kv: str(kv[0])), f"_k {kt}, _np double"
    )
    counts = (
        df.filter(F.col(domain_col).isin(list(proportions)))
        .groupBy(F.col(domain_col).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    avail = props_df.join(counts, "_k", "left").select(
        "_k",
        "_np",
        F.when(
            F.coalesce(F.col("_n"), F.lit(0)) <= 0,
            F.raise_error(
                F.concat(
                    F.lit("no rows available for domains ['"),
                    F.col("_k").cast("string"),
                    F.lit("']"),
                )
            ),
        )
        .otherwise(F.col("_n"))
        .alias("_n"),
    )
    t_row = avail.agg(
        F.min(F.col("_n").cast("double") / F.col("_np")).alias("_t")
    )
    tdf = avail.crossJoin(F.broadcast(t_row)).select(
        "_k",
        (
            (F.col("_np") * F.col("_t"))
            / F.col("_n").cast("double")
            * F.lit(float(HASH_MOD))
        )
        .cast("long")
        .alias("_thr"),
    )
    joined = df.join(F.broadcast(tdf), df[domain_col] == tdf["_k"], "inner")
    return joined.filter(id_hash(id_col, seed) < F.col("_thr")).drop("_k", "_thr")


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
    seed: int = 0,
) -> DataFrame:
    """Per-row-probability deterministic sampling: keep a row iff its id
    bucket falls below ``weight`` (a [0,1] column) — quality-weighted
    corpus downsampling (keep high-quality docs with higher probability)
    that stays reproducible across runs and engines, unlike rand()."""
    require_integral_id(df, id_col)
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    thr = (w * HASH_MOD).cast("long")
    return df.filter(id_hash(id_col, seed) < thr)


def filter_by_score_quantile(
    df: DataFrame,
    score_col: str,
    keep_frac: float = 0.5,
    by: Sequence[str] = (),
    quantiles_kwargs: dict | None = None,
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows by ``score_col`` within each
    ``by`` group — the percentile-based quality filter (e.g. "keep the
    best half of every domain by classifier score").

    Scale plan: the naive form is a per-group ``percent_rank`` window —
    a full sort of every group, single-task for a hot domain. This
    instead computes the per-group threshold with
    `quantiles.exact_quantiles` (combinable histogram refinement, no
    per-group sort), broadcasts the tiny (group → threshold) table back,
    and filters — one narrow shuffle for the histogram, zero sorts.
    With INTEGER scores the threshold comparison is engine-exact
    (`quantile_cont` interpolation over ints is exactly representable),
    which is what lets the filter hash-verify against a DuckDB oracle.
    """
    from .dedup import _persist
    from .quantiles import exact_quantiles, quantile_col_names

    # the quantile histogram + refinement + the final filter each
    # re-scan df; when the score is an expensive expression (classifier
    # over tokens) that recompute dominates — persist once, released by
    # dedup.release_caches() like every other operator intermediate
    df = _persist(df)
    by = list(by)
    p = 1.0 - keep_frac
    qk = dict(quantiles_kwargs or {})
    # derive the threshold column name through the same helper
    # exact_quantiles uses (honoring a caller-supplied out_prefix), so
    # the .select below can never drift from the generated naming
    name = quantile_col_names([p], qk.get("out_prefix", "p"))[0]
    qs = exact_quantiles(df, score_col, [p], by=by, **qk).select(
        *by, F.col(name).alias("_thr")
    )
    if by:
        # keyed branch: qs is O(groups) — data-derived, so no broadcast
        # hint (AQE broadcasts when it fits; a forced hint is a memory
        # wall at 10⁶⁺ groups). The no-keys branch broadcasts a single
        # row — bounded by construction.
        out = df.join(qs, by)
    else:
        out = df.crossJoin(F.broadcast(qs))
    return out.filter(F.col(score_col) >= F.col("_thr")).drop("_thr")


def importance_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al., "Data selection for
    language models via importance resampling", NeurIPS 2023): score
    each document by how much its hashed-unigram distribution resembles
    the ``target`` subset vs the whole corpus, for importance
    resampling of a raw corpus toward a target domain.

    This is the repo's log-free rational variant (the BM25 precedent):
    instead of the paper's sum of log probability ratios, the per-token
    Laplace-smoothed probability ratio ``p_target(b)/p_raw(b)`` is
    quantized to an integer (``round(scale·r)``), and the document
    weight is the mean ratio — every per-token value is a fixed-order
    scalar expression (deterministic IEEE), the per-document sum is an
    integer sum (order-independent), so the whole weighting
    hash-verifies against a DuckDB oracle.

    Plan: one token explode; bucket counts aggregate map-side into a
    table of ≤ ``dim`` rows (broadcast by construction, with the two
    total-count scalars folded in); one broadcast join back onto the
    token stream; one per-document re-aggregation. No sort, no Python.
    Output: (id_col, n_tokens, weight)."""
    from ..functions import classifier as CL
    from ..functions import text as TX

    from .dedup import _persist

    toks = _persist(
        df.select(
            F.col(id_col),
            target.alias("_is_target"),
            # lower-then-split (one codegen'd pass) — the per-element
            # transform(tokens, lower) runs interpreted, ~1.6 s/pass at
            # sf0.1; token boundaries are identical (no case mapping
            # touches whitespace)
            F.explode(TX.tokens(F.lower(F.col(text_col)))).alias("_term"),
        )
    )
    # hash only the DISTINCT vocabulary (Heaps-law small), broadcast the
    # token→bucket map back — the per-char hash fold must never run per
    # OCCURRENCE (measured 44 s vs 4 s at 50k docs / 15M tokens)
    vocab = (
        toks.select("_term")
        .distinct()
        .withColumn("_b", CL.hashed_bucket(F.col("_term"), dim))
    )
    # NO broadcast hint: the vocabulary is Heaps-law small relative to
    # occurrences but still unbounded at 100 TB — let AQE broadcast it
    # when it fits and shuffle-join on the term key when it doesn't
    toks = toks.join(vocab, "_term")
    counts = toks.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.count_if(F.col("_is_target")).alias("_ct"),
    )
    # corpus totals ride IN-PLAN as a 1-row broadcast (r13): the old
    # build-time ``.first()`` materialized the whole token⋈vocab join at
    # query-build time just to turn two sums into literals (guide §1.2).
    # The totals aggregate is the SAME canonical counts subtree as
    # bucket_w's source, so ReuseExchange computes the groupBy once. A
    # token-less corpus aggregates to NULL totals — coalesce(0) + the
    # Laplace +dim reproduces the old float((tot or 0) + dim) doubles
    # exactly (integer-valued, < 2^53).
    tot = counts.agg(
        (F.coalesce(F.sum("_cr"), F.lit(0)) + F.lit(dim))
        .cast("double")
        .alias("_t_raw"),
        (F.coalesce(F.sum("_ct"), F.lit(0)) + F.lit(dim))
        .cast("double")
        .alias("_t_tgt"),
    )
    ratio = ((F.col("_ct") + 1) * F.col("_t_raw")) / (
        (F.col("_cr") + 1) * F.col("_t_tgt")
    )
    bucket_w = counts.crossJoin(F.broadcast(tot)).select(
        "_b", F.round(ratio * scale).cast("long").alias("_r_int")
    )
    return (
        toks.join(F.broadcast(bucket_w), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("_r_int") / (F.count(F.lit(1)) * F.lit(float(scale))), 6
            ).alias("weight"),
        )
    )


def distributed_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_rank",
    partitions: int | None = None,
    one_based: bool = True,
) -> DataFrame:
    """Two-pass distributed ``row_number()`` over a TOTAL order — the
    scale-safe replacement for a bare unpartitioned window (which
    collapses to one task): range-repartition on the sort key so each
    partition owns a disjoint key range, rank locally per partition,
    then add per-partition offsets from a partition-count pass. The
    only driver state is one count per partition; the rank is
    independent of the partitioning because the key is a strict total
    order (callers must pass a tie-free column list)."""
    from .dedup import _persist

    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    keyed = df.repartitionByRange(n, *cols)
    tmp = _persist(keyed.withColumn("_pid", F.spark_partition_id()))
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in tmp.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    offs = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    wloc = W.partitionBy("_pid").orderBy(*cols)
    base = F.row_number().over(wloc) + F.col("_off")
    rank = base if one_based else base - 1
    return (
        tmp.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, rank.cast("long"))
        .drop("_pid", "_off")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    rank_col: str = "shuffle_rank",
    partitions: int | None = None,
) -> DataFrame:
    """Reproducible global training order: rank every row by
    ``(id_hash(id, seed), id)`` — the deterministic, engine-portable
    version of "shuffle the corpus before training" (same order every
    run, any cluster size, and the DuckDB oracle reproduces it).

    Scale plan: a bare ``row_number()`` with no PARTITION BY collapses
    to ONE task. Instead: range-repartition on the sort key (each
    partition owns a disjoint key range), rank locally per partition,
    then add per-partition offsets from a partition-count pass — the
    classic two-pass distributed rank (:func:`distributed_rank`); the
    only driver state is one count per partition. The rank is
    independent of the partitioning itself (the key (hash, id) is a
    strict total order)."""
    require_integral_id(df, id_col)
    keyed = df.withColumn("_sk", id_hash(id_col, seed))
    return distributed_rank(
        keyed,
        [F.col("_sk").asc(), F.col(id_col).asc()],
        rank_col=rank_col,
        partitions=partitions,
        one_based=False,
    ).drop("_sk")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
    src: str = "id_a",
    dst: str = "id_b",
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment that never separates near-duplicates:
    rows are split by the hash of their DEDUP-CLUSTER representative
    (connected components over the near-dup pair graph), so a document
    and its paraphrase can't land in train and test — the standard
    guard against eval leakage through duplicates.

    Composition of two existing scale paths: distributed connected
    components (large-star/small-star, O(log² n) rounds) + the pure-
    projection hash split keyed on the component id."""
    from .graph import connected_components

    comp = connected_components(
        pairs, src=src, dst=dst, nodes=df.select(F.col(id_col)), node_col=id_col
    ).select(F.col("node").alias(id_col), "component")
    return hash_split(df.join(comp, id_col), "component", weights, seed, split_col)


# deterministic (multiplier, offset) pairs for the Bloom position
# family: p_i = ((h·A_i + B_i) mod 2³¹−1) mod mbits. Fixed constants —
# not runtime-random — so the filter (and its false positives) is
# bit-reproducible across engines and runs.
BLOOM_P = (1 << 31) - 1
BLOOM_PARAMS = [
    (906_060_861, 123_456_791),
    (1_579_024_075, 987_654_323),
    (481_207_017, 192_837_465),
    (1_106_571_841, 564_738_291),
]


# the cross-engine string hash (one definition for the whole repo —
# functions/polyhash.py); kept under the historical local name
from ..functions.polyhash import poly_hash_str as _gram_poly_hash  # noqa: E402


def _gram_poly_hashes_arrow(ngram_n: int):
    """Arrow-vectorized twin of :func:`_gram_poly_hash` over all word
    ``ngram_n``-grams of a text: per-token hashes are cached per batch
    (Heaps-law small vocabulary) and composed into gram hashes with the
    rolling-hash identity ``h(s·' '·t) = ((h(s)·31+32)·31^len(t) +
    h(t)) mod p`` — O(1) arithmetic per gram instead of an interpreted
    per-character fold (the minhash_poly_features_arrow precedent,
    proven bit-equal to the expression path). ~10× on corpus passes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = HASH_MOD

    # hint-free signature (module uses `from __future__ import annotations`)
    def gh(texts):
        import re

        # Java/RE2 \s is ASCII-only; Python str.split() splits on ALL
        # Unicode whitespace — use the ASCII class to match TX.tokens
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        tok_cache: dict = {}

        def tok_h(t):
            v = tok_cache.get(t)
            if v is None:
                h = 0
                for ch in t:
                    h = (h * 31 + ord(ch)) % P
                v = (h, pow(31, len(t), P))
                tok_cache[t] = v
            return v

        out = []
        for t in texts:
            toks = [w for w in ws.split(t or "") if w]
            n = len(toks)
            if n < ngram_n:
                out.append([])
                continue
            hp = [tok_h(w) for w in toks]
            ht = np.fromiter((v[0] for v in hp), dtype=np.int64, count=n)
            pw = np.fromiter((v[1] for v in hp), dtype=np.int64, count=n)
            h = ht[: n - ngram_n + 1]
            for j in range(1, ngram_n):
                seg = slice(j, n - ngram_n + 1 + j)
                h = ((h * 31 + 32) % P * pw[seg] + ht[seg]) % P
            out.append(h.tolist())
        return pd.Series(out)

    return pandas_udf(gh, "array<long>")


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
    mbits: int = 1 << 18,
    num_hashes: int = 4,
    use_arrow: bool = True,
) -> DataFrame:
    """Bloom-filter n-gram decontamination — the 100 TB path where the
    exact eval-gram set outgrows a broadcast.

    :func:`decontaminate` broadcasts the distinct eval-gram hash set;
    with a large eval suite that set is unbounded. Here the eval grams
    are folded into an ``mbits``-bit Bloom bitmap (``mbits/8`` bytes —
    32 KiB at the default — regardless of eval size), the bitmap rides
    one broadcast row, and the train scan probes ``num_hashes`` bit
    positions per gram entirely JVM-side (``bit_get`` on the bitmap
    words). False positives over-remove training docs — the fail-safe
    direction for leakage control — at the textbook rate
    ``(set_bits/mbits)^num_hashes``, and deterministically so: position
    hashing uses the engine-reproducible polynomial family with fixed
    ``BLOOM_PARAMS``, so an oracle that models the bitmap as a distinct
    position set reproduces the exact kept/dropped partition, false
    positives included.

    Plan: eval side → gram positions → distinct → ``mbits/64`` bitmap
    words assembled driver-side (bounded: ≤4096 longs) and re-broadcast;
    train side scans once, no shuffle except the contaminated-id
    distinct."""
    from revtron_utils_spark.functions.text import word_ngrams

    if num_hashes > len(BLOOM_PARAMS):
        raise ValueError(f"num_hashes > {len(BLOOM_PARAMS)} not supported")
    if mbits <= 0 or mbits % 64 != 0:
        raise ValueError(f"mbits must be a positive multiple of 64, got {mbits}")
    words = mbits // 64

    if use_arrow:
        arrow_gh = _gram_poly_hashes_arrow(ngram_n)

        def gram_hashes(df: DataFrame):
            return df.select(
                F.col(id_col), arrow_gh(F.col(text_col)).alias("_hs")
            ).select(id_col, F.explode("_hs").alias("h"))

    else:

        def gram_hashes(df: DataFrame):
            # explode through an aliased array first (generators can't
            # nest inside the hash expression; aliasing also keeps the
            # Generate from re-evaluating the n-gram build per row)
            return (
                df.select(
                    F.col(id_col), word_ngrams(text_col, ngram_n).alias("_grams")
                )
                .select(id_col, F.explode("_grams").alias("g"))
                .select(id_col, _gram_poly_hash(F.col("g")).alias("h"))
            )

    def pos(i: int) -> Column:
        a, b = BLOOM_PARAMS[i]
        return ((F.col("h") * a + b) % BLOOM_P) % mbits

    ev = gram_hashes(eval_df)
    ev_pos = ev.select(
        F.explode(F.array(*[pos(i) for i in range(num_hashes)])).alias("p")
    ).distinct()
    # assemble the bitmap: 64-bit words via bit_or of shifted bits; the
    # word list is bounded by mbits/64, so the driver round-trip is a
    # fixed few KiB however large the eval corpus is
    word_rows = (
        ev_pos.select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    bitmap = [0] * words
    for r in word_rows:
        bitmap[r["w"]] = r["bits"]
    spark = train.sparkSession
    bloom = spark.createDataFrame([(bitmap,)], "bloom array<bigint>")

    tr = gram_hashes(train)
    hit = F.lit(True)
    for i in range(num_hashes):
        p = pos(i)
        word = F.element_at(F.col("bloom"), (p / F.lit(64)).cast("int") + 1)
        hit = hit & (F.getbit(word, (p % 64).cast("int")) == 1)
    contaminated = (
        tr.crossJoin(F.broadcast(bloom))
        .filter(hit)
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def compression_ratio_udf(level: int = 6):
    """Arrow-batched deflate-compressibility scorer: per document,
    ``len(zlib.compress(utf8)) / len(utf8)`` (NULL for empty/NULL
    text). Low ratios flag boilerplate/template/repetitive documents
    that n-gram repetition stats under-catch (long-range repeats); the
    RefinedWeb/Dolma-style pipelines use exactly this signal. zlib with
    a pinned ``level`` is deterministic for a given library build, and
    the ratio is replay-stable — but NOT SQL-reproducible, so gates
    over it are rows-only and the value contract is pinned by the
    pytest differential against direct ``zlib`` instead of a DuckDB
    oracle. One narrow Arrow pass, no shuffle; the only data movement
    is the text column into the Python worker."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    lv = int(level)

    def ratio(texts):
        import zlib

        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            b = t.encode("utf-8")
            out.append(len(zlib.compress(b, lv)) / len(b))
        return pd.Series(out, dtype="float64")

    return pandas_udf(ratio, "double")


def compression_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_ratio: float = 0.3,
    max_ratio: float = 1.1,
    level: int = 6,
) -> DataFrame:
    """Gopher-style compressibility gate: keep documents whose deflate
    ratio lies in ``[min_ratio, max_ratio]`` — below it the text is
    template/repeat-dominated, above it is high-entropy junk (binary
    spill, base64 blobs). Returns ``(id_col, ratio, kept)`` so callers
    can audit the cut before filtering (join back on ``id_col``)."""
    r = compression_ratio_udf(level)(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.round(r, 6).alias("ratio"),
        r.between(float(min_ratio), float(max_ratio)).alias("kept"),
    )


def distribution_match(
    df: DataFrame,
    id_col: str,
    bucket_col: str,
    target_weights: dict,
    total_keep: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministically resample a corpus toward a TARGET bucket
    distribution — "rebalance to 25% per language", the mixture-control
    sibling of :func:`mixture_sample` driven by an explicit weight
    table instead of observed proportions.

    Bucket quotas k_b come from largest-remainder apportionment of
    ``total_keep`` over ``target_weights`` (Σ quotas = total_keep
    exactly; deterministic (remainder DESC, bucket ASC) tie-break —
    the `segment.neyman_allocation` integerizer), then each row keeps
    iff ``id_hash(id)·c_b < k_b·MOD`` — an exact integer cross-multiply
    (DECIMAL: hash·count wraps int64 at corpus scale), so the kept set
    is a deterministic ≈Binomial(c_b, k_b/c_b) draw. NO per-bucket sort
    or window over the corpus: quotas broadcast onto a single filtered
    scan, which is what survives a hot bucket at 100 TB (exact-k
    selection would need a per-bucket global sort; the hash-threshold
    draw trades ±√k count jitter for a shuffle-free plan). Buckets
    missing from ``target_weights`` are dropped.

    Returns the kept rows of ``df`` (all columns).
    """
    import math

    require_integral_id(df, id_col)
    # only the caller-enumerated weight table lives on the driver;
    # bucket populations are aggregated IN-PLAN and joined back
    buckets = sorted(target_weights)
    wsum = float(sum(target_weights[b] for b in buckets))
    exact = {b: total_keep * float(target_weights[b]) / wsum for b in buckets}
    base = {b: math.floor(exact[b]) for b in buckets}
    deficit = total_keep - sum(base.values())
    order = sorted(buckets, key=lambda b: (-(exact[b] - base[b]), str(b)))
    quota = {
        b: base[b] + (1 if i < deficit else 0) for i, b in enumerate(order)
    }
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(b, quota[b]) for b in buckets],
        f"_b {df.schema[bucket_col].dataType.simpleString()}, _k long",
    )
    counts = df.groupBy(F.col(bucket_col).alias("_cb")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    joined = df.join(
        F.broadcast(qdf), df[bucket_col] == qdf["_b"], "inner"
    ).join(
        F.broadcast(counts), df[bucket_col] == counts["_cb"], "inner"
    )
    h = id_hash(F.col(id_col), seed)
    keep = (
        h.cast("decimal(38,0)") * F.col("_c").cast("decimal(38,0)")
        < F.col("_k").cast("decimal(38,0)") * F.lit(HASH_MOD).cast("decimal(38,0)")
    )
    return joined.where(keep).drop("_b", "_k", "_cb", "_c")


def _bucket_literal(b) -> str:
    """Render a python bucket value as a TYPED DuckDB literal — quotes
    escaped, explicit CAST so the quota table's join column matches the
    corpus column's type without relying on implicit varchar casts
    (mirrors the typed quota DataFrame on the Spark side)."""
    if isinstance(b, bool):
        return f"CAST({'TRUE' if b else 'FALSE'} AS BOOLEAN)"
    if isinstance(b, int):
        return f"CAST({b} AS BIGINT)"
    if isinstance(b, float):
        return f"CAST({b!r} AS DOUBLE)"
    esc = str(b).replace("'", "''")
    return f"CAST('{esc}' AS VARCHAR)"


def distribution_match_oracle_sql(
    values_sql: str,
    id_col: str,
    bucket_col: str,
    target_weights: dict,
    total_keep: int,
    counts_sql: str | None = None,
    seed: int = 0,
) -> str:
    """DuckDB twin: quotas computed by the same python apportionment
    (both engines receive the identical literal quota table), same
    hash, same HUGEINT cross-multiply."""
    import math

    buckets = sorted(target_weights)
    wsum = float(sum(target_weights[b] for b in buckets))
    exact = {b: total_keep * float(target_weights[b]) / wsum for b in buckets}
    base = {b: math.floor(exact[b]) for b in buckets}
    deficit = total_keep - sum(base.values())
    order = sorted(buckets, key=lambda b: (-(exact[b] - base[b]), str(b)))
    quota = {b: base[b] + (1 if i < deficit else 0) for i, b in enumerate(order)}
    qrows = " UNION ALL ".join(
        f"SELECT {_bucket_literal(b)} AS _b,"
        f" CAST({quota[b]} AS BIGINT) AS _k"
        for b in buckets
    )
    a = _seed_mult(seed)
    off = int(seed) % HASH_MOD
    h = (
        f"(((((v.{id_col}) % {HASH_MOD}) + {HASH_MOD}) % {HASH_MOD}"
        f" * {a} + {off}) % {HASH_MOD})"
    )
    return f"""
WITH vals AS ({values_sql}),
quotas AS ({qrows}),
counts AS (
  SELECT {bucket_col} AS _b, CAST(COUNT(*) AS BIGINT) AS _c
  FROM vals GROUP BY {bucket_col}
)
SELECT v.* FROM vals v
JOIN quotas q ON v.{bucket_col} = q._b
JOIN counts c ON v.{bucket_col} = c._b
WHERE CAST({h} AS HUGEINT) * CAST(c._c AS HUGEINT)
      < CAST(q._k AS HUGEINT) * CAST({HASH_MOD} AS HUGEINT)
"""


def percentile_normalize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    by: list[str] | None = None,
    out_col: str = "pct",
    round_to: int = 6,
    partitions: int | None = None,
) -> DataFrame:
    """Per-row within-group percentile rank — quantile-normalize a
    score column so thresholds mean the same thing in every group
    ("keep the top 20% of every domain by classifier score" composes
    with :func:`filter_by_score_quantile`; this emits the continuous
    rank itself for mixing/weighting):

        pct = (rank − 0.5) / n_group        (Hazen plotting position)

    with rank the 1-based position under the total order
    ``(by…, value, id)``.

    Scale plan: the textbook form is ``percent_rank() OVER (PARTITION
    BY group ORDER BY value)`` — a full sort of every group, single-
    task for a hot group. Here the GLOBAL rank comes from
    :func:`distributed_rank` (range repartition + per-partition
    offsets — the key space is never sorted in one task), and each
    group's local rank is recovered by subtracting the group's minimum
    global rank (one O(groups) broadcast join): rows of a group are
    contiguous under the total order, so ``rank − min_rank + 1`` IS the
    within-group rank. One exactly-rounded division per row — the
    output hash-matches the oracle's ``ROW_NUMBER() OVER (PARTITION BY
    …)`` exactly.

    Ties break by ``id_col`` (deterministic, like every rank in this
    repo). Output: input columns + ``out_col``.
    """
    keys = list(by or [])
    order = [F.col(k).asc() for k in keys] + [
        F.col(value_col).asc(),
        F.col(id_col).asc(),
    ]
    ranked = distributed_rank(df, order, rank_col="_gr", partitions=partitions)
    gmin = ranked.groupBy(*keys).agg(
        F.min("_gr").alias("_g0"), F.count(F.lit(1)).alias("_gn")
    )
    # keyed branch: gmin is O(groups) — no broadcast hint (AQE decides;
    # a forced hint on a data-derived cardinality is a memory wall at
    # 10⁶⁺ groups). The no-keys branch is a single row — bounded.
    j = (
        ranked.join(gmin, keys)
        if keys
        else ranked.crossJoin(F.broadcast(gmin))
    )
    pct = (
        (F.col("_gr") - F.col("_g0") + F.lit(1)).cast("double") - F.lit(0.5)
    ) / F.col("_gn").cast("double")
    return j.withColumn(out_col, F.round(pct, round_to)).drop("_gr", "_g0", "_gn")


def percentile_normalize_oracle_sql(
    values_sql: str,
    value_col: str,
    id_col: str,
    by: list[str] | None = None,
    out_col: str = "pct",
    round_to: int = 6,
) -> str:
    """DuckDB twin: the same within-group rank via a plain partitioned
    ROW_NUMBER (the oracle may single-task-sort; the Spark side must
    not), same Hazen division."""
    keys = list(by or [])
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    return f"""
WITH vals AS ({values_sql}),
r AS (
  SELECT *,
         ROW_NUMBER() OVER ({part}ORDER BY {value_col} ASC, {id_col} ASC)
           AS _rn,
         COUNT(*) OVER ({part.rstrip() if part else ""}) AS _n
  FROM vals
)
SELECT * EXCLUDE (_rn, _n),
       ROUND((CAST(_rn AS DOUBLE) - 0.5) / CAST(_n AS DOUBLE), {round_to})
         AS {out_col}
FROM r
"""


def contrastive_pairs(
    df: DataFrame,
    id_col: str,
    cluster_col: str,
    seed: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Contrastive training pairs from a clustered corpus — the
    embedding-training data generator that sits downstream of the dedup
    clustering family (`graph.connected_components`, `semdedup`):
    every near-duplicate cluster yields (anchor, positive) pairs, and
    each pair gets a deterministic in-batch-style negative.

    * **Positives**: consecutive members of each cluster under
      ``id_col`` order — a cluster of k members emits k−1 pairs (a
      spanning chain: every member participates, no quadratic k²
      blow-up on hot clusters).
    * **Negatives**: rows are ranked by the seeded id hash
      (:func:`distributed_rank` — no single-task sort) and the anchor's
      negative is the row HALF A TURN away on the hash ring
      (``(rank + ⌊n/2⌋) mod n``) — a fixed derangement, so negatives
      are uniform-ish, reproducible across runs/engines, and computed
      by ONE equi-join on the rank (no random sampling, no skew).
      Ring partners landing in the anchor's own cluster are emitted
      with ``negative_id = NULL`` (callers drop or re-mine; the rate is
      ~the duplicate rate, documented) rather than silently reassigned.

    Output: ``(anchor_id, positive_id, negative_id)``.
    """
    require_integral_id(df, id_col)
    from .dedup import _persist

    base = _persist(
        df.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl"))
    )
    w = W.partitionBy("_cl").orderBy(F.col("_id").asc())
    pos = (
        base.withColumn("_nxt", F.lead("_id").over(w))
        .where(F.col("_nxt").isNotNull())
        .select(
            F.col("_id").alias("anchor_id"),
            F.col("_nxt").alias("positive_id"),
            F.col("_cl").alias("_acl"),
        )
    )
    ranked = _persist(
        distributed_rank(
            base.withColumn("_hk", id_hash("_id", seed)),
            [F.col("_hk").asc(), F.col("_id").asc()],
            rank_col="_r",
            partitions=partitions,
        ).drop("_hk")
    )
    n_row = ranked.agg(F.count(F.lit(1)).alias("_n"))
    keyed = ranked.crossJoin(F.broadcast(n_row)).select(
        "_id",
        "_cl",
        "_r",
        ((F.col("_r") - 1 + F.expr("_n div 2")) % F.col("_n") + 1).alias("_pr"),
    )
    partner = ranked.select(
        F.col("_r").alias("_pr"),
        F.col("_id").alias("_pid"),
        F.col("_cl").alias("_pcl"),
    )
    negs = keyed.join(partner, "_pr").select(
        F.col("_id").alias("anchor_id"),
        F.when(F.col("_pcl") != F.col("_cl"), F.col("_pid")).alias("_neg"),
    )
    return (
        pos.join(negs, "anchor_id")
        .select("anchor_id", "positive_id", F.col("_neg").alias("negative_id"))
    )


def contrastive_pairs_oracle_sql(
    values_sql: str,
    id_col: str,
    cluster_col: str,
    seed: int = 0,
) -> str:
    """DuckDB twin: same cluster-chain positives, same hash-ring
    derangement negatives (plain window ranks — the oracle may
    single-task-sort; the Spark side must not)."""
    a = _seed_mult(seed)
    off = int(seed) % HASH_MOD
    h = (
        f"(((({id_col} % {HASH_MOD}) + {HASH_MOD}) % {HASH_MOD})"
        f" * {a} + {off}) % {HASH_MOD}"
    )
    return f"""
WITH vals AS ({values_sql}),
pos AS (
  SELECT {id_col} AS anchor_id,
         LEAD({id_col}) OVER (PARTITION BY {cluster_col}
                              ORDER BY {id_col} ASC) AS positive_id,
         {cluster_col} AS _acl
  FROM vals
),
ranked AS (
  SELECT {id_col} AS _id, {cluster_col} AS _cl,
         ROW_NUMBER() OVER (ORDER BY ({h}) ASC, {id_col} ASC) AS _r,
         CAST(COUNT(*) OVER () AS BIGINT) AS _n
  FROM vals
),
negs AS (
  SELECT k._id AS anchor_id,
         CASE WHEN p._cl <> k._cl THEN p._id END AS negative_id
  FROM ranked k JOIN ranked p
    ON (k._r - 1 + k._n // 2) % k._n + 1 = p._r
)
SELECT pos.anchor_id, pos.positive_id, negs.negative_id
FROM pos JOIN negs USING (anchor_id)
WHERE pos.positive_id IS NOT NULL
"""


def keep_cluster_canonical(
    df: DataFrame,
    cluster_col: str,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Quality-aware near-dup collapse — the step a real pipeline runs
    right after :func:`graph.connected_components` labels the dedup
    clusters: keep exactly ONE document per cluster, the
    highest-quality member (ties break to the smallest id, so replays
    are deterministic), instead of the arbitrary "keep the min-id
    member" a plain distinct-on gives. The pair this forms with
    `dedup_clusters` is the canonical "dedup without throwing away
    your best copy" loop.

    One cluster-partitioned window (never unpartitioned — clusters are
    the partition key), exact integer quality. Output: the kept rows
    ``(id_col, cluster_col, quality_col, n_members)``.

    Scale note: at corpus scale feed this from a CAPPED pair source —
    ``dedup.minhash_pairs_capped`` (as ``corpus_pipeline`` does), not
    raw ``ngram_jaccard_pairs`` at a low threshold with coarse blocks,
    which is the hot-block quadratic-pairs risk the capped-LSH family
    exists to avoid. The ``dedup_canonical`` driver gate uses
    ``ngram_jaccard_pairs`` at threshold 0.2 ONLY because its sf0.01
    fixture is tiny and the oracle needs an exactly-reproducible pair
    set.
    """
    w = W.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(id_col),
            F.col(cluster_col),
            F.col(quality_col).cast("long").alias(quality_col),
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(W.partitionBy(cluster_col)))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
