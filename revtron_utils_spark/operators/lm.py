"""N-gram language-model fluency scoring — the CCNet-style "perplexity
filter" (Wenzek et al. 2020) with stupid-backoff smoothing (Brants et
al. 2007, "Large Language Models in Machine Translation"), Spark-first
and engine-exact.

A KenLM perplexity filter is the canonical web-corpus quality gate:
score every document by how probable its token stream is under an
n-gram LM trained on a trusted corpus, then keep the low-perplexity
tail. This is the repo's log-free rational variant (the BM25 /
rarity / DSIR precedent): instead of summing log-probabilities, each
position's stupid-backoff score

    S(w_i | w_{i-n+1..i-1}) = count(ngram)/count(prefix)      if seen
                              alpha * S(w_i | shorter context) else
    S(w_i)                  = (count(w_i) + 1) / (T + V)      (Laplace)

is a fixed-order chain of integer-valued-double divisions and
multiplications by the alpha literal — deterministic IEEE arithmetic,
no ``ln`` (not correctly rounded across libms). Each position's score
is quantized to an integer (``round(scale * S)``), the per-document
sum is an order-independent integer sum, and the mean is one IEEE
division of exactly-representable integers (deliberately un-ROUNDed —
see the comment at the aggregate), so it hash-matches a DuckDB oracle
bit-for-bit. A document's score is the
mean per-token probability — the arithmetic-mean cousin of inverse
perplexity (higher = more fluent), monotone enough for threshold
filtering, which is all the pipeline does with it.

Positions at the document start back off structurally (no alpha
penalty): position 0 scores with the unigram model, position 1 with
the bigram, matching how stupid backoff treats truncated contexts.

100 TB posture
--------------
- Tokenization and the per-position gram/prefix columns are one narrow
  codegen'd projection: ``n-1`` shifted-slice ``zip_with`` passes (the
  ``word_ngrams`` trick — O(n) array ops per document, not one
  allocation per shingle), null-padded and ``arrays_zip``-ed so a
  single ``posexplode`` yields every order's gram AND its backoff
  prefix per token position. No Python anywhere.
- Count tables aggregate map-side (shuffle = (gram, partial count));
  they are vocabulary-sized, not corpus-sized. No broadcast hint — AQE
  broadcasts the lookups when they fit and falls back to gram-keyed
  shuffle joins when a 100 TB trigram table doesn't.
- ``min_count`` prunes rare higher-order grams BEFORE the join (the
  standard LM count floor). Pruning numerator and denominator tables
  with the same floor preserves the prefix property (count(prefix) >=
  count(ngram) >= floor), so the backoff cascade never divides by an
  absent prefix — and the oracle applies the same floor, so pruned
  scoring stays hash-exact.
- Train/score separation: pass ``lm_docs`` to train counts on a
  trusted corpus (the Wikipedia side of CCNet) and score the crawl.

No analog in the reference (its query surface is SQL/SOQL generation,
``/root/reference/revtron/database/main.py``); this is part of the
LLM-data-pipeline extension layer alongside rarity_scores (idf
surprisal) and importance_weights (DSIR domain ratios) — this one is
the sequence-model member of that family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lower_tokens(text_col: str):
    from ..functions import text as TX

    # lower the whole STRING, then split: one codegen'd pass. The
    # transform(tokens, lower) form lowers per element through an
    # interpreted higher-order function — measured ~1.6 s per corpus
    # pass at sf0.1, 8x the split itself. Equivalent: no Unicode case
    # mapping produces or removes whitespace, so token boundaries are
    # identical.
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return TX.tokens(F.lower(c))


def _order_grams(toks, k: int):
    """Array of k-gram strings ending at positions k-1..m-1 (length
    m-k+1) — the shared shifted-slice composition from
    ``functions.text.word_ngrams_from_tokens``."""
    from ..functions import text as TX

    return TX.word_ngrams_from_tokens(toks, k)


def _null_pad(arr, pad: int):
    # prepend `pad` NULL elements so element i of the padded array is
    # the gram ENDING at token position i (early positions have no
    # such gram -> NULL)
    if pad == 0:
        return arr
    pads = F.array(*[F.lit(None).cast("string") for _ in range(pad)])
    return F.concat(pads, arr)


def _position_frame(
    docs: DataFrame, text_col: str, id_col: str, n: int, with_prefixes: bool
) -> DataFrame:
    """One row per token position i with the gram of every order 1..n
    ending at i (``g1..gn``; NULL when i < k-1) and, when
    ``with_prefixes``, each order's backoff prefix (``d2..dn`` — the
    (k-1)-gram ending at i-1). One tokenization, n-1 shifted-slice
    zip passes, a single posexplode."""
    tok_docs = docs.select(F.col(id_col), _lower_tokens(text_col).alias("_ws"))
    toks = F.col("_ws")
    m = F.size(toks)
    cols = {"g1": _order_grams(toks, 1)}
    for k in range(2, n + 1):
        cols[f"g{k}"] = _null_pad(_order_grams(toks, k), k - 1)
        if with_prefixes:
            # prefix of the order-k gram = (k-1)-gram ending at i-1
            prev = _order_grams(toks, k - 1)
            cols[f"d{k}"] = _null_pad(
                F.slice(prev, 1, F.greatest(m - (k - 1), F.lit(0))), k - 1
            )
    return (
        tok_docs.select(
            F.col(id_col),
            F.posexplode(
                F.arrays_zip(*[v.alias(k) for k, v in cols.items()])
            ).alias("_i", "_g"),
        )
        .select(id_col, *[F.col(f"_g.{k}").alias(k) for k in cols])
        # arrays_zip pads to the LONGEST input: docs with fewer than
        # n-1 tokens zip past their token count, yielding phantom
        # positions whose g1 is NULL — real tokens never are
        .filter(F.col("g1").isNotNull())
    )


def ngram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_docs: DataFrame | None = None,
    n: int = 3,
    alpha: float = 0.4,
    min_count: int = 1,
    scale: int = 1_000_000,
    include_sum: bool = False,
) -> DataFrame:
    """Per-document stupid-backoff n-gram LM fluency.

    Output: (id_col, n_tokens, lm_score) — ``lm_score`` is the mean of
    per-position quantized backoff probabilities (higher = more fluent
    under the LM corpus). Token-less documents have no
    positions and are omitted, like every token-join scorer here.

    ``include_sum`` appends ``score_sum_int`` (the exact per-document
    integer sum) so downstream ranking/thresholding can stay in
    integer arithmetic — a per-group quantile filter needs an integer
    score for the threshold interpolation to be engine-exact.
    """
    if n < 2:
        raise ValueError("ngram_lm_score needs n >= 2 (got n=%d)" % n)
    from .dedup import _persist

    # --- one narrow projection: per position i, the gram of every
    # order ending at i (plus, on the scoring side, its backoff prefix
    # — the (k-1)-gram ending at i-1), null-padded into alignment and
    # exploded once. PERSISTED: the count tables for every order derive
    # from this same frame (a k-gram occurrence ends at exactly one
    # position), so the corpus tokenizes and builds grams ONCE — the
    # per-order word_ngrams rebuild was 3.5x the whole query's cost
    # (interpreted zip_with per element, once per order).
    pos = _persist(_position_frame(docs, text_col, id_col, n, with_prefixes=True))
    cpos = (
        pos
        if lm_docs is None
        else _persist(_position_frame(lm_docs, text_col, id_col, n, with_prefixes=False))
    )

    # --- count tables, orders 1..n, trained on the LM corpus: one tiny
    # map-side-combinable aggregate each over the cached positions.
    # Unigrams stay unfloored: they are the Laplace base case and must
    # cover the corpus vocabulary.
    counts = {}
    for k in range(1, n + 1):
        c = (
            cpos.filter(F.col(f"g{k}").isNotNull())
            .groupBy(F.col(f"g{k}").alias("gram"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if k > 1 and min_count > 1:
            c = c.filter(F.col("c") >= min_count)
        counts[k] = _persist(c)
    # Laplace total T+V rides IN-PLAN as a 1-row broadcast (the
    # mixture_sample convention, r12): the old ``.first()`` was a full
    # build-time action that materialized the position cache and the
    # unigram table before the query ever ran. ``(t + v)`` is the same
    # exact long addition Python did, cast to double once — identical
    # IEEE value. With an EMPTY training corpus ``sum(c)`` is NULL, the
    # guard keeps ``_tv`` NULL, every score is NULL, and the NULL filter
    # below returns the documented empty frame (the oracle's
    # ``WHERE s_int IS NOT NULL`` behavior, bit-for-bit).
    tot = counts[1].agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v"))
    tv = tot.select(
        F.when(
            F.col("t") + F.col("v") > 0,
            (F.col("t") + F.col("v")).cast("double"),
        ).alias("_tv")
    )
    pos = pos.crossJoin(F.broadcast(tv))

    # --- count lookups: left joins against vocabulary-sized tables
    # (no broadcast hint — AQE broadcasts when they fit). Seen grams
    # resolve to BIGINT counts, unseen/absent to NULL.
    pos = pos.join(counts[1].withColumnRenamed("gram", "g1").withColumnRenamed("c", "c1"), "g1", "left")
    for k in range(2, n + 1):
        pos = pos.join(
            counts[k]
            .withColumnRenamed("gram", f"g{k}")
            .withColumnRenamed("c", f"c{k}"),
            f"g{k}",
            "left",
        )
        pos = pos.join(
            counts[k - 1]
            .withColumnRenamed("gram", f"d{k}")
            .withColumnRenamed("c", f"cd{k}"),
            f"d{k}",
            "left",
        )

    # --- fixed-order backoff cascade. Highest AVAILABLE order first
    # (truncated doc-start contexts back off structurally, no alpha);
    # each unseen step multiplies by the alpha literal. c{k} non-null
    # implies cd{k} non-null (the prefix property, preserved under the
    # shared min_count floor), so no guarded division ever sees NULL/0.
    base1 = (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(1)) / F.col("_tv")
    score = None
    for avail in range(n, 0, -1):  # highest order available at this position
        # penalty accumulates per backoff step below `avail`
        expr = None
        for k in range(avail, 1, -1):
            step = F.col(f"c{k}") / F.col(f"cd{k}")
            pen = alpha ** (avail - k)
            step = step * F.lit(pen) if avail != k else step
            cond = F.col(f"c{k}").isNotNull()
            expr = F.when(cond, step) if expr is None else expr.when(cond, step)
        base = base1 * F.lit(alpha ** (avail - 1)) if avail > 1 else base1
        expr = base if expr is None else expr.otherwise(base)
        if avail == n:
            gate = F.col(f"g{n}").isNotNull()
        elif avail == 1:
            gate = F.lit(True)
        else:
            gate = F.col(f"g{avail}").isNotNull()
        score = F.when(gate, expr) if score is None else score.when(gate, expr)

    # NO final ROUND: sum_int/(n·scale) divides two exactly-representable
    # integers in one correctly-rounded IEEE op — identical bits in any
    # engine. A ROUND(x, 6) here would sit on an exact decimal half for
    # many token counts (any 2-token doc with an odd sum ends in
    # ...xxxxx5), where Spark (shortest-repr BigDecimal) and DuckDB
    # (numeric) can legitimately disagree.
    aggs = [
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("_s_int") / (F.count(F.lit(1)) * F.lit(float(scale)))).alias(
            "lm_score"
        ),
    ]
    if include_sum:
        aggs.append(F.sum("_s_int").alias("score_sum_int"))
    out = (
        pos.withColumn("_s_int", F.round(score * F.lit(float(scale))).cast("long"))
        # filter on the CORPUS-total column, not the score (r13 advice):
        # _tv is NULL exactly when the training corpus is empty, which
        # reproduces the documented empty frame; a per-position NULL
        # score on a live corpus (a c{k}⇒cd{k} prefix-property
        # violation) now stays LOUD as a NULL n_tokens/lm_score instead
        # of being silently dropped from the mean
        .filter(F.col("_tv").isNotNull())
        .groupBy(id_col)
        .agg(*aggs)
    )
    return out


def kneser_ney_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_docs: DataFrame | None = None,
    discount: float = 0.75,
    scale: int = 1_000_000,
    include_sum: bool = False,
) -> DataFrame:
    """Per-document fluency under an interpolated Kneser-Ney trigram LM
    (Kneser & Ney 1995; Chen & Goodman 1999) — the smoothing family
    KenLM implements, i.e. the de-facto CCNet/cc_net quality filter.

    Interpolated KN with a single absolute discount D:

        p3(w|u,v) = max(c(uvw)-D, 0)/c(uv.) + D*N1+(uv.)/c(uv.) * p2(w|v)
        p2(w|v)   = max(N1+(.vw)-D, 0)/N1+(.v.)
                    + D*N1+f(v)/N1+(.v.) * p1(w)
        p1(w)     = (N1+(.w) + 1) / (B + V)

    where c(uv.) = sum_w c(uvw) is the CONTEXT count — trigram
    occurrences, not the raw bigram count: a bigram seen only
    document-finally never acts as a context, so it falls through to
    p2 instead of assigning an attested-but-never-continued context
    probability 0 (below gibberish), and the discounted mass
    normalizes exactly (sum_w p3 = 1 for every seen context) —
    N1+(uv.) = distinct continuations of the context, N1+(.vw) =
    distinct left contexts of the bigram (the continuation counts that
    make KN the right smoother: "York" is frequent but follows almost
    only "New"), N1+(.v.) = trigram types with middle v, N1+f(v) =
    distinct followers of v within trigram types, N1+(.w) = distinct
    predecessors of w, B/V = bigram/unigram type counts. The unigram is the continuation distribution with a
    +1/+V guard so unseen scoring tokens keep nonzero mass (documented
    deviation from the textbook form, same role as the stupid-backoff
    Laplace base). Unseen contexts fall through to the next-lower
    distribution; truncated doc-start contexts score with p2/p1.

    Engine-exactness (the repo's log-free discipline): every statistic
    is an integer aggregate; each probability is a FIXED-ORDER chain of
    integer-valued-double subtract/divide/multiply with the ``D``
    literal; per-position scores quantize to integers and the document
    mean is one IEEE division — the whole model (type tables included)
    hash-verifies against a DuckDB oracle.

    100 TB posture: ALL statistics — token counts AND the five
    continuation-count tables — are direct aggregates over the one
    persisted position frame (a trigram type is a distinct ``g3``
    value, and the g3 string determines its decomposition, so every
    continuation count is a grouped ``count_distinct(g3)`` — no
    materialized type tables, no extra shuffles), so the corpus
    tokenizes once; stat tables are vocabulary-sized, joined without
    hints (AQE broadcasts while they fit); one doc-keyed aggregate.
    """
    from .dedup import _persist

    pos = _persist(_position_frame(docs, text_col, id_col, 3, with_prefixes=True))
    cpos = (
        pos
        if lm_docs is None
        else _persist(_position_frame(lm_docs, text_col, id_col, 3, with_prefixes=True))
    )

    tripos = cpos.filter(F.col("g3").isNotNull())
    bipos = cpos.filter(F.col("g2").isNotNull())
    c3 = tripos.groupBy(F.col("g3").alias("k")).agg(
        F.count(F.lit(1)).alias("c3")
    )
    # continuation counts: distinct trigram types = distinct g3; the
    # gram string determines (u, v, w), so grouping positions by a
    # component and count_distinct(g3) counts types exactly
    n1_pred2 = tripos.groupBy(F.col("g2").alias("k")).agg(
        F.count_distinct(F.col("g3")).alias("n1p2")
    )
    mid = tripos.groupBy(F.col("d2").alias("k")).agg(
        F.count_distinct(F.col("g3")).alias("n1mid"),
        F.count_distinct(F.col("g1")).alias("n1fmid"),
    )
    # the context count c(uv.) and N1+(uv.) come from ONE aggregation
    # over trigram positions keyed by the context — count(*) is the
    # trigram-occurrence (context) count, NOT the raw bigram count
    ctx = tripos.groupBy(F.col("d3").alias("k")).agg(
        F.count(F.lit(1)).alias("c2uv"),
        F.count_distinct(F.col("g3")).alias("n1f2"),
    )
    n1_pred1 = bipos.groupBy(F.col("g1").alias("k")).agg(
        F.count_distinct(F.col("g2")).alias("n1p1")
    )

    # B + V rides IN-PLAN as a 1-row broadcast (the ngram_lm_score
    # convention, r12): the old ``.first()`` was a full build-time
    # count_distinct pass over every position before the query ran.
    # Same longs, added and cast once — identical IEEE double. The NULL
    # guard makes every score NULL on an empty LM corpus, and the
    # filter below then reproduces the documented empty frame. (A
    # type-table rewrite of the count_distincts was A/B-profiled here
    # and rejected: shuffle bytes dropped 2.6→1.8 MB but task CPU
    # tripled — the extra distinct + joins cost more than the dedup
    # state saved.)
    bv = cpos.agg(
        F.count_distinct(F.col("g2")).alias("b"),
        F.count_distinct(F.col("g1")).alias("v"),
    ).select(
        F.when(
            F.col("b") + F.col("v") > 0,
            (F.col("b") + F.col("v")).cast("double"),
        ).alias("_bv")
    )

    def lk(table, key, *outs):
        t = table.withColumnRenamed("k", key)
        return t.select(key, *outs)

    p = (
        pos.crossJoin(F.broadcast(bv))
        .join(lk(n1_pred1, "g1", "n1p1"), "g1", "left")
        .join(lk(mid, "d2", "n1mid", "n1fmid"), "d2", "left")
        .join(lk(n1_pred2, "g2", "n1p2"), "g2", "left")
        .join(lk(ctx, "d3", "c2uv", "n1f2"), "d3", "left")
        .join(lk(c3, "g3", "c3"), "g3", "left")
    )

    D = float(discount)
    p1c = (F.coalesce(F.col("n1p1"), F.lit(0)) + F.lit(1)) / F.col("_bv")
    p2c = F.when(
        F.col("n1mid").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("n1p2"), F.lit(0)) - F.lit(D), F.lit(0.0)
            )
            / F.col("n1mid")
        )
        + (((F.lit(D) * F.col("n1fmid")) / F.col("n1mid")) * p1c),
    ).otherwise(p1c)
    p3c = F.when(
        F.col("c2uv").isNotNull(),
        (
            F.greatest(F.coalesce(F.col("c3"), F.lit(0)) - F.lit(D), F.lit(0.0))
            / F.col("c2uv")
        )
        + (
            ((F.lit(D) * F.coalesce(F.col("n1f2"), F.lit(0))) / F.col("c2uv"))
            * p2c
        ),
    ).otherwise(p2c)
    score = (
        F.when(F.col("g3").isNotNull(), p3c)
        .when(F.col("g2").isNotNull(), p2c)
        .otherwise(p1c)
    )

    aggs = [
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("_s_int") / (F.count(F.lit(1)) * F.lit(float(scale)))).alias(
            "kn_score"
        ),
    ]
    if include_sum:
        aggs.append(F.sum("_s_int").alias("score_sum_int"))
    return (
        p.withColumn("_s_int", F.round(score * F.lit(float(scale))).cast("long"))
        # filter on the CORPUS-total column, not the score (r13 advice):
        # _bv is NULL exactly when the LM corpus is empty (the
        # documented empty frame); a per-position NULL score on a live
        # corpus stays loud instead of silently skewing the mean
        .filter(F.col("_bv").isNotNull())
        .groupBy(id_col)
        .agg(*aggs)
    )
