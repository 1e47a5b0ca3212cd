"""Distributed byte-pair-encoding: learn a merge table on the corpus
with Spark aggregations, then encode documents with the learned merges.

The algorithm is the published subword BPE (Sennrich, Haddow & Birch,
"Neural machine translation of rare words with subword units", ACL 2016):
start from characters, repeatedly merge the most frequent adjacent
symbol pair. The classic implementation is a single-machine loop over a
word-frequency dict; the Spark re-expression keeps the *same induction*
but distributes each round:

* The corpus collapses to the **distinct-word frequency table** first
  (one shuffle, ~Heaps-law small relative to 100 TB of text) — every
  merge round then runs on that table, never the corpus.
* A round = one combinable aggregation (explode adjacent pairs →
  sum word counts per pair) + an ``orderBy(count desc, pair asc)
  limit 1`` argmax (deterministic tie-break) + one codegen'd left-fold
  rewrite of the symbol arrays (a higher-order ``aggregate`` with a
  (emitted, pending) struct state — handles overlapping runs like
  ``aaa`` exactly as the reference's leftmost-first merge).
* Lineage is cut every ``checkpoint_every`` rounds (localCheckpoint, or
  a reliable ``checkpoint_dir`` on a real cluster — same knob as
  `graph.connected_components`).

Encoding goes the other way around the same small-table trick: encode
each **distinct** word once (Arrow-batched Pandas UDF running the
standard rank-based merge loop), then join the word→pieces map back
onto the corpus (AQE broadcasts it when it fits) and reassemble in token order — the 100-TB
corpus is never touched by Python.

Training is iterative and hence not SQL-expressible (rows-only in the
oracle gate); exactness is instead proven differentially against a
pure-Python reference implementation in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX

END_OF_WORD = "</w>"


def _word_symbols(word: Column) -> Column:
    """Split a word into single-character symbols + an end-of-word
    marker (the Sennrich formulation — lets merges learn suffixes)."""
    chars = F.filter(F.split(word, "(?!^)"), lambda ch: ch != "")
    return F.concat(chars, F.array(F.lit(END_OF_WORD)))


def _adjacent_pairs(sym: Column) -> Column:
    n = F.size(sym)
    return F.zip_with(
        F.slice(sym, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(sym, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )


def _merge_fold(sym: Column, left: str, right: str) -> Column:
    """Left-to-right single-pass merge of adjacent (left, right) →
    left+right, as a codegen'd fold with (out, pending) state — the
    same greedy leftmost-first semantics as the reference dict loop
    (``aaa`` + (a,a) → [aa, a])."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        hit = acc["pend"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(
                F.when(
                    acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
                ).otherwise(acc["out"])
            )
            .alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(s).alias("pend"),
        )

    def finish(acc):
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(sym, init, step, finish)


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """Distinct-word frequency table (word, wcount) — the only pass over
    the full corpus in BPE training."""
    w = F.explode(TX.tokens(text_col)).alias("word")
    words = df.select(w)
    if lowercase:
        words = words.select(F.lower("word").alias("word"))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("wcount"))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    lowercase: bool = True,
    min_pair_count: int = 2,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges; returns them in rank order.
    Deterministic: ties in pair frequency break on (left, right)
    lexicographic order. Stops early when no pair reaches
    ``min_pair_count``."""
    from .graph import _lineage_cutter

    _cut = _lineage_cutter(df.sparkSession, checkpoint_dir)
    vocab = word_frequencies(df, text_col, lowercase).withColumn(
        "sym", _word_symbols(F.col("word"))
    ).select("sym", "wcount")
    vocab = vocab.persist()
    merges: list[tuple[str, str]] = []
    prev = None  # released only AFTER the next round's action has
    # materialized the new vocab — unpersisting before that first action
    # dropped the cache while the new frame was still lazy, so every
    # round recomputed its whole lineage back to the corpus scan
    try:
        for round_no in range(num_merges):
            best = (
                vocab.select(
                    F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "wcount"
                )
                .groupBy("p.left", "p.right")
                .agg(F.sum("wcount").alias("c"))
                .orderBy(F.col("c").desc(), F.col("left").asc(), F.col("right").asc())
                .limit(1)
                .collect()
            )
            # the collect above ran through vocab.persist() — vocab's
            # blocks are cached now, prev's are no longer needed
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best or best[0]["c"] < min_pair_count:
                break
            left, right = best[0]["left"], best[0]["right"]
            merges.append((left, right))
            prev = vocab
            vocab = vocab.select(
                _merge_fold(F.col("sym"), left, right).alias("sym"), "wcount"
            )
            if (round_no + 1) % checkpoint_every == 0:
                # cut the per-round fold lineage
                vocab = _cut(vocab)
            vocab = vocab.persist()
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference rank-based BPE encode of one word (chars + marker,
    repeatedly merge the lowest-rank adjacent pair) — the exact loop of
    the published implementation; used per DISTINCT word inside the
    Arrow UDF and by the differential tests."""
    sym = list(word) + [END_OF_WORD]
    while len(sym) > 1:
        pairs = [(ranks.get((sym[i], sym[i + 1])), i) for i in range(len(sym) - 1)]
        cands = [(r, i) for r, i in pairs if r is not None]
        if not cands:
            break
        _, i = min(cands)
        sym[i : i + 2] = [sym[i] + sym[i + 1]]
    return sym


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "pieces",
    lowercase: bool = True,
) -> DataFrame:
    """Encode documents with a learned merge table: distinct words are
    encoded once in an Arrow-batched Pandas UDF, then the word→pieces
    map joins back (AQE picks broadcast when the vocabulary fits) and
    pieces reassemble in token order. Output: (id_col, out_col
    array<string>)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    ranks = {pair: i for i, pair in enumerate(merges)}
    b_ranks = spark.sparkContext.broadcast(ranks)

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's signature inference rejects
    @pandas_udf("array<string>")
    def _enc(words):
        r = b_ranks.value
        return words.map(lambda w: encode_word(w, r))

    tok = TX.tokens(text_col)
    if lowercase:
        tok = F.transform(tok, F.lower)
    toks = df.select(F.col(id_col), F.posexplode(tok).alias("pos", "word"))
    words = toks.select("word").distinct().withColumn("pieces", _enc(F.col("word")))
    return (
        # no broadcast hint: the word->pieces map is vocabulary-sized
        # (unbounded at 100 TB) -- AQE broadcasts it only when it fits
        toks.join(words, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("pieces")))
                ).pieces
            ).alias(out_col)
        )
    )
