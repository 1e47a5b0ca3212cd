"""Text-analysis column functions for large-scale training-data pipelines:
normalization, tokenization, n-grams, quality scoring, language ID,
fingerprinting, simhash.

All of these are pure ``pyspark.sql.functions`` Column expressions —
JVM-side, whole-stage-codegen'd, no Python UDFs — so they run at full scan
speed on 100 TB: a single narrow projection per document, no shuffle, no
Arrow transfer. (The reference has no text surface; this is the extension
layer mandated by BASELINE.json's north star.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small deterministic stopword/marker sets. Real pipelines plug in proper
# lists; these are the fixture-scale defaults and double as language
# markers for the n-gram-free lang-id heuristic.
STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that"]
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "und", "das", "nicht"],
}


def normalize_text(col: Column | str) -> Column:
    """Lowercase, trim, collapse internal whitespace — the canonical form
    used by exact dedup and fingerprinting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>). Empty/whitespace-only
    documents tokenize to [] — ``split`` alone yields the phantom
    ``['']`` (one empty token), which inflated token counts, gave all
    empty docs a shared non-trivial simhash, and skewed every
    ratio-based quality signal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_ish_tokens(col: Column | str) -> Column:
    """A BPE-ish sub-word segmentation via regex: word pieces, digit runs,
    and single non-space symbols — the cheap token-count proxy used when a
    real tokenizer isn't on the cluster."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-grams (space-joined) over a pre-built token array: the
    shifted-slice ``zip_with`` composition — ``n-1`` passes of O(total
    tokens) array ops instead of one allocation per shingle (a
    per-position ``slice``+``concat`` transform measures ~6× slower;
    higher-order functions run interpreted per element). Shared by
    ``word_ngrams`` and the LM position frame (`operators/lm.py`)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        out = F.zip_with(out, F.slice(toks, k, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word-level n-grams as space-joined strings; empty array when the
    document has fewer than ``n`` tokens."""
    return word_ngrams_from_tokens(tokens(col), n)


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return n_sw / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation density, and vanishing stopword ratio (gibberish signal).
    Deterministic arithmetic only — ports 1:1 to the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    sw = stopword_ratio(c)
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4.0)
    return F.round((len_score + sw_score + punct_penalty) / 3.0, 6)


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Marker-token language ID: score = count of per-language marker
    tokens; argmax wins, alphabetical tiebreak, ``'und'`` when all scores
    are zero. A real pipeline swaps in character-n-gram profiles; the
    shape (per-language score → greatest → CASE) is the same."""
    markers = markers or LANG_MARKERS
    toks = tokens(col)
    scores = {
        lang: F.size(
            F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(m) for m in ms]), F.lower(t)))
        )
        for lang, ms in sorted(markers.items())
    }
    best = F.greatest(*scores.values()) if len(scores) > 1 else list(scores.values())[0]
    result = F.lit("und")
    # reverse alphabetical fold so the earliest language wins ties
    for lang in sorted(scores, reverse=True):
        result = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(result)
    return result


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (md5 is bit-identical across Spark, DuckDB, and every other engine —
    the property the dedup oracle relies on.)"""
    return F.md5(normalize_text(col))


def rolling_hash(col: Column | str, mod: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash of the normalized text over character
    codes — ANSI-safe (the accumulator stays < mod*base + 65k, far inside
    int64). Used for cheap grouping keys where md5's string output is
    too wide."""
    norm = normalize_text(col)
    # Spark's split leaves a trailing '' element — drop empties so the
    # fold matches a plain per-character iteration.
    chars = F.filter(F.split(norm, "(?!^)"), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens. Single narrow projection:
    per token, xxhash64 supplies the 64 bits; per bit we accumulate +1/-1
    votes with ``aggregate`` over an int array; the sign vector packs back
    into one long. No shuffle, no UDF."""
    toks = F.array_distinct(tokens(col))
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        # let-bind the token hash via a single-element transform scope:
        # putting F.xxhash64(t) directly inside the per-bit lambda
        # re-hashed the token once per bit (64× per token; HOF lambdas
        # run interpreted with no subexpression reuse — r13)
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.array(F.xxhash64(t)),
                lambda h: F.transform(
                    bit_idx,
                    lambda i: F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
                ),
            )[0],
            lambda a, b: a + b,
        ),
    )
    # pack sign bits in ONE pass: distinct powers of two never overlap,
    # so summing the positive-vote bit values equals the bitwise OR
    # (bit 63 contributes -(2^63), i.e. the two's-complement value).
    # A per-bit bitwiseOR fold would reference the `votes` aggregate 64
    # times and duplicate its whole expression tree at each reference.
    bit_vals = F.array(
        *[F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long") for i in range(64)]
    )
    contrib = F.zip_with(
        votes, bit_vals, lambda v, b: F.when(v > 0, b).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda a, b: a + b)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))


def top_ngram_stats(col: Column | str, n: int = 2) -> Column:
    """Most-frequent word ``n``-gram per document as
    ``struct(top_gram, top_count)`` — the Gopher-style repetition
    signal ("fraction of content in the most common n-gram") used to
    filter looping/spammy documents from training corpora.

    Shuffle-free: sort the gram array and run-length-scan it with one
    ``aggregate`` (struct accumulator), so the count of the most common
    gram falls out of a narrow projection instead of an
    explode+groupBy. Ties break to the lexicographically smallest gram
    (the sorted scan's strict-greater test keeps the first maximum)."""
    grams = F.array_sort(word_ngrams(col, n))
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best_n"),
        F.lit(None).cast("string").alias("best_g"),
    )

    def step(acc, g):
        new_run = F.when(g.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = new_run > acc["best_n"]
        return F.struct(
            g.alias("prev"),
            new_run.alias("run"),
            F.when(better, new_run).otherwise(acc["best_n"]).alias("best_n"),
            F.when(better, g).otherwise(acc["best_g"]).alias("best_g"),
        )

    out = F.aggregate(grams, acc0, step)
    return F.struct(out["best_g"].alias("top_gram"), out["best_n"].alias("top_count"))


def dup_token_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are repeats (1 − distinct/total) — the
    cheap companion repetition signal."""
    toks = tokens(col)
    return F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(
        F.size(toks), F.lit(1)
    )


# ----------------------------------------------------------- mojibake repair

# Characters whose UTF-8 byte sequences are fully representable in
# cp1252 — i.e. the classic "UTF-8 read as Windows-1252" corruption is
# reversible by literal string replace (ftfy's core case). Characters
# whose UTF-8 bytes hit the five cp1252 holes (0x81 0x8D 0x8F 0x90 0x9D
# — e.g. the right double quote U+201D) can't appear via this decode
# path and are intentionally absent. Single pass: doubly-encoded text
# is only peeled one layer (documented, matching one decode mistake).
MOJIBAKE_CHARS = (
    " ¡«°±·»¼½¿ÀÇÈÉÊÑÖÜßàáâãäåæçèéêëìíîïñòóôõöùúûüýœ–—‘’“•…€™"
)
MOJIBAKE_MAP: dict[str, str] = {
    c.encode("utf-8").decode("cp1252"): c for c in MOJIBAKE_CHARS
}
# longest corrupted sequence first (3-byte UTF-8 before 2-byte), then
# by target codepoint: a FIXED order shared by the Spark chain, the SQL
# twin, and the python reference, so all three produce identical text
MOJIBAKE_ORDER: list[tuple[str, str]] = sorted(
    MOJIBAKE_MAP.items(), key=lambda kv: (-len(kv[0]), kv[1])
)


def fix_mojibake(col: Column | str) -> Column:
    """Repair 'UTF-8 bytes decoded as Windows-1252' mojibake (cafÃ© →
    café, â€” → —) with a fixed chain of literal replaces — pure
    codegen, no UDF, no shuffle. See MOJIBAKE_CHARS for coverage."""
    out = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_ORDER:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def fix_mojibake_sql(expr: str) -> str:
    """DuckDB twin of :func:`fix_mojibake` — same replaces, same order."""
    out = expr
    for bad, good in MOJIBAKE_ORDER:
        b = bad.replace("'", "''")
        g = good.replace("'", "''")
        out = f"replace({out}, '{b}', '{g}')"
    return out


def fix_mojibake_py(s: str) -> str:
    """Python reference of the same chain (differential tests)."""
    for bad, good in MOJIBAKE_ORDER:
        s = s.replace(bad, good)
    return s
