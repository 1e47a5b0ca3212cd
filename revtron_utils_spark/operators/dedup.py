"""Deduplication operators for training-data pipelines, designed
shuffle-minimal for 100 TB inputs:

* **exact_dedup** — one map-side-combined hash aggregate on the
  fingerprint (min_by survivor row), no join, no sort.
* **minhash_lsh_pairs / minhash_lsh_dedup / minhash_poly_pairs** —
  shingle → k minhashes → b bands; candidate pairs come from a
  self-equi-join on (band, band key) — the only shuffle is on band keys,
  never an all-pairs product. Exact Jaccard verification runs only on
  candidates. Both hash families run one pipeline; only the featurizer
  differs.
* **simhash_pairs / simhash_poly_pairs** — 64-bit (or 60-bit poly)
  simhash, pigeonhole banding on 4 chunks of 16 (or 15) bits
  (Hamming ≤ 3 ⇒ some chunk equal), verify with bit_count(xor).
* **embedding_neardup_pairs** — cosine near-dup with either a blocking
  column (exact within block) or random-hyperplane LSH buckets.

Everything is DataFrame-native. Two hash families: the throughput
family hashes shingles with crc32 and digests each MinHash band with
blake2b (SimHash: blake2b token hashes), in one Arrow pass; the
engine-exact ``poly`` family (polynomial char-code fold mod 1e9+7,
affine permutations) is reproducible in SQL, so its whole pipeline has
a DuckDB oracle twin. The affine permutations ``(a*h + b) mod p`` stay
inside int64 (p = 2^31-1 or 1e9+7).

Algorithms from the published literature: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", SEQUENCES
1997), LSH banding (Indyk & Motwani 1998; the band/row analysis as in
Leskovec-Rajaraman-Ullman, "Mining of Massive Datasets" ch. 3), SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002) with the pigeonhole chunk trick from Manku-Jain-Sarma
("Detecting near-duplicates for web crawling", WWW 2007), and the
inverted-index exact set-similarity join family (Sarawagi & Kirpal /
Bayardo et al., "Scaling up all pairs similarity search", WWW 2007).
"""

from __future__ import annotations

import random
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions import text as TX
from ..functions import vectors as VX

# The cross-engine-exact hash family lives in functions/classifier.py
# (single source of truth for the fold and its constants — a second
# copy here once drifted a hand-maintained "must match" comment apart).
from ..functions.classifier import POLY_MOD
from ..functions.classifier import token_poly_hash as _poly_hash
from .guards import _INTEGRAL_IDS

MERSENNE_P = (1 << 31) - 1  # 2^31-1, prime

# Per-block float64 budget for the LSH per-bucket Gram slab (r13): the
# tiled `V[i0:i1] @ V.T` holds at most this many doubles (~32 MB), so a
# hot bucket costs O(n·block) memory instead of O(n²) in one Python
# worker. Tests shrink it to force multi-block execution on small data.
_GRAM_BLOCK_F64 = 4 << 20

# Operators below persist() intermediates that feed self-joins (the join
# would otherwise recompute an expensive projection on both sides). The
# persisted frames are tracked here; long-lived drivers that call these
# operators repeatedly should release_caches() between rounds.
_PERSISTED: list = []


def _persist(df: DataFrame) -> DataFrame:
    out = df.persist()
    _PERSISTED.append(out)
    return out


def _spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin-spread a narrow leaf file scan to the cluster's
    parallelism, so a heavy projection built ON TOP of the result runs on
    every core — a small parquet table is one split, and the
    text→shingle→hash pipeline otherwise executes in a single scan task
    (guide §2.5 input skew). Scale-adaptive no-op: at real scale the
    input already has ≥ cores splits. Only a leaf file scan (projections
    and filters over one file relation) spreads: a frame that lists no
    input files (in-memory) or is already shuffled passes through, since
    another round-robin Exchange would re-shuffle its payload for
    nothing. A cached frame is looked through to the plan it caches, so
    a cached leaf scan keeps its few partitions and spreads too. Splits
    are estimated from Spark's own listing of the relation (the
    cochran_q r13 convention: no execution, no RDD translation, any
    filesystem Spark reads)."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.nodeName() in ("Project", "Filter", "InMemoryRelation"):
            if node.nodeName() == "InMemoryRelation":
                node = node.cacheBuilder().logicalPlan()
            else:
                node = node.children().head()
        if node.nodeName() != "LogicalRelation":
            return df
        rel = node.relation()
        par = df.sparkSession.sparkContext.defaultParallelism
        est_splits = max(len(rel.inputFiles()), rel.sizeInBytes() // (128 << 20))
        if est_splits < par:
            return df.repartition(par)
    except Exception:  # pragma: no cover - Spark Connect / non-file relation
        pass
    return df


def _repartition_for_compute(df: DataFrame, *keys) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` for a stage whose per-key work is
    quadratic in the key's rows (a bucket Gram matrix, an edit-distance
    self-join). The one policy for such shuffles: pin the partition count
    to ``max(defaultParallelism, spark.sql.shuffle.partitions)``. AQE
    coalesces an unpinned shuffle by BYTES, and the input here is byte-
    small but compute-heavy, so it could land in one task; AQE never
    coalesces a shuffle with an explicit count. The pin never gives fewer
    partitions than the unpinned shuffle starts with (so no more bytes per
    task), and at least one per core of the cluster (guide §2.5)."""
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return df.repartition(n, *keys)


def release_caches() -> int:
    """Unpersist every intermediate cached by dedup operators; returns
    the number released."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
            n += 1
        except Exception:
            # best-effort cache release: unpersist on an already-released
            # or session-stopped DataFrame raises, and a failed release
            # must never mask the caller's real result — swallow and keep
            # draining the list
            pass
    return n


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Keep one row per normalized-text fingerprint (lowest/highest id).

    Implemented as ``min_by(struct(*), id)`` per fingerprint — a hash
    aggregate with MAP-SIDE COMBINE, so each mapper pre-reduces to one
    row per distinct fingerprint before the wire and no sort happens
    anywhere. (A ``row_number() over (partition by fp)`` window gets the
    same answer but shuffles EVERY input row and sorts each partition —
    at 100 TB that's the whole corpus through the wire vs one survivor
    per mapper-local duplicate group.)"""
    fp = TX.fingerprint(text_col)
    pick = F.min_by if keep == "min" else F.max_by
    return (
        df.groupBy(fp.alias("__fp"))
        .agg(pick(F.struct(*df.columns), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, n_dups, keep_id)."""
    return (
        df.groupBy(TX.fingerprint(text_col).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ------------------------------------------------------------------ MinHash


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num_hashes)]


def minhash_banded_arrow(
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 3, seed: int = 42
):
    """One Arrow pass producing the shingle set AND the per-band LSH
    keys directly (``bhash: array<long>``, one 64-bit digest per band of
    the minhash signature). Identical bands always digest identically,
    so the candidate set ("agree on ≥1 band") matches the
    signature-based form; the signature itself never leaves the worker,
    dropping a 64-long column and the interpreted per-band slice/concat
    projection from the corpus-wide plan."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    params = _hash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def band_keys(sig: np.ndarray) -> list[int]:
        return [
            int.from_bytes(
                hashlib.blake2b(
                    sig[b * rows_per_band : (b + 1) * rows_per_band].tobytes(),
                    digest_size=8,
                ).digest(),
                "big",
            )
            >> 1  # keep it positive within long range
            for b in range(bands)
        ]

    def feats(texts):
        import zlib

        bhashes, shingles = [], []
        for t in texts:
            toks = (t or "").split()
            sh = sorted(
                {
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                }
            )
            shingles.append(sh)
            if not sh:
                bhashes.append([])
                continue
            h = np.fromiter(
                (zlib.crc32(s.encode()) % MERSENNE_P for s in sh),
                dtype=np.int64,
                count=len(sh),
            )
            sig = ((A * h + B) % MERSENNE_P).min(axis=1)
            bhashes.append(band_keys(sig))
        return pd.DataFrame({"bhash": bhashes, "shingles": shingles})

    # asNondeterministic: the featurizer filters on the struct's
    # `shingles` field, and the optimizer pushes that filter below the
    # projection WITH A COPY of the UDF — every row paid the shingle+
    # minhash pass twice (guide §4.4; r12 plan audit found the double
    # ArrowEvalPython in corpus_pipeline). The function is pure; the flag
    # only forbids the optimizer's duplication/reordering.
    return pandas_udf(
        feats, "bhash: array<long>, shingles: array<string>"
    ).asNondeterministic()


def _minhash_features(
    df: DataFrame,
    id_col: Column,
    text_col: str,
    family: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int = 42,
) -> DataFrame:
    """The one MinHash featurizer: ``(id, bhash, shingles)`` per document
    with at least one shingle, from one Arrow pass. ``bhash`` holds one
    LSH key per band; the hash family is the only thing that varies:
    ``crc32`` (crc32 shingle hashes, blake2b band digests, long keys) or
    ``poly`` (the engine-exact polynomial family, string keys; ``seed``
    is unused, its permutations are fixed)."""
    if family == "poly":
        udf, key = minhash_poly_features_arrow(num_hashes, bands, shingle_n), "bkeys"
    else:
        udf, key = minhash_banded_arrow(num_hashes, bands, shingle_n, seed), "bhash"
    return (
        df.select(id_col.alias("id"), udf(F.col(text_col)).alias("f"))
        .select("id", F.col(f"f.{key}").alias("bhash"), F.col("f.shingles").alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


def _cap_hot_buckets(
    banded: DataFrame,
    key_cols: Sequence[str],
    max_bucket: int | None,
    mode: str = "drop",
    id_col: str = "id",
) -> DataFrame:
    """Bound the LSH candidate join against degenerate buckets.

    AQE skew handling splits oversized *shuffle partitions*; it cannot
    stop a single (band, bucket-hash) group of B rows from materializing
    O(B²) candidate pairs in the self-join — millions of empty or
    boilerplate documents all land in one bucket and the join explodes.
    The standard mitigation is a frequency cap on the posting lists:

    - ``mode='drop'``: remove every bucket with more than ``max_bucket``
      members. Recall accounting: a pair is lost only if *every* band
      bucket it shares is hot — near-identical docs share all bands, so
      a >max_bucket clone class loses its intra-class pairs (which is
      usually the point: such classes are better handled by exact dedup
      first, and the survivors are boilerplate).
    - ``mode='sample'``: keep the ``max_bucket`` smallest ids per hot
      bucket (deterministic, SQL-reproducible), so every hot bucket
      still yields up to max_bucket² candidate pairs linking its
      retained representatives — downstream connected-components can
      then collapse the class through those hubs.

    The hot-bucket key set is at most rows/max_bucket and in practice a
    handful of degenerate keys; AQE broadcasts the anti-join side at
    runtime. ``max_bucket=None`` is the exact, uncapped behavior."""
    if max_bucket is None:
        return banded
    keys = list(key_cols)
    hot = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
        .select(*keys)
    )
    cold = banded.join(hot, keys, "left_anti")
    if mode == "drop":
        return cold
    if mode != "sample":
        raise ValueError(f"unknown hot-bucket mode {mode!r}")
    w = W.partitionBy(*keys).orderBy(id_col)
    kept = (
        banded.join(hot, keys, "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_bucket)
        .drop("_rk")
    )
    return cold.unionByName(kept.select(*banded.columns))


def _band_candidates(
    feats: DataFrame, max_bucket: int | None, hot_bucket_mode: str
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs, ``id_a < id_b``, of documents
    agreeing on at least one band key: one self-equi-join on
    (band, bhash). Only the band keys (id + key) ride through the explode
    and the join — shingle arrays would inflate the shuffle ~bands×;
    :func:`_verify_jaccard` re-attaches them to the (small) candidate
    set. The hot-bucket cap bounds the join (:func:`_cap_hot_buckets`);
    with the poly family the cap is SQL-reproducible (QUALIFY
    row_number() OVER (PARTITION BY band, bkey) <= max_bucket in the
    oracle), so a capped run stays hash-verifiable."""
    banded = feats.select("id", F.posexplode("bhash").alias("band", "bhash"))
    banded = _cap_hot_buckets(banded, ["band", "bhash"], max_bucket, hot_bucket_mode)
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_jaccard(
    feats: DataFrame, cand_ids: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard of each candidate pair, kept when
    ``>= jaccard_threshold``: ``(id_a, id_b, jaccard)``, jaccard rounded
    to 6 places. The candidate set is orders of magnitude smaller than
    the corpus, so it is broadcast and the shingle re-attachment never
    shuffles the corpus."""
    sh = feats.select("id", "shingles")
    cand = (
        sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("shingles", "sh_a")
        .join(F.broadcast(cand_ids), "id_a")
        .join(
            sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"),
            "id_b",
        )
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = None,
    hot_bucket_mode: str = "drop",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact shingle-set Jaccard. Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Scale path: band keys come out of one Arrow pass with the shingles
    (crc32 shingle hashes, blake2b band digests; the signature never
    becomes a plan column); candidates come from a groupable equi-join
    on (band, band_hash) — shuffle volume is O(rows × bands × 8 bytes),
    not O(rows²). ``max_bucket`` bounds the worst case: see
    :func:`_cap_hot_buckets` for the degenerate-bucket failure mode AQE
    cannot fix and the drop/sample recall accounting.
    """
    # materialize features once — the candidate self-join and the
    # verification would otherwise recompute the (expensive) shingle+
    # minhash projection on every side
    feats = _persist(
        _minhash_features(
            df, F.col(id_col), text_col, "crc32", num_hashes, bands, shingle_n, seed
        )
    )
    cand_ids = _band_candidates(feats, max_bucket, hot_bucket_mode)
    return _verify_jaccard(feats, cand_ids, jaccard_threshold)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: for every verified pair keep the smaller id.
    One representative-propagation round (a doc pointing at a smaller
    neighbor is dropped) — exact transitive closure would iterate, but
    one round already collapses star-shaped duplicate clusters, the
    overwhelmingly common case in web-scale dedup."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_poly_features_arrow(num_hashes: int = 32, bands: int = 8, shingle_n: int = 3):
    """Arrow-vectorized twin of the poly-hash minhash projection: same
    hash DEFINITION as the higher-order-function path (polynomial
    char-code fold, affine permutations), so results are bit-identical
    and the DuckDB oracle still applies — only the execution strategy
    changes (~20× at corpus scale).

    The per-shingle poly hash is computed WITHOUT touching each
    character again: ``h(s1·s2) = (h(s1)·31^len(s2) + h(s2)) mod p``, so
    per-token hashes (cached per batch — Heaps-law small vocabulary) com-
    pose into shingle hashes with O(1) arithmetic per shingle; the k
    permutations are one numpy broadcast + row-min. Emits
    (bkeys, shingles): band keys are the ','-joined signature slices the
    plan would otherwise build with concat_ws."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    assert num_hashes % bands == 0
    r = num_hashes // bands
    P = POLY_MOD
    A = ((np.arange(num_hashes, dtype=np.int64)[:, None] * 2 + 1) * 2654435761) % P
    B = (np.arange(num_hashes, dtype=np.int64)[:, None] ** 2) * 9176 + 11

    def feats(texts):
        import re

        # Java/RE2 \s is ASCII-only; Python str.split() splits on ALL
        # Unicode whitespace (NBSP, U+3000, ...), which would diverge
        # from the expr twin, the TX.tokens prefilter, and the oracle
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        tok_cache: dict = {}

        def tok_h(t):
            # hash over the LOWERCASED token (matching the expr path's
            # lower-inside-hash), key the cache on the raw token; the
            # 31^len factor uses the lowered length so composition equals
            # a char fold over the lowered shingle string
            v = tok_cache.get(t)
            if v is None:
                lt = t.lower()
                h = 0
                for ch in lt:
                    h = (h * 31 + ord(ch)) % P
                v = (h, pow(31, len(lt), P))
                tok_cache[t] = v
            return v

        bkeys_out, sh_out = [], []
        for t in texts:
            toks = [w for w in ws.split(t or "") if w]
            n = len(toks)
            if n < shingle_n:
                bkeys_out.append([])
                sh_out.append([])
                continue
            # numpy composition over shingle positions (the scalar
            # per-shingle loop measured 3× the crc32 variant at 50k docs)
            hp = [tok_h(w) for w in toks]
            ht = np.fromiter((v[0] for v in hp), dtype=np.int64, count=n)
            pw = np.fromiter((v[1] for v in hp), dtype=np.int64, count=n)
            h = ht[: n - shingle_n + 1]
            for j in range(1, shingle_n):
                seg = slice(j, n - shingle_n + 1 + j)
                h = ((h * 31 + 32) % P * pw[seg] + ht[seg]) % P
            # no shingle dedupe: duplicates can't change a MIN-based
            # signature, and the Jaccard verify uses set-semantics
            # array_intersect/array_union (sizes are dedup-invariant) —
            # dropping the per-batch unique-sort saved ~30% wall-clock
            sig = ((A * h + B) % P).min(axis=1)
            bkeys_out.append(
                [",".join(map(str, sig[b * r : (b + 1) * r])) for b in range(bands)]
            )
            sh_out.append(
                [" ".join(toks[i : i + shingle_n]) for i in range(n - shingle_n + 1)]
            )
        return pd.DataFrame({"bkeys": bkeys_out, "shingles": sh_out})

    # asNondeterministic: see minhash_banded_arrow — prevents the
    # pushed size(shingles)>0 filter from duplicating the UDF
    return pandas_udf(
        feats, "bkeys: array<string>, shingles: array<string>"
    ).asNondeterministic()


def minhash_poly_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
    impl: str = "arrow",
    max_bucket: int | None = None,
    hot_bucket_mode: str = "drop",
) -> DataFrame:
    """MinHash-LSH pairs with an engine-reproducible hash family: shingle
    base hash is the polynomial rolling hash, permutation ``i`` is
    ``(a_i·h + (9176·i² + 11)) mod 1e9+7`` with ``a_i = ((2i+1)·
    2654435761) mod p`` — a LARGE multiplier so the product always
    wraps the modulus (a small ``2i+1`` leaves low-i permutations
    order-correlated with the identity, defeating banding) — every signature value,
    band key, candidate pair, and verified Jaccard is bit-equal to an
    independent DuckDB implementation of the same pipeline, which is what
    lets the whole LSH path (not just its exact-Jaccard tail) be
    hash-verified in the oracle gate.

    Same pipeline as `minhash_lsh_pairs` with the ``poly`` featurizer:
    narrow (id, band, key) projection through the candidate
    self-equi-join — shuffle is O(rows × bands), never O(rows²) — then
    exact-Jaccard verification on the (small, broadcast) candidate set
    only. ``impl='arrow'`` (default) computes the hashes in one Arrow
    pass (`minhash_poly_features_arrow`, ~20× at corpus scale);
    ``impl='expr'`` is the pure-codegen reference twin (ANSI note: max
    intermediate is a_i·h < 1e18 < 2^63). Both are bit-equal to the
    oracle."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    if impl == "arrow":
        feats = _persist(
            _minhash_features(df, F.col(id_col), text_col, "poly", num_hashes, bands, shingle_n)
        )
    else:
        r = num_hashes // bands
        shingled = df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(TX.word_ngrams(text_col, shingle_n)).alias("shingles"),
        ).filter(F.size("shingles") > 0)
        base = shingled.withColumn("_h0", F.transform("shingles", _poly_hash))
        # persisted with the signature, so the per-band keys below read
        # it instead of inlining the num_hashes-permutation fold into every band
        sigs = _persist(
            base.select(
                "id",
                "shingles",
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda i: F.array_min(
                        F.transform(
                            F.col("_h0"),
                            lambda h: ((((2 * i + 1) * 2654435761) % POLY_MOD) * h + (i * i * 9176 + 11)) % POLY_MOD,
                        )
                    ),
                ).alias("sig"),
            )
        )
        bkeys = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.concat_ws(
                ",",
                F.transform(F.slice(F.col("sig"), b * r + 1, r), lambda x: x.cast("string")),
            ),
        )
        feats = sigs.select("id", bkeys.alias("bhash"), "shingles")
    cand_ids = _band_candidates(feats, max_bucket, hot_bucket_mode)
    return _verify_jaccard(feats, cand_ids, jaccard_threshold)


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style cross-corpus paragraph deduplication (Wenzek et al.
    2020): split each document on ``sep``, normalize each paragraph
    (lowercase, collapse whitespace), and keep only the GLOBALLY FIRST
    occurrence of every distinct normalized paragraph — the smallest
    (doc_id, position) — then reassemble documents from their surviving
    paragraphs in order. Boilerplate repeated across pages (cookie
    banners, nav text, licenses) collapses to one copy corpus-wide.

    Shape at scale: paragraphs are keyed by md5(normalized) — an
    8-byte-ish key instead of the paragraph body — so the first-
    occurrence aggregate and the keep join shuffle keys + positions,
    never text; reassembly is one groupBy per document with an
    array_sort (documents are bounded, so the per-group sort is too).
    Documents whose every paragraph was seen earlier disappear from the
    output (their text would be empty).

    Returns (id_col, text_col) with the deduplicated text."""
    # \Q…\E so sep is a LITERAL separator (F.split takes a regex; a bare
    # '|' or '.' would shred every document)
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias(
            "_pos", "_line"
        ),
    ).withColumn("_norm", F.trim(F.regexp_replace(F.lower("_line"), r"\s+", " ")))
    # drop paragraphs that normalize to nothing — they carry no content
    # and would dedup all blank lines corpus-wide; normalize ONCE, then
    # key the survivors
    lines = (
        lines.filter(F.col("_norm") != "")
        .withColumn("_key", F.md5("_norm"))
        .drop("_norm")
    )
    lines = _persist(lines)
    firsts = lines.groupBy("_key").agg(
        F.min(F.struct("_id", "_pos")).alias("_first")
    )
    kept = lines.join(firsts, "_key").filter(
        (F.col("_id") == F.col("_first._id")) & (F.col("_pos") == F.col("_first._pos"))
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias(text_col)
        )
        .withColumnRenamed("_id", id_col)
    )


def _neardup_matmul(
    base: DataFrame, threshold: float, tile_rows: int = 65_536
) -> DataFrame:
    """All-pairs cosine ≥ threshold via executor-side tile joins + BLAS
    matmul. ``base`` columns: id, q (quantized array), nrm.

    Physical shape: the corpus is hash-sliced into K = ceil(n /
    tile_rows) chunks (never fewer than 8, so small corpora still fan
    out); each chunk is packed into ONE row of aligned arrays (ids,
    vectors, norms) by a groupBy, and a tiny K·(K+1)/2-row chunk-pair
    index (metadata only — two ints per row) is joined against the
    packed frame twice, so every unordered chunk pair lands on an
    executor as a single row carrying both payloads. A mapInPandas then
    runs the tile matmul (inner 1024-row slices bound the sim matrix)
    and emits only the surviving pairs. Exact all-pairs work is
    inherently O(n²) — the LSH variant is the 100-TB path — but the
    corpus now moves executor→executor through the pair join's shuffle
    (O(K·n) volume, same as any replicated join) instead of transiting
    the DRIVER tile-by-tile via collect()+broadcast, which serialized
    the whole table through one process's memory and bandwidth."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    spark = base.sparkSession
    out_empty_schema = "id_a bigint, id_b bigint, cosine double"
    # the count (chunk sizing) and the packed aggregation both scan the
    # quantize+norm projection — persist so it computes once
    base = _persist(base)
    n = base.count()
    if n == 0:
        return spark.createDataFrame([], out_empty_schema)
    # enough chunks that the K(K+1)/2 pair tasks cover the cluster even
    # when one tile would hold the whole corpus
    n_chunks = max(math.ceil(n / tile_rows), 8)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )
    # one collect_list of structs (then split) keeps ids/vecs/norms
    # aligned by construction
    packed = (
        base.select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_chunks)).alias("ck"),
            F.struct("id", "q", "nrm").alias("r"),
        )
        .groupBy("ck")
        .agg(F.collect_list("r").alias("rows"))
        .select(
            "ck",
            F.transform("rows", lambda r: r["id"]).alias("ids"),
            F.transform("rows", lambda r: r["q"]).alias("vs"),
            F.transform("rows", lambda r: r["nrm"]).alias("ns"),
        )
    )
    pair_idx = spark.createDataFrame(
        [(i, j) for i in range(n_chunks) for j in range(i, n_chunks)],
        "ci int, cj int",
    )
    joined = (
        pair_idx.join(
            packed.select(
                F.col("ck").alias("ci"),
                F.col("ids").alias("ids_a"),
                F.col("vs").alias("vs_a"),
                F.col("ns").alias("ns_a"),
            ),
            "ci",
        )
        .join(
            packed.select(
                F.col("ck").alias("cj"),
                F.col("ids").alias("ids_b"),
                F.col("vs").alias("vs_b"),
                F.col("ns").alias("ns_b"),
            ),
            "cj",
        )
        # one heavy row per task: the matmul is the unit of work
        .repartition(n_chunks * (n_chunks + 1) // 2, "ci", "cj")
    )

    def gen(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ia_all = np.asarray(row.ids_a, dtype=np.int64)
                ib_all = np.asarray(row.ids_b, dtype=np.int64)
                A = np.stack([np.asarray(v, dtype=np.float64) for v in row.vs_a])
                B = np.stack([np.asarray(v, dtype=np.float64) for v in row.vs_b])
                na = np.asarray(row.ns_a, dtype=np.float64)
                nb = np.asarray(row.ns_b, dtype=np.float64)
                diagonal = row.ci == row.cj
                for lo in range(0, len(ia_all), 1024):  # bound the sim tile
                    sl = slice(lo, lo + 1024)
                    sims = (A[sl] @ B.T) / (na[sl][:, None] * nb[None, :])
                    ii, jj = np.nonzero(sims >= threshold)
                    if len(ii) == 0:
                        continue
                    ia = ia_all[sl][ii]
                    ib = ib_all[jj]
                    if diagonal:
                        keep = ia < ib
                        ia, ib, cs = ia[keep], ib[keep], sims[ii, jj][keep]
                    else:
                        cs = sims[ii, jj]
                        ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
                    if len(ia):
                        yield pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cs})

    out = joined.mapInPandas(gen, out_schema)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# ------------------------------------------------------------------ SimHash


def simhash64_arrow():
    """Arrow-vectorized 64-bit SimHash UDF: token hashes via 8-byte
    blake2b, per-document bit votes as one numpy matrix reduction.
    Replaces the 64-lane higher-order expression (interpreted per token
    per bit) on large corpora."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = np.arange(64, dtype=np.uint64)

    def sh(texts):
        import hashlib

        out = []
        for t in texts:
            toks = set((t or "").split())
            if not toks:
                out.append(0)
                continue
            h = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                    )
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            votes = (((h[:, None] >> bits) & 1).astype(np.int32) * 2 - 1).sum(axis=0)
            packed = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                packed |= np.uint64(1) << np.uint64(i)
            out.append(int(packed.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return pandas_udf(sh, "long")


def _hamming_pairs(hashed: DataFrame, chunk_bits: int, max_hamming: int) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)``, ``id_a < id_b``, of
    ``hashed`` ``(id, sh)`` rows whose hashes differ in at most
    ``max_hamming`` bits. Pigeonhole banding: the hash splits into 4
    chunks of ``chunk_bits`` bits, and a pair within distance 3 agrees
    on at least one, so candidates come from one equi-join on
    (chunk, chunk key) via explode, verified with bit_count(xor)."""
    # materialize once — the chunk self-join would recompute the hash on
    # both sides otherwise
    hashed = _persist(hashed)
    mask = (1 << chunk_bits) - 1
    chunked = hashed.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sh"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ckey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", "c.chunk", "c.ckey")
    l, r = chunked.alias("l"), chunked.alias("r")
    # verify (one xor+bit_count per candidate) BEFORE the pair-dedup: the
    # hamming filter is join-local and free inside codegen, while
    # dropDuplicates is a shuffle — dedup only the surviving pairs
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col("l.id") < F.col("r.id"))
            & (TX.hamming64(F.col("l.sh"), F.col("r.sh")) <= max_hamming),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            TX.hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash (`simhash64_arrow`), Hamming
    distance ≤ ``max_hamming`` (≤ 3 required): pigeonhole banding on
    4 × 16-bit chunks, see :func:`_hamming_pairs`."""
    # 4 chunks pigeonhole-guarantee candidates only for distance <= 3
    # (4 differing bits can hit all 4 chunks); a larger bound would
    # silently miss pairs, so reject it rather than under-deliver
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming}: the 16-bit-chunk banding only "
            "guarantees recall for Hamming distance <= 3"
        )
    hashed = df.select(
        F.col(id_col).alias("id"), simhash64_arrow()(F.col(text_col)).alias("sh")
    )
    return _hamming_pairs(hashed, 16, max_hamming)


def simhash_poly(col: Column | str, bits: int = 60) -> Column:
    """SimHash over whitespace tokens using the engine-reproducible
    polynomial hash family: token bit ``i`` is the parity of the affine
    re-hash ``((h·a_i + 9176·i² + 11) mod 1e9+7)`` of the token's
    poly-hash ``h``, with ``a_i = ((2i+1)·2654435761) mod p``. The
    large multiplier forces the product to wrap the modulus for every
    token — with a small ``2i+1`` the affine value often stays below p,
    making the parity CONSTANT across bits (parity(h)+1): every token
    votes all-zeros or all-ones and the whole corpus collapses into two
    simhash buckets. Caught by a single-char-token probe; the oracle
    shared the degeneracy, so hash-verification alone never saw it. 60 bits (not 64) keeps the packed value positive so
    the chunking arithmetic (`>>`/`&`) has identical semantics in every
    engine — no two's-complement sign bit to reason about."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(TX.tokens(c))
    h0 = F.transform(toks, _poly_hash)
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        h0,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda i: F.when(
                    ((h * (((2 * i + 1) * 2654435761) % POLY_MOD) + i * i * 9176 + 11) % POLY_MOD) % 2 == 1, 1
                ).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    bit_vals = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    contrib = F.zip_with(
        votes, bit_vals, lambda v, b: F.when(v > 0, b).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda a, b: a + b)


def simhash_poly_arrow(bits: int = 60):
    """Arrow-vectorized twin of `simhash_poly` — same hash DEFINITION
    (per-token poly hash of the lowercased token over RAW-distinct
    tokens, parity of affine re-hashes as bit votes), bit-identical
    output; one numpy matrix reduction per document instead of a
    bits×tokens interpreted expression."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = POLY_MOD
    A = ((np.arange(bits, dtype=np.int64)[None, :] * 2 + 1) * 2654435761) % P
    B = (np.arange(bits, dtype=np.int64)[None, :] ** 2) * 9176 + 11
    bitvals = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def sh(texts):
        import re

        # ASCII-only whitespace, matching the expr twin / TX.tokens /
        # the oracle (Python .split() would split Unicode spaces too)
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        cache: dict = {}

        def tok_h(t):
            v = cache.get(t)
            if v is None:
                v = 0
                for ch in t.lower():
                    v = (v * 31 + ord(ch)) % P
                cache[t] = v
            return v

        out = []
        for t in texts:
            toks = set(w for w in ws.split(t or "") if w)
            if not toks:
                out.append(0)
                continue
            h = np.fromiter(
                (tok_h(w) for w in toks), dtype=np.int64, count=len(toks)
            )
            votes = (((h[:, None] * A + B) % P) % 2 * 2 - 1).sum(axis=0)
            out.append(int(bitvals[votes > 0].sum()))
        return pd.Series(out)

    return pandas_udf(sh, "long")


def simhash_poly_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """`simhash_pairs` with the cross-engine-exact poly hash family and a
    60-bit hash: pigeonhole banding on 4 × 15-bit chunks (Hamming ≤ 3 ⇒
    some chunk equal), Hamming verified join-local. Bit-equal to the
    DuckDB oracle end-to-end (hash, banding, verification) — the
    correctness twin of the blake2b/Arrow throughput path."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("4-chunk banding guarantees recall only for Hamming <= 3")
    sh_col = (
        simhash_poly_arrow()(F.col(text_col))
        if impl == "arrow"
        else simhash_poly(text_col)
    )
    hashed = df.filter(F.size(TX.tokens(text_col)) > 0).select(
        F.col(id_col).alias("id"), sh_col.alias("sh")
    )
    return _hamming_pairs(hashed, 15, max_hamming)


# ------------------------------------------------------------ n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs, optionally blocked on equality
    columns (e.g. ``lang``) to bound the pair space. Without blocking this
    is quadratic — at scale always pass block_cols or use the MinHash
    path; this operator is the exact oracle-checkable baseline.

    Physical shape: an **inverted-index set-similarity join**, not a
    block² array-intersect join. Shingles are hashed to 64 bits and
    exploded to ``(block, shingle, id)`` postings; candidate pairs come
    from the posting-list equi-join (only pairs sharing ≥1 shingle ever
    materialize — pairs with zero overlap, the vast majority, are never
    formed), and ``|a ∩ b|`` is a ``count(*)`` per pair, so nothing
    wider than 8-byte keys crosses the pair shuffle (the naive form
    ships every multi-KB shingle array into every one of its n²/2
    pairs). ``|a ∪ b| = |a| + |b| − |a ∩ b|`` closes the math. xxhash64
    collisions (~n²/2⁶⁴ per pair) are negligible against the exact
    oracle. A degenerate ultra-common shingle inflates Σdf² — ``max_df``
    applies the standard posting-list frequency cap: shingles appearing
    in more than ``max_df`` documents (per block) are dropped from the
    postings before the pair join. Document sizes ``n_sh`` keep the full
    shingle set, so a capped run UNDERESTIMATES the intersection for
    pairs sharing a dropped shingle — jaccard only shrinks, i.e. the cap
    trades bounded recall loss for a Σdf² bound, never false positives.
    ``max_df=None`` is exact."""
    pairs = _ngram_pair_counts(df, text_col, id_col, block_cols, shingle_n, max_df)
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _ngram_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: Sequence[str],
    shingle_n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index core of the exact set-similarity joins:
    ``(id_a, id_b, n_a, n_b, c)`` for every pair sharing ≥1 shingle
    (see :func:`ngram_jaccard_pairs` for the physical-shape rationale)."""
    # spread a narrow scan BEFORE the shingle projection (r13): a small
    # parquet table is one split, so tokenize+shingle+hash ran in a
    # single 1.6 s task at sf0.1 (leakage_safe_split profile); the
    # exchange sits BELOW the heavy projection, so the work lands on
    # every core. No-op at real scale (≥ cores splits already).
    base = _spread_if_narrow(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(TX.word_ngrams(text_col, shingle_n)).alias("sh_str"),
    ).filter(F.size("sh_str") > 0)
    # persist the postings: the self-join would otherwise run the whole
    # text→shingle pipeline twice (once per side)
    posts = _persist(
        base.select(
            "id",
            *block_cols,
            F.size("sh_str").alias("n_sh"),
            F.explode(F.transform("sh_str", lambda s: F.xxhash64(s))).alias("g"),
        )
    )
    posts = _cap_hot_buckets(posts, [*block_cols, "g"], max_df, "drop")
    l, r = posts.alias("l"), posts.alias("r")
    cond = (F.col("l.g") == F.col("r.g")) & (F.col("l.id") < F.col("r.id"))
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    inter = F.count(F.lit(1))
    return (
        l.join(r, cond)
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.n_sh").alias("n_b"),
        )
        .agg(inter.alias("c"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: pairs where one document's shingle set is
    (mostly) contained in the other's — ``containment(A→B) =
    |A∩B| / |A|`` (Broder's containment measure). Jaccard misses
    subsumption: a paragraph quoted inside a 100× longer page has
    Jaccard ≈ 0.01 but containment ≈ 1.0, and quote/boilerplate
    inclusion is exactly what corpus curation needs to find (keep the
    superset, drop the engulfed copy).

    Same inverted-index posting join and Σdf² bound as
    :func:`ngram_jaccard_pairs` (the ``c/n`` divisions are single
    exactly-rounded IEEE ops, so the output is oracle-hashable);
    emits ``(id_a, id_b, containment_a, containment_b)`` with
    ``id_a < id_b`` for every pair whose LARGER directed containment
    clears ``threshold``. With ``max_df`` the intersection only
    shrinks — bounded recall loss, never false positives."""
    pairs = _ngram_pair_counts(df, text_col, id_col, block_cols, shingle_n, max_df)
    ca = F.col("c") / F.col("n_a")
    cb = F.col("c") / F.col("n_b")
    return (
        pairs.withColumn("containment_a", ca)
        .withColumn("containment_b", cb)
        .filter(F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("containment_a", 6).alias("containment_a"),
            F.round("containment_b", 6).alias("containment_b"),
        )
    )


# -------------------------------------------------------- embedding near-dup


# poly-plane constants: P a 31-bit prime, A/B multipliers with
# A·idx < 2⁶³ and B·P < 2⁶³, M the weight half-range — all four are
# literals an external SQL oracle copies verbatim
_PLANE_P = 1_000_000_007
_PLANE_A = 2_654_435_761 % _PLANE_P
_PLANE_B = 97_003_999
_PLANE_C = 12_345
_PLANE_M = 1_000_000


def _poly_plane_weight(idx: int) -> int:
    """Deterministic hyperplane weight for flat index ``idx``: affine →
    SQUARE → affine mod a prime, folded to [-M, M]. The middle squaring
    round is load-bearing: a purely affine map is a lattice (an LCG
    read out by index), and its correlated planes measured 10× the
    candidate pairs of gauss planes on the sf0.1 embeddings (3.34M vs
    0.34M; squared form: 0.33M). Every intermediate stays under 2⁶³
    (h² < (10⁹)² ≈ 10¹⁸, h·B < 10⁹·10⁸)."""
    h = ((idx + 1) * _PLANE_A) % _PLANE_P
    h = (h * h + idx) % _PLANE_P
    h = (h * _PLANE_B + _PLANE_C) % _PLANE_P
    return h % (2 * _PLANE_M + 1) - _PLANE_M


def poly_plane_weight_sql(idx_expr: str) -> str:
    """DuckDB twin of :func:`_poly_plane_weight` over an index
    expression — identical integer arithmetic, token for token. The
    caller must pass a side-effect-free ``idx_expr`` (it is inlined
    three times)."""
    i = f"({idx_expr})"
    h1 = f"((({i} + 1) * {_PLANE_A}) % {_PLANE_P})"
    h2 = f"(({h1} * {h1} + {i}) % {_PLANE_P})"
    return (
        f"({h2} * {_PLANE_B} + {_PLANE_C}) % {_PLANE_P}"
        f" % {2 * _PLANE_M + 1} - {_PLANE_M}"
    )


def _hyperplane_band_keys(planes_int, per_band: int, bands: int):
    """One Arrow pass: all hyperplane dots as a single int64 matmul per
    batch, sign bits packed into one long key per band. The per-row cost
    is (dim × bands·per_band) multiplies in vectorized numpy instead of
    bands·per_band interpreted `aggregate(zip_with(...))` expression
    trees over the corpus."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    M = np.array(planes_int, dtype=np.int64).T  # (dim, bands·per_band)
    weights = (np.int64(1) << np.arange(per_band, dtype=np.int64))

    dim = M.shape[0]

    def keys(qs):
        if qs.empty:
            return pd.Series([], dtype=object)
        # malformed vectors (wrong dim, null/NaN elements) get an EMPTY
        # key list — posexplode then emits no candidate rows for them,
        # so one bad embedding degrades to "never pairs" instead of
        # failing the task (bad rows are data, not bugs, at 100 TB)
        rows, ok_idx = [], []
        for i, v in enumerate(qs):
            try:
                a = np.asarray(v, dtype=np.int64)
            except (TypeError, ValueError, OverflowError):
                continue
            if a.shape != (dim,):
                continue
            rows.append(a)
            ok_idx.append(i)
        out = [[] for _ in range(len(qs))]
        if rows:
            V = np.stack(rows)
            bits = ((V @ M) >= 0).astype(np.int64)  # (ok, bands·per_band)
            keys_mat = np.stack(
                [
                    bits[:, b * per_band : (b + 1) * per_band] @ weights
                    for b in range(bands)
                ],
                axis=1,
            )  # (ok, bands)
            for j, i in enumerate(ok_idx):
                out[i] = keys_mat[j]
        return pd.Series(out)

    return pandas_udf(keys, "array<long>")


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_cols: Sequence[str] = (),
    threshold: float = 0.95,
    lsh_planes: int | None = None,
    lsh_bands: int = 1,
    seed: int = 42,
    use_arrow: bool = True,
    hash_family: str = "gauss",
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    With ``block_cols``: exact within blocks. With ``lsh_planes=k``:
    random-hyperplane sign buckets of k planes — only vectors in the
    same bucket are compared (recall < 1, the scale path). With
    ``lsh_bands=b`` > 1: b independent bands of k planes each, candidate
    if ANY band's bucket matches (the classic OR-of-bands construction —
    per-pair collision 1−(1−p^k)^b for p = 1−θ/π, so recall is tunable
    where a single k-plane signature of equal selectivity would be
    ~p^k ≈ 0). Cosine is computed on quantized vectors so results are
    deterministic and oracle-exact; ``use_arrow`` routes the per-pair
    dot product through the vectorized Pandas UDF (bit-identical
    output, ~30× faster on large pair sets — see
    ``vectors.pair_dot_arrow``).
    """
    if hash_family not in ("gauss", "poly"):
        # fail fast (round-9 advice): a typo'd family used to fall
        # through to gauss planes silently, handing a caller who asked
        # for SQL-reproducible 'poly' planes non-reproducible output
        raise ValueError(
            f"embedding_neardup_pairs: unknown hash_family {hash_family!r}"
            " (expected 'gauss' or 'poly')"
        )
    q = VX.quantize(vec_col)
    # precompute each row's norm once — per-pair work is then a single
    # dot product (64 mults) instead of three (dot + both norms)
    base = df.select(
        F.col(id_col).alias("id"), *[F.col(c) for c in block_cols], q.alias("q")
    ).withColumn("nrm", F.sqrt(VX.int_dot(F.col("q"), F.col("q"))))

    id_integral = df.schema[id_col].dataType.simpleString() in _INTEGRAL_IDS
    if use_arrow and not block_cols and not lsh_planes and id_integral:
        # exact all-pairs: executor-side chunk-pair joins + BLAS matmul
        # — each vector ships once per chunk pair (never through the
        # driver); 2M candidate pairs become a handful of BLAS calls.
        # Quantized ints keep every product/sum exact (< 2^53), so
        # results stay bit-identical to the expression path and the
        # oracle. See _neardup_matmul for the 100-TB tiling shape.
        return _neardup_matmul(base, threshold)
    extra_key: list[str] = []
    if lsh_planes:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            # empty corpus (or null lead vector): no pairs, by definition
            from pyspark.sql import types as T

            idt = df.schema[id_col].dataType
            return df.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("id_a", idt),
                        T.StructField("id_b", idt),
                        T.StructField("cosine", T.DoubleType()),
                    ]
                ),
            )
        dim = len(first[0])
        # integer-quantized hyperplanes: sign(q·plane) in exact int64
        # arithmetic (|q|·|w|·dim « 2^63), so band keys are deterministic
        # across platforms/BLAS builds
        if hash_family == "poly":
            # SQL-reproducible planes (the minhash_poly precedent): each
            # weight is an affine poly hash of the flat (plane, dim)
            # index, uniform in [-10⁶, 10⁶] — an external oracle can
            # regenerate the identical planes from four literals, so the
            # FULL LSH path (signs → band keys → candidate set → exact
            # cosine) hash-verifies, not just its exact tail. Uniform
            # (vs gauss) directions shift recall slightly; the gate only
            # needs both engines to draw the SAME planes.
            planes_i = [
                [
                    _poly_plane_weight(p * dim + d)
                    for d in range(dim)
                ]
                for p in range(lsh_planes * lsh_bands)
            ]
        else:
            rng = random.Random(seed)
            planes_i = [
                [int(round(rng.gauss(0, 1) * 1_000_000)) for _ in range(dim)]
                for _ in range(lsh_planes * lsh_bands)
            ]
        keys_udf = _hyperplane_band_keys(planes_i, lsh_planes, lsh_bands)
        # spread a narrow corpus BEFORE the band-keys UDF: a small corpus
        # is one parquet file -> one partition, and the signature matmul
        # ran single-threaded (r12 profile: 4.5 s 1-task stage per join
        # side at sf0.1)
        base = _spread_if_narrow(base.filter(F.col("q").isNotNull()))
        if lsh_bands == 1:
            base = base.withColumn("bucket", keys_udf(F.col("q"))[0])
            extra_key = ["bucket"]
        else:
            # one row per (vector, band); the join key carries the band
            # index so bucket keys only match within the same band
            base = base.select(
                "*", F.posexplode(keys_udf(F.col("q"))).alias("band_b", "bucket")
            )
            extra_key = ["band_b", "bucket"]

    if use_arrow and lsh_planes:
        # per-bucket BLAS matmul instead of the bucket equi-join + per-
        # pair Arrow UDF: each (vector, band) row crosses the Python
        # boundary ONCE, and all same-bucket dots happen in one float64
        # matmul (exact: products/sums of 1e-6-quantized 64-dim vectors
        # stay < 2^53). The old join shipped BOTH q arrays once per
        # CANDIDATE PAIR through ArrowEvalPython — r12 profile at sf0.1:
        # 360 task-s (20 s CPU, 56 s GC) of boundary wait + allocation
        # churn in the join stage, plus the band-keys UDF evaluated per
        # join side. Guide §8: decide with small rows, move heavy bytes
        # once; §4: batch native compute per partition.
        keys = [*block_cols, *extra_key]
        idt = df.schema[id_col].dataType.simpleString()
        out_schema = f"id_a {idt}, id_b {idt}, cosine double"
        thr = float(threshold)
        # captured into the closure at build time so tests can shrink it
        gram_block_f64 = _GRAM_BLOCK_F64

        def _bucket_pairs(batches):
            import numpy as np
            import pandas as pd

            pdfs = [b for b in batches if len(b)]
            if not pdfs:
                return
            # one concat per TASK (mapInPandas batches would otherwise
            # split a bucket); per-task bytes are corpus·bands /
            # n_partitions — sized by the repartition below
            pdf = pd.concat(pdfs, ignore_index=True)
            for _, g in pdf.groupby(keys, sort=False):
                n = len(g)
                if n < 2:
                    continue
                V = np.stack(g["q"].to_numpy())
                ids = g["id"].to_numpy()
                nrm = g["nrm"].to_numpy()
                # Gram matmul in ROW BLOCKS (r13; verdict): the full
                # n×n `V @ V.T` holds O(n²) float64 in ONE task — a
                # skewed bucket (near-dup-heavy corpus, low-entropy
                # band) with n~10⁶ members would need ~8 TB. Blocks of
                # `blk = budget div n` rows bound the slab (and every
                # derived pair array) to O(budget) while V itself stays
                # O(n·dim) (guide §2.5 skew / §5 memory). Bit-identical
                # output: each dot of 1e-6-quantized 64-dim vectors is
                # exactly representable, so tiling cannot change it.
                # Tiny buckets (n² ≤ budget) take exactly one block —
                # the common case pays one extra compare per bucket.
                blk = max(1, min(n, gram_block_f64 // n))
                col = np.arange(n)
                for i0 in range(0, n - 1, blk):
                    i1 = min(i0 + blk, n)
                    Gi = V[i0:i1] @ V.T
                    # strict upper triangle of this row block: local
                    # row r (global i0+r) pairs with columns j > i0+r
                    li, ju = np.nonzero(
                        col[None, :] > np.arange(i0, i1)[:, None]
                    )
                    iu = li + i0
                    denom = nrm[iu] * nrm[ju]
                    dots = Gi[li, ju]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / denom
                    # denom > 0 mirrors try_divide's NULL-on-zero-norm
                    # (NULL fails any threshold); comparisons are on
                    # bit-identical doubles, so the survivor set matches
                    # the join path. ids[iu] != ids[ju] mirrors the
                    # join's l.id < r.id: a duplicated id never pairs
                    # with itself
                    m = (denom > 0) & (cos >= thr) & (ids[iu] != ids[ju])
                    if not m.any():
                        continue
                    ia, ib = ids[iu[m]], ids[ju[m]]
                    yield pd.DataFrame(
                        {
                            "id_a": np.minimum(ia, ib),
                            "id_b": np.maximum(ia, ib),
                            "cosine": cos[m],
                        }
                    )

        out = (
            # the Gram stage is quadratic per bucket
            _repartition_for_compute(base, *keys)
            .mapInPandas(_bucket_pairs, out_schema)
            .withColumn("cosine", F.round("cosine", 6))
        )
        if lsh_bands > 1:
            # a pair agreeing on several bands surfaces once per band —
            # collapse to one row (cosine is identical across duplicates)
            out = out.dropDuplicates(["id_a", "id_b"])
        return out

    # small corpora arrive as one parquet file → one partition → a
    # 1-task nested-loop join. Spread the streamed side across the
    # cluster; the pair count (not the row count) is the real work.
    l, r = _spread_if_narrow(base).alias("l"), base.alias("r")
    cond = F.col("l.id") < F.col("r.id")
    for c in list(block_cols) + extra_key:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    if use_arrow:
        dot = VX.pair_dot_arrow()(F.col("l.q"), F.col("r.q"))
    else:
        dot = VX.int_dot(F.col("l.q"), F.col("r.q"))
    # try_divide: a zero-norm embedding has undefined cosine — NULL
    # fails the threshold (kept un-deduped) instead of ANSI-crashing
    sim = F.try_divide(dot, F.col("l.nrm") * F.col("r.nrm"))
    out = (
        l.join(r, cond)
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
    if lsh_planes and lsh_bands > 1:
        # a pair agreeing on several bands verifies once per band —
        # collapse to one row (cosine is identical across duplicates)
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def ngram_join_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
    measure: str = "containment_left",
    max_df: int | None = None,
) -> DataFrame:
    """Cross-corpus exact set-similarity JOIN (R-S, not self-join):
    for every (left, right) pair sharing ≥1 shingle, Jaccard and both
    directed containments — the similarity-based decontamination
    primitive (`curation.decontaminate` catches verbatim 8-gram
    overlap; this catches paraphrased/partial benchmark leakage where
    an eval item is mostly-contained in a training doc).

    ``measure`` selects the thresholded column: ``jaccard``,
    ``containment_left`` (|L∩R| / |L| — how much of the LEFT doc is
    covered, the decontamination direction), or ``containment_right``.
    Same inverted-index physical shape as :func:`ngram_jaccard_pairs`:
    per-side postings of 8-byte shingle hashes, candidate pairs only
    from the posting equi-join, ``max_df`` capping degenerate shingles
    on BOTH sides (scores only shrink). Emits
    ``(id_l, id_r, jaccard, containment_l, containment_r)``.
    """
    if measure not in ("jaccard", "containment_left", "containment_right"):
        raise ValueError(f"unknown measure {measure!r}")

    def posts(df: DataFrame, side: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(c) for c in block_cols],
            F.array_distinct(TX.word_ngrams(text_col, shingle_n)).alias("sh"),
        ).filter(F.size("sh") > 0)
        p = _persist(
            base.select(
                f"id_{side}",
                *block_cols,
                F.size("sh").alias(f"n_{side}"),
                F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("g"),
            )
        )
        return _cap_hot_buckets(p, [*block_cols, "g"], max_df, "drop")

    pl, pr = posts(left, "l").alias("l"), posts(right, "r").alias("r")
    cond = F.col("l.g") == F.col("r.g")
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    pairs = (
        pl.join(pr, cond)
        .groupBy(
            F.col("l.id_l").alias("id_l"),
            F.col("r.id_r").alias("id_r"),
            F.col("l.n_l").alias("n_l"),
            F.col("r.n_r").alias("n_r"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n_l") + F.col("n_r") - F.col("c"))
    cl = F.col("c") / F.col("n_l")
    cr = F.col("c") / F.col("n_r")
    sel = {"jaccard": jac, "containment_left": cl, "containment_right": cr}[measure]
    return (
        pairs.filter(sel >= threshold)
        .select(
            "id_l",
            "id_r",
            F.round(jac, 6).alias("jaccard"),
            F.round(cl, 6).alias("containment_l"),
            F.round(cr, 6).alias("containment_r"),
        )
    )
