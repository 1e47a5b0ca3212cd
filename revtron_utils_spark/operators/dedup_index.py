"""Incremental MinHash-LSH dedup index: probe NEW batches against a
maintained band-postings table instead of re-mining the whole corpus.

``minhash_lsh_pairs`` (operators/dedup.py) is the right tool for a
one-shot corpus sweep, but a production ingest loop receives batches
forever — re-running the full self-join over 100 TB per batch is the
quadratic-over-time anti-pattern. The classic fix is the posting-list
index: persist each document's LSH band keys once; a new batch then
(1) computes its own band keys (one narrow Arrow pass over the batch),
(2) equi-joins them against the postings table — shuffle volume is
O(batch × bands), never O(corpus) — and (3) verifies candidates with
exact shingle Jaccard. Appending the new batch's postings afterwards
keeps the index current; cost per batch is O(batch), independent of
history size (the same contract as ``operators/rollup.py``).

At 100 TB the postings table lives as parquet bucketed/sorted by
``bhash`` so the probe join co-locates without shuffling the corpus
side (see ``layout.write_bucketed``); the directory API below writes
plain parquet plus a ``_meta.json`` capturing the LSH parameters —
probing with mismatched parameters is a silent recall-zero bug, so the
meta is validated loudly.

Featurization and verification are the pair functions' own: one Arrow
pass over the documents (``dedup._minhash_features``, ``hash_family`` ``crc32``
or the engine-exact ``poly``) yields the band keys and the shingle set,
and ``dedup._verify_jaccard`` scores the candidates. Only the candidate
join differs: new×corpus (plus new×new) against the postings, not a
corpus self-join.

No analog in the reference (row-level upsert only); extension surface.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from revtron_utils_spark.io import read_parquet
from revtron_utils_spark.operators.dedup import (
    _cap_hot_buckets,
    _minhash_features,
    _persist,
    _verify_jaccard,
)

_DEFAULTS = dict(num_hashes=64, bands=16, shingle_n=3, seed=42, hash_family="crc32")

# Frozen backfill for _meta.json files written before a parameter key
# existed: such an index was built with the value pinned HERE at the
# time the key was introduced — never with the live _DEFAULTS, whose
# values may change later (backfilling from the live dict would make an
# old index silently validate against today's default: exactly the
# parameter drift the strict meta compare exists to prevent).
_META_BACKFILL = dict(
    num_hashes=64, bands=16, shingle_n=3, seed=42, hash_family="crc32"
)


def _load_meta(stored: dict) -> dict:
    unknown = set(stored) - set(_META_BACKFILL)
    if unknown:
        raise ValueError(f"index meta has keys with no pinned backfill: {unknown}")
    return {**_META_BACKFILL, **stored}


def _featurize(
    df: DataFrame, text_col: str, id_col: str, p: dict
) -> DataFrame:
    if p.get("hash_family") not in ("crc32", "poly"):
        # same fail-fast as embedding_neardup_pairs (round-9 advice):
        # a typo'd family must not silently featurize with crc32
        raise ValueError(
            f"dedup index: unknown hash_family {p.get('hash_family')!r}"
            " (expected 'crc32' or 'poly')"
        )
    # poly: engine-reproducible family — band keys become strings, and
    # the whole index+probe pipeline gains a DuckDB oracle twin
    return _minhash_features(
        df,
        F.col(id_col).cast("long"),
        text_col,
        p["hash_family"],
        p["num_hashes"],
        p["bands"],
        p["shingle_n"],
        p["seed"],
    )


def _index_frames(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Featurized ``(id, bhash, shingles)`` → postings ``(band, bhash,
    id)`` and features ``(id, shingles)``."""
    postings = base.select("id", F.posexplode("bhash").alias("band", "bhash")).select(
        "band", "bhash", "id"
    )
    return postings, base.select("id", "shingles")


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **params,
) -> tuple[DataFrame, DataFrame]:
    """One pass over the corpus → ``(postings, features)``:
    postings ``(band, bhash, id)`` — the LSH probe target; features
    ``(id, shingles)`` — the verification side. Callers persist/write
    both (see :func:`write_minhash_index`)."""
    return _index_frames(_featurize(df, text_col, id_col, {**_DEFAULTS, **params}))


def probe_minhash_index(
    new_df: DataFrame,
    postings: DataFrame,
    features: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.7,
    include_new_new: bool = True,
    max_bucket: int | None = None,
    hot_bucket_mode: str = "drop",
    **params,
) -> DataFrame:
    """Verified near-dup pairs touching the NEW batch:
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, where at least one
    side is a new document. The corpus side is only ever touched through
    the (band, bhash) equi-join and the candidate-id semi-join — no
    corpus self-join, no corpus re-featurization.

    ``max_bucket`` is a PROBE-TIME knob, deliberately not part of the
    index meta: it bounds the candidate join against degenerate
    (band, bhash) buckets (boilerplate clone classes) without changing
    what the index stores — see ``dedup._cap_hot_buckets`` for the
    drop/sample recall accounting. Capping the target side alone bounds
    the join: a new posting meeting a capped bucket matches at most
    ``max_bucket`` retained corpus rows."""
    p = {**_DEFAULTS, **params}
    # the Arrow featurization of the new batch feeds the bucket-size
    # aggregate (when capped), the candidate join, and the verification
    # side — persist so the pandas-UDF pass runs once, not 3-4 times
    new_base = _persist(_featurize(new_df, text_col, id_col, p))
    new_posts, new_feats = _index_frames(new_base)

    # candidates: new×corpus always; new×new within the batch optionally
    target = postings.unionByName(new_posts) if include_new_new else postings
    target = _cap_hot_buckets(target, ["band", "bhash"], max_bucket, hot_bucket_mode)
    cand_ids = (
        new_posts.alias("n")
        .join(
            target.alias("t"),
            (F.col("n.band") == F.col("t.band"))
            & (F.col("n.bhash") == F.col("t.bhash"))
            & (F.col("n.id") != F.col("t.id")),
        )
        .select(
            F.least("n.id", "t.id").alias("id_a"),
            F.greatest("n.id", "t.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # if a new doc re-submits an already-indexed id, the NEW text wins
    # deterministically (anti-join + union, not an arbitrary
    # dropDuplicates pick)
    all_feats = features.join(new_feats, "id", "left_anti").unionByName(new_feats)
    return _verify_jaccard(all_feats, cand_ids, jaccard_threshold)


# ------------------------------------------------------------ directory API


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
    **params,
) -> None:
    """Materialize (or ``mode='append'`` extend) the index at ``path``:
    ``postings/`` + ``features/`` parquet and a ``_meta.json`` with the
    LSH parameters. Append validates the meta so an index can never mix
    incompatible signatures."""
    p = {**_DEFAULTS, **params}
    meta_path = Path(path) / "_meta.json"
    if mode == "append" and meta_path.exists():
        # backfill keys added after the index was written (e.g.
        # hash_family) from the FROZEN table — see _META_BACKFILL
        stored = _load_meta(json.loads(meta_path.read_text()))
        if stored != p:
            raise ValueError(
                f"index at {path} was built with {stored}, refusing append with {p}"
            )
    postings, features = build_minhash_index(df, text_col, id_col, **p)
    postings.write.mode(mode).parquet(str(Path(path) / "postings"))
    features.write.mode(mode).parquet(str(Path(path) / "features"))
    meta_path.parent.mkdir(parents=True, exist_ok=True)
    meta_path.write_text(json.dumps(p))


def probe_minhash_index_path(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.7,
    include_new_new: bool = True,
    max_bucket: int | None = None,
    hot_bucket_mode: str = "drop",
) -> DataFrame:
    """Probe a materialized index; LSH parameters come from the stored
    meta (never from the caller — parameter drift is the classic silent
    recall killer). ``max_bucket`` stays caller-side: it is a join-time
    bound, not a signature parameter."""
    spark = SparkSession.getActiveSession() or new_df.sparkSession
    p = _load_meta(json.loads((Path(path) / "_meta.json").read_text()))
    postings = read_parquet(spark, str(Path(path) / "postings"))
    features = read_parquet(spark, str(Path(path) / "features"))
    return probe_minhash_index(
        new_df,
        postings,
        features,
        text_col,
        id_col,
        jaccard_threshold,
        include_new_new,
        max_bucket,
        hot_bucket_mode,
        **p,
    )
