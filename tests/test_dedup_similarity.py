"""Dedup & similarity operator tests: planted duplicates, MinHash-LSH
recall against exact Jaccard, SimHash behavior, ANN recall vs brute
force, multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from revtron_utils_spark.functions import text as TX
from revtron_utils_spark.operators import dedup as DD
from revtron_utils_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from revtron_utils_spark.io import read_table

    return read_table(spark, sf_dir, "documents").select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from revtron_utils_spark.io import read_table

    return read_table(spark, sf_dir, "embeddings").cache()


def _with_exact_copies(docs):
    return docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


def _with_near_copies(docs):
    toks = TX.tokens("text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))).alias("text"),
    )
    return docs.unionByName(mutated)


def test_exact_dedup_removes_planted_copies(docs):
    n = docs.count()
    deduped = DD.exact_dedup(_with_exact_copies(docs), "text", "doc_id")
    assert deduped.count() == n
    # keeps the MIN id of each group — i.e. all original ids
    assert deduped.filter(F.col("doc_id") >= 100000).count() == 0


def test_exact_dedup_keep_max(docs):
    deduped = DD.exact_dedup(_with_exact_copies(docs), "text", "doc_id", keep="max")
    assert deduped.filter(F.col("doc_id") < 100000).count() == 0


def test_duplicate_groups(docs):
    groups = DD.duplicate_groups(_with_exact_copies(docs), "text", "doc_id")
    assert groups.count() == docs.count()
    assert groups.agg(F.max("n_dups")).first()[0] == 2


def test_minhash_finds_planted_near_dups(docs):
    planted = _with_near_copies(docs)
    pairs = DD.minhash_lsh_pairs(planted, "text", "doc_id", jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every doc and its 2-token-truncated copy should be a candidate pair
    want = {(r.doc_id, r.doc_id + 100000) for r in docs.collect()}
    recall = len(found & want) / len(want)
    assert recall > 0.9, f"minhash recall {recall}"
    # verified jaccard values must be genuinely high
    assert pairs.agg(F.min("jaccard")).first()[0] >= 0.5


def test_minhash_jaccard_estimates_match_exact(docs):
    """The banded candidates carry EXACT jaccard (verification step) —
    spot-check against a direct computation."""
    planted = _with_near_copies(docs).limit(40)
    pairs = DD.minhash_lsh_pairs(planted, "text", "doc_id", jaccard_threshold=0.1).collect()
    sh = {
        r.doc_id: set(r.s)
        for r in planted.select(
            "doc_id", F.array_distinct(TX.word_ngrams("text", 3)).alias("s")
        ).collect()
    }
    for p in pairs[:20]:
        a, b = sh[p.id_a], sh[p.id_b]
        exact = len(a & b) / len(a | b)
        assert abs(p.jaccard - exact) < 1e-6


def test_minhash_dedup_drops_near_dups(docs):
    planted = _with_near_copies(docs)
    kept = DD.minhash_lsh_dedup(planted, "text", "doc_id", jaccard_threshold=0.5)
    # each planted copy should be dropped (it has the larger id)
    assert kept.count() <= docs.count() * 2 - docs.count() * 0.9


def test_simhash_near_dups(docs):
    planted = _with_near_copies(docs)
    pairs = DD.simhash_pairs(planted, "text", "doc_id", max_hamming=3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(r.doc_id, r.doc_id + 100000) for r in docs.collect()}
    recall = len(found & want) / len(want)
    assert recall > 0.5, f"simhash recall {recall}"
    assert pairs.agg(F.max("hamming")).first()[0] <= 3


def test_ngram_jaccard_blocked(docs, spark, sf_dir):
    from revtron_utils_spark.io import read_table

    full = read_table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(full, block_cols=("lang",), threshold=0.05)
    # deterministic; no same-id pairs; jaccard in range
    rows = pairs.collect()
    for r in rows:
        assert r.id_a < r.id_b and 0.05 <= r.jaccard <= 1.0


def test_ngram_containment_asymmetry(spark):
    """An excerpt engulfed by a long doc: containment ≈ 1 on the
    excerpt side while Jaccard stays below any dedup threshold."""
    words = [f"w{i}" for i in range(120)]
    long_doc = " ".join(words)
    excerpt = " ".join(words[:12])  # 10 of the long doc's 118 shingles
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, "totally unrelated text here")],
        "doc_id: long, text: string",
    )
    pairs = {
        (r.id_a, r.id_b): r
        for r in DD.ngram_containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.9
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    assert r.containment_b == 1.0  # excerpt fully inside the long doc
    assert r.containment_a < 0.1  # asymmetric: the long doc is not inside the excerpt
    jac = DD.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=3, threshold=0.05).collect()
    assert all(row.jaccard < 0.2 for row in jac)  # jaccard alone would miss it


def test_ngram_containment_max_df_only_shrinks(spark, sf_dir):
    from revtron_utils_spark.io import read_table

    full = read_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in DD.ngram_containment_pairs(
            full, block_cols=("lang",), threshold=0.5
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in DD.ngram_containment_pairs(
            full, block_cols=("lang",), threshold=0.5, max_df=20
        ).collect()
    }
    assert set(capped) <= set(exact)  # the cap can only drop pairs…
    for k, (ca, cb) in capped.items():
        assert ca <= exact[k][0] and cb <= exact[k][1]  # …and shrink scores


def test_embedding_neardup_lsh_vs_exact(emb):
    exact = {
        (r.id_a, r.id_b)
        for r in DD.embedding_neardup_pairs(emb, threshold=0.3).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in DD.embedding_neardup_pairs(emb, threshold=0.3, lsh_planes=2).collect()
    }
    assert lsh <= exact  # LSH may miss but never invents pairs
    if exact:
        # 2 hyperplanes: collision prob for sim≈0.3 pairs is (1-θ/π)² ≈ 0.36
        assert len(lsh) / len(exact) > 0.1


def test_quadratic_per_key_shuffles_are_pinned(spark, emb):
    """The LSH Gram stage and the fuzzy value self-join sit behind keyed
    shuffles with an explicit partition count (AQE never coalesces one),
    ``max(defaultParallelism, spark.sql.shuffle.partitions)``: their
    inputs are byte-small but their per-key work is quadratic."""
    import re

    from revtron_utils_spark.operators.fuzzy import fuzzy_self_pairs

    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    names = spark.createDataFrame(
        list(enumerate(["red widget", "rad widget", "blue widget"])), "id long, name string"
    )
    cases = [
        (DD.embedding_neardup_pairs(emb, threshold=0.3, lsh_planes=2), "bucket"),
        (fuzzy_self_pairs(names, "name", "id", [F.length("name")], max_dist=2), "_b0"),
    ]
    for df, key in cases:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        pins = re.findall(rf"hashpartitioning\({key}#\d+L?, (\d+)\), REPARTITION_BY_NUM", plan)
        assert pins and set(pins) == {str(n)}, plan


def test_neardup_lsh_bench_recall(spark, sf_dir):
    """The benched LSH gate query (16 planes, threshold 0.4) must stay a
    subset of the exact pair set with usable recall on the real
    embeddings fixture — the assertion backing q_cosine_neardup_lsh."""
    import __spark_entry__ as entry

    exact = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in entry.queries()["cosine_neardup"](spark, sf_dir).collect()
    }
    lsh = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in entry.queries()["cosine_neardup_lsh"](spark, sf_dir).collect()
    }
    assert lsh <= exact
    if exact:
        # 10 bands × 6 planes at the cosine-0.4 boundary (LSH's weakest
        # operating point: collision p ≈ 1-(1-0.63^6)^10 ≈ 0.48 per
        # threshold-grade pair) — observed ~0.52 on the fixture; true
        # near-dups (cos ≥ 0.9) collide with p ≈ 0.99
        assert len(lsh) / len(exact) > 0.3


def test_neardup_lsh_high_sim_recall(spark):
    """Planted TRUE near-dups (tiny perturbations, cos ≥ 0.98) must be
    found by the benched 10×6 LSH parameters with near-perfect recall —
    the operating point the low-threshold fixture test can't exercise."""
    import random

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(200)]
    rows = [(i, v) for i, v in enumerate(base)]
    # ids 1000+i are near-copies of i
    rows += [
        (1000 + i, [x + rng.gauss(0, 0.02) for x in v])
        for i, v in enumerate(base[:50])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.embedding_neardup_pairs(
            df, threshold=0.9, lsh_planes=6, lsh_bands=10
        ).collect()
    }
    planted = {(i, 1000 + i) for i in range(50)}
    found = {p for p in planted if p in pairs}
    assert len(found) / len(planted) >= 0.95, len(found)


def test_neardup_tiled_matches_single_tile(emb):
    """Forcing multiple broadcast tiles must give the identical pair set
    (tiling changes memory shape, never results)."""
    from revtron_utils_spark.operators.dedup import _neardup_matmul
    from revtron_utils_spark.functions import vectors as VX

    base = emb.select(
        F.col("vec_id").alias("id"), VX.quantize("embedding").alias("q")
    ).withColumn("nrm", F.sqrt(VX.int_dot(F.col("q"), F.col("q"))))
    single = {(r.id_a, r.id_b, r.cosine) for r in _neardup_matmul(base, 0.3).collect()}
    tiled = {
        (r.id_a, r.id_b, r.cosine)
        for r in _neardup_matmul(base, 0.3, tile_rows=100).collect()
    }
    assert tiled == single and len(single) > 0


def test_neardup_lsh_gram_blocks_match_full(emb, monkeypatch):
    """Shrinking the per-bucket Gram block budget (forcing many row
    blocks per hot bucket) must give the identical pair set — the r13
    tiling changes memory shape, never results."""
    kw = dict(threshold=0.3, lsh_planes=2, lsh_bands=4)
    full = {
        (r.id_a, r.id_b, r.cosine)
        for r in DD.embedding_neardup_pairs(emb, **kw).collect()
    }
    # budget of 64 doubles → blk = max(1, 64 // n): every bucket with
    # more than 8 members runs multiple row blocks
    monkeypatch.setattr(DD, "_GRAM_BLOCK_F64", 64)
    tiled = {
        (r.id_a, r.id_b, r.cosine)
        for r in DD.embedding_neardup_pairs(emb, **kw).collect()
    }
    assert tiled == full and len(full) > 0


def test_embedding_neardup_degenerate_inputs(emb):
    # empty corpus and single row must not crash the matmul path
    assert DD.embedding_neardup_pairs(emb.limit(0), threshold=0.5).count() == 0
    assert DD.embedding_neardup_pairs(emb.limit(1), threshold=0.0).count() == 0


def test_cosine_topk_self_is_first(emb):
    q = emb.orderBy("vec_id").first()
    top = SIM.cosine_topk(emb, q.embedding, k=5).collect()
    assert top[0].vec_id == q.vec_id
    assert abs(top[0].cosine - 1.0) < 1e-5
    sims = [r.cosine for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_brute_force(emb, tmp_path):
    # fixture embeddings are near-isotropic (top-10 cosines ~0.3 spread
    # over every label), so the honest fixture assertion is exactness at
    # full probe; partial-probe recall is tested below on data with real
    # cluster structure, the regime IVF exists for
    q = emb.orderBy("vec_id").first()
    brute = [r.vec_id for r in SIM.cosine_topk(emb, q.embedding, k=10).collect()]
    index = SIM.IVFIndex.build(emb, str(tmp_path / "ivf"), n_clusters=8)
    full = [r.vec_id for r in index.search(q.embedding, k=10, nprobe=8).collect()]
    assert full == brute


def test_ivf_partial_probe_recall_on_clustered_data(spark, tmp_path):
    """Planted cluster structure: 8 well-separated direction clusters;
    a query's true neighbors share its cluster, so probing 2 of 8 cells
    must recover nearly all of the brute-force top-k."""
    import random

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(32)] for _ in range(8)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(60):
            rows.append((vid, [x + rng.gauss(0, 0.15) for x in c], ci))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = rows[0][1]
    brute = [r.vec_id for r in SIM.cosine_topk(df, q, k=10).collect()]
    index = SIM.IVFIndex.build(df, str(tmp_path / "ivfc"), n_clusters=8)
    part = [r.vec_id for r in index.search(q, k=10, nprobe=2).collect()]
    assert len(set(part) & set(brute)) >= 9


def test_ivf_index_save_load(emb, tmp_path):
    q = emb.orderBy("vec_id").first()
    built = SIM.IVFIndex.build(emb, str(tmp_path / "ivf2"), n_clusters=4)
    reopened = SIM.IVFIndex.load(emb.sparkSession, str(tmp_path / "ivf2"))
    assert reopened.centroids == built.centroids
    a = [r.vec_id for r in built.search(q.embedding, k=5, nprobe=4).collect()]
    b = [r.vec_id for r in reopened.search(q.embedding, k=5, nprobe=4).collect()]
    assert a == b


def test_knn_join_blocked(emb):
    left = emb.limit(5)
    out = SIM.knn_join(left, emb, k=3, block_cols=("label",))
    rows = out.collect()
    by_left = {}
    for r in rows:
        by_left.setdefault(r.lid, []).append(r)
    for lid, nbrs in by_left.items():
        assert len(nbrs) <= 3
        ranks = sorted(n.rank for n in nbrs)
        assert ranks == list(range(1, len(nbrs) + 1))


def test_multimodal_plumbing(docs, spark):
    from revtron_utils_spark.multimodal import (
        attach_binary_payload,
        decode_image,
        extract_features,
        sample_frames,
    )

    binary = attach_binary_payload(docs.limit(20), "text")
    assert binary.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(binary).collect()
    assert len(feats) == 20
    for f in feats:
        assert f.byte_len > 0 and len(f.feature) == 8
        assert all(0.0 <= v < 1.0 for v in f.feature)
    # determinism across runs
    feats2 = extract_features(binary).collect()
    assert {(f.doc_id, f.feat_hash) for f in feats} == {(f.doc_id, f.feat_hash) for f in feats2}
    frames = sample_frames(binary, every_nth=2).collect()
    assert frames and all(fr.frame_idx % 2 == 0 for fr in frames)
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG....")


def test_bmp_roundtrip_and_ppm_decode():
    import numpy as np

    from revtron_utils_spark.multimodal import decode_image, encode_bmp, synth_image

    # widths 5/6/7 exercise every 4-byte row-padding case; roundtrip
    # must be bit-exact
    for w in (5, 6, 7, 16):
        px = synth_image(seed=w, width=w, height=3)
        assert np.array_equal(decode_image(encode_bmp(px)), px)

    # top-down BMP (negative height) decodes to the same pixels
    px = synth_image(seed=1, width=4, height=2)
    bu = bytearray(encode_bmp(px))
    import struct as st

    raw = bu[54:]
    row_bytes = len(raw) // 2
    flipped = raw[row_bytes:] + raw[:row_bytes]  # reorder rows for top-down
    st.pack_into("<i", bu, 22, -2)
    bu[54:] = flipped
    assert np.array_equal(decode_image(bytes(bu)), px)

    # binary PPM with a header comment
    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
    got = decode_image(ppm)
    assert got.shape == (2, 2, 3) and got[0, 0, 0] == 0 and got[1, 1, 2] == 11


def test_image_stats_real_pixels(spark):
    import numpy as np

    from revtron_utils_spark.multimodal import (
        attach_image_payload,
        image_stats,
        synth_image,
    )

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    rows = {r.doc_id: r for r in image_stats(attach_image_payload(ids)).collect()}
    assert len(rows) == 12
    for i in range(12):
        px = synth_image(i).astype(np.float64)
        luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        r = rows[i]
        assert (r.width, r.height) == (16, 16)
        assert abs(r.mean_r - px[:, :, 0].mean()) < 1e-9
        assert abs(r.luma_std - luma.std()) < 1e-9

    # undecodable payloads must yield null stats, not task failures
    from pyspark.sql import functions as F

    bad = spark.createDataFrame([(99,)], "doc_id long").select(
        "doc_id",
        F.lit(b"\x89PNG garbage").alias("payload"),
        F.lit("image/png").alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )
    out = image_stats(bad).collect()[0]
    assert out.doc_id == 99 and out.mean_r is None and out.width is None


def test_text_functions_edges(spark):
    df = spark.createDataFrame(
        [("", ), ("   ",), ("one",), ("The the THE and of to",), ("abc!!! ??? def",)],
        ["text"],
    )
    out = df.select(
        TX.token_count("text").alias("n"),
        TX.stopword_ratio("text").alias("sw"),
        TX.punct_ratio("text").alias("punct"),
        TX.quality_score("text").alias("q"),
        TX.lang_id("text").alias("lang"),
        TX.fingerprint("text").alias("fp"),
        TX.simhash64("text").alias("sh"),
    ).collect()
    for r in out:
        assert 0.0 <= r.sw <= 1.0 and 0.0 <= r.punct <= 1.0 and 0.0 <= r.q <= 1.0
        assert r.fp is not None and r.sh is not None
    assert out[3].lang == "en"
    # identical normalized text → identical fingerprint
    a = spark.createDataFrame([("Hello   World",), ("hello world",)], ["text"])
    fps = [r.fp for r in a.select(TX.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_simhash_rejects_unguaranteed_hamming(spark):
    import pytest
    from revtron_utils_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="Hamming"):
        simhash_pairs(df, max_hamming=5)


def test_neardup_string_ids_fall_back_to_expression_path(spark):
    from revtron_utils_spark.operators.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01]), ("c", [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    pairs = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert pairs == {("a", "b")}


def test_neardup_lsh_empty_input(spark):
    from pyspark.sql import types as T
    from revtron_utils_spark.operators.dedup import embedding_neardup_pairs

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert embedding_neardup_pairs(empty, lsh_planes=4).count() == 0


def test_empty_documents_tokenize_to_zero(spark):
    from pyspark.sql import functions as F
    from revtron_utils_spark.functions.text import simhash64, token_count, tokens

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one two")], ["id", "text"])
    got = {
        r.id: (r.n, r.sh)
        for r in df.select(
            "id", token_count("text").alias("n"), simhash64("text").alias("sh")
        ).collect()
    }
    assert got[1][0] == 0 and got[2][0] == 0 and got[3][0] == 2
    # empty docs get the all-zero simhash, not a shared phantom-token hash
    assert got[1][1] == 0 and got[2][1] == 0


def test_wav_roundtrip_and_stereo_downmix():
    import struct as st

    import numpy as np

    from revtron_utils_spark.multimodal import decode_wav, encode_wav, synth_audio

    s = synth_audio(7, n_samples=1500, rate=4000)
    got, rate = decode_wav(encode_wav(s, 4000))
    assert rate == 4000 and len(got) == 1500
    assert float(np.abs(got - s).max()) < 1.0 / 32768 + 1e-9  # 16-bit quantization

    # stereo L = -R downmixes to (near) silence
    pcm = np.clip(np.stack([s, -s], axis=1) * 32768, -32768, 32767).astype("<i2").tobytes()
    hdr = st.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16, 1, 2, 4000, 4000 * 4, 4, 16,
        b"data", len(pcm),
    )
    mono, _ = decode_wav(hdr + pcm)
    assert float(np.abs(mono).max()) <= 1.0 / 32768 + 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"OggS....")


def test_audio_stats_real_signal(spark):
    import numpy as np

    from revtron_utils_spark.multimodal import (
        attach_audio_payload,
        audio_stats,
        synth_audio,
    )

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    rows = {r.doc_id: r for r in audio_stats(attach_audio_payload(ids)).collect()}
    assert len(rows) == 8
    for i in range(8):
        s = synth_audio(i)
        r = rows[i]
        assert r.sample_rate == 8000 and r.n_samples == 2000
        assert abs(r.duration_s - 0.25) < 1e-12
        # 0.5-amplitude sine: RMS ~ 0.5/sqrt(2), peak ~ 0.5
        assert abs(r.rms - float(np.sqrt(np.mean(s**2)))) < 1e-3
        assert abs(r.peak - 0.5) < 0.01
        # zero-crossing rate tracks 2*f/rate for a tone of frequency f
        freq = 200.0 + (i % 32) * 25.0
        assert abs(r.zero_cross_rate - 2 * freq / 8000) < 0.02


def test_hashed_tf_embedding_properties(spark):
    import math

    from revtron_utils_spark.functions.vectors import cosine, hashed_tf_embedding

    df = spark.createDataFrame(
        [
            (1, "spark join stream spark"),
            (2, "spark join stream table"),
            (3, "Spark JOIN stream spark"),  # case-insensitive == doc 1
            (4, "entirely unrelated vocabulary tokens"),
            (5, ""),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["e"] for r in df.select("id", hashed_tf_embedding("text", 32).alias("e")).collect()}
    for i in (1, 2, 3, 4):
        assert abs(math.sqrt(sum(v * v for v in out[i])) - 1.0) < 1e-9
    assert out[5] == [0.0] * 32  # empty doc: zero vector, not NaN
    assert out[1] == out[3]  # case-insensitive hashing
    nonzero = df.filter("id < 5")  # plain cosine divides by the norm; the
    # empty doc's zero vector would raise under ANSI — real callers go
    # through embedding_neardup_pairs, which guards zero norms
    sims = {
        (r["a"], r["b"]): r["c"]
        for r in nonzero.select("id", hashed_tf_embedding("text", 32).alias("e"))
        .alias("x")
        .crossJoin(nonzero.select("id", hashed_tf_embedding("text", 32).alias("e")).alias("y"))
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"), cosine("x.e", "y.e").alias("c"))
        .collect()
    }
    assert sims[(1, 2)] > 0.85            # near-dup text -> high cosine
    assert abs(sims[(1, 4)]) < 0.35       # unrelated -> low (hash collisions only)


def test_spread_if_narrow_spreads_small_scans_only(spark):
    """The r13 narrow-scan spread: a small parquet scan (one split)
    round-robins to defaultParallelism partitions; the helper never
    changes rows, and a frame whose estimated splits already cover the
    cluster is returned untouched."""
    import tempfile

    from revtron_utils_spark.operators.dedup import _spread_if_narrow

    par = spark.sparkContext.defaultParallelism
    with tempfile.TemporaryDirectory() as d:
        spark.range(1000).selectExpr("id", "id * 2 AS v").write.mode(
            "overwrite"
        ).parquet(d)
        df = spark.read.parquet(d)
        out = _spread_if_narrow(df)
        assert out.rdd.getNumPartitions() == par
        assert sorted(r["id"] for r in out.collect()) == list(range(1000))
    # in-memory relation: not a file scan -> returned as is (a range
    # already has defaultParallelism partitions)
    mem = spark.range(10).toDF("id")
    assert _spread_if_narrow(mem).rdd.getNumPartitions() == par


def test_spread_if_narrow_passes_shuffled_and_in_memory_frames_through(spark, tmp_path):
    """Only a leaf file scan spreads: a frame that is already shuffled,
    or lists no input files, gains no round-robin Exchange."""
    from revtron_utils_spark.operators.dedup import _spread_if_narrow

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    # a private one-file table: a shared fixture frame may be cached by
    # another test, and a cached plan is no longer a file scan
    spark.range(100).selectExpr(
        "id AS doc_id", "cast(id % 3 AS string) AS lang", "'a b c' AS text"
    ).coalesce(1).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    for df in (
        docs.repartition(3, "lang"),
        docs.groupBy("lang").count(),
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
    ):
        out = _spread_if_narrow(df)
        assert out is df
        assert exchanges(out) == exchanges(df)
    # the narrow leaf scan itself (one file, projections on top) spreads
    narrow = docs.select("doc_id", "text").filter("doc_id >= 0")
    assert exchanges(_spread_if_narrow(narrow)) == exchanges(narrow) + 1


def test_spread_if_narrow_looks_through_cached_scans(spark, tmp_path):
    """A cached one-file scan still holds one split: the spread looks
    through the InMemoryRelation to the scan it caches and adds exactly
    one round-robin Exchange. A cached shuffled frame gains none. The
    sizing runs no Spark job."""
    from revtron_utils_spark.operators.dedup import _spread_if_narrow

    def round_robins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("RoundRobinPartitioning")

    spark.range(100).selectExpr("id AS doc_id", "'a b c' AS text").coalesce(
        1
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    cached = docs.cache()
    shuffled = docs.repartition(3, "text").cache()
    sc = spark.sparkContext
    group = "spread-cached-scan"
    try:
        narrow = cached.select("doc_id", "text")
        wide = shuffled.select("doc_id", "text")
        sc.setJobGroup(group, group)
        try:
            out_narrow, out_wide = _spread_if_narrow(narrow), _spread_if_narrow(wide)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not sc.statusTracker().getJobIdsForGroup(group)
        assert round_robins(out_narrow) == round_robins(narrow) + 1
        assert out_wide is wide
        assert round_robins(out_wide) == round_robins(wide)
        assert sorted(r.doc_id for r in out_narrow.collect()) == list(range(100))
    finally:
        cached.unpersist()
        shuffled.unpersist()


def test_hashed_tf_embedding_l2_matches_counts_over_norm(spark):
    """The r13 let-binding rewrite of the L2 normalization (single-pass
    counts + norm instead of re-evaluating the counts aggregate inside
    the per-element division lambda) must stay BIT-identical to the
    naive counts/norm arithmetic."""
    import math

    from revtron_utils_spark.functions.vectors import hashed_tf_embedding

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha delta epsilon beta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, ""),
            (4, "solo"),
        ],
        "id long, text string",
    )
    for fam in ("xxhash", "poly"):
        rows = df.select(
            "id",
            hashed_tf_embedding("text", 16, hash_family=fam).alias("e"),
            hashed_tf_embedding(
                "text", 16, l2_normalize=False, hash_family=fam
            ).alias("c"),
        ).collect()
        for r in rows:
            nrm = math.sqrt(sum(v * v for v in r["c"]))
            expect = [v / nrm for v in r["c"]] if nrm > 0 else list(r["c"])
            # bit-exact: same counts, one sqrt, one division per element
            assert r["e"] == expect, (fam, r["id"])


def test_text_neardup_hashed_end_to_end(spark):
    from revtron_utils_spark.functions.vectors import hashed_tf_embedding
    from revtron_utils_spark.operators.dedup import embedding_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base), (2, base + " extra"), (3, "completely different text about spark shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = df.select("doc_id", hashed_tf_embedding("text", 64).alias("embedding"))
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb, vec_col="embedding", id_col="doc_id", threshold=0.9
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_poly_finds_planted_near_dups(docs):
    planted = _with_near_copies(docs)
    pairs = DD.minhash_poly_pairs(planted, "text", "doc_id", jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(r.doc_id, r.doc_id + 100000) for r in docs.collect()}
    recall = len(found & want) / len(want)
    assert recall > 0.9, f"poly minhash recall {recall}"
    assert pairs.agg(F.min("jaccard")).first()[0] >= 0.5


def test_minhash_poly_deterministic_and_exact_jaccard(docs):
    planted = _with_near_copies(docs).limit(40)
    p1 = sorted(map(tuple, DD.minhash_poly_pairs(planted, "text", "doc_id").collect()))
    p2 = sorted(map(tuple, DD.minhash_poly_pairs(planted, "text", "doc_id").collect()))
    assert p1 == p2
    sh = {
        r.doc_id: set(r.s)
        for r in planted.select(
            "doc_id", F.array_distinct(TX.word_ngrams("text", 3)).alias("s")
        ).collect()
    }
    for (id_a, id_b, jac) in p1[:20]:
        a, b = sh[id_a], sh[id_b]
        assert abs(jac - len(a & b) / len(a | b)) < 1e-6


def test_simhash_poly_pairs_plants_and_verifies(docs):
    planted = _with_near_copies(docs)
    pairs = DD.simhash_poly_pairs(planted, "text", "doc_id", max_hamming=3)
    rows = pairs.collect()
    found = {(r.id_a, r.id_b) for r in rows}
    want = {(r.doc_id, r.doc_id + 100000) for r in docs.collect()}
    recall = len(found & want) / len(want)
    assert recall > 0.5, f"simhash poly recall {recall}"
    assert all(0 <= r.hamming <= 3 for r in rows)
    # determinism
    rows2 = DD.simhash_poly_pairs(planted, "text", "doc_id", max_hamming=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_minhash_poly_arrow_expr_parity(docs):
    sub = docs.limit(120)
    a = sorted(map(tuple, DD.minhash_poly_pairs(sub, impl="arrow").collect()))
    e = sorted(map(tuple, DD.minhash_poly_pairs(sub, impl="expr").collect()))
    assert a == e


def test_simhash_poly_arrow_expr_parity(docs):
    sub = docs.limit(120)
    a = sorted(map(tuple, DD.simhash_poly_pairs(sub, impl="arrow").collect()))
    e = sorted(map(tuple, DD.simhash_poly_pairs(sub, impl="expr").collect()))
    assert a == e


def test_resize_images_real_pixels(spark):
    import numpy as np

    from revtron_utils_spark import multimodal as MM

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    resized = MM.resize_images(MM.attach_image_payload(docs), 8, 8)
    rows = {r.doc_id: r for r in resized.collect()}
    for i in range(5):
        r = rows[i]
        assert (r.width, r.height) == (8, 8)
        px = MM.decode_image(bytes(r.payload))
        want = MM.synth_image(i, 16, 16)[::2, ::2, :]
        assert np.array_equal(px, want), f"doc {i}"
    # undecodable payload degrades to null, not a task failure
    import pyspark.sql.functions as F
    bad = MM.attach_image_payload(docs.limit(1)).withColumn(
        "payload", F.lit(b"not a bmp")
    )
    out = MM.resize_images(bad, 8, 8).collect()
    assert out[0].payload is None and out[0].width is None


def test_simhash_poly_bits_not_degenerate(spark):
    """Regression: with a small affine multiplier the re-hash rarely
    wrapped the modulus, so every token's bit pattern was constant
    (parity(h)) and the whole corpus collapsed into two simhash
    buckets — single-char-token docs all hashed to 0. The large-mult
    family must spread bits."""
    rows = [(i, " ".join(chr(97 + (i + j) % 26) for j in range(6))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = [r.sh for r in df.select(DD.simhash_poly("text").alias("sh")).collect()]
    assert 0 not in hashes
    assert len(set(hashes)) > 15  # distinct docs ⇒ distinct-ish hashes
    # bit occupancy: across docs, many different bits must be set
    seen_bits = set()
    for h in hashes:
        seen_bits |= {i for i in range(60) if (h >> i) & 1}
    assert len(seen_bits) > 30


def test_minhash_poly_permutations_decorrelated(spark):
    """Regression: permutation a_i = 2i+1 never wraps for i=0 (identity)
    and rarely for small i, so all signature rows ranked shingles almost
    identically and banding degenerated. With the large multiplier,
    different permutations must pick different argmin shingles."""
    import numpy as np

    P = DD.POLY_MOD
    # emulate the arrow path directly: 200 random-ish shingle hashes
    rng = np.random.default_rng(7)
    h = rng.integers(1, P, size=200, dtype=np.int64)
    A = ((np.arange(32, dtype=np.int64)[:, None] * 2 + 1) * 2654435761) % P
    B = (np.arange(32, dtype=np.int64)[:, None] ** 2) * 9176 + 11
    argmins = ((A * h + B) % P).argmin(axis=1)
    assert len(set(argmins.tolist())) > 16, "permutations pick the same shingle"


def test_zero_norm_embeddings_do_not_crash(spark):
    # zero-norm vectors (all elements quantize to 0) have undefined
    # cosine; every JVM-side cosine path must yield NULL (kept out of
    # thresholds/rankings) instead of raising ANSI DIVIDE_BY_ZERO
    from revtron_utils_spark.operators.dedup import embedding_neardup_pairs
    from revtron_utils_spark.operators.semdedup import semantic_dedup
    from revtron_utils_spark.operators.similarity import cosine_topk, knn_join

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1]), (4, [1e-9, 0.0])],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk(df, [1.0, 0.0], k=10).collect()
    real = [r for r in top if r.cosine is not None]
    assert {r.vec_id for r in real} == {1, 3}
    pairs = embedding_neardup_pairs(df, threshold=0.5).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 3)}
    kn = knn_join(df, df, k=2).collect()
    assert kn  # no crash; zero-norm rows rank after real scores
    sd = semantic_dedup(df, threshold=0.5, planes=2)
    assert sd.count() == 4  # every row labeled, none dropped by NULL sim


# ----------------------------------------------------------- hot-bucket cap


@pytest.fixture(scope="module")
def clone_corpus(spark):
    """10k byte-identical docs (one degenerate LSH bucket per band) plus
    one genuinely near-duplicate pair in its own cold bucket."""
    boiler = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("lorem ipsum dolor sit amet consectetur adipiscing elit").alias("text"),
    )
    pair = spark.createDataFrame(
        [
            (100_001, "the quick brown fox jumps over the lazy dog tonight"),
            (100_002, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    return boiler.unionByName(pair)


def test_hot_bucket_drop_bounds_clone_pairs(clone_corpus):
    # uncapped this would materialize ~5e7 candidate pairs per band; the
    # cap must remove the degenerate bucket while the cold near-dup pair
    # in an untouched bucket is still found (recall loss is confined to
    # the hot buckets)
    pairs = DD.minhash_lsh_pairs(
        clone_corpus, "text", "doc_id", jaccard_threshold=0.3, max_bucket=100
    ).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (100_001, 100_002)


def test_hot_bucket_sample_keeps_bounded_representatives(clone_corpus):
    # sample mode retains the max_bucket smallest ids per hot bucket, so
    # the clone class still yields exactly C(8,2) hub pairs (enough for
    # connected-components to collapse it) plus the cold pair
    pairs = DD.minhash_lsh_pairs(
        clone_corpus,
        "text",
        "doc_id",
        jaccard_threshold=0.3,
        max_bucket=8,
        hot_bucket_mode="sample",
    ).collect()
    clone_pairs = [p for p in pairs if p["id_b"] <= 10_000]
    assert len(clone_pairs) == 8 * 7 // 2
    assert {p["id_a"] for p in clone_pairs} | {p["id_b"] for p in clone_pairs} == set(
        range(8)
    )
    assert any((p["id_a"], p["id_b"]) == (100_001, 100_002) for p in pairs)


def test_hot_bucket_cap_poly_family(clone_corpus):
    pairs = DD.minhash_poly_pairs(
        clone_corpus, "text", "doc_id", jaccard_threshold=0.3, max_bucket=100
    ).collect()
    assert len(pairs) == 1


def test_ngram_max_df_only_shrinks_jaccard(docs):
    planted = _with_near_copies(docs.limit(40))
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(planted, threshold=0.1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(planted, threshold=0.1, max_df=3).collect()
    }
    # df-cap drops postings only: intersections (and thus jaccard) can
    # only shrink — no new pairs, no inflated scores
    assert set(capped) <= set(exact)
    assert all(capped[k] <= exact[k] + 1e-9 for k in capped)


def test_dedup_index_probe_hot_bucket_cap(spark, clone_corpus):
    from revtron_utils_spark.operators import dedup_index as DI

    corpus = clone_corpus.filter(F.col("doc_id") < 100_000)
    postings, features = DI.build_minhash_index(corpus)
    postings = postings.cache()
    features = features.cache()
    new_batch = spark.createDataFrame(
        [(200_001, "lorem ipsum dolor sit amet consectetur adipiscing elit")],
        "doc_id long, text string",
    )
    capped = DI.probe_minhash_index(
        new_batch, postings, features, jaccard_threshold=0.5, max_bucket=16,
        hot_bucket_mode="sample",
    )
    # the new clone meets only the 16 retained representatives, not all 10k
    assert capped.count() == 16
    dropped = DI.probe_minhash_index(
        new_batch, postings, features, jaccard_threshold=0.5, max_bucket=16
    )
    assert dropped.count() == 0


def test_paragraph_dedup_keeps_global_first(spark):
    df = spark.createDataFrame(
        [
            (1, "unique alpha text\nshared boiler line\nmore unique words"),
            (2, "second doc opening\nShared  BOILER   line\nanother tail here"),
            (3, "shared boiler line"),  # all paragraphs are dups -> doc vanishes
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in DD.paragraph_dedup(df).collect()}
    # doc 1 keeps everything (first occurrence of the boiler)
    assert out[1] == "unique alpha text\nshared boiler line\nmore unique words"
    # doc 2 loses the boiler despite different case/whitespace (normalized key)
    assert out[2] == "second doc opening\nanother tail here"
    # doc 3 had nothing left
    assert 3 not in out


def test_paragraph_dedup_drops_blank_lines(spark):
    df = spark.createDataFrame(
        [(1, "first real line\n\n   \nsecond real line")], "doc_id long, text string"
    )
    out = DD.paragraph_dedup(df).collect()[0]["text"]
    assert out == "first real line\nsecond real line"


def test_paragraph_dedup_literal_separator(spark):
    # sep is a LITERAL, not a regex: '|' must not shred the text
    df = spark.createDataFrame(
        [(1, "alpha beta gamma|shared chunk here|delta words three"),
         (2, "shared chunk here|other unique tail")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in DD.paragraph_dedup(df, sep="|").collect()}
    assert out[1] == "alpha beta gamma|shared chunk here|delta words three"
    assert out[2] == "other unique tail"


def test_embedding_outliers_finds_planted_outlier(spark):
    """A vector far from its label's cluster ranks first; dist2 is the
    true squared distance to the leave-nothing-out centroid."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(0.5, 0.01, 8)], 0) for i in range(20)]
    rows.append((99, [float(5.0)] * 8, 0))  # planted far-out vector
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")
    out = SIM.embedding_outliers(df, top_k=3, scale=1000).collect()
    assert out[0].vec_id == 99 and out[0].rank == 1
    # exact check against numpy at the same quantization
    q = np.array([[round(v * 1000) for v in r[1]] for r in rows], dtype=np.int64)
    cent = q.mean(axis=0)
    d2 = ((q - cent) ** 2).sum(axis=1) / 1_000_000
    assert abs(out[0].dist2 - d2[-1]) < 1e-3
    assert len(out) == 3 and [r.rank for r in out] == [1, 2, 3]


def test_ngram_join_cross_corpus(spark):
    """R-S join: an eval doc contained in a training doc is found with
    containment_left ≈ 1; unrelated pairs never materialize."""
    train = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, "nothing in common at all here")],
        "doc_id: long, text: string",
    )
    evals = spark.createDataFrame(
        [(10, " ".join(f"w{i}" for i in range(15))), (11, "some fully disjoint query text")],
        "doc_id: long, text: string",
    )
    rows = DD.ngram_join_pairs(
        evals, train, threshold=0.9, measure="containment_left"
    ).collect()
    assert {(r.id_l, r.id_r) for r in rows} == {(10, 1)}
    assert rows[0].containment_l == 1.0 and rows[0].jaccard < 0.2


def test_ngram_join_measure_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c d")], "doc_id: long, text: string")
    with _pytest.raises(ValueError, match="measure"):
        DD.ngram_join_pairs(df, df, measure="nope")


def test_neardup_lsh_poly_matches_oracle(spark, sf_dir):
    """The round-9 poly-plane LSH gate: the full banded pipeline —
    deterministic integer hyperplanes, sign bits, 10×6 band keys,
    candidate set, exact quantized cosine — must agree PAIR-FOR-PAIR
    (and value-for-value) with the DuckDB oracle that regenerates the
    planes from the four poly literals."""
    import duckdb

    import __spark_entry__ as entry

    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in entry.queries()["cosine_neardup_lsh_poly"](
            spark, sf_dir
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(entry.SQL_COSINE_NEARDUP_LSH_POLY).fetchall()
    )
    assert got == want
    # poly LSH is a subset of the exact pair set (recall < 1 by design)
    exact = {
        (r.id_a, r.id_b)
        for r in entry.queries()["cosine_neardup"](spark, sf_dir).collect()
    }
    assert {(a, b) for a, b, _ in got} <= exact
