"""Training-data pipeline operators: dedup, similarity, text stats, multimodal."""

import pytest
from pyspark.sql import functions as F

from dq_suite_amsterdam_spark.operators.dedup import (
    drop_exact_duplicates,
    exact_duplicate_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
from dq_suite_amsterdam_spark.operators.multimodal import (
    build_fake_media_df,
    extract_media_features,
    frame_sample_plan,
)
from dq_suite_amsterdam_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    embedding_near_duplicates,
)
from dq_suite_amsterdam_spark.operators.textstats import add_text_stats

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE + " extra tail words here"),  # near dup of 0
        (3, "completely different content about spark dataframes and shuffles"),
        (4, "der hund und die katze sind nicht im haus für heute"),
        (5, "  THE   quick brown fox jumps over the lazy dog and runs far away today "),  # normalized dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 3  # 0, 1, 5 normalize identically
    kept = drop_exact_duplicates(docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 2, 3, 4]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = minhash_lsh_candidates(docs, jaccard_threshold=0.4).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found and (0, 5) in found  # exact dups -> jaccard 1.0
    assert (0, 2) in found or (1, 2) in found  # near dup caught
    assert not any(3 in p for p in found)  # unrelated doc never pairs


def test_ngram_jaccard_exact(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 5)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_ngram_jaccard_stop_shingle_sizes_post_filter(spark):
    """Identical docs sharing a FREQUENT (dropped) shingle must still score
    1.0: sizes are computed from the post-filter shingle set, not pre-filter
    (pre-filter sizes biased the score low)."""
    frequent = "zzzzzzzz"
    rows = [(i, frequent + f" unique body number {i} padded out to shingle length")
            for i in range(5)]
    rows += [(100, frequent + " identical twin document body content"),
             (101, frequent + " identical twin document body content")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, k=8, threshold=0.99, max_doc_freq=2).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(100, 101, 1.0)]


def test_simhash_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_duplicates(docs, max_hamming=6).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_simhash_degenerate_corpus_bounded(spark):
    """An all-identical corpus collapses every doc into ONE slice block per
    table — without the max_block_size guard that is O(n^2) candidate
    pairs. The guard drops over-cap blocks, so candidates stay bounded
    (here: zero; exact_duplicates is the right tool for identical text)."""
    n = 500
    rows = [(i, "the same boilerplate header text in every file") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = simhash_near_duplicates(df, max_block_size=100).collect()
    assert capped == []  # blocks of 500 > cap 100 -> dropped, not n^2 pairs
    # under the cap the pairs DO come back (the guard only drops hot blocks)
    small = spark.createDataFrame(rows[:10], "doc_id long, text string")
    assert len(simhash_near_duplicates(small, max_block_size=100).collect()) == 45


@pytest.fixture(scope="module")
def embeddings(spark):
    import math

    def vec(seed, dim=16):
        vals = [math.sin(seed * 7.3 + i * 1.7) for i in range(dim)]
        return vals

    rows = [(i, vec(i)) for i in range(20)]
    rows.append((100, [v * 1.001 for v in vec(3)]))  # near-dup of vec 3
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk(spark, embeddings):
    query = embeddings.filter("vec_id = 3").first()["embedding"]
    top = cosine_topk(embeddings, query, k=3).collect()
    assert top[0]["vec_id"] in (3, 100) and top[1]["vec_id"] in (3, 100)
    assert top[0]["cosine"] >= 0.999999


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
@pytest.mark.parametrize("search", ["cosine_topk", "ann_topk_lsh", "ann_topk_ivf"])
def test_non_finite_query_vector_rejected(spark, embeddings, tmp_path, search, bad):
    """A NaN/Inf query entry is a clear ValueError at call time, not a SQL
    ParseException from the rendered literal."""
    from dq_suite_amsterdam_spark.operators import similarity

    query = list(embeddings.first()["embedding"])
    query[1] = bad
    with pytest.raises(ValueError, match="query_vector"):
        if search == "ann_topk_ivf":
            centroids = [[0.0] * len(query)]
            similarity.ann_topk_ivf(spark, str(tmp_path), query, centroids=centroids)
        else:
            getattr(similarity, search)(embeddings, query, k=3)


def test_ann_lsh_matches_brute_force_top1(spark, embeddings):
    query = embeddings.filter("vec_id = 3").first()["embedding"]
    ann = ann_topk_lsh(embeddings, query, k=3, n_planes=6).collect()
    assert ann and ann[0]["vec_id"] in (3, 100)


def test_embedding_near_duplicates(spark, embeddings):
    pairs = embedding_near_duplicates(embeddings, cosine_threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 100)}


def test_embedding_neardup_hot_bucket_bounded(spark):
    """One tight embedding cluster puts every vector in the same SRP bucket
    — the max_bucket_size guard bounds the candidate blowup (real embedding
    spaces are clustered; this is the degenerate limit)."""
    base = [1.0] + [0.0] * 15
    rows = [(i, [v + i * 1e-6 for v in base]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = embedding_near_duplicates(
        df, cosine_threshold=0.99, n_planes=8, max_bucket_size=50
    ).collect()
    assert capped == []  # 300-vector bucket > cap 50 -> dropped, not 300^2/2
    # persisted_frames hook releases the cached vector projection
    frames = []
    small = spark.createDataFrame(rows[:10], "vec_id long, embedding array<double>")
    out = embedding_near_duplicates(
        df=small, cosine_threshold=0.99, n_planes=8, persisted_frames=frames
    ).collect()
    assert len(out) == 45 and len(frames) == 1
    for f in frames:
        f.unpersist()


def test_embedding_near_duplicates_multi_seed_recall(spark, embeddings):
    """Unioning plane seeds only ADDS candidates (recall grows monotonically;
    precision stays exact via the cosine verify)."""

    def pair_set(n_seeds):
        rows = embedding_near_duplicates(
            embeddings, cosine_threshold=0.5, n_planes=10, n_seeds=n_seeds
        ).collect()
        return {(r["id_a"], r["id_b"]) for r in rows}

    one, three = pair_set(1), pair_set(3)
    assert one <= three
    assert (3, 100) in one  # the planted near-dup always collides


def test_text_stats(spark, docs):
    out = add_text_stats(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_tokens"] == 14
    assert by_id[0]["lang_pred"] == "en"
    assert by_id[4]["lang_pred"] in ("de", "nl")
    assert by_id[0]["fingerprint"] == by_id[5]["fingerprint"]  # normalization
    assert 0.0 <= by_id[0]["quality_score"] <= 1.0
    assert by_id[0]["n_subword_tokens"] > 0


def test_multimodal_plumbing(spark):
    media = build_fake_media_df(spark, 30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["n_bytes"] == 32 for r in feats)  # sha256 payloads
    # determinism of the fake decoder
    feats2 = extract_media_features(media.repartition(7)).collect()
    assert {r["media_id"]: r["content_sha"] for r in feats} == {
        r["media_id"]: r["content_sha"] for r in feats2
    }
    frames = frame_sample_plan(media, every_ms=1000)
    vid = media.filter("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == vid


def test_decode_stub_raises_without_fake():
    from dq_suite_amsterdam_spark.operators.multimodal import decode_image_stub

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes")


def test_codec_decode_gated_cleanly():
    """Without pillow, a codec payload (PNG magic) raises the declared
    NotImplementedError through decode_image — never a crash deeper in."""
    import importlib.util

    from dq_suite_amsterdam_spark.operators.multimodal import decode_image

    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("pillow present; covered by test_codec_decode_with_pil")
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(b"\x89PNG\r\n\x1a\nnotarealpng")


def test_codec_decode_with_pil():
    """When pillow IS importable (not in this sandbox; runs on richer envs)
    the SAME decode_image kernel handles codec formats: encode a solid
    color PNG with PIL and check the means come back exactly."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from dq_suite_amsterdam_spark.operators.multimodal import decode_image

    buf = io.BytesIO()
    Image.new("RGB", (10, 4), color=(7, 130, 201)).save(buf, format="PNG")
    w, h, _aspect, r, g, b, std, _lum = decode_image(buf.getvalue())
    assert (w, h) == (10.0, 4.0)
    assert (round(r), round(g), round(b)) == (7, 130, 201)
    assert std >= 0.0


def test_portable_hash_cross_engine_parity(spark):
    """The md5-prefix 60-bit hash must be bit-identical in Spark and DuckDB
    (it underpins the oracle-checkable simhash/minhash variants)."""
    duckdb = pytest.importorskip("duckdb")
    from dq_suite_amsterdam_spark.functions.portable_hash import portable_hash64_col

    words = ["hello", "", "Ünïcôdé", "a b c", "0"]
    got = {
        r["w"]: r["h"]
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", portable_hash64_col(F.col("w")).alias("h"))
        .collect()
    }
    for w in words:
        expect = duckdb.sql(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[w]
        ).fetchone()[0]
        assert got[w] == expect, w


def test_minhash_md5_family_finds_same_dups(spark, docs):
    """The portable md5 family is a different hash but the same algorithm:
    exact duplicates still estimate jaccard 1.0 and unrelated docs stay
    unpaired."""
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(
            docs, jaccard_threshold=0.4, n_hashes=16, bands=8, hash_family="md5"
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 5)] == 1.0
    assert not any(3 in p for p in pairs)


def test_simhash_md5_family(spark, docs):
    sigs = {
        r["id"]: r["sig"]
        for r in simhash_signatures(docs, n_bits=48, hash_family="md5").collect()
    }
    assert sigs[0] == sigs[1]  # exact dups -> identical signature
    assert all(0 <= s < (1 << 48) for s in sigs.values())


def test_srp_persisted_index(spark, embeddings, tmp_path):
    """Persisted SRP index: query is a partition-pruned read (PartitionFilters
    on the bucket column), and agrees with the scan-time ANN on the top hit."""
    from dq_suite_amsterdam_spark.operators.similarity import (
        ann_topk_srp_indexed,
        build_srp_index,
    )
    from dq_suite_amsterdam_spark.plans import formatted_plan

    idx = str(tmp_path / "srp_idx")
    build_srp_index(embeddings, idx, n_planes=6)
    query = embeddings.filter("vec_id = 3").first()["embedding"]
    top = ann_topk_srp_indexed(spark, idx, query, k=3, n_planes=6)
    plan = formatted_plan(top)
    assert "PartitionFilters" in plan and "bucket" in plan  # pruned read
    rows = top.collect()
    assert rows and rows[0]["vec_id"] in (3, 100)


def test_ivf_persisted_index(spark, embeddings, tmp_path):
    from dq_suite_amsterdam_spark.operators.similarity import (
        ann_topk_ivf,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf_idx")
    centroids = build_ivf_index(embeddings, idx, n_centroids=4, n_iters=2)
    assert len(centroids) == 4
    query = embeddings.filter("vec_id = 3").first()["embedding"]
    rows = ann_topk_ivf(spark, idx, query, k=3, n_probes=2).collect()
    assert rows and rows[0]["vec_id"] in (3, 100)
    # centroids round-trip from the index directory
    rows2 = ann_topk_ivf(spark, idx, query, k=3, n_probes=4, centroids=None).collect()
    assert rows2[0]["vec_id"] in (3, 100)


def test_ivf_kmeans_parallel_init(spark, embeddings, tmp_path):
    """k-means|| init: deterministic, spread (k distinct centroids), and the
    all-probes query still returns the exact top hit."""
    from dq_suite_amsterdam_spark.operators.similarity import (
        ann_topk_ivf,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf_pp")
    c1 = build_ivf_index(embeddings, idx, n_centroids=4, n_iters=2, init="kmeans||")
    c2 = build_ivf_index(embeddings, idx, n_centroids=4, n_iters=2, init="kmeans||")
    assert c1 == c2  # partition-independent deterministic sampling
    assert len({tuple(c) for c in c1}) == 4
    query = embeddings.filter("vec_id = 3").first()["embedding"]
    rows = ann_topk_ivf(spark, idx, query, k=3, n_probes=4).collect()
    assert rows and rows[0]["vec_id"] in (3, 100)


def test_nearest_centroid_assignment_is_shuffle_free(spark, embeddings):
    """The IVF assignment must be a map-only projection — no Exchange in the
    plan (the pre-rewrite crossJoin+groupBy shape shuffled every vector)."""
    from dq_suite_amsterdam_spark.operators.similarity import nearest_centroid_col
    from dq_suite_amsterdam_spark.plans import formatted_plan

    cents = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.orderBy("vec_id").limit(3).collect()
    ]
    assigned = embeddings.select(
        "vec_id",
        nearest_centroid_col("cast(embedding as array<double>)", cents).alias("cid"),
    )
    plan = formatted_plan(assigned)
    assert "Exchange" not in plan and "Join" not in plan
    assert assigned.count() == embeddings.count()


def test_nearest_centroid_expr_vs_pandas_parity(spark, embeddings, monkeypatch):
    """The shuffle-free assignment has two kernels (Column expression for
    small quantizers, vectorized pandas UDF above the literal budget) —
    identical cid per row, including lowest-id tie-breaking."""
    import dq_suite_amsterdam_spark.operators.similarity as sim

    cent_rows = (
        embeddings.orderBy("vec_id").limit(5).select("embedding").collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    pts = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    expr_cids = {
        r["vec_id"]: r["cid"]
        for r in pts.withColumn(
            "cid", sim.nearest_centroid_col("v", centroids)
        ).collect()
    }
    monkeypatch.setattr(sim, "_EXPR_ASSIGN_MAX_LITERALS", 0)
    udf_cids = {
        r["vec_id"]: r["cid"]
        for r in pts.withColumn(
            "cid", sim.nearest_centroid_col("v", centroids)
        ).collect()
    }
    assert expr_cids == udf_cids
    assert set(expr_cids.values()) == set(range(5))  # each centroid owns itself


def test_solid_ppm_media_roundtrip(spark):
    """Distributed PPM generation -> Arrow binary -> real decoder: channel
    means equal the synthesis color exactly (the driver oracle's premise)."""
    from dq_suite_amsterdam_spark.operators.multimodal import (
        build_solid_ppm_media_df,
        decode_image,
        extract_media_features,
    )

    ids = spark.range(10, 20).withColumnRenamed("id", "k")
    media = build_solid_ppm_media_df(ids, "k")
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_media_features(media, decoder=decode_image).collect()
    }
    for k in range(10, 20):
        w, h = 8 + k % 8, 8 + k % 4
        assert feats[k][0] == w and feats[k][1] == h
        assert feats[k][3] == k % 256
        assert feats[k][4] == k * 7 % 256
        assert feats[k][5] == k * 13 % 256


def test_real_decoders_roundtrip():
    """Pure-numpy BMP/PPM/WAV decoders: encode -> decode -> exact pixels/
    samples and sane features (no codec libs involved)."""
    import numpy as np

    from dq_suite_amsterdam_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    w, h, decoded = decode_ppm(encode_ppm(img))
    assert (w, h) == (4, 5)
    assert (decoded == img).all()
    feats = decode_image(encode_ppm(img))
    assert feats[0] == 4.0 and feats[1] == 5.0
    assert abs(feats[3] - img[:, :, 0].mean()) < 1e-9

    t = np.linspace(0, 1, 8000, endpoint=False)
    wave = 0.5 * np.sin(2 * np.pi * 440 * t)
    rate, ch, samples = decode_wav(encode_wav(wave, 8000))
    assert (rate, ch) == (8000, 1)
    assert abs(samples.max() - 0.5) < 0.01
    af = decode_audio(encode_wav(wave, 8000))
    assert af[0] == 8000.0 and abs(af[2] - 1.0) < 0.01  # 1 second
    assert abs(af[3] - 0.3535) < 0.01  # RMS of 0.5 sine

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")


def test_real_decoder_in_mapinpandas(spark):
    """The real WAV decoder through the distributed mapInPandas kernel."""
    import numpy as np

    from dq_suite_amsterdam_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
        extract_media_features,
    )

    payloads = [
        (i, "audio", encode_wav(np.full(100 * (i + 1), 0.25), 8000))
        for i in range(6)
    ]
    df = spark.createDataFrame(payloads, "media_id long, kind string, payload binary")
    feats = {r["media_id"]: r for r in extract_media_features(df, decoder=decode_audio).collect()}
    assert len(feats) == 6
    # duration grows with payload length; RMS of constant 0.25 signal
    assert feats[5]["feature"][2] > feats[0]["feature"][2]
    assert abs(feats[0]["feature"][3] - 0.25) < 0.01


def test_ngram_containment_finds_embedded_doc(spark):
    """A short doc fully embedded in a long one has containment ~1.0 but
    tiny Jaccard — the near-superset case resemblance dedup misses."""
    from dq_suite_amsterdam_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog again and again"
    # diverse (non-repeating) filler so the long doc's DISTINCT shingle
    # set dwarfs the quote's — repetition would collapse the union
    pro = " ".join(f"prologue sentence number {i} about topic {i * 7}" for i in range(20))
    epi = " ".join(f"epilogue item {i} covering subject {i * 13}" for i in range(20))
    long_doc = pro + " " + quote + " " + epi
    df = spark.createDataFrame(
        [(1, long_doc), (2, quote), (3, "completely different content")],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, threshold=0.9, max_doc_freq=None
        ).collect()
    }
    assert cont.get((1, 2), 0) >= 0.99  # embedded: near-total containment
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.0001, max_doc_freq=None
        ).collect()
    }
    assert jac[(1, 2)] < 0.2  # same pair, resemblance metric misses it
