"""Dedup / similarity / text / multimodal operators."""

import numpy as np
import pandas as pd
import pytest

from powershap_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signature,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from powershap_spark.operators.multimodal import (
    attach_fake_media,
    decode_image,
    frame_sample,
    image_features,
)
from powershap_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from powershap_spark.operators.text import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup
        (2, "The  quick brown fox jumps over the lazy dog again and again ", "en"),  # ws/case dup
        (3, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
        (4, "completely different content about spark window functions here", "en"),
        (5, "der hund ist nicht ein katze und sie sind mit ihm", "de"),
        (6, "le chat est sur la table et je vous aime bien pas mal", "fr"),
        (7, "", "und"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "text", "doc_id").toPandas()
    ids = set(out.doc_id)
    assert 0 in ids and 1 not in ids and 2 not in ids  # 1,2 normalize-equal to 0
    assert {3, 4, 5, 6, 7} <= ids


def test_minhash_near_dup(spark, docs):
    out = minhash_dedup(
        docs, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5, shingle_n=2
    ).toPandas()
    ids = set(out.doc_id)
    assert 0 in ids
    assert 1 not in ids  # exact dup caught by minhash too
    assert 3 not in ids  # near dup (1 word of 12 changed)
    assert 4 in ids and 5 in ids


def test_minhash_estimates_jaccard(spark, docs):
    sigs = docs.select(
        "doc_id", minhash_signature(shingles("text", 2), 128).alias("minhash")
    )
    pairs = lsh_candidate_pairs(sigs, bands=32, num_hashes=128).toPandas()
    exact = {(0, 1): 1.0}
    row01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert len(row01) == 1 and row01.est_jaccard.iloc[0] == 1.0
    row03 = pairs[(pairs.id_a == 0) & (pairs.id_b == 3)]
    if len(row03):  # near-dup: estimate should be high but < 1
        assert 0.4 < row03.est_jaccard.iloc[0] < 1.0


def test_ngram_jaccard_pairs(spark, docs):
    out = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=2, join_on=["lang"]
    ).toPandas()
    j01 = out[(out.id_a == 0) & (out.id_b == 1)].jaccard.iloc[0]
    assert j01 == 1.0
    j03 = out[(out.id_a == 0) & (out.id_b == 3)].jaccard.iloc[0]
    assert 0.4 < j03 < 1.0


def test_simhash_near_equals(spark, docs):
    out = docs.select("doc_id", simhash("text").alias("h")).toPandas().set_index("doc_id").h
    assert out[0] == out[1]  # identical text -> identical simhash
    # near dup differs in few bits
    diff_bits = bin((int(out[0]) ^ int(out[3])) & (2**64 - 1)).count("1")
    assert diff_bits <= 16
    far_bits = bin((int(out[0]) ^ int(out[4])) & (2**64 - 1)).count("1")
    assert far_bits > diff_bits


def test_token_counts(spark, docs):
    out = docs.select("doc_id", token_count("text").alias("n"), bpe_ish_token_count("text").alias("b")).toPandas().set_index("doc_id")
    assert out.loc[0, "n"] == 12
    assert out.loc[7, "n"] == 0
    assert out.loc[0, "b"] == 12  # no punctuation/digits -> same as ws


def test_lang_id(spark, docs):
    out = docs.select("doc_id", lang_id("text").alias("l")).toPandas().set_index("doc_id").l
    assert out[0] == "en"
    assert out[5] == "de"
    assert out[6] == "fr"
    assert out[7] == "und"


def test_quality_score_bounds(spark, docs):
    out = docs.select(quality_score("text").alias("q")).toPandas().q
    assert ((out >= 0) & (out <= 1)).all()


def test_rolling_fingerprint_matches_python(spark, docs):
    out = docs.select("doc_id", "text", rolling_fingerprint("text").alias("f")).toPandas()
    for _, r in out.iterrows():
        h = 0
        for ch in r.text:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        assert r.f == h, r.doc_id


@pytest.fixture(scope="module")
def emb(spark):
    r = np.random.RandomState(6)
    vecs = r.randn(60, 16).astype(np.float64)
    pdf = pd.DataFrame({"vec_id": np.arange(60, dtype=np.int64), "embedding": list(map(list, vecs))})
    return spark.createDataFrame(pdf), vecs


def test_brute_force_topk_matches_numpy(spark, emb):
    sdf, vecs = emb
    queries = sdf.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(sdf, queries, k=4).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        exp = np.argsort(-sims[q], kind="stable")[:4]
        got = out[out.query_id == q].sort_values("rank").vec_id.values
        assert list(got) == list(exp)
        assert np.allclose(
            out[out.query_id == q].sort_values("rank").cosine.values,
            sims[q][exp],
            atol=1e-9,
        )


def test_lsh_topk_subset_of_bucket(spark, emb):
    sdf, vecs = emb
    queries = sdf.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(sdf, queries, k=4, n_planes=3).toPandas()
    # every query finds at least itself (cosine 1.0, same bucket trivially)
    for q in range(3):
        mine = out[(out.query_id == q) & (out.vec_id == q)]
        assert len(mine) == 1 and mine.cosine.iloc[0] == pytest.approx(1.0)
        assert (out[out.query_id == q]["rank"].values <= 4).all()


def _recall_vs_exact(out, vecs, k):
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    total = 0.0
    qids = sorted(out.query_id.unique())
    for q in qids:
        true_top = set(np.argsort(-sims[q])[:k].tolist())
        got = set(out[out.query_id == q].vec_id.tolist())
        total += len(got & true_top) / k
    return total / len(qids)


def test_lsh_topk_banded_self_hit_exact_rerank_and_recall_lift(spark, emb):
    """OR-construction: band b is seeded seed+b, so band 0 reproduces the
    single-band bucket — the banded candidate set is a SUPERSET of the
    single-band one and (with distinct cosines) recall@k vs the exact
    ground truth is monotone in n_bands."""
    sdf, vecs = emb
    queries = sdf.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    k = 6
    single = lsh_topk(sdf, queries, k=k, n_planes=6).toPandas()
    banded = lsh_topk(sdf, queries, k=k, n_planes=6, n_bands=6).toPandas()

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(5):
        mine = banded[(banded.query_id == q) & (banded.vec_id == q)]
        # identical vector collides in EVERY band -> guaranteed self-hit
        assert len(mine) == 1 and mine.cosine.iloc[0] == pytest.approx(1.0)
        grp = banded[banded.query_id == q].sort_values("rank")
        # exact rerank within candidates: cosines match numpy, sorted desc
        assert np.allclose(grp.cosine.values, sims[q][grp.vec_id.values], atol=1e-9)
        assert (np.diff(grp.cosine.values) <= 1e-12).all()

    r1 = _recall_vs_exact(single, vecs, k)
    rb = _recall_vs_exact(banded, vecs, k)
    assert rb >= r1  # superset candidates can never lose recall
    assert rb > r1  # and for this seeded corpus the lift is real


def test_lsh_topk_bands_one_matches_legacy_single_bucket(spark, emb):
    sdf, vecs = emb
    queries = sdf.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = (
        lsh_topk(sdf, queries, k=4, n_planes=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        lsh_topk(sdf, queries, k=4, n_planes=4, n_bands=1)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_multimodal_image_features(spark, docs):
    media = attach_fake_media(docs.select("doc_id"), "doc_id")
    out = image_features(media, fake=True).toPandas()
    assert len(out) == 8
    assert ((out.mean_intensity >= 0) & (out.mean_intensity <= 255)).all()
    # deterministic: re-run gives identical values
    out2 = image_features(media, fake=True).toPandas()
    assert np.allclose(
        out.sort_values("doc_id").mean_intensity, out2.sort_values("doc_id").mean_intensity
    )


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)


def test_frame_sample_expansion(spark, docs):
    media = attach_fake_media(docs.select("doc_id"), "doc_id")
    n_frames = media.toPandas().set_index("doc_id").n_frames
    out = frame_sample(media, every_k=5).toPandas()
    for d, grp in out.groupby("doc_id"):
        expected = int(np.ceil(n_frames[d] / 5))
        assert len(grp) == expected
        assert list(grp.frame_idx) == list(range(0, int(n_frames[d]), 5))


def test_frame_payload_little_endian(spark, docs):
    media = attach_fake_media(docs.select("doc_id").limit(3), "doc_id")
    raw = media.toPandas().set_index("doc_id").media
    out = frame_sample(media, every_k=5).toPandas()
    for _, r in out.iterrows():
        expected = bytes(raw[r.doc_id]) + int(r.frame_idx).to_bytes(4, "little")
        assert bytes(r.frame) == expected


def test_poly_hash_family_parity(spark, docs):
    """The oracle-replicable poly family keeps the dedup semantics: exact
    dups share signatures/fingerprints, near dups stay close."""
    sigs = (
        docs.select(
            "doc_id",
            minhash_signature(shingles("text", 2), 16, hash_family="poly").alias("m"),
        )
        .toPandas()
        .set_index("doc_id")
        .m
    )
    assert list(sigs[0]) == list(sigs[1])
    assert all(0 <= v < 1_000_000_007 for v in sigs[0])
    sh = (
        docs.select("doc_id", simhash("text", hash_family="poly").alias("h"))
        .toPandas()
        .set_index("doc_id")
        .h
    )
    assert sh[0] == sh[1]
    diff_bits = bin((int(sh[0]) ^ int(sh[3])) & (2**64 - 1)).count("1")
    far_bits = bin((int(sh[0]) ^ int(sh[4])) & (2**64 - 1)).count("1")
    assert diff_bits < far_bits


def test_minhash_dedup_poly_family(spark, docs):
    out = minhash_dedup(
        docs, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5,
        shingle_n=2, hash_family="poly",
    ).toPandas()
    ids = set(out.doc_id)
    assert 0 in ids and 1 not in ids and 3 not in ids
    assert 4 in ids and 5 in ids


def test_ivf_topk_self_hit_and_recall(spark, emb):
    from powershap_spark.operators.similarity import ivf_topk

    sdf, vecs = emb
    queries = sdf.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(sdf, queries, k=4, stride=15, nprobe=2).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        mine = out[(out.query_id == q) & (out.vec_id == q)]
        assert len(mine) == 1 and mine.cosine.iloc[0] == pytest.approx(1.0)
        # candidates are ranked by true cosine within the probed cells
        grp = out[out.query_id == q].sort_values("rank")
        got = grp.cosine.values
        assert (np.diff(got) <= 1e-12).all()
        assert np.allclose(got, sims[q][grp.vec_id.values], atol=1e-9)


def test_kmeans_centroids_matches_numpy_lloyd(spark, emb):
    """kmeans_centroids is deterministic: stride init, max-cosine assign
    (ties -> lowest cell), spherical component-mean update, empty cells
    keep their previous centroid. A numpy replica of the same algorithm
    must agree allclose after every iteration count."""
    from powershap_spark.operators.similarity import kmeans_centroids

    sdf, vecs = emb
    stride, n = 15, vecs.shape[0]

    def numpy_lloyd(n_iters):
        init_ids = [i for i in range(0, n, stride)]
        cmat = vecs[init_ids].astype(np.float64)
        cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
        normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        for _ in range(n_iters):
            sims = normed @ cmat.T
            assign = np.argmax(sims, axis=1)  # argmax ties -> lowest index
            for c in range(cmat.shape[0]):
                members = vecs[assign == c]
                if len(members) == 0:
                    continue
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    cmat[c] = m / nm
        return cmat

    for n_iters in (1, 3):
        got = kmeans_centroids(sdf, stride=stride, n_iters=n_iters)
        want = numpy_lloyd(n_iters)
        assert [c for c, _ in got] == list(range(want.shape[0]))
        assert np.allclose(
            np.asarray([v for _, v in got]), want, atol=1e-9
        ), f"mismatch at n_iters={n_iters}"


def test_ivf_topk_with_kmeans_centroids_exact_rerank(spark, emb):
    from powershap_spark.operators.similarity import ivf_topk, kmeans_centroids

    sdf, vecs = emb
    cents = kmeans_centroids(sdf, stride=15, n_iters=2)
    queries = sdf.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(sdf, queries, k=4, nprobe=2, centroids=cents).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        mine = out[(out.query_id == q) & (out.vec_id == q)]
        assert len(mine) == 1 and mine.cosine.iloc[0] == pytest.approx(1.0)
        grp = out[out.query_id == q].sort_values("rank")
        assert np.allclose(grp.cosine.values, sims[q][grp.vec_id.values], atol=1e-9)


def test_simhash_frame_matches_expression(spark):
    """Frame-level simhash (explode + codegen vote aggregate, r8) must be
    bit-identical to the per-row expression fold for both hash families,
    including null-text (NULL fingerprint) and empty-text docs."""
    from powershap_spark.operators.dedup import simhash, simhash_frame

    texts = [None, "", "alpha beta alpha", "beta  gamma\tdelta", "x"] + [
        f"tok{i % 7} tok{i % 5} tok{i}" for i in range(60)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    for fam in ("xxhash", "poly"):
        a = sorted(
            map(
                tuple,
                docs.select(
                    "doc_id", simhash("text", hash_family=fam).alias("simhash")
                ).collect(),
            )
        )
        b = sorted(map(tuple, simhash_frame(docs, hash_family=fam).collect()))
        assert a == b, fam


def test_band_buckets_matches_lsh_bucket_expression(spark):
    """The frame-level band_buckets (posexplode + codegen sum-aggregate,
    r8) must reproduce lsh_bucket's per-vector expression buckets
    bit-exactly for both hash families, including degenerate vectors
    (empty / null / null-element)."""
    from powershap_spark.operators.similarity import band_buckets, lsh_bucket

    rows = 200
    base = spark.range(rows).withColumnRenamed("id", "vec_id").withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (
                F.pmod(F.xxhash64("vec_id", i), F.lit(1000)).cast("double") / 500.0
                - 1.0
            ),
        ),
    )
    deg = spark.range(rows, rows + 3).withColumnRenamed("id", "vec_id").withColumn(
        "embedding",
        F.when(F.col("vec_id") == rows, F.array().cast("array<double>"))
        .when(F.col("vec_id") == rows + 1, F.lit(None).cast("array<double>"))
        .otherwise(F.array(F.lit(1.0), F.lit(None).cast("double"))),
    )
    emb = base.unionByName(deg)
    for fam in ("xxhash", "poly"):
        fr = band_buckets(emb, "vec_id", "embedding", 6, 3, 5, fam)
        ex = emb.select(
            F.col("vec_id").alias("__id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            lsh_bucket(
                                "embedding", 6, seed=5 + b, hash_family=fam
                            ).alias("bucket"),
                        )
                        for b in range(3)
                    ]
                )
            ).alias("band"),
        ).select("__id", "band.band_id", "band.bucket")
        a = sorted(map(tuple, fr.collect()))
        b = sorted(map(tuple, ex.collect()))
        assert a == b, fam


def test_embedding_cosine_dedup_drops_planted_near_dups(spark):
    from powershap_spark.operators.similarity import embedding_cosine_dedup

    r = np.random.RandomState(3)
    base = r.randn(20, 16)
    vecs = list(map(list, base))
    # plant near-dups: 20 = 0 + tiny noise, 21 = 5 scaled (cosine 1.0)
    vecs.append(list(base[0] + 1e-6 * r.randn(16)))
    vecs.append(list(2.5 * base[5]))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(22, dtype=np.int64), "embedding": vecs}
    )
    sdf = spark.createDataFrame(pdf)
    kept = set(
        embedding_cosine_dedup(sdf, threshold=0.99, n_planes=4)
        .toPandas()
        .vec_id
    )
    assert 0 in kept and 5 in kept
    assert 20 not in kept and 21 not in kept
    assert len(kept) >= 18  # random vectors survive


def test_cosine_candidate_pairs_linear_on_planted_corpus(spark):
    """VERDICT r3 'What's wrong' #1: candidate generation must stay ~linear
    in N on a spread-out corpus (the old 4-plane single bucket made the
    self-join O((N/16)^2)), while exact-dup pairs keep perfect recall
    (identical vectors collide in EVERY band)."""
    from powershap_spark.operators.similarity import cosine_candidate_pairs

    r = np.random.RandomState(7)
    n, dim, n_planted = 1200, 32, 15
    base = r.randn(n, dim)
    vecs = list(map(list, base)) + [
        list(2.0 * base[i]) for i in range(n_planted)  # exact-direction dups
    ]
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs), dtype=np.int64), "embedding": vecs}
    )
    sdf = spark.createDataFrame(pdf).repartition(4)
    pairs = cosine_candidate_pairs(sdf, n_planes=12, n_bands=4).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    # perfect recall on planted exact dups
    for i in range(n_planted):
        assert (i, n + i) in got
    # ~linear: with 2^12 buckets/band and N~1.2k, expected collisions per
    # band are << N; allow a generous linear constant but rule out the
    # quadratic regime (all-pairs would be ~740k)
    assert len(got) < 8 * len(vecs)


def test_frame_sample_zero_frames_yields_no_rows(spark):
    media = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "media": [b"aa", b"bb"], "n_frames": [0, 3]}
        )
    )
    out = frame_sample(media, every_k=2).toPandas()
    assert set(out.doc_id) == {2}
    assert list(out[out.doc_id == 2].frame_idx) == [0, 2]


def test_ivf_single_centroid_and_bad_family(spark, emb):
    from powershap_spark.operators.similarity import ivf_topk, lsh_topk

    sdf, _ = emb
    q = sdf.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # stride > max id -> exactly one centroid (vec_id 0); single cell
    out = ivf_topk(sdf, q, k=3, stride=1000, nprobe=1).toPandas()
    assert (out.groupby("query_id")["rank"].max() == 3).all()
    with pytest.raises(Exception):
        lsh_topk(sdf, q, k=3, hash_family="xxHash").toPandas()


def test_feature_matrix_numeric_object_column_preserved():
    from powershap_spark.kernel import _feature_matrix

    pdf = pd.DataFrame(
        {
            "a": pd.Series([3.7, 120.5, 3.7], dtype=object),
            "b": ["x", "y", "x"],
        }
    )
    m = _feature_matrix(pdf, ["a", "b"])
    assert list(m[:, 0]) == [3.7, 120.5, 3.7]  # numeric values kept
    assert m[0, 1] == m[2, 1] and m[0, 1] != m[1, 1]  # ordinal codes


def test_hashed_shingles_equivalent_to_string_shingles(spark, docs):
    """The integer hashed-shingle path (the xxhash scale formulation) must
    produce the same shingle-SET structure as string shingling: same count
    per doc, exact-dup docs get identical hash sets, and the minhash
    Jaccard estimate over hashed shingles matches the string-shingle one."""
    from powershap_spark.operators.dedup import hashed_shingles

    a = docs.select(
        "doc_id",
        F.size(shingles("text", 2)).alias("n_str"),
        F.size(hashed_shingles("text", 2)).alias("n_hash"),
        F.array_sort(hashed_shingles("text", 2)).alias("hs"),
    ).toPandas()
    # counts agree doc-by-doc (no collisions at this scale)
    assert (a.n_str == a.n_hash).all()
    # docs 0 and 1 are exact duplicates -> identical hashed-shingle sets
    h = {r.doc_id: tuple(r.hs) for r in a.itertuples()}
    assert h[0] == h[1]
    assert h[0] != h[4]

    sig_h = docs.select(
        "doc_id", minhash_signature(hashed_shingles("text", 2), 128).alias("minhash")
    )
    pairs_h = lsh_candidate_pairs(sig_h, bands=32, num_hashes=128).toPandas()
    row01 = pairs_h[(pairs_h.id_a == 0) & (pairs_h.id_b == 1)]
    assert len(row01) == 1 and row01.est_jaccard.iloc[0] == 1.0
    row03 = pairs_h[(pairs_h.id_a == 0) & (pairs_h.id_b == 3)]
    if len(row03):
        assert 0.4 < row03.est_jaccard.iloc[0] < 1.0


def test_hashed_shingles_short_and_empty_docs(spark):
    """Docs shorter than n tokens fall back to one whole-text shingle;
    empty text yields a single shingle, never an empty array (an empty
    signature would make every short doc an LSH bucket-mate)."""
    import pandas as pd

    from powershap_spark.operators.dedup import hashed_shingles

    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["one two", "one", ""]})
    )
    out = d.select(
        "doc_id", F.size(hashed_shingles("text", 3)).alias("n")
    ).toPandas()
    assert (out.n == 1).all()


def test_connected_components_matches_union_find(spark):
    """CC labels == an independent python union-find on a random graph
    (chains, stars, isolated-by-absence nodes)."""
    import numpy as np

    from powershap_spark.operators.dedup import connected_components

    rng = np.random.RandomState(0)
    n_nodes, n_edges = 200, 150
    ea = rng.randint(0, n_nodes, n_edges)
    eb = rng.randint(0, n_nodes, n_edges)
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ea.astype("int64"), "id_b": eb.astype("int64")})
    ).filter(F.col("id_a") != F.col("id_b"))

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ea, eb):
        if a != b:
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in zip(ea, eb):
        if a != b:
            for v in (int(a), int(b)):
                expected[v] = min(expected.get(v, v), find(v))
    # canonicalize: min node id per root
    root_min = {}
    for v in expected:
        r = find(v)
        root_min[r] = min(root_min.get(r, v), v)
    expected = {v: root_min[find(v)] for v in expected}

    got = {
        r.id: r.comp
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_dedup_by_components_transitive_chain(spark):
    """Chain a~b, b~c (a!~c): components keep exactly ONE of {a,b,c};
    greedy pair-dropping would keep either two or zero depending on
    orientation. Isolated docs always survive."""
    from powershap_spark.operators.dedup import dedup_by_components

    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12, 99], "text": ["a", "b", "c", "zzz"]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 11], "id_b": [11, 12]})
    )
    kept = sorted(
        r.doc_id for r in dedup_by_components(d, pairs, "doc_id").collect()
    )
    assert kept == [10, 99]


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iter rounds must raise the actionable
    error, never silently return partial labels."""
    from powershap_spark.operators.dedup import connected_components

    chain = pd.DataFrame({"id_a": range(0, 9), "id_b": range(1, 10)})
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(spark.createDataFrame(chain), max_iter=2)
    # and converges fine with enough rounds
    out = connected_components(spark.createDataFrame(chain), max_iter=15)
    assert {r.comp for r in out.collect()} == {0}


def test_quantized_topk_close_to_exact(spark, emb):
    """int8 quantization preserves the cosine ranking on the embedding
    fixture: top-1 per query matches the exact brute-force result and the
    quantized cosine is within 1% of the exact value."""
    from powershap_spark.operators.similarity import brute_force_topk, quantized_topk

    emb, _ = emb
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=3).toPandas()
    quant = quantized_topk(emb, queries, k=3).toPandas()
    for qid in exact.query_id.unique():
        e1 = exact[(exact.query_id == qid) & (exact["rank"] == 1)].iloc[0]
        q1 = quant[(quant.query_id == qid) & (quant["rank"] == 1)].iloc[0]
        assert e1.vec_id == q1.vec_id
        assert abs(e1.cosine - q1.qcosine) < 0.01


def test_deterministic_sample_properties(spark):
    """Hash-based sampling: partition-layout-invariant, nested across
    fractions (f1<=f2 -> subset), approximately the requested rate, and
    rerun-identical — none of which df.sample guarantees."""
    from powershap_spark.operators.dedup import deterministic_sample

    d = spark.range(0, 20_000).withColumnRenamed("id", "k")
    s1 = {r.k for r in deterministic_sample(d, "k", 0.2).collect()}
    s2 = {r.k for r in deterministic_sample(d.repartition(17), "k", 0.2).collect()}
    assert s1 == s2  # layout-invariant
    assert abs(len(s1) / 20_000 - 0.2) < 0.02  # close to the rate
    wide = {r.k for r in deterministic_sample(d, "k", 0.5).collect()}
    assert s1 <= wide  # nested samples
    assert {r.k for r in deterministic_sample(d, "k", 0.2, seed=8).collect()} != s1
    assert len({r.k for r in deterministic_sample(d, "k", 0.0).collect()}) == 0
    assert len({r.k for r in deterministic_sample(d, "k", 1.0).collect()}) == 20_000


def test_scrub_pii(spark):
    from powershap_spark.operators.scrub import scrub_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "mail me at a.b+c@foo.org or visit https://x.io/y?z=1 now",
                "server 192.168.0.1 phone 555-123-4567",
                "clean text with no pii at all",
            ],
        }
    )
    out = (
        scrub_pii(spark.createDataFrame(pdf), "text")
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out.n_email) == [1, 0, 0]
    assert list(out.n_url) == [1, 0, 0]
    assert list(out.n_ipv4) == [0, 1, 0]
    assert list(out.n_phone) == [0, 1, 0]
    assert out.text_scrubbed[0] == "mail me at <EMAIL> or visit <URL> now"
    assert out.text_scrubbed[1] == "server <IP> phone <PHONE>"
    assert out.text_scrubbed[2] == pdf.text[2]


def test_repetition_ratios(spark):
    from powershap_spark.operators.text import repetition_ratios

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["a a a a", "all tokens here are unique", ""],
        }
    )
    r = repetition_ratios("text", n=2)
    out = (
        spark.createDataFrame(pdf)
        .select(
            "doc_id",
            r["dup_token_ratio"].alias("dup_token_ratio"),
            r["dup_2gram_ratio"].alias("dup_2gram_ratio"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert out.dup_token_ratio[0] == pytest.approx(0.75)  # 1 distinct of 4
    assert out.dup_2gram_ratio[0] == pytest.approx(2 / 3)  # "a a" x3
    assert out.dup_token_ratio[1] == 0.0 and out.dup_2gram_ratio[1] == 0.0
    assert out.dup_token_ratio[2] == 0.0 and out.dup_2gram_ratio[2] == 0.0


def test_chunk_tokens(spark):
    from powershap_spark.operators.text import chunk_tokens

    words = [f"w{i}" for i in range(70)]
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": [" ".join(words), "   "]}
    )
    out = (
        chunk_tokens(spark.createDataFrame(pdf), max_tokens=32)
        .orderBy("doc_id", "chunk_idx")
        .toPandas()
    )
    assert list(out.doc_id) == [0, 0, 0]  # empty doc yields no rows
    assert list(out.n_tokens) == [32, 32, 6]
    # chunks reassemble the normalized token stream exactly, in order
    assert " ".join(out.chunk_text) == " ".join(words)


def test_benchmark_contamination_families_agree(spark, docs):
    from powershap_spark.operators.dedup import benchmark_contamination

    bench = docs.filter(F.col("doc_id") % 7 == 0)
    a = (
        benchmark_contamination(docs, bench, hash_family="xxhash")
        .orderBy("doc_id")
        .toPandas()
    )
    b = (
        benchmark_contamination(docs, bench, hash_family="poly")
        .orderBy("doc_id")
        .toPandas()
    )
    # benchmark docs are contained in docs -> every bench doc self-flags
    bench_ids = set(bench.toPandas().doc_id)
    assert bench_ids <= set(a.doc_id)
    # the hashed scale path and the string oracle path flag identical docs
    # with identical overlap counts (xxhash collisions are ~impossible here)
    assert list(a.doc_id) == list(b.doc_id)
    assert list(a.n_contaminated_shingles) == list(b.n_contaminated_shingles)


def test_topk_ngrams(spark, docs):
    from powershap_spark.operators.text import topk_ngrams

    out = topk_ngrams(docs, n=2, k=5).toPandas()
    assert len(out) == 5
    # docs 0-3 all contain "again and" / "and again" -> those dominate;
    # doc 0's text appears 3x (0, 1, 2 normalize-equal)
    assert out.ngram.iloc[0] in ("again and", "and again", "the quick")
    assert (out.n_occurrences.values == sorted(out.n_occurrences, reverse=True)).all()
    # top-k must be a TakeOrdered, not a global sort
    plan = topk_ngrams(docs, n=2, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_canonicalize_url_goldens(spark):
    from powershap_spark.operators.scrub import canonicalize_url

    cases = [
        ("HTTPS://ExAmple.COM:443/Path/?utm_source=x&q=1#frag", "https://example.com/Path?q=1"),
        ("http://a.com:80/", "http://a.com/"),
        ("http://a.com/x/", "http://a.com/x"),
        ("http://a.com/x?utm_campaign=z", "http://a.com/x"),
        ("http://a.com/x?a=1&fbclid=abc&b=2", "http://a.com/x?a=1&b=2"),
        ("no-scheme/just/path", "no-scheme/just/path"),
        ("http://A.com", "http://a.com"),
        ("http://a.com/p/?fbclid=1", "http://a.com/p"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default port kept
        # cross-scheme ports are NOT defaults — must survive (two distinct
        # origins must not collapse onto the portless URL)
        ("http://a.com:443/x", "http://a.com:443/x"),
        ("https://a.com:80/x", "https://a.com:80/x"),
        ("https://a.com:443/x", "https://a.com/x"),
    ]
    pdf = pd.DataFrame({"url": [c[0] for c in cases]})
    got = (
        spark.createDataFrame(pdf)
        .select(canonicalize_url("url").alias("c"))
        .toPandas()
        .c.tolist()
    )
    assert got == [c[1] for c in cases]


def test_incremental_minhash_matches_full_corpus_restricted(spark, docs):
    """The exactness contract: incremental dedup of a new shard against the
    old shard's signature store equals full-corpus minhash_dedup restricted
    to shard ids. Split the fixture so near-dup relations CROSS the split
    (doc 3 is a near-dup of doc 0: old side), exercising the old-vs-new
    band join, and docs 1/2 pair within the old side (already judged)."""
    from powershap_spark.operators.dedup import (
        build_minhash_signature_store,
        incremental_minhash_dedup,
    )

    kw = dict(num_hashes=64, bands=16, threshold=0.5, shingle_n=2)
    full = set(
        minhash_dedup(docs, "text", "doc_id", **kw).toPandas().doc_id
    )
    old = docs.filter(F.col("doc_id") < 3)
    new = docs.filter(F.col("doc_id") >= 3)
    store = build_minhash_signature_store(
        old, num_hashes=64, shingle_n=2
    )
    kept, new_sigs = incremental_minhash_dedup(new, store, **kw)
    got = set(kept.toPandas().doc_id)
    assert got == {i for i in full if i >= 3}
    assert 3 not in got  # cross-split near-dup of old doc 0 was caught
    # new_sigs covers ALL shard ids (kept or dropped) — the store invariant
    assert set(new_sigs.toPandas().doc_id) == {3, 4, 5, 6, 7}


def test_incremental_minhash_dropped_doc_still_suppresses(spark):
    """The store keeps signatures of docs the dedup DROPPED, because the
    greedy rule consults them: chain a<b<c where b~a and c~b but c!~a —
    full-corpus dedup drops both b and c, so the incremental run of shard
    {c} against store {a, b} must also drop c (a survivor-only store would
    re-admit it)."""
    from powershap_spark.operators.dedup import (
        build_minhash_signature_store,
        incremental_minhash_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b_txt = base.replace("alpha", "omega")  # 1 of 10 tokens differs from a
    c_txt = b_txt.replace("kappa", "sigma")  # 2 from a, 1 from b
    rows = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": [base, b_txt, c_txt]}
    )
    d = spark.createDataFrame(rows)
    kw = dict(num_hashes=128, bands=64, threshold=0.75, shingle_n=1)
    full = set(minhash_dedup(d, "text", "doc_id", **kw).toPandas().doc_id)
    assert full == {0}, full  # b dropped via a, c dropped via (dropped) b
    store = build_minhash_signature_store(
        d.filter(F.col("doc_id") < 2), num_hashes=128, shingle_n=1
    )
    kept, _ = incremental_minhash_dedup(
        d.filter(F.col("doc_id") == 2), store, **kw
    )
    assert kept.count() == 0


def test_signature_store_append_idempotent(spark, docs):
    """Re-appending the same shard's signatures (failed-run retry) must not
    duplicate store rows, and the appended store equals old ∪ new by id."""
    from powershap_spark.operators.dedup import (
        append_signatures,
        build_minhash_signature_store,
    )

    old = docs.filter(F.col("doc_id") < 3)
    new = docs.filter(F.col("doc_id") >= 3)
    store = build_minhash_signature_store(old, num_hashes=16)
    new_sigs = build_minhash_signature_store(new, num_hashes=16)
    once = append_signatures(store, new_sigs)
    twice = append_signatures(once, new_sigs)
    assert once.count() == docs.count()
    assert twice.count() == once.count()
    a = once.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = twice.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_bucketed_banded_store_parity_append_and_plan(spark, docs, tmp_path):
    """write_banded_signature_store / incremental_minhash_dedup_bucketed:
    (1) kept set identical to the unbucketed incremental path;
    (2) appends are id-idempotent and keep the bucket layout usable;
    (3) the store side of the old-vs-new band join is a bucketed scan with
        ZERO exchange — only the new shard shuffles (the 10^12-scale
        property the layout exists for, ANALYSIS_r06 §6)."""
    from powershap_spark.operators.dedup import (
        _banded,
        append_banded_signatures,
        build_minhash_signature_store,
        incremental_minhash_dedup,
        incremental_minhash_dedup_bucketed,
        write_banded_signature_store,
    )

    prefix = "t_banded_store"
    for t in (f"{prefix}_bands", f"{prefix}_sigs"):
        spark.sql(f"drop table if exists {t}")
    try:
        kw = dict(num_hashes=64, bands=16, threshold=0.5, shingle_n=2)
        old = docs.filter(F.col("doc_id") < 3)
        new = docs.filter(F.col("doc_id") >= 3)
        store_sigs = build_minhash_signature_store(old, num_hashes=64, shingle_n=2)
        write_banded_signature_store(
            store_sigs, prefix, num_hashes=64, bands=16,
            path=str(tmp_path / "store"),
        )
        kept_b, new_sigs = incremental_minhash_dedup_bucketed(
            new, spark, prefix, **kw
        )
        kept_p, _ = incremental_minhash_dedup(new, store_sigs, **kw)
        assert set(kept_b.toPandas().doc_id) == set(kept_p.toPandas().doc_id)

        # (3) plan property, with auto-broadcast off so the join shape is
        # the at-scale SortMergeJoin, not a toy-size broadcast
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            sb = spark.table(f"{prefix}_bands").withColumnRenamed(
                "doc_id", "__id"
            )
            bn = _banded(new_sigs, "doc_id", "minhash", 16, 4, "xxhash")
            j = sb.alias("a").join(
                bn.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, plan
        # store-side contract: the bucketed store is NEVER re-shuffled.
        # Exchanges allowed: the band-key shuffle of the shard side, plus
        # the shard signature aggregation's hashpartitioning(doc_id)
        # (r8: signatures come from explode+groupBy — value-identical,
        # 2.2x faster; its exchange carries one ~num_hashes*8B row per
        # SHARD doc, the store side still contributes zero exchanges).
        band_ex = plan.count("Exchange hashpartitioning(band_id")
        assert band_ex == 1, plan  # shard only
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "band_id" in line or "doc_id" in line, line

        # (2) append: idempotent by id, both tables grow exactly once
        n_bands = spark.table(f"{prefix}_bands").count()
        n_sigs = spark.table(f"{prefix}_sigs").count()
        append_banded_signatures(
            spark, prefix, new_sigs, num_hashes=64, bands=16
        )
        grown_bands = spark.table(f"{prefix}_bands").count()
        grown_sigs = spark.table(f"{prefix}_sigs").count()
        assert grown_sigs == n_sigs + new_sigs.count()
        assert grown_bands == n_bands + new_sigs.count() * 16
        append_banded_signatures(  # retried shard: no-op
            spark, prefix, new_sigs, num_hashes=64, bands=16
        )
        assert spark.table(f"{prefix}_bands").count() == grown_bands
        assert spark.table(f"{prefix}_sigs").count() == grown_sigs
    finally:
        for t in (f"{prefix}_bands", f"{prefix}_sigs"):
            spark.sql(f"drop table if exists {t}")


def test_corpus_diff_statuses(spark):
    from powershap_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["same one", "will change", "gets removed", "same two"],
            }
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 4, 5],
                "text": ["same one", "now different", "same two", "brand new"],
            }
        )
    )
    out = corpus_diff(old, new).toPandas().set_index("doc_id")
    assert out.loc[5, "status"] == "added"
    assert out.loc[3, "status"] == "removed"
    assert out.loc[2, "status"] == "changed"
    # unchanged rows are not emitted
    assert 1 not in out.index and 4 not in out.index
    assert len(out) == 3

    # layout-invariant: same answer under different partitionings
    out2 = (
        corpus_diff(old.repartition(7), new.repartition(3))
        .toPandas()
        .set_index("doc_id")
    )
    assert out2.sort_index().equals(out.sort_index())


def test_dedup_lines_semantics(spark):
    from powershap_spark.operators.text import dedup_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "unique alpha\nsubscribe now\nok",
                    "subscribe now\nunique beta\nok",
                    "subscribe now\nsubscribe now",  # within-doc repeats count
                    "unique gamma\nok",
                ],
            }
        )
    )
    # 'subscribe now' occurs 4x corpus-wide (>=3) -> scrubbed everywhere;
    # 'ok' occurs 3x but is under the 5-char floor -> protected
    out = (
        dedup_lines(docs, min_count=3, min_chars=5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "text"] == "unique alpha\nok"
    assert out.loc[2, "text"] == "unique beta\nok"
    # every line removed -> doc kept with empty text
    assert out.loc[3, "text"] == "" and out.loc[3, "n_removed"] == 2
    assert out.loc[4, "text"] == "unique gamma\nok"
    assert list(out.n_removed) == [1, 1, 2, 0]

    # layout invariance
    out2 = (
        dedup_lines(docs.repartition(7), min_count=3, min_chars=5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out2.equals(out)

    # min_count=1 with no floor scrubs everything
    allgone = dedup_lines(docs, min_count=1).toPandas()
    assert (allgone.text == "").all()

    with pytest.raises(ValueError):
        dedup_lines(docs, min_count=0)


def test_dedup_ngram_spans_semantics(spark):
    from powershap_spark.operators.text import dedup_ngram_spans

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    # the 3-gram 'click here now' repeats corpus-wide;
                    # flanks differ so no OTHER gram is shared
                    "intro a click here now outro one",
                    "prelude b click here now end two",
                    # within-doc repeat: both occurrences count and both
                    # spans are scrubbed (overlap union, not per-gram)
                    "click here now click here now tail",
                    # fewer than k tokens: passes through untouched
                    "too short",
                    # no duplicated gram at all
                    "entirely fresh words with no repeats anywhere",
                ],
            }
        )
    )
    out = (
        dedup_ngram_spans(docs, k=3, min_count=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "text"] == "intro a outro one"
    assert out.loc[2, "text"] == "prelude b end two"
    assert out.loc[3, "text"] == "tail" and out.loc[3, "n_removed"] == 6
    assert out.loc[4, "text"] == "too short" and out.loc[4, "n_removed"] == 0
    assert out.loc[5, "n_removed"] == 0
    assert list(out.n_removed) == [3, 3, 6, 0, 0]

    # overlapping duplicated grams union their coverage: 'x y z w' where
    # both 'x y z' and 'y z w' are duplicated removes all 4 tokens, not 6
    docs2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["a x y z w b", "p x y z q", "r y z w s"],
            }
        )
    )
    out2 = (
        dedup_ngram_spans(docs2, k=3, min_count=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out2.loc[1, "text"] == "a b" and out2.loc[1, "n_removed"] == 4

    # layout invariance
    out3 = (
        dedup_ngram_spans(docs.repartition(7), k=3, min_count=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out3.equals(out)

    # a doc scrubbed to nothing stays, with empty text
    allgone = (
        dedup_ngram_spans(docs2, k=1, min_count=1).toPandas().set_index("doc_id")
    )
    assert len(allgone) == 3 and (allgone.text == "").all()

    with pytest.raises(ValueError):
        dedup_ngram_spans(docs, k=0, min_count=2)
    with pytest.raises(ValueError):
        dedup_ngram_spans(docs, k=3, min_count=0)


def test_lm_perplexity_matches_reference_lm(spark):
    """Spark result == a pure-python add-k bigram LM fit on the same
    corpus (counts, smoothing, V, and the short-doc/null contract)."""
    import math
    from collections import Counter

    from powershap_spark.operators.text import lm_perplexity

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "solo",
        4: "",  # splits to [''] -> one token -> unscored
        5: "the cat sat again",
        6: "zz qq vv xx",  # all-unseen transitions -> highest ppl
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    out = (
        lm_perplexity(docs, add_k=0.5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    tok = {i: t.split(" ") for i, t in texts.items()}
    V = len({w for ts in tok.values() for w in ts})
    bg = [(c, w) for ts in tok.values() for c, w in zip(ts, ts[1:])]
    C2, C1 = Counter(bg), Counter(c for c, _ in bg)
    k = 0.5
    for i, ts in tok.items():
        lps = [
            math.log((C2[(c, w)] + k) / (C1[c] + k * V))
            for c, w in zip(ts, ts[1:])
        ]
        assert out.loc[i, "n_scored"] == len(lps)
        if lps:
            nll = -sum(lps) / len(lps)
            assert out.loc[i, "nll"] == pytest.approx(round(nll, 6), abs=1e-9)
            assert out.loc[i, "ppl"] == pytest.approx(
                round(math.exp(nll), 4), abs=1e-9
            )
        else:
            assert pd.isna(out.loc[i, "nll"]) and pd.isna(out.loc[i, "ppl"])

    # the gibberish doc scores strictly worse than every fluent doc
    assert out.loc[6, "ppl"] > max(out.loc[1, "ppl"], out.loc[5, "ppl"])

    # layout invariance: corpus-wide counts are partitioning-independent
    out2 = (
        lm_perplexity(docs.repartition(7), add_k=0.5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out2.equals(out)

    with pytest.raises(ValueError):
        lm_perplexity(docs, add_k=0.0)


def test_tfidf_keywords_matches_reference(spark):
    """Spark result == a pure-python tf-idf over the same tokenization:
    tf * ln((N+1)/(df+1)), top-k by (rounded score desc, token asc)."""
    import math
    from collections import Counter

    from powershap_spark.operators.text import tfidf_keywords

    texts = {
        1: "apple banana apple cherry",
        2: "banana cherry cherry dates",
        3: "unique words only here",
        4: "",  # no keywords, still counted in N
        5: "Apple APPLE apple",  # lowercased: tf=3 of one token
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    out = tfidf_keywords(docs, k=2).toPandas()

    tok = {i: t.lower().split() for i, t in texts.items() if t.strip()}
    N = len(texts)
    df_counts = Counter(w for ts in tok.values() for w in set(ts))
    expected = {}
    for i, ts in tok.items():
        rows = [
            (w, c, df_counts[w], round(c * math.log((N + 1) / (df_counts[w] + 1)), 6))
            for w, c in Counter(ts).items()
        ]
        rows.sort(key=lambda r: (-r[3], r[0]))
        expected[i] = rows[:2]

    for i, rows in expected.items():
        g = out[out.doc_id == i].sort_values(
            ["score", "token"], ascending=[False, True]
        )
        assert [tuple(r) for r in g[["token", "tf", "df", "score"]].to_numpy()] == [
            (w, tf, dfc, s) for (w, tf, dfc, s) in rows
        ], (i, g)
    assert (out.doc_id != 4).all()  # empty doc emits nothing

    # layout invariance
    out2 = tfidf_keywords(docs.repartition(7), k=2).toPandas()
    key = lambda g: set(map(tuple, g.to_numpy().tolist()))  # noqa: E731
    assert key(out2) == key(out)

    with pytest.raises(ValueError):
        tfidf_keywords(docs, k=0)


def test_bpe_learn_matches_sennrich_reference(spark):
    """Spark merge table == the classic single-process BPE (Sennrich
    1508.07909: pair counts on the word dictionary, argmax with
    (count desc, pair asc) tie-break, left-to-right non-overlapping
    merge application), bit-exactly, plus early stop and determinism
    across partitionings."""
    from collections import Counter

    from powershap_spark.operators.text import bpe_learn

    texts = [
        "low lower lowest low low",
        "newer newest new low",
        "wider wide widest newer",
        "aaa aa aaa",  # overlapping-pair stress: 'aaa' merges (a,a) once
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )

    def reference(texts, n_merges):
        wc = Counter(w for t in texts for w in t.lower().split())
        vocab = {w: (list(w), c) for w, c in wc.items()}
        merges = []
        for it in range(n_merges):
            pc = Counter()
            for _, (syms, c) in vocab.items():
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += c
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((it, a, b, cnt))
            for w, (syms, c) in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = (out, c)
        return pd.DataFrame(
            merges, columns=["merge_idx", "left", "right", "pair_count"]
        )

    # BOTH induction paths must match the reference bit-exactly: the
    # driver-local fast path (picked by default — the dictionary is tiny)
    # and the distributed batched loop (forced by a zero local budget)
    got = bpe_learn(docs, n_merges=10, checkpoint_every=3).toPandas()
    exp = reference(texts, 10)
    assert got.astype(str).values.tolist() == exp.astype(str).values.tolist()
    dist = bpe_learn(
        docs, n_merges=10, checkpoint_every=3, max_local_vocab=0
    ).toPandas()
    assert dist.astype(str).values.tolist() == exp.astype(str).values.tolist()

    # layout invariance: the argmax chain is partitioning-independent
    got2 = bpe_learn(docs.repartition(7), n_merges=10).toPandas()
    assert got2.equals(got)

    # early stop: a one-letter corpus fuses to single symbols immediately
    tiny = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["ab ab"]}))
    small = bpe_learn(tiny, n_merges=5).toPandas()
    assert len(small) == 1  # merge (a,b), then no pair remains
    assert (small.left.iloc[0], small.right.iloc[0]) == ("a", "b")

    with pytest.raises(ValueError):
        bpe_learn(docs, n_merges=0)


def test_bpe_learn_batched_equals_sequential(spark):
    """The batched merge selection (up to batch_size pairwise
    non-interacting merges per vocab rewrite pass, strict count gap to
    the first excluded row) must be BIT-IDENTICAL to the textbook
    one-merge-per-pass loop — on a tie-heavy deterministic corpus whose
    repeated word shapes force equal pair counts and interacting
    candidates (the cases the gap-truncation exists for)."""
    import random

    from powershap_spark.operators.text import bpe_learn

    rng = random.Random(11)
    syll = ["ab", "ba", "ac", "ca", "bc", "cb", "aa", "bb"]
    texts = [
        " ".join(
            "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(3, 12))
        )
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    # batching is a distributed-loop concept: a zero local budget forces
    # the loop, since the tiny dictionary would otherwise be induced locally
    seq = bpe_learn(docs, n_merges=24, batch_size=1, max_local_vocab=0).toPandas()
    for bs in (2, 4, 8):
        got = bpe_learn(
            docs, n_merges=24, batch_size=bs, max_local_vocab=0
        ).toPandas()
        assert got.values.tolist() == seq.values.tolist(), f"batch_size={bs}"
    with pytest.raises(ValueError):
        bpe_learn(docs, n_merges=3, batch_size=0)


def test_bpe_learn_local_equals_distributed(spark):
    """The driver-local exact Sennrich induction over the collected word
    dictionary (picked when it fits max_local_vocab) must be bit-identical
    to the distributed loop on the tie-heavy corpus, and the size probe
    must fall back to distributed when the dictionary overflows."""
    import random

    from powershap_spark.operators.text import bpe_learn

    rng = random.Random(23)
    syll = ["ab", "ba", "ac", "ca", "bc", "cb", "aa", "bb"]
    texts = [
        " ".join(
            "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(3, 12))
        )
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    dist = bpe_learn(docs, n_merges=24, max_local_vocab=0).toPandas()
    loc = bpe_learn(docs, n_merges=24).toPandas()
    assert loc.values.tolist() == dist.values.tolist()

    # overflow: a 1-row budget forces the distributed fallback
    over = bpe_learn(docs, n_merges=6, max_local_vocab=1).toPandas()
    assert over.values.tolist() == dist.head(6).values.tolist()

    # Unicode symbol-split parity: NEL/LS/PS survive \s+ tokenization but
    # Java's '.' (the distributed regexp_extract_all symbol split) skips
    # them — the local path must drop them identically
    utexts = ["a\u2028b a\u2028b ab", "c\u0085d c\u0085d cd", "e\u2029f e\u2029f ef"]
    udocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(utexts)), "text": utexts})
    )
    ud = bpe_learn(udocs, n_merges=8, max_local_vocab=0).toPandas()
    ul = bpe_learn(udocs, n_merges=8).toPandas()
    assert ul.values.tolist() == ud.values.tolist()


def test_token_shift_and_corpus_divergence_match_reference(spark):
    """Both drift operators == a pure-python recomputation over the same
    tokenization: exact corpus frequencies, JS divergence with the
    0*ln(0)=0 convention, shift ranking on rounded values."""
    import math
    from collections import Counter

    from powershap_spark.operators.text import corpus_divergence, token_shift

    old_t = ["the cat sat", "the dog ran", "spam spam spam"]
    new_t = ["the cat sat", "the dog ran fast", "buy now buy now buy"]
    old = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": old_t}))
    new = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": new_t}))

    co = Counter(w for t in old_t for w in t.lower().split())
    cn = Counter(w for t in new_t for w in t.lower().split())
    to, tn = sum(co.values()), sum(cn.values())

    shift = token_shift(old, new, k=4).toPandas()
    exp = sorted(
        ((round(cn[w] / tn - co[w] / to, 6), w) for w in set(co) | set(cn)),
        key=lambda x: (-abs(x[0]), x[1]),
    )[:4]
    assert list(zip(shift["shift"], shift.token)) == exp
    assert list(shift.c_old) == [co[w] for _, w in exp]
    assert list(shift.c_new) == [cn[w] for _, w in exp]

    div = corpus_divergence(old, new).toPandas().iloc[0]
    js = 0.0
    for w in set(co) | set(cn):
        p, q = co[w] / to, cn[w] / tn
        m = (p + q) / 2
        js += (0.5 * p * math.log(p / m) if p else 0.0) + (
            0.5 * q * math.log(q / m) if q else 0.0
        )
    assert div.js_divergence == pytest.approx(round(js, 6), abs=1e-9)
    assert (div.n_tokens_old, div.n_tokens_new) == (to, tn)
    assert (div.vocab_old, div.vocab_new) == (len(co), len(cn))

    # identical snapshots -> zero divergence, zero shifts
    same = corpus_divergence(old, old).toPandas().iloc[0]
    assert same.js_divergence == 0.0
    assert (token_shift(old, old, k=3).toPandas()["shift"] == 0.0).all()

    # layout invariance
    div2 = corpus_divergence(old.repartition(5), new.repartition(3)).toPandas()
    assert div2.iloc[0].js_divergence == div.js_divergence

    with pytest.raises(ValueError):
        token_shift(old, new, k=0)


def test_text_ops_randomized_bulk_parity(spark):
    """Seeded randomized corpus (200 docs, tiny vocab so collisions/
    repeats/overlaps occur constantly) checked wholesale against pure-
    python references for the three subtle text operators — the bulk
    analogue of a property test (one Spark job per operator, not one per
    example). Covers: gram overlap unions across doc boundaries,
    within-doc repeats, short docs, empty docs, scrub-to-empty, bigram
    context-vs-unigram counting, and tf-idf tie-breaks under heavy
    count collisions."""
    import math
    import random
    from collections import Counter

    from powershap_spark.operators.text import (
        dedup_ngram_spans,
        lm_perplexity,
        tfidf_keywords,
    )

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(12)]
    texts = {}
    for i in range(200):
        n = rng.choice([0, 1, 2, 3, 5, 8, 13, 30])
        texts[i] = " ".join(rng.choice(vocab) for _ in range(n))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    tok = {i: (t.split(" ") if t else [""]) for i, t in texts.items()}

    # --- dedup_ngram_spans(k=3, min_count=2) ---------------------------
    k = 3
    grams = Counter()
    for ts in tok.values():
        for s in range(len(ts) - k + 1):
            grams[tuple(ts[s : s + k])] += 1
    out = (
        dedup_ngram_spans(docs, k=k, min_count=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i, ts in tok.items():
        covered = set()
        for s in range(len(ts) - k + 1):
            if grams[tuple(ts[s : s + k])] >= 2:
                covered.update(range(s, s + k))
        kept = [t for p, t in enumerate(ts) if p not in covered]
        assert out.loc[i, "text"] == " ".join(kept), i
        assert out.loc[i, "n_removed"] == len(covered), i

    # --- lm_perplexity(add_k=0.5) --------------------------------------
    V = len({w for ts in tok.values() for w in ts})
    bg = [(c, w) for ts in tok.values() for c, w in zip(ts, ts[1:])]
    C2, C1 = Counter(bg), Counter(c for c, _ in bg)
    ppl = (
        lm_perplexity(docs, add_k=0.5).toPandas().set_index("doc_id").sort_index()
    )
    for i, ts in tok.items():
        lps = [
            math.log((C2[(c, w)] + 0.5) / (C1[c] + 0.5 * V))
            for c, w in zip(ts, ts[1:])
        ]
        assert ppl.loc[i, "n_scored"] == len(lps), i
        if lps:
            nll = -sum(lps) / len(lps)
            assert ppl.loc[i, "nll"] == pytest.approx(round(nll, 6), abs=1e-9)
        else:
            assert pd.isna(ppl.loc[i, "nll"])

    # --- tfidf_keywords(k=3) -------------------------------------------
    # tfidf tokenizes via _tokens (trim/lower, EMPTY array for blank
    # docs), unlike spans/perplexity's raw split (blank -> ['']): our
    # texts are already lowercase single-spaced, so mirror with .split()
    tok_tfidf = {i: (t.split(" ") if t else []) for i, t in texts.items()}
    N = len(texts)
    df_counts = Counter(w for ts in tok_tfidf.values() for w in set(ts))
    got = tfidf_keywords(docs, k=3).toPandas()
    for i, ts in tok_tfidf.items():
        rows = [
            (
                w,
                c,
                df_counts[w],
                round(c * math.log((N + 1) / (df_counts[w] + 1)), 6),
            )
            for w, c in Counter(ts).items()
        ]
        rows.sort(key=lambda r: (-r[3], r[0]))
        g = got[got.doc_id == i].sort_values(
            ["score", "token"], ascending=[False, True]
        )
        assert [tuple(r) for r in g[["token", "tf", "df", "score"]].to_numpy()] == [
            tuple(r) for r in rows[:3]
        ], i


def _ref_bpe_word(w, rules):
    """Shared BPE fold reference: one greedy left-to-right
    non-overlapping pass per rule, in rank order (both parity tests pin
    against THIS single definition)."""
    syms = list(w)
    for a, b in rules:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_fold_reference_and_paths_agree(spark):
    """bpe_encode (separator-wrapped replace trick) == the classic
    left-to-right non-overlapping merge fold, per rule in rank order —
    including the overlap ('aaa') and symbol-boundary (ba|ab vs a|ab)
    traps the string representation must not fall into; inline and
    dict paths value-identical; learn->encode consistency."""
    from powershap_spark.operators.text import bpe_encode, bpe_learn

    def ref(text, rules):
        return [s for w in text.lower().split() for s in _ref_bpe_word(w, rules)]

    rules = [("a", "a"), ("b", "a"), ("aa", "b"), ("l", "o"), ("lo", "w")]
    texts = [
        "aaa aaaa baab",     # overlap: 'aaa' -> [aa, a]; 'aaaa' -> [aa, aa]
        "baab abab aab",     # boundary trap: (b,a) fires before any (a,ab)
        "low lower lowest",  # chained rules l+o then lo+w
        "",                  # empty doc -> empty tokens
        "x\x01y",            # separator byte stripped from the word
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = (
        bpe_encode(docs, rules)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for i, t in enumerate(texts):
        want = ref(t.replace("\x01", ""), rules)
        assert list(got.tokens.iloc[i]) == want, (i, t, list(got.tokens.iloc[i]))

    dict_got = (
        bpe_encode(docs, rules, method="dict")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert [list(x) for x in dict_got.tokens] == [list(x) for x in got.tokens]

    # learn -> encode consistency: encoding the training corpus with the
    # learned table reproduces the learner's final vocab segmentation
    corpus = ["low lower lowest low low", "newer newest new low"]
    cdocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus})
    )
    merges = bpe_learn(cdocs, n_merges=6)
    lr = [(r.left, r.right) for r in merges.orderBy("merge_idx").collect()]
    enc = (
        bpe_encode(cdocs, merges)  # DataFrame form of the merge table
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for i, t in enumerate(corpus):
        assert list(enc.tokens.iloc[i]) == ref(t, lr)

    with pytest.raises(ValueError):
        bpe_encode(docs, rules, method="bogus")


def test_final_ops_randomized_bulk_parity(spark):
    """Seeded randomized bulk parity for the final-session operators:
    html_extract over adversarial generated pages (nested/cased tags,
    entities, comments, script blocks carrying fake tags) vs a python
    re-implementation of the SAME shared literals; bpe_encode over a
    random corpus and a random (partly never-matching) rule table vs the
    per-rule fold reference; deterministic_shuffle_shards (poly) vs a
    python replay of the affine hash + per-shard ordering."""
    import random
    import re

    from powershap_spark.operators.scrub import (
        HTML_ANY_TAG,
        HTML_BLOCK_DROP,
        HTML_ENTITIES,
        HTML_NEWLINE_TAGS,
        extract_html_text,
    )
    from powershap_spark.operators.text import bpe_encode

    rng = random.Random(20260818)

    # --- html_extract ---------------------------------------------------
    words = ["alpha", "beta", "gamma", "&amp;", "&lt;x", "a&nbsp;b", "&#39;s"]
    tags = ["p", "div", "li", "h2", "span", "b", "tr"]

    def page():
        parts = ["<html><head><title>t</title>"]
        if rng.random() < 0.7:
            parts.append("<script>var a = '<p>fake</p>';</script>")
        if rng.random() < 0.5:
            parts.append("<STYLE>.x { color: red }</STYLE>")
        parts.append("</head><body>")
        for _ in range(rng.randrange(1, 8)):
            r = rng.random()
            if r < 0.15:
                parts.append("<!-- comment " + rng.choice(words) + " -->")
            elif r < 0.3:
                t = rng.choice(tags)
                parts.append(f"<{t.upper() if rng.random() < 0.3 else t}>")
            elif r < 0.45:
                parts.append(f"</{rng.choice(tags)}>")
            else:
                parts.append(
                    " ".join(rng.choice(words) for _ in range(rng.randrange(0, 6)))
                )
        parts.append("</body></html>")
        return "".join(parts)

    def ref_extract(html, min_words=3):
        for pat in HTML_BLOCK_DROP:
            html = re.sub(pat, " ", html)
        html = re.sub(HTML_NEWLINE_TAGS, "\n", html)
        html = re.sub(HTML_ANY_TAG, " ", html)
        for a, b in HTML_ENTITIES:
            html = html.replace(a, b)
        lines = [re.sub(r"\s+", " ", ln).strip(" ") for ln in html.split("\n")]
        return "\n".join(
            ln for ln in lines if ln and len(ln.split(" ")) >= min_words
        )

    pages = {i: page() for i in range(150)}
    pdocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(pages), "html": list(pages.values())})
    )
    got = (
        pdocs.select("doc_id", extract_html_text("html").alias("t"))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i, h in pages.items():
        assert got.loc[i, "t"] == ref_extract(h), (i, h)

    # --- bpe_encode ------------------------------------------------------
    def rand_sym():
        return "".join(rng.choice("abc") for _ in range(rng.randrange(1, 3)))

    rules = [(rand_sym(), rand_sym()) for _ in range(10)]
    texts = {
        i: " ".join(
            "".join(rng.choice("abc") for _ in range(rng.randrange(1, 9)))
            for _ in range(rng.randrange(0, 7))
        )
        for i in range(150)
    }
    bdocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )

    enc = (
        bpe_encode(bdocs, rules).toPandas().set_index("doc_id").sort_index()
    )
    for i, t in texts.items():
        want = [s for w in t.lower().split() for s in _ref_bpe_word(w, rules)]
        assert list(enc.loc[i, "tokens"]) == want, (i, t)

    # --- deterministic_shuffle_shards (poly) ------------------------------
    from powershap_spark.operators.dedup import POLY_MOD, affine_params
    from powershap_spark.operators.sharding import deterministic_shuffle_shards

    ids = sorted(rng.sample(range(100000), 300))
    sdocs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    a_l, b_l = affine_params(1, seed=11)
    a, b = int(a_l[0]), int(b_l[0])

    def poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % POLY_MOD
        return h

    hs = {i: (a * poly(str(i)) + b) % POLY_MOD for i in ids}
    want_rows = {}
    for sh in range(8):
        members = sorted((hs[i], i) for i in ids if hs[i] % 8 == sh)
        for p, (_, i) in enumerate(members, start=1):
            want_rows[i] = (sh, p)
    got = (
        deterministic_shuffle_shards(
            sdocs, "doc_id", n_shards=8, seed=11, hash_family="poly"
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i in ids:
        assert (got.loc[i, "shard"], got.loc[i, "pos"]) == want_rows[i], i


def test_build_vocab_and_tokens_to_ids(spark):
    """Rank determinism at the cut boundary, unk mapping + n_unk
    accounting, empty-doc empty id arrays, and the plan contracts: the
    vocab build is a TakeOrderedAndProject (bounded heaps, never a full
    vocabulary sort) and the id mapping joins the vocab via broadcast."""
    import io
    import re
    from contextlib import redirect_stdout

    from powershap_spark.operators.text import (
        _tokens,
        build_vocab,
        tokens_to_ids,
    )

    texts = {
        0: "bb bb bb aa aa cc",
        1: "aa cc dd ee",     # dd/ee tie at count 1 -> token asc order
        2: "",                # empty doc
        3: "zz zz",           # outside a size-3 vocab -> all unk
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    vocab = build_vocab(docs, size=3)
    vp = vocab.toPandas().sort_values("id").reset_index(drop=True)
    # counts: bb=3, aa=3, cc=2, zz=2, dd=1, ee=1
    # rank: (3,aa) < (3,bb) by token asc; (2,cc) < (2,zz)
    assert list(zip(vp.token, vp.id)) == [
        ("<unk>", 0), ("aa", 1), ("bb", 2), ("cc", 3)
    ]

    toks = docs.select("doc_id", _tokens("text").alias("tokens"))
    out = (
        tokens_to_ids(toks, vocab)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(out.loc[0, "input_ids"]) == [2, 2, 2, 1, 1, 3]
    assert list(out.loc[1, "input_ids"]) == [1, 3, 0, 0] and out.loc[1, "n_unk"] == 2
    assert list(out.loc[2, "input_ids"]) == []
    assert list(out.loc[3, "input_ids"]) == [0, 0] and out.loc[3, "n_unk"] == 2

    # a corpus containing the LITERAL unk token: excluded from ranks,
    # maps to unk id, counted as OOV
    trap = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["<unk> aa <unk> aa aa"]})
    )
    tv = build_vocab(trap, size=3)
    tp = tv.toPandas()
    assert list(tp.token).count("<unk>") == 1  # only the reserved row
    tout = tokens_to_ids(
        trap.select("doc_id", _tokens("text").alias("tokens")), tv
    ).toPandas()
    assert tout.n_unk.iloc[0] == 2

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = plan(build_vocab(docs, size=3))
    assert "TakeOrderedAndProject" in p, p
    p2 = plan(tokens_to_ids(toks, vocab))
    assert re.search(r"BroadcastHashJoin|BroadcastNestedLoop", p2), p2
    assert "BroadcastNestedLoop" not in p2  # it is a real equi broadcast join

    with pytest.raises(ValueError):
        build_vocab(docs, size=0)


def test_build_vocab_accepts_pretokenized_arrays(spark):
    """build_vocab over an array<string> column must equal build_vocab
    over the equivalent text (the array path skips the corpus-sized
    join+resplit round-trip the chain bench paid)."""
    from powershap_spark.operators.text import _tokens, build_vocab

    texts = ["low lower low", "newer lower newest", "", "low newer"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    via_text = build_vocab(docs, size=8).toPandas()
    toks = docs.select("doc_id", _tokens("text").alias("tokens"))
    via_arr = build_vocab(toks, size=8, text_col="tokens").toPandas()
    assert via_text.sort_values("id").values.tolist() == \
        via_arr.sort_values("id").values.tolist()
