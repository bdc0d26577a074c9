"""Training-data operators: dedup (minhash/simhash/exact), text stats,
similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etlbox_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    sample_centroids,
)
from etlbox_spark.operators.textdedup import (
    minhash_lsh_candidates,
    ngram_jaccard,
    simhash_near_dups,
    word_ngrams,
)
from etlbox_spark.operators.textstats import fingerprint, lang_id, quality_features

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture()
def near_dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different text about spark shuffle partitions and joins"),
        (4, "der hund läuft und die katze ist das tier"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dup(spark, near_dup_docs):
    cand = minhash_lsh_candidates(near_dup_docs, "doc_id", "text", n_perm=16, bands=8)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in pairs
    verified = ngram_jaccard(cand, near_dup_docs, "doc_id", "text")
    j = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert j[(1, 2)] > 0.5


def test_simhash_near_dup_and_determinism(spark, near_dup_docs):
    out1 = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(near_dup_docs, "doc_id", "text").collect()}
    out2 = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(near_dup_docs, "doc_id", "text").collect()}
    assert out1 == out2  # deterministic across runs (blake2b, not hash())
    if (1, 2) in out1:
        assert out1[(1, 2)] <= 16


def test_word_ngrams_shapes(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "t string")
    out = df.select(F.size(word_ngrams(F.col("t"), 3)).alias("n")).collect()
    assert [r.n for r in out] == [2, 1]  # 4 tokens → 2 trigrams; short text → whole-text shingle


def test_lang_id_markers(spark, near_dup_docs):
    out = {r.doc_id: r.lang_pred for r in lang_id(near_dup_docs, "text", "doc_id").collect()}
    assert out[1] == "en" and out[4] == "de"


def test_quality_and_fingerprint(spark, docs):
    q = quality_features(docs, "text", "doc_id")
    assert q.where(F.col("n_tokens") <= 0).count() == 0
    fp = fingerprint(docs, "text", "doc_id")
    assert fp.select("fingerprint").distinct().count() <= fp.count()
    # fingerprint invariant under whitespace jitter
    jitter = docs.withColumn("text", F.concat(F.lit("  "), F.col("text"), F.lit("   ")))
    a = {r.doc_id: r.fingerprint for r in fp.collect()}
    b = {r.doc_id: r.fingerprint for r in fingerprint(jitter, "text", "doc_id").collect()}
    assert a == b


def test_cosine_topk_self_first(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.where("vec_id = 3").collect()[0].embedding]
    top = cosine_topk(emb, "embedding", qv, k=5).collect()
    assert top[0].vec_id == 3 and abs(top[0].sim - 1.0) < 1e-9
    assert all(top[i].sim >= top[i + 1].sim for i in range(len(top) - 1))


def test_ivf_probe_subset_of_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = sample_centroids(emb, "embedding", 4)
    qv = [float(x) for x in emb.where("vec_id = 3").collect()[0].embedding]
    assigned = ivf_assign(emb, "embedding", cents)
    assert assigned.select("cluster").distinct().count() <= 4
    got = ivf_topk(assigned, "embedding", qv, cents, k=3, n_probe=4).collect()
    brute = cosine_topk(emb, "embedding", qv, k=3).collect()
    # probing ALL clusters must equal brute force
    assert [r.vec_id for r in got] == [r.vec_id for r in brute]


def test_cosine_near_dup_pairs_threshold(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.04, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    out = cosine_near_dup_pairs(df, "v", threshold=0.95, n_planes=4, dim=3).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_multimodal_plumbing(spark, docs):
    from etlbox_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        media_from_documents,
    )

    media = media_from_documents(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(media, dim=8)
    row = feats.first()
    assert len(row.feat) == 8 and abs(sum(row.feat) - 1.0) < 1e-3
    frames = frame_sample_plan(media, every_ms=100)
    assert frames.where("frame_idx < 0").count() == 0
    assert frames.groupBy("media_id").count().count() == media.where("modality = 'video'").count()


def test_kmeans_ivf_recall_at_k(spark):
    """VERDICT r02 #5: trained centroids must keep ann recall@k at least
    at the untrained (lowest-id seed) baseline against brute force, and
    training must be deterministic across invocations."""
    from etlbox_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [3, 7, 11, 42, 99, 123, 200, 310, 404, 490]
    qvs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).collect()
    }
    brute = {
        qid: {r.vec_id for r in cosine_topk(emb, "embedding", qv, k=10).collect()}
        for qid, qv in qvs.items()
    }

    def mean_recall(cents):
        assigned = ivf_assign(emb, "embedding", cents)
        tot = 0.0
        for qid, qv in qvs.items():
            got = {r.vec_id for r in
                   ivf_topk(assigned, "embedding", qv, cents, k=10, n_probe=2).collect()}
            tot += len(got & brute[qid]) / len(brute[qid])
        return tot / len(qvs)

    seed = sample_centroids(emb, "embedding", 8)
    trained = kmeans_centroids(emb, "embedding", 8, iters=2)
    assert trained != seed, "k-means moved no centroid"
    # recall is per-query noisy (probing 2 of 8 clusters); training must
    # not LOSE recall on average over a query panel (measured: 0.58 vs
    # 0.55 on this fixture)
    r_seed, r_trained = mean_recall(seed), mean_recall(trained)
    assert r_trained >= r_seed - 1e-9, (r_trained, r_seed)
    assert r_trained >= 0.5
    # determinism: identical floats on a re-run (partition-order-proof
    # by the exact quantized-integer mean construction)
    assert kmeans_centroids(emb, "embedding", 8, iters=2) == trained


def test_minhash_lsh_est_optional(spark, near_dup_docs):
    """est_jaccard is opt-in (every pipeline consumer verifies exactly);
    the estimate path still works when asked for."""
    est = minhash_lsh_candidates(
        near_dup_docs, "doc_id", "text", n_perm=16, bands=8, with_est=True
    )
    assert "est_jaccard" in est.columns
    r = {(x.id_a, x.id_b): x.est_jaccard for x in est.collect()}
    assert r[(1, 2)] > 0.3


def test_cosine_zero_vector_never_tops_ranking(spark):
    from etlbox_spark.operators.similarity import cosine, cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, v array<double>",
    )
    # 0/0 = NaN used to sort ABOVE every real similarity
    out = cosine_topk(df, "v", [1.0, 0.0], k=2, id_col="vec_id").collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    sim0 = df.where("vec_id = 2").select(
        cosine(F.col("v"), F.array(F.lit(1.0), F.lit(0.0))).alias("s")
    ).collect()[0]["s"]
    assert sim0 == 0.0  # defined, matches probe_clusters' driver guard


def test_vec_dim_guards_fail_fast(spark):
    from etlbox_spark.operators.similarity import component_sign_pairs

    short = spark.createDataFrame([(1, [0.5, 0.5])], "vec_id long, v array<double>")
    # planes wider than the vectors -> every bucket 0 -> silent all-pairs
    with pytest.raises(ValueError, match="components"):
        cosine_near_dup_pairs(short, "v", dim=64)
    # element_at past the end throws mid-shuffle under ANSI otherwise
    with pytest.raises(ValueError, match="components"):
        component_sign_pairs(short, "v", bands=16, bits_per_band=2)
    # a NULL vector has no dimension: the probe reads past it instead of
    # comparing NULL with the requested dim
    with_null = spark.createDataFrame(
        [(0, None), (1, [0.5, 0.5])], "vec_id long, v array<double>"
    ).coalesce(1)
    with pytest.raises(ValueError, match="components"):
        cosine_near_dup_pairs(with_null, "v", dim=64)
    cosine_near_dup_pairs(with_null, "v", dim=2)


def test_null_text_normalizes_to_empty(spark):
    from etlbox_spark.operators.textdedup import normalize_text

    df = spark.createDataFrame([(1, None), (2, ""), (3, "  ")], "id long, t string")
    rows = df.select(
        normalize_text(F.col("t")).alias("n"),
        F.sha2(normalize_text(F.col("t")), 256).alias("fp"),  # the pipeline's exact-dup key
    ).collect()
    # one deterministic path: null == empty == whitespace-only
    assert {r["n"] for r in rows} == {""}
    assert len({r["fp"] for r in rows}) == 1 and rows[0]["fp"] is not None


def test_check_bands_validation(spark):
    from etlbox_spark.operators.textdedup import minhash_lsh_candidates

    df = spark.createDataFrame([(1, "a b c")], "id long, t string")
    with pytest.raises(ValueError, match="divide n_perm"):
        minhash_lsh_candidates(df, "id", "t", n_perm=64, bands=12)
    with pytest.raises(ValueError, match="divide n_perm"):
        minhash_lsh_candidates(df, "id", "t", n_perm=64, bands=128)
