"""Training-data pipeline operators: dedup, similarity, text analytics,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from intuition_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "spark streaming joins window aggregation shuffle partitions"),
        (4, "completely different text about embeddings and vectors here"),
        (5, "el rapido zorro marron salta sobre el perro perezoso de la casa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["members"] == [0, 1]
    assert out[0]["keeper"] == 0


def test_exact_duplicates_member_cap_bounds_the_list_not_the_count(spark):
    """A degenerate group larger than max_members keeps the FULL n_docs but
    lists only the first max_members ids ascending; small groups are
    byte-identical to the uncapped plan."""
    rows = [(i, "same text") for i in range(10)] + [(100, "other"), (101, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["n_docs"]: r for r in dedup.exact_duplicates(df, max_members=3).collect()}
    assert out[10]["members"] == [0, 1, 2] and out[10]["keeper"] == 0
    assert out[2]["members"] == [100, 101]
    capped = sorted(map(tuple, dedup.exact_duplicates(df, max_members=100).collect()))
    uncapped = sorted(map(tuple, dedup.exact_duplicates(df, max_members=None).collect()))
    assert capped == uncapped


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle=2).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (0, 1) in got  # identical docs share all bands
    assert (0, 2) in got or (1, 2) in got  # near dup caught by some band
    assert (3, 4) not in got


def test_ngram_jaccard_verify(docs):
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle=2)
    verified = dedup.ngram_jaccard_verify(docs, cand, shingle=2, threshold=0.99).collect()
    got = {(r["a_id"], r["b_id"]) for r in verified}
    assert got == {(0, 1)}  # only the exact dup survives jaccard≥0.99


def test_simhash_hamming(docs):
    sim = dedup.make_simhash_udf()
    hs = {r["doc_id"]: r["h"] for r in docs.select("doc_id", sim(F.col("text")).alias("h")).collect()}
    assert hs[0] == hs[1]  # identical text → identical simhash
    ham02 = bin((hs[0] ^ hs[2]) & ((1 << 64) - 1)).count("1")
    assert ham02 <= 24  # one-token edit flips few bits
    ham04 = bin((hs[0] ^ hs[4]) & ((1 << 64) - 1)).count("1")
    assert ham02 < ham04  # near-dup closer than unrelated text
    # banded candidates: finer bands raise recall; exact pair always caught
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in
             dedup.simhash_candidates(docs, bands=8).collect()}
    assert pairs[(0, 1)] == 0


def test_embedding_near_duplicates(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_duplicates(emb, threshold=0.95).collect()
    assert {(r["a_id"], r["b_id"]) for r in out} == {(0, 1)}


def test_embedding_near_duplicates_string_ids(spark):
    """The bucketed GEMM verify preserves the generic id contract: string ids
    order lexicographically and pairs come back (lo, hi)."""
    rows = [
        ("doc-b", [1.0, 0.0, 0.0, 0.0]),
        ("doc-a", [0.999, 0.01, 0.0, 0.0]),
        ("doc-c", [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "doc string, embedding array<float>")
    out = dedup.embedding_near_duplicates(emb, id_col="doc", threshold=0.95).collect()
    assert {(r["a_id"], r["b_id"]) for r in out} == {("doc-a", "doc-b")}
    assert all(0.95 <= r["cosine"] <= 1.0 for r in out)


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(0)
    X = rng.normal(size=(200, 16)).astype(np.float32)
    q = rng.normal(size=16).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = [r["vec_id"] for r in similarity.brute_force_topk(emb, list(q), k=5).collect()]
    sims = (X.astype(np.float64) @ q) / (np.linalg.norm(X.astype(np.float64), axis=1) * np.linalg.norm(q))
    exp = list(np.lexsort((np.arange(len(X)), -sims))[:5])
    assert got == [int(i) for i in exp]


def test_ivf_topk_recall(spark):
    rng = np.random.default_rng(1)
    X = rng.normal(size=(300, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    C = similarity.train_centroids(emb, n_centroids=8, sample=300)
    assigned = similarity.assign_centroids(emb, C).cache()
    q = list(X[7].astype(np.float64))
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in similarity.ivf_topk(assigned, C, q, k=10, nprobe=4).collect()}
    assert len(exact & approx) >= 6  # ≥60% recall at nprobe=half


def test_language_detection(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.detect_language(docs).collect()}
    assert out[0] == "en"
    assert out[5] == "es"


def test_quality_features(docs):
    row = [r for r in text.quality_features(docs).collect() if r["doc_id"] == 0][0]
    assert row["q_n_tokens"] == 9
    assert row["q_distinct_ratio"] == pytest.approx(8 / 9)


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "hello, world! foo-bar 123")], "id long, text string")
    r = df.select(
        text.token_count(F.col("text")).alias("ws"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 4
    assert r["bpe"] > 4  # punctuation splits add pieces


def test_fingerprint_shift_invariance(spark):
    fp = text.make_fingerprint_udf(window=4)
    df = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "z z a b c d e f g h")], "id long, text string"
    )
    out = {r["id"]: r["fps"] for r in df.select("id", fp(F.col("text")).alias("fps")).collect()}
    # shared 8-token suffix → shared window fingerprints
    assert len(set(out[0]) & set(out[1])) >= 4


def test_multimodal_features_deterministic(spark):
    media = multimodal.synthetic_media(spark, n=12)
    f1 = multimodal.extract_features(media).orderBy("media_id").collect()
    f2 = multimodal.extract_features(media).orderBy("media_id").collect()
    assert [r["feature"] for r in f1] == [r["feature"] for r in f2]
    assert all(len(r["feature"]) == 16 for r in f1)


def test_multimodal_resize_and_frames(spark):
    media = multimodal.synthetic_media(spark, n=12)
    resized = multimodal.resize_images(media, out_w=4, out_h=4).collect()
    assert all(len(r["payload"]) == 16 for r in resized)
    frames = multimodal.sample_frames(media, every_ms=1500).collect()
    assert len(frames) > 0
    assert all(r["t_ms"] % 1500 == 0 for r in frames)

def test_embedding_near_dup_lsh_default_recall(spark):
    """The default embedding_near_duplicates is sign-LSH bucketed (no
    crossJoin); at a production-like threshold it matches brute force."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(100, 16))
    for a, b in [(10, 50), (11, 51), (12, 52)]:
        X[b] = X[a] + rng.normal(scale=0.02, size=16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    exact = {(r["a_id"], r["b_id"])
             for r in dedup.embedding_near_duplicates_bruteforce(emb, threshold=0.95).collect()}
    got = {(r["a_id"], r["b_id"])
           for r in dedup.embedding_near_duplicates(emb, threshold=0.95).collect()}
    assert got == exact
    assert {(10, 50), (11, 51), (12, 52)} <= got


def test_train_centroids_deterministic_stable(spark):
    rng = np.random.default_rng(5)
    X = rng.normal(size=(64, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    C1 = similarity.train_centroids_deterministic(emb, k=4, iters=3)
    C2 = similarity.train_centroids_deterministic(emb, k=4, iters=3)
    assert np.array_equal(C1, C2) and C1.shape == (4, 8)
    assert np.allclose(np.linalg.norm(C1, axis=1), 1.0)  # unit-norm centroids


def test_embedding_near_dup_bucket_cap_identity(spark):
    """Adversarial all-same-bucket corpus (every vector on one ray → every
    sign-LSH table puts ALL vectors in one bucket): the max_bucket cap must
    split the bucket into bounded chunk-pair tasks WITHOUT changing the pair
    set — capped output == uncapped output == all n·(n-1)/2 pairs."""
    n = 24
    rng = np.random.default_rng(9)
    base = rng.normal(size=8)
    rows = [
        (i, [float(x) for x in base * (1.0 + 0.001 * i)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = {(r["a_id"], r["b_id"], r["cosine"]) for r in
              dedup.embedding_near_duplicates(emb, threshold=0.99, max_bucket=5).collect()}
    uncapped = {(r["a_id"], r["b_id"], r["cosine"]) for r in
                dedup.embedding_near_duplicates(emb, threshold=0.99, max_bucket=0).collect()}
    assert capped == uncapped
    assert len(capped) == n * (n - 1) // 2  # parallel vectors: cosine 1.0 everywhere


def test_embedding_near_dup_bucket_cap_bounds_tasks(spark):
    """With max_bucket=m, no (key, ci, cj) GEMM task may receive more than
    ~2·m rows even when one bucket holds the whole corpus — asserted on the
    REAL task fan-out (dedup._capped_bucket_tasks, the same frame the
    applyInPandas groups over; deterministic for fixed ids)."""
    from pyspark.sql import functions as SF

    from intuition_spark.functions import portable as PT

    n, m = 40, 7
    base = np.arange(1, 9, dtype=np.float64)
    rows = [(i, [float(x) for x in base]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tables = PT.signlsh_tables(4, 6, 8, seed=11)
    norm = SF.sqrt(SF.aggregate("embedding", SF.lit(0.0), lambda a, x: a + x.cast("double") * x))
    keyed = emb.select(
        SF.col("vec_id").alias("a_id"), SF.col("embedding").alias("va"), norm.alias("na"),
        SF.explode(SF.array(*[(SF.lit(t << 8) + PT.s_signlsh_bits("embedding", planes))
                              for t, planes in enumerate(tables)])).alias("key"),
    )
    tasks = dedup._capped_bucket_tasks(keyed, m).groupBy("key", "ci", "cj").count()
    max_task = tasks.agg(SF.max("count")).collect()[0][0]
    assert max_task <= 2 * m
    # every bucket really was oversize (all vectors parallel -> one bucket
    # per table), so the cap actually engaged
    assert tasks.count() > 4


def test_fnv_batch_nul_fallback():
    """Strings containing raw NULs desync the joined-buffer span parser; the
    scalar fallback must produce the same FNV values as the vectorized path
    does for NUL-free strings."""
    import warnings

    from intuition_spark.functions.dedup import _FNV_OFFSET, _FNV_PRIME, MERSENNE, _fnv1a_batch

    def scalar(s):
        h = _FNV_OFFSET
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for c in s.encode():
                h = (h ^ np.uint64(c)) * _FNV_PRIME
        return int(h & MERSENNE)

    weird = ["plain", "has\x00nul", "", "tail\x00"]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # the wraparound is intended
        got = _fnv1a_batch(weird)
    assert [int(x) for x in got] == [scalar(s) for s in weird]
