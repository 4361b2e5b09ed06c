from ilogtail_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun light"
)
NEAR = BASE.replace("afternoon", "evening")  # 1-word change → near-dup
OTHER = "completely different text about spark pipelines and parquet files at scale"


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2  # doc 3 is an exact copy of doc 0
    assert out[2] == 1


def test_minhash_lsh_finds_near_dup(spark):
    pairs = minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in found  # exact dup always collides
    assert (0, 1) in found or (1, 3) in found  # near-dup caught by LSH
    assert all(2 not in p for p in found)


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.5 < pairs[(0, 1)] < 1.0


def test_simhash_similarity(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert sigs[0] == sigs[3]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sigs[0], sigs[1]) < hamming(sigs[0], sigs[2])


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A stop-word-like shingle in f docs yields f² join rows; the
    document-frequency cap drops it from the inverted index so the
    self-join input stays linear. Pairs sharing ONLY the hot gram
    disappear (documented recall trade-off); pairs sharing rare grams
    are unaffected."""
    from ilogtail_spark.functions.dedup import ngram_jaccard_pairs

    hot = [(i, "the quick brown fox " + f"unique{i} filler{i} tail{i}") for i in range(150)]
    near = [(1000, "alpha beta gamma delta"), (1001, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(hot + near, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, threshold=1e-9, max_doc_freq=None)
    capped = ngram_jaccard_pairs(df, threshold=1e-9, max_doc_freq=100)
    # without the cap the hot gram alone creates C(150,2)=11175 pairs
    assert uncapped.count() >= 11175
    rows = capped.collect()
    assert len(rows) == 1  # only the rare-gram near-dup pair survives
    assert (rows[0]["id_a"], rows[0]["id_b"]) == (1000, 1001)
    # denominator stays exact: J = 2/(2+3-2)
    assert abs(rows[0]["jaccard"] - 2 / 3) < 1e-6


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must cluster {A,B,C} even when A~C is below
    threshold; isolated docs keep their own id."""
    from ilogtail_spark.functions.dedup import dedup_clusters

    docs = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "aa bb cc dd ee ff gg xx"),   # ~1
        (3, "cc dd ee ff gg xx yy zz"),   # ~2, not ~1
        (9, "totally different words here entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(df, jaccard_threshold=0.3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[9] == 9


def test_rolling_fingerprint_order_sensitive(spark):
    from pyspark.sql import functions as F

    from ilogtail_spark.functions.textstats import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta alpha gamma"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[1] == fp[3] and fp[1] != fp[2]
    assert 0 <= fp[1] < 2147483647


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    """Review regression: a 14-deep near-dup chain converges within
    max_iter=10 thanks to path halving."""
    from ilogtail_spark.functions.dedup import dedup_clusters

    base = ["w%d" % i for i in range(18)]
    docs = []
    for i in range(15):
        words = base[i : i + 4]  # adjacent docs share 3 of 4 words
        docs.append((i + 1, " ".join(words * 2)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(df, jaccard_threshold=0.05).collect()}
    assert set(out.values()) == {1}


def test_ngram_threshold_bounds_candidate_retention(spark, sf_dir):
    """q23 scale guard: the thresholded pair set must be orders of
    magnitude smaller than the full colliding-pair set (the top-k sort
    input must not scale with every collision)."""
    from ilogtail_spark.functions.dedup import ngram_jaccard_pairs
    from ilogtail_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = ngram_jaccard_pairs(docs, threshold=0.3).count()
    assert 0 < kept < 200, kept  # planted near-dups only, not all collisions


def test_duplicated_spans_exact(spark):
    """Lee-et-al-style span dedup at L=3: hand-computed coverage for
    cross-doc and within-doc repeats, overlap union-merged."""
    from ilogtail_spark.functions.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share 'a b c d' (two overlapping 3-grams:
            # 'a b c', 'b c d' -> union covers 4 tokens in each)
            (1, "a b c d x1 y1 z1"),
            (2, "p2 q2 a b c d r2"),
            # within-doc repeat: 'm n o' twice -> both windows marked
            (3, "m n o k3 m n o"),
            # no duplication
            (4, "u4 v4 w4 s4 t4"),
            # shorter than L: no spans at all
            (5, "x5 y5"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_spans(docs, span_len=3).collect()}
    assert (out[1]["n_tokens"], out[1]["dup_tokens"]) == (7, 4)
    assert (out[2]["n_tokens"], out[2]["dup_tokens"]) == (7, 4)
    assert (out[3]["n_tokens"], out[3]["dup_tokens"]) == (7, 6)
    assert out[3]["dup_frac"] == round(6 / 7, 6)
    assert (out[4]["dup_tokens"], out[5]["dup_tokens"]) == (0, 0)
    assert out[5]["n_tokens"] == 2
