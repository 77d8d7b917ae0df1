"""Property tests for the LLM-data operators on handcrafted corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream4flow_spark.llmdata.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from stream4flow_spark.llmdata.multimodal import attach_binary_payload, decode_images
from stream4flow_spark.llmdata.simsearch import cosine_topk
import pytest

from tests.conftest import SF_DIR


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
FAR = "completely different words appear in this sentence about spark engines"


def test_exact_dedup_collapses_identical(spark):
    df = _docs(spark, [BASE, BASE, FAR])
    out = {r.keeper_id: r.group_size for r in exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_ngram_jaccard_separates_near_from_far(spark):
    df = _docs(spark, [BASE, NEAR, FAR])
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert pairs[(0, 1)] > 0.6
    assert pairs[(0, 2)] == 0.0


def test_minhash_lsh_finds_planted_near_dup(spark):
    df = _docs(spark, [BASE, NEAR, FAR, "short text"])
    got = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(df, threshold=0.5).collect()}
    assert got == {(0, 1)}


def test_simhash_near_dup_has_smaller_hamming(spark):
    """Signature-level: the near copy's SimHash is closer than the far
    document's. Compared on ``simhash_table`` directly, because whether
    the 4 x 16-bit banding of ``simhash_dedup`` pairs two documents is
    guaranteed only at hamming <= 3; this pair sits at hamming 9 and
    shares no chunk."""
    from stream4flow_spark.llmdata.dedup import simhash_table

    df = _docs(spark, [BASE, NEAR, FAR])
    sh = {r.id: r.sh for r in simhash_table(df).collect()}
    ham = {
        (a, b): bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")
        for a, b in [(0, 1), (0, 2), (1, 2)]
    }
    assert ham[(0, 1)] < ham[(0, 2)]
    assert ham[(0, 1)] < ham[(1, 2)]


def test_simhash_identical_docs_collide_at_hamming_zero(spark):
    """The md5 shingle hash (oracle-replayable) keeps SimHash's
    semantics: identical docs collide at hamming 0, and the planted
    near-dup (hamming 9, see above) and far docs stay out of the
    hamming <= 3 pairs."""
    df = _docs(spark, [BASE, BASE, NEAR, FAR])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dedup(df, max_hamming=3).collect()
    }
    assert pairs == {(0, 1): 0}


def test_simhash_rejects_hamming_the_banding_cannot_recall(spark):
    """4 x 16-bit chunks guarantee a shared chunk only up to hamming 3
    (pigeonhole); a larger bound would silently miss pairs."""
    from stream4flow_spark.llmdata.dedup import dedup_corpus

    df = _docs(spark, [BASE, NEAR])
    with pytest.raises(ValueError, match="max_hamming=4"):
        simhash_dedup(df, max_hamming=4)
    with pytest.raises(ValueError, match="max_hamming=16"):
        dedup_corpus(df, scheme="simhash", max_hamming=16)


def _simhash_column_form(df, n=3):
    """The pre-r15 Column implementation of simhash_table, kept as the
    bit-exactness reference for the Arrow kernel (explode_outer →
    per-gram md5 halves → 64-sum aggregate → vote fold)."""
    from stream4flow_spark.llmdata.dedup import _sh_from_votes, word_ngrams

    exploded = df.select(
        F.col("doc_id").alias("id"),
        F.explode_outer(word_ngrams(F.col("text"), n)).alias("g"),
    )
    d = F.md5(F.col("g"))
    hashed = exploded.select(
        "id",
        F.conv(F.substring(d, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(d, 9, 8), 16, 10).cast("long").alias("h2"),
    )

    def bit(j):
        half = F.col("h2") if j < 32 else F.col("h1")
        return F.shiftright(half, j % 32).bitwiseAND(1)

    votes = hashed.groupBy("id").agg(
        *[
            F.coalesce(F.sum(bit(j) * 2 - 1), F.lit(0))
            .cast("long")
            .alias(f"v{j}")
            for j in range(64)
        ]
    )
    return votes.select(
        "id", _sh_from_votes([F.col(f"v{j}") for j in range(64)]).alias("sh")
    )


def test_simhash_kernel_matches_column_form(spark):
    """r15 kernel gate: the mapInArrow simhash signature must reproduce
    the old explode+aggregate Column form BIT FOR BIT — fixture
    documents plus adversarial shapes (no shingles, empty text, NULL
    text, non-ASCII, single repeated gram)."""
    from stream4flow_spark.llmdata.dedup import simhash_table

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    extra = spark.createDataFrame(
        [
            (100001, "one two"),            # fewer words than n → no grams
            (100002, ""),                   # empty text
            (100003, None),                 # NULL text
            (100004, "naïve café über — naïve café über — naïve café über"),
            (100005, "a b c a b c a b c"),  # repeated grams
            (100006, "x y z"),              # exactly one gram
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(extra)
    want = {r.id: r.sh for r in _simhash_column_form(df).collect()}
    got = {r.id: r.sh for r in simhash_table(df).collect()}
    assert got == want, "simhash kernel diverges from the Column form"


def test_cosine_topk_identity_and_orthogonal(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (3, [0.9, 0.1, 0.0, 0.0]),  # close to 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    ranked = [(r.neighbor_id, r.cos) for r in out.orderBy("rank").collect()]
    assert ranked[0][0] == 1 and abs(ranked[0][1] - 1.0) < 1e-9
    assert ranked[1][0] == 3
    assert ranked[2] == (2, 0.0)


def test_multimodal_decode_real_payloads(spark):
    """Synthesized PPM/BMP payloads decode to the generation-rule dims
    and pixel means; undecodable payloads surface as ok=False."""
    import numpy as np

    from stream4flow_spark.llmdata.multimodal import (
        _image_array,
        synthesize_images,
    )

    df = spark.range(6).select(F.col("id").alias("doc_id"))
    out = {r.doc_id: r for r in decode_images(synthesize_images(df)).collect()}
    for d in range(6):
        arr = _image_array(d)
        assert out[d].ok
        assert out[d].fmt == ("ppm" if d % 2 == 0 else "bmp")
        assert (out[d].height, out[d].width, out[d].channels) == arr.shape
        assert out[d].px_mean == round(float(np.mean(arr)), 4)

    # text bytes are no decodable container -> ok=False, fmt None
    bad = decode_images(attach_binary_payload(_docs(spark, ["abc"]))).collect()
    assert bad[0].ok is False and bad[0].fmt is None


def test_codec_roundtrips():
    """Every pure-numpy codec must round-trip arbitrary arrays exactly."""
    import numpy as np

    from stream4flow_spark.llmdata import codecs

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 7), (16, 5), (13, 13)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(codecs.decode_pnm(codecs.encode_ppm(img)), img)
        assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(img)), img)
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(codecs.decode_pnm(codecs.encode_pgm(gray)), gray)
    for n, ch in [(1, 1), (100, 1), (37, 2)]:
        pcm = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
        rate, back = codecs.decode_wav(codecs.encode_wav(pcm, rate=8000))
        assert rate == 8000 and np.array_equal(back, pcm)
    # PNM comments and multi-whitespace headers parse per spec
    img = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    data = b"P6\n# a comment\n 3  2\n255\n" + img.tobytes()
    assert np.array_equal(codecs.decode_pnm(data), img)


def test_codec_box_resize_matches_reference():
    """box_resize must equal an independent per-box mean computed with
    explicit floor(i*in/out) edges."""
    import numpy as np

    from stream4flow_spark.llmdata.codecs import box_resize

    rng = np.random.default_rng(5)
    for (h, w), (oh, ow) in [((12, 17), (8, 8)), ((5, 5), (5, 5)), ((9, 4), (3, 2))]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = box_resize(img, ow, oh)
        for R in range(oh):
            for C in range(ow):
                r0, r1 = R * h // oh, (R + 1) * h // oh
                c0, c1 = C * w // ow, (C + 1) * w // ow
                want = img[r0:r1, c0:c1].astype(float).mean(axis=(0, 1))
                assert np.allclose(got[R, C], want)


def test_codec_rejects_malformed():
    import pytest as _pytest

    from stream4flow_spark.llmdata import codecs

    for data in [b"", b"P6\n", b"BMxx", b"RIFFxxxxWAVE", b"P6\n4 4\n255\n\x00"]:
        with _pytest.raises((codecs.CodecError, NotImplementedError)):
            codecs.decode_image(data)


def test_ivf_topk_recall_vs_exact(spark):
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.simsearch import cosine_topk, ivf_topk
    from stream4flow_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    # probing every cluster makes IVF exhaustive — must equal brute force
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact
    # realistic probe fraction still recovers most true neighbors
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_lsh_recall_vs_exact_pairs(spark):
    from stream4flow_spark.llmdata.simsearch import (
        cosine_pairs_blocked,
        lsh_bucketed_neighbors,
    )
    from stream4flow_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in cosine_pairs_blocked(emb, threshold=0.3).collect()
    }
    assert exact  # sanity: planted near-pairs exist at this threshold
    # Recall math: a pair at the 0.3 threshold collides per-table with
    # P=(1-acos(0.3)/pi)^3 ≈ 0.21; across 10 tables 1-(1-P)^10 ≈ 0.91.
    got = lsh_bucketed_neighbors(
        emb, threshold=0.3, num_planes=3, num_tables=10
    )
    found = {(r.id_a, r.id_b) for r in got.collect()}
    assert found <= exact  # exact verification: precision is 1
    assert len(found & exact) / len(exact) >= 0.75


def test_lsh_bucket_cap_bounds_candidates(spark):
    from stream4flow_spark.llmdata.simsearch import lsh_bucketed_neighbors

    # 40 identical vectors all land in one bucket; cap 10 keeps the 10
    # lowest ids -> at most C(10,2)=45 pairs instead of C(40,2)=780.
    rows = [(i, [1.0] * 8) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_bucketed_neighbors(
        emb, threshold=0.9, num_planes=2, dim=8, num_tables=2, max_bucket=10
    ).collect()
    assert len(out) == 45
    assert max(max(r.id_a, r.id_b) for r in out) == 9


def test_connected_components_handcrafted_graph(spark):
    from stream4flow_spark.llmdata.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    cc = {r.id: r.component for r in connected_components(pairs).collect()}
    assert cc == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_connected_components_long_chain_and_empty(spark):
    """r14 internals pin: the loop's convergence test is a monotone
    label-sum over lazily-checkpointed blocks (one driver job each).
    A 33-vertex path graph needs many propagation blocks (label 0
    travels the whole chain), exercising multi-block convergence, the
    checkpoint unpersist cycle, and the final-block equality; the empty
    graph exercises the NULL-sum short-circuit."""
    from stream4flow_spark.llmdata.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "id_a long, id_b long"
    )
    cc = {r.id: r.component for r in connected_components(chain).collect()}
    assert cc == {i: 0 for i in range(33)}

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []

    # ids are NOT required to be numeric (label_propagation's test graph
    # and callers use strings) — the convergence metric must not cast
    strs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    cc2 = {r.id: r.component for r in connected_components(strs).collect()}
    assert cc2 == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_hash_split_deterministic_and_proportional(spark):
    from stream4flow_spark.llmdata.sampling import hash_split
    from stream4flow_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, w).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs, w).collect()}
    assert a == b  # run-to-run deterministic
    n = len(a)
    train_frac = sum(1 for s in a.values() if s == "train") / n
    assert 0.7 < train_frac < 0.9
    # a different salt gives a different (but still complete) assignment
    c = {r.doc_id: r.split for r in hash_split(docs, w, salt="other").collect()}
    assert c != a and set(c) == set(a)


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """1k identical docs: every band bucket is the same hot bucket. The
    cap keeps the lowest max_bucket ids so the candidate count is bounded
    at C(cap,2) instead of C(1000,2) ≈ 500k."""
    df = _docs(spark, [BASE] * 1000)
    out = minhash_lsh_dedup(df, threshold=0.5, max_bucket=20).collect()
    assert len(out) == 20 * 19 // 2
    assert max(max(r.id_a, r.id_b) for r in out) == 19
    # all retained pairs are true duplicates (jaccard 1.0)
    assert all(r.jaccard == 1.0 for r in out)


def test_simhash_bucket_cap_bounds_degenerate_corpus(spark):
    df = _docs(spark, [BASE] * 1000)
    out = simhash_dedup(df, max_hamming=3, max_bucket=20).collect()
    assert len(out) == 20 * 19 // 2
    assert max(max(r.id_a, r.id_b) for r in out) == 19


def test_cosine_topk_zero_vectors_pruned_consistently(spark):
    """Zero-norm vectors have NaN cosine: they must be excluded from
    ranking entirely (pandas sorts NaN last, Spark desc() sorts NaN first
    — keeping them would make the pruned and unpruned plans disagree)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> NaN cosine
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    ranked = [r.neighbor_id for r in out.orderBy("rank").collect()]
    assert ranked == [2, 3]  # the zero vector never appears, NaN never ranks first


def _two_cones(spark):
    """ids 0..199: cluster A (x-axis cone); ids 200..399: cluster B
    (y-axis cone) — content fully determined by id order."""
    import math

    rows = []
    for i in range(200):
        a = 0.2 * math.sin(i)
        rows.append((i, [1.0, a, 0.0, 0.0]))
        rows.append((200 + i, [0.0, a, 1.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_centroids_unbiased_when_ids_correlate_with_content(spark):
    """The old index build sampled the first ids as centroids — if ids
    correlate with content (sorted ingest), every centroid came from one
    region and recall collapsed for the rest. The k-means build must
    cover both clusters."""
    from stream4flow_spark.llmdata.simsearch import cosine_topk, ivf_topk

    emb = _two_cones(spark)
    queries = emb.filter((F.col("vec_id") % 100) == 7)  # some of each cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=4, n_probe=2).collect()
    }
    # per-cluster recall: B-cluster queries (vec_id >= 200) must not be
    # starved by centroids drawn only from A
    for lo, hi in [(0, 200), (200, 400)]:
        e = {p for p in exact if lo <= p[0] < hi}
        g = {p for p in got if lo <= p[0] < hi}
        assert len(g & e) / len(e) >= 0.8, (lo, hi)


def test_kmeans_sample_is_hash_spread_when_ids_follow_content(spark):
    """The k-means training sample is the first rows by md5(id), not
    the first ids: with 2 × 40 sampled rows of the 400, an id-ordered
    sample holds only cone A, so both clusters start in A and cone B
    splits across them; the md5 sample holds both cones."""
    from stream4flow_spark.llmdata.sampling import cluster_balanced_sample

    out = cluster_balanced_sample(
        _two_cones(spark), n_clusters=2, cap=400, sample_per_centroid=40
    ).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r.vec_id)
    assert len(by_cluster) == 2
    for ids in by_cluster.values():
        assert all(i < 200 for i in ids) or all(i >= 200 for i in ids)


def test_clean_text_redactions(spark):
    from stream4flow_spark.llmdata.textstats import clean_text

    df = _docs(
        spark,
        [
            "contact me  at bob@example.com   or https://x.io/a?b=1 now",
            "order 1234567890 shipped",
            "no pii here",
        ],
    )
    out = {r.doc_id: r for r in clean_text(df).collect()}
    assert out[0].text_clean == "contact me at <EMAIL> or <URL> now"
    assert out[0].n_redactions == 2
    assert out[1].text_clean == "order <NUM> shipped"
    assert out[1].n_redactions == 1
    assert out[2].text_clean == "no pii here"
    assert out[2].n_redactions == 0


def test_dedup_corpus_transitive_keepers(spark):
    from stream4flow_spark.llmdata.dedup import dedup_corpus

    # 0~1 and 1~2 near-dups (transitive cluster of 3); 3 unique; 4 short
    mid = BASE.replace("today", "tonight")
    df = _docs(spark, [BASE, NEAR, mid, FAR, "tiny"])
    out = {r.keeper_id: r.group_size for r in dedup_corpus(df, threshold=0.5).collect()}
    assert out == {0: 3, 3: 1, 4: 1}


def test_dedup_corpus_keeper_by_score(spark):
    """keeper_by: the component keeper is the member with the HIGHEST
    score (lowest id on ties), not the lowest id — the curation policy
    of keeping the best copy. Singletons keep themselves."""
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.dedup import dedup_corpus

    mid = BASE.replace("today", "tonight")
    df = _docs(spark, [BASE, NEAR, mid, FAR, "tiny"]).withColumn(
        "score",
        # cluster {0,1,2}: doc 1 scores highest -> keeper; tie 0 vs 2
        # is irrelevant; singletons 3, 4 keep themselves
        F.element_at(F.array(F.lit(1.0), F.lit(9.0), F.lit(1.0),
                             F.lit(0.5), F.lit(0.5)),
                     F.col("doc_id").cast("int") + 1),
    )
    out = {
        r.keeper_id: r.group_size
        for r in dedup_corpus(df, threshold=0.5, keeper_by="score").collect()
    }
    assert out == {1: 3, 3: 1, 4: 1}
    # tie on score falls back to the lowest id (default-policy agreement)
    flat = df.withColumn("score", F.lit(1.0))
    out = {
        r.keeper_id: r.group_size
        for r in dedup_corpus(flat, threshold=0.5, keeper_by="score").collect()
    }
    assert out == {0: 3, 3: 1, 4: 1}


def test_segment_dedup_keeper_by_doc_score(spark):
    """segment_dedup keeper_by: a duplicated segment survives in the
    highest-scoring DOCUMENT (not the first-seen), ties -> first
    (doc, pos) occurrence."""
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.dedup import segment_dedup

    docs = _docs(
        spark,
        [
            "cookie banner\nreal content one",
            "cookie banner\nreal content two",
        ],
    ).withColumn(
        "q", F.when(F.col("doc_id") == 1, F.lit(5.0)).otherwise(F.lit(1.0))
    )
    out = {r.doc_id: r for r in segment_dedup(docs, keeper_by="q").collect()}
    # doc 1 outranks doc 0, so the shared banner survives in doc 1
    assert out[0].text == "real content one"
    assert out[1].text == "cookie banner\nreal content two"
    assert (out[0].n_kept, out[1].n_kept) == (1, 2)


def test_source_overlap_trigram_exact_and_capped(spark):
    """Trigram overlap matrix: near-identical sources overlap with high
    Jaccard, disjoint sources produce no row; the bottom-k cap bounds
    per-source set sizes deterministically and keeps the heavy pair
    ranked above lighter ones."""
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.textstats import source_overlap_trigram

    rows = []
    for i in range(6):
        rows.append((i, BASE, "src_a"))               # identical content
        rows.append((100 + i, BASE.replace("today", f"w{i}"), "src_b"))
        rows.append((200 + i, f"totally different text {i} about parquet "
                              f"columnar formats and engines {i}", "src_c"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap_trigram(docs).collect()
    }
    ab = out[("src_a", "src_b")]
    assert ab.jaccard > 0.5  # near-copies share most trigrams
    assert ("src_a", "src_c") not in out and ("src_b", "src_c") not in out
    # exact sizes: src_a's 6 identical docs collapse to one distinct set
    n_base_grams = len(BASE.split()) - 2
    assert ab.n_grams_a == n_base_grams

    capped = {
        (r.source_a, r.source_b): r
        for r in source_overlap_trigram(docs, max_grams_per_source=5).collect()
    }
    cab = capped[("src_a", "src_b")]
    assert cab.n_grams_a == 5 and cab.n_grams_b == 5
    assert cab.n_shared <= 5
    again = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_overlap_trigram(docs, max_grams_per_source=5).collect()
    }
    assert again[("src_a", "src_b")] == cab.n_shared  # deterministic


def test_winnow_fingerprints_guarantee_and_selectivity(spark):
    """Winnowing guarantee: documents sharing a substring of length >=
    window+k-1 share at least one fingerprint; unrelated documents share
    none; fingerprint count is ~1/window of the k-gram count."""
    from stream4flow_spark.llmdata.textstats import winnow_fingerprints

    shared = "a common phrase that is plenty long enough to guarantee overlap"
    df = _docs(
        spark,
        [
            "prefix one " + shared + " suffix alpha",
            "other start " + shared + " different tail",
            "zq wx vk jj pf gh bn mm rr tt yy uu ii oo pp qq ss dd ff gg",
            "xy",  # shorter than k: no k-grams at all
        ],
    )
    out = {r.doc_id: r for r in winnow_fingerprints(
        df, k=8, window=4).collect()}
    f0, f1, f2 = set(out[0].fps), set(out[1].fps), set(out[2].fps)
    assert f0 & f1, "shared substring must yield a shared fingerprint"
    assert not (f0 & f2) and not (f1 & f2)
    assert out[3].n_fps == 0
    # selectivity: stored fingerprints ≈ k-grams / window (loose bound)
    n_grams = len("prefix one " + shared + " suffix alpha") - 7
    assert out[0].n_fps < n_grams / 2
    # determinism
    again = {r.doc_id: set(r.fps) for r in winnow_fingerprints(
        df, k=8, window=4).collect()}
    assert again[0] == f0


def test_winnow_neardup_finds_planted_pair(spark):
    from stream4flow_spark.llmdata.dedup import winnow_neardup_pairs

    df = _docs(spark, [BASE, NEAR, FAR, "tiny text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in winnow_neardup_pairs(df, threshold=0.5).collect()
    }
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] > 0.6  # exact verification value, not an estimate


def test_winnow_neardup_bucket_cap_bounds_degenerate_corpus(spark):
    from stream4flow_spark.llmdata.dedup import winnow_neardup_pairs

    df = _docs(spark, [BASE] * 500)
    out = winnow_neardup_pairs(df, threshold=0.5, max_bucket=15).collect()
    assert len(out) == 15 * 14 // 2
    assert max(max(r.id_a, r.id_b) for r in out) == 14


def test_winnow_blocking_recall_vs_exact_jaccard(spark):
    """Quantified recall gate (r04 verdict item 6): at sf0.01 the winnow
    blocking + verify path must recover >=90% of the exact O(N^2)
    Jaccard pairs above threshold. Measured 100% (25/25 at t=0.5 and
    t=0.7) — recorded in SCALE.md; the margin guards the default-tuning
    knobs (bottom-64 sketch, bucket cap 500) against silent recall
    regressions."""
    from stream4flow_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
        winnow_neardup_pairs,
    )
    from stream4flow_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    winnow = {
        (r.id_a, r.id_b)
        for r in winnow_neardup_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    recall = len(exact & winnow) / len(exact)
    assert recall >= 0.9, f"winnow recall {recall:.2%} below gate"
    # verified winnow pairs are a subset of the exact pairs by
    # construction (same verify predicate)
    assert winnow <= exact


def test_decontaminate_planted_overlap_and_hash_parity(spark):
    from stream4flow_spark.llmdata.decontaminate import (
        contamination_counts,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox sat still"),       # shares 2 3-grams
            (2, "a completely different sentence here entirely"),
            (3, "quick brown fox jumps over everything"),  # shares 3
            (4, "xy"),                                   # < 3 tokens
        ],
        "doc_id long, text string",
    )
    plain = {
        (r.doc_id, r.n_contaminated_grams)
        for r in contamination_counts(corpus, bench, n=3, hash_grams=False).collect()
    }
    assert plain == {(1, 2), (3, 3)}
    hashed = {
        (r.doc_id, r.n_contaminated_grams)
        for r in contamination_counts(corpus, bench, n=3, hash_grams=True).collect()
    }
    assert hashed == plain  # 8-byte gram path must not change counts

    kept = {r.doc_id for r in decontaminate(corpus, bench, n=3, min_overlap=3).collect()}
    assert kept == {1, 2, 4}


def test_repetition_features_goldens(spark):
    from stream4flow_spark.llmdata.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
            (2, "w x y z"),       # 3 distinct bigrams, no repeats
            (3, "solo"),          # no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert rows[1].n_bigrams == 5 and rows[1].n_distinct_bigrams == 2
    assert abs(rows[1].dup_bigram_frac - 3 / 5) < 1e-12
    assert abs(rows[1].top_bigram_frac - 3 / 5) < 1e-12
    assert rows[2].n_bigrams == 3 and rows[2].dup_bigram_frac == 0.0
    assert rows[3].n_bigrams == 0 and rows[3].dup_bigram_frac == 0.0
    assert rows[3].top_bigram_frac == 0.0


def test_cap_per_group_deterministic_across_partitioning(spark):
    from stream4flow_spark.llmdata.sampling import cap_per_group

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df1 = spark.createDataFrame(rows, "doc_id long, source string")
    df8 = df1.repartition(8)
    got1 = {(r.doc_id, r.sample_rank) for r in cap_per_group(df1, "source", 5).collect()}
    got8 = {(r.doc_id, r.sample_rank) for r in cap_per_group(df8, "source", 5).collect()}
    assert got1 == got8  # md5 order is partitioning-independent
    per_src = {}
    for doc_id, rank in got1:
        per_src.setdefault(doc_id % 3, []).append(rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_src.values())


def test_bm25_ranks_heavier_term_use_higher(spark):
    from stream4flow_spark.llmdata.lexsearch import bm25_topk, top_terms

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark shuffle"),
            (2, "spark shuffle join join join join"),
            (3, "join alone here"),
            (4, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    ranked = bm25_topk(docs, ["spark"], k=10).collect()
    assert [r.doc_id for r in ranked][0] == 1  # highest tf, shortest doc
    assert {r.doc_id for r in ranked} == {1, 2}  # doc 3/4 contain no "spark"

    terms = {(r.term, r.total_tf, r.df) for r in top_terms(docs, k=3).collect()}
    assert ("join", 5, 2) in terms and ("spark", 4, 2) in terms


def test_cap_per_group_two_stage_matches_single_window(spark):
    from stream4flow_spark.llmdata.sampling import cap_per_group

    rows = [(i, "hot" if i % 10 else "cold") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    single = {
        (r.doc_id, r.sample_rank)
        for r in cap_per_group(df, "source", 7).collect()
    }
    salted = {
        (r.doc_id, r.sample_rank)
        for r in cap_per_group(df, "source", 7, salt_buckets=16).collect()
    }
    assert salted == single  # bucket pre-cap must not change the result


def test_cap_per_group_auto_picks_measured_side_of_crossover(spark, monkeypatch):
    """salt_buckets="auto" must stay single-window below the measured
    ~8M-row crossover (SCALE.md skew study) and switch to the salted
    two-stage above it — with identical results either way."""
    from stream4flow_spark.llmdata import sampling
    from stream4flow_spark.llmdata.sampling import cap_per_group

    rows = [(i, "hot" if i % 10 else "cold") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    single = {
        (r.doc_id, r.sample_rank)
        for r in cap_per_group(df, "source", 7).collect()
    }
    # below the crossover: auto == single-window result
    auto = {
        (r.doc_id, r.sample_rank)
        for r in cap_per_group(df, "source", 7, salt_buckets="auto").collect()
    }
    assert auto == single
    # force the crossover below this fixture's hot group (450 rows) so
    # auto takes the two-stage branch — result must still be identical
    monkeypatch.setattr(sampling, "_AUTO_SALT_CROSSOVER_ROWS", 100)
    monkeypatch.setattr(sampling, "_AUTO_SALT_TARGET_ROWS", 100)
    forced = {
        (r.doc_id, r.sample_rank)
        for r in cap_per_group(df, "source", 7, salt_buckets="auto").collect()
    }
    assert forced == single


def test_pack_sequences_is_exact_prefix_sum(spark):
    """Two-level distributed offsets must equal the naive global cumsum
    over the (bucket, doc_id) order, partition the token stream without
    gaps, and span the right sequence ids."""
    from stream4flow_spark.llmdata.packing import pack_sequences

    texts = [f"word {'tok ' * (i % 7)}end" for i in range(50)]
    df = _docs(spark, texts).repartition(7)
    out = (
        pack_sequences(df, budget=16, n_buckets=8)
        .orderBy("bucket", "doc_id")
        .collect()
    )
    run = 0
    for r in out:
        assert r.token_offset == run, (r.doc_id, r.token_offset, run)
        run += r.n_tokens
        assert r.seq_first == r.token_offset // 16
        assert r.seq_last == (r.token_offset + r.n_tokens - 1) // 16
        assert r.n_seqs == r.seq_last - r.seq_first + 1
    # every sequence id up to the last is populated (chunking leaves no
    # empty sequences)
    covered = set()
    for r in out:
        covered.update(range(r.seq_first, r.seq_last + 1))
    assert covered == set(range(max(covered) + 1))


def test_pack_sequences_offsets_independent_of_partitioning(spark):
    from stream4flow_spark.llmdata.packing import pack_sequences

    texts = [f"{'a ' * (i % 5)}b" for i in range(40)]
    one = {
        r.doc_id: r.token_offset
        for r in pack_sequences(_docs(spark, texts).coalesce(1), 32).collect()
    }
    many = {
        r.doc_id: r.token_offset
        for r in pack_sequences(
            _docs(spark, texts).repartition(13), 32
        ).collect()
    }
    assert one == many


def test_mixture_resample_hits_target_shares(spark):
    """With ample data per group the kept counts must track the target
    mixture; the scarcest-relative group keeps ~all its rows; untargeted
    groups are dropped; assignment is deterministic."""
    from stream4flow_spark.llmdata.sampling import mixture_resample

    rows = []
    sizes = {"big": 3000, "mid": 1000, "rare": 200, "skip": 500}
    i = 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    targets = {"big": 0.5, "mid": 0.3, "rare": 0.2}
    kept = mixture_resample(df, targets).collect()
    by_src = {}
    for r in kept:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert "skip" not in by_src
    # rare is the binding group: 200/0.2 = 1000 = K → keeps ~all rows
    assert by_src["rare"] >= 190
    total = sum(by_src.values())
    for src, w in targets.items():
        assert abs(by_src[src] / total - w) < 0.05, (src, by_src, total)
    again = mixture_resample(df, targets).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in kept}


def test_segment_dedup_keeps_first_occurrence_lines(spark):
    """Line-level boilerplate removal: the first (doc, position)
    occurrence of a line survives, every later copy is dropped, docs
    rebuild in original order, and a fully-deduped doc becomes empty."""
    from stream4flow_spark.llmdata.dedup import segment_dedup

    docs = _docs(
        spark,
        [
            "cookie banner\nreal content one\nfooter",
            "cookie banner\nreal content two\nfooter",
            "cookie banner\nfooter",
        ],
    )
    out = {r.doc_id: r for r in segment_dedup(docs).collect()}
    assert out[0].text == "cookie banner\nreal content one\nfooter"
    assert (out[0].n_segments, out[0].n_kept) == (3, 3)
    assert out[1].text == "real content two"
    assert (out[1].n_segments, out[1].n_kept) == (3, 1)
    assert out[2].text == ""
    assert (out[2].n_segments, out[2].n_kept) == (2, 0)


def test_segment_dedup_within_doc_repeats(spark):
    """A line repeated INSIDE one document also collapses to its first
    position (pk ordering is (doc, pos), not doc-distinct)."""
    from stream4flow_spark.llmdata.dedup import segment_dedup

    docs = _docs(spark, ["a\nb\na\nc\nb"])
    out = segment_dedup(docs).collect()[0]
    assert out.text == "a\nb\nc"
    assert (out.n_segments, out.n_kept) == (5, 3)


def test_incremental_dedup_planted_cases(spark):
    """Delta rows collapse within the delta (min key wins) AND against
    the corpus (already-seen text never re-enters)."""
    from stream4flow_spark.llmdata.dedup import incremental_dedup

    corpus = _docs(spark, [BASE, FAR])
    delta = spark.createDataFrame(
        [(10, BASE), (11, NEAR), (12, NEAR), (13, "brand new text here")],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in incremental_dedup(corpus, delta).collect())
    # 10 drops (exact dup of corpus BASE); 12 drops (within-delta dup of
    # 11); 11 and 13 survive
    assert got == [11, 13]


def test_pii_stats_counts_planted_pii(spark):
    from stream4flow_spark.llmdata.textstats import pii_stats

    df = spark.createDataFrame(
        [
            (0, "s1", "mail me at a.b@example.com or c@d.org today"),
            (1, "s1", "see https://example.com/x and id 1234567"),
            (2, "s1", "clean text"),
            (3, "s2", "short 1234 is not a long digit run"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in pii_stats(df).collect()}
    assert (out["s1"].n_emails, out["s1"].n_urls, out["s1"].n_digit_runs) == (2, 1, 1)
    assert out["s1"].n_docs_with_pii == 2
    assert (out["s2"].n_docs, out["s2"].n_docs_with_pii) == (1, 0)


def test_bpe_trains_expected_merges_and_encodes(spark):
    """Classic BPE behavior on a handcrafted corpus: frequent character
    pairs merge first; encoding matches an independent reference loop;
    untrained words fall back to characters."""
    from stream4flow_spark.llmdata.bpe import (
        encode_with_bpe,
        segment_word,
        train_bpe,
    )

    corpus = ["low low low low low lower lower newest newest newest"] * 3
    df = _docs(spark, corpus)
    merges = train_bpe(df, num_merges=12, max_words=100)
    ranks = {p: i for i, p in enumerate(merges)}
    # 'low' occurs 15x: its full merge chain must be learned
    assert segment_word("low", ranks) == ["low</w>"]
    # reference re-implementation: repeatedly apply the ranked merges
    def ref_segment(word):
        sym = list(word) + ["</w>"]
        changed = True
        while changed:
            changed = False
            best = None
            for i in range(len(sym) - 1):
                r = ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is not None:
                i = best[1]
                sym[i : i + 2] = [sym[i] + sym[i + 1]]
                changed = True
        return sym

    for w in ["low", "lower", "newest", "night", "xyz"]:
        assert segment_word(w, ranks) == ref_segment(w), w

    out = {r.doc_id: r for r in encode_with_bpe(df, merges).collect()}
    expect = sum(len(ref_segment(w)) for w in corpus[0].split())
    assert out[0].n_tokens_bpe_exact == expect
    assert out[0].max_word_subwords == max(
        len(ref_segment(w)) for w in corpus[0].split()
    )


def test_bpe_training_is_deterministic_across_partitioning(spark):
    from stream4flow_spark.llmdata.bpe import train_bpe

    texts = [f"alpha beta gamma delta{i % 3} epsilon" for i in range(40)]
    m1 = train_bpe(_docs(spark, texts).coalesce(1), num_merges=20)
    m2 = train_bpe(_docs(spark, texts).repartition(13), num_merges=20)
    assert m1 == m2


def test_pack_sequences_accepts_precomputed_token_counts(spark):
    """BPE-exact counts drive packing through token_col; offsets follow
    the provided counts, not the whitespace heuristic."""
    from stream4flow_spark.llmdata.packing import pack_sequences

    df = spark.createDataFrame(
        [(0, "irrelevant", 10), (1, "text", 20), (2, "here", 30)],
        "doc_id long, text string, n_bpe int",
    )
    out = {
        r.doc_id: (r.n_tokens, r.token_offset)
        for r in pack_sequences(df, budget=16, n_buckets=4,
                                token_col="n_bpe").collect()
    }
    assert {v[0] for v in out.values()} == {10, 20, 30}
    assert sorted(v[1] for v in out.values())[0] == 0
    total = sum(v[0] for v in out.values())
    assert max(v[0] + v[1] for v in out.values()) == total


def test_quality_classifier_separates_planted_signal(spark):
    """Weak-label LR on hashed tokens must cleanly separate a planted
    vocabulary split on held-out docs (the DCLM/FineWeb-style learned
    quality filter, minus the fancy teacher)."""
    import random

    from stream4flow_spark.llmdata.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    rng = random.Random(7)
    good_vocab = ["insight", "method", "result", "careful", "evidence"]
    bad_vocab = ["spam", "click", "buy", "winner", "free"]
    rows = []
    for i in range(300):
        good = i % 2 == 0
        vocab = good_vocab if good else bad_vocab
        words = [rng.choice(vocab) for _ in range(20)] + [
            rng.choice(["the", "and", "of"]) for _ in range(10)
        ]
        rng.shuffle(words)
        rows.append((i, " ".join(words), 1 if good else 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    train = df.filter(F.col("doc_id") % 5 != 0)
    test = df.filter(F.col("doc_id") % 5 == 0)
    model = train_quality_classifier(train, "label")
    scored = score_quality(model, test, id_cols=["doc_id", "label"])
    got = scored.collect()
    acc = sum(
        1 for r in got if (r.quality_prob > 0.5) == (r.label == 1)
    ) / len(got)
    assert acc > 0.95, acc


def test_quantized_topk_recall_vs_float_exact(spark):
    """int8 codes must preserve cosine ranking: recall@5 vs the float
    exact path ≥ 0.9 on the real embedding fixture, and the codes table
    must actually be tinyint."""
    from stream4flow_spark.llmdata.simsearch import (
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )
    from stream4flow_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).collect()
    quant = cosine_topk_quantized(emb, queries, k=5).collect()
    want = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in quant}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall
    dtype = dict(quantize_embeddings(emb).dtypes)["codes"]
    assert dtype == "array<tinyint>", dtype


def test_quantize_embeddings_codes_bounded_and_zero_safe(spark):
    from stream4flow_spark.llmdata.simsearch import quantize_embeddings

    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.codes for r in quantize_embeddings(df).collect()}
    assert rows[0] == [64, -127, 32]
    assert rows[1] == [0, 0, 0]


def test_write_shards_balanced_deterministic_with_manifest(spark, tmp_path):
    """Sharded export: stable assignment across runs, one parquet file
    per shard, rough balance, and a manifest whose counts match."""
    import glob
    import json as _json

    from stream4flow_spark.llmdata.export import assign_shards, write_shards
    from stream4flow_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "shards")
    manifest = write_shards(docs, out, n_shards=8)
    assert manifest["total_rows"] == docs.count()
    assert len(manifest["shards"]) == 8
    mean = manifest["total_rows"] / 8
    assert all(abs(v - mean) < 0.5 * mean for v in manifest["shards"].values())
    for s in range(8):
        files = glob.glob(f"{out}/shard={s}/*.parquet")
        assert len(files) == 1, (s, files)
    disk = _json.load(open(f"{out}/_manifest.json"))
    assert disk == manifest
    # underscore-prefixed side file must be invisible to parquet readers:
    # a fresh read of the directory parses only the data files
    assert spark.read.parquet(out).count() == manifest["total_rows"]
    # assignment is a pure function of the key: identical across runs
    # and partitionings
    a = {r.doc_id: r.shard for r in assign_shards(docs, 8).collect()}
    b = {
        r.doc_id: r.shard
        for r in assign_shards(docs.repartition(13), 8).collect()
    }
    assert a == b


def test_normalize_unicode_composes_decomposed_accents(spark):
    from stream4flow_spark.llmdata.dedup import exact_dedup
    from stream4flow_spark.llmdata.textstats import normalize_unicode

    composed = "caf\u00e9 fine"
    decomposed = "cafe\u0301 fine"
    df = _docs(spark, [composed, decomposed, "plain ascii"])
    out = {r.doc_id: r for r in normalize_unicode(df).collect()}
    assert out[0].text_nfc == out[1].text_nfc == composed
    assert not out[0].was_normalized and out[1].was_normalized
    assert not out[2].was_normalized
    # the point: post-NFC, exact dedup collapses the pair that raw
    # hashing would have missed
    deduped = exact_dedup(
        normalize_unicode(df).select("doc_id", F.col("text_nfc").alias("text"))
    )
    sizes = {r.keeper_id: r.group_size for r in deduped.collect()}
    assert sizes == {0: 2, 2: 1}


def test_dedup_corpus_schemes_agree_on_planted_dups(spark):
    """All three blocking schemes drive the same corpus-dedup pipeline
    and must agree on an easy planted duplicate cluster. SimHash's
    4 x 16-bit banding guarantees a candidate only at hamming <= 3, and
    the NEAR copy's md5 SimHash sits at hamming 9 with no shared chunk,
    so SimHash gets the case its banding guarantees: an exact copy."""
    from stream4flow_spark.llmdata.dedup import dedup_corpus

    other = "another entirely different doc here"
    for scheme, copy, kw in [
        ("minhash", NEAR, {}),
        ("winnow", NEAR, {}),
        ("simhash", BASE, {"max_hamming": 3}),
    ]:
        df = _docs(spark, [BASE, copy, FAR, other])
        got = {
            r.keeper_id: r.group_size
            for r in dedup_corpus(df, scheme=scheme, **kw).collect()
        }
        assert got == {0: 2, 2: 1, 3: 1}, (scheme, got)


def test_audio_spectrogram_finds_planted_tone(spark):
    """A pure sine at a known frequency must dominate its FFT bin after
    the real WAV decode → frame → rfft pipeline."""
    import numpy as np

    from stream4flow_spark.llmdata.codecs import encode_wav
    from stream4flow_spark.llmdata.multimodal import audio_spectrogram

    rate, frame = 64, 16
    t = np.arange(128) / rate
    # bin k of an N=16 rfft at 64 Hz covers k*4 Hz: plant 12 Hz -> bin 3
    tone = (np.sin(2 * np.pi * 12 * t) * 20000).astype(np.int16)
    quiet = (np.sin(2 * np.pi * 4 * t) * 5000).astype(np.int16)  # bin 1
    df = spark.createDataFrame(
        [(0, bytearray(encode_wav(tone, rate=rate))),
         (1, bytearray(encode_wav(quiet, rate=rate)))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in
           audio_spectrogram(df, frame=frame, hop=8).collect()}
    assert out[0].sample_rate == rate and out[0].n_samples == 128
    assert out[0].n_bins == frame // 2 + 1
    assert out[0].dominant_bin == 3
    assert out[1].dominant_bin == 1
    assert out[0].spectral_energy > out[1].spectral_energy


def test_image_phash_near_and_far(spark):
    """Identical images hash identically; a lightly-noised copy stays
    within a small hamming distance and pairs up; a structurally
    different image does not pair."""
    import numpy as np

    from stream4flow_spark.llmdata.codecs import encode_ppm
    from stream4flow_spark.llmdata.multimodal import (
        image_phash,
        phash_neardup_pairs,
    )

    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, (40, 48, 3)).astype(np.uint8)
    noised = base.copy()
    noised[::9, ::9] = np.clip(noised[::9, ::9] + 4, 0, 255)  # tiny nudge
    different = rng.randint(0, 256, (40, 48, 3)).astype(np.uint8)
    gradient = np.tile(
        np.linspace(0, 255, 48, dtype=np.uint8), (40, 1)
    )[..., None].repeat(3, axis=2)
    df = spark.createDataFrame(
        [
            (0, bytearray(encode_ppm(base))),
            (1, bytearray(encode_ppm(base))),
            (2, bytearray(encode_ppm(noised))),
            (3, bytearray(encode_ppm(gradient))),
        ],
        "doc_id long, payload binary",
    )
    hashes = {r.doc_id: r.phash for r in image_phash(df).collect()}
    assert hashes[0] == hashes[1]
    assert bin(hashes[0] ^ hashes[2]).count("1") <= 6
    assert bin(hashes[0] ^ hashes[3]).count("1") > 10
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_neardup_pairs(df, max_hamming=6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # 8 x 8-bit banding guarantees a shared chunk only up to hamming 7
    with pytest.raises(ValueError, match="max_hamming=8"):
        phash_neardup_pairs(df, max_hamming=8)


def test_decoder_hook_composes_full_image_chain(spark):
    """VERDICT r5 item 7: the production JPEG route. A decoder registered
    via set_decoder must feed the WHOLE image chain — decode → resize →
    features → phash → banded near-dup — not just the decode step. The
    fake decoder is defined locally (pickled by value into the Arrow
    kernels), and payloads carry a real JPEG SOI magic so the built-in
    codecs reject them: every decoded pixel in this test flowed through
    the hook, on executor workers, proving the by-value capture works
    where a driver-side module global would not."""
    import numpy as np

    from stream4flow_spark.llmdata import multimodal
    from stream4flow_spark.llmdata.multimodal import (
        decode_images,
        extract_features,
        image_phash,
        phash_neardup_pairs,
        resize_images,
        set_decoder,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, (40, 48, 3)).astype(np.uint8)
    noised = base.copy()
    noised[::9, ::9] = np.clip(noised[::9, ::9] + 4, 0, 255)
    gradient = np.tile(
        np.linspace(0, 255, 48, dtype=np.uint8), (40, 1)
    )[..., None].repeat(3, axis=2)
    images = {0: base, 1: base, 2: noised, 3: gradient}

    # "JPEG" container: SOI magic + raw (h, w) header + pixel bytes.
    # Stands in for libjpeg: a real deployment registers e.g.
    # PIL.Image.open via this exact hook signature.
    def encode_fake_jpeg(arr):
        h, w, _ = arr.shape
        return (
            b"\xff\xd8\xff" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + arr.tobytes()
        )

    def fake_jpeg_decoder(data: bytes) -> np.ndarray:
        assert data[:3] == b"\xff\xd8\xff", "hook saw a non-JPEG payload"
        h = int.from_bytes(data[3:5], "big")
        w = int.from_bytes(data[5:7], "big")
        return np.frombuffer(data[7:], dtype=np.uint8).reshape(h, w, 3)

    df = spark.createDataFrame(
        [(i, bytearray(encode_fake_jpeg(a))) for i, a in images.items()],
        "doc_id long, payload binary",
    )

    set_decoder(fake_jpeg_decoder)
    try:
        # decode: every payload decodes through the hook (ok=True all)
        dec = {r.doc_id: r for r in decode_images(df).collect()}
        assert all(dec[i].ok for i in images)
        assert dec[0].width == 48 and dec[0].height == 40
        assert dec[0].px_mean == round(float(base.mean()), 4)
        # resize: aspect-fit math runs over hook-decoded pixels
        rs = {r.doc_id: r for r in resize_images(df, 8, 8).collect()}
        assert (rs[0].src_width, rs[0].src_height) == (48, 40)
        assert (rs[0].width, rs[0].height) == (8, 6)
        # features: channel means match the source array
        ft = {r.doc_id: r.features for r in extract_features(df).collect()}
        assert ft[3][0] == round(float(gradient[:, :, 0].mean()), 4)
        # phash + banded near-dup: identical pair exact, noised near,
        # gradient unpaired — the same contract as the built-in-codec test
        hashes = {r.doc_id: r.phash for r in image_phash(df).collect()}
        assert hashes[0] == hashes[1]
        assert bin(hashes[0] ^ hashes[2]).count("1") <= 6
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in phash_neardup_pairs(df, max_hamming=6).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 0
        assert (0, 2) in pairs and (1, 2) in pairs
        assert not any(3 in p for p in pairs)
    finally:
        set_decoder(None)
    assert multimodal._hook is None  # no leakage into other tests


def test_random_projection_preserves_neighborhood_order(spark):
    """JL sanity: after the 64->8 sign projection, planted-similar pairs
    must stay closer than unrelated ones, and the projection must be a
    pure function of (vector, salt) — identical across partitionings."""
    import numpy as np

    from stream4flow_spark.llmdata.simsearch import random_projection
    from stream4flow_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = random_projection(emb).collect()
    proj = {r.vec_id: np.array([r[f"p{j}"] for j in range(8)]) for r in rows}
    orig = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in emb.collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    ids = sorted(orig)
    agree = 0
    checked = 0
    for i in range(0, len(ids) - 2, 3):
        a, b, c = ids[i], ids[i + 1], ids[i + 2]
        do = cos(orig[a], orig[b]) - cos(orig[a], orig[c])
        dp = cos(proj[a], proj[b]) - cos(proj[a], proj[c])
        if abs(do) > 0.25:  # only clearly-ordered triples are testable
            checked += 1
            agree += (do > 0) == (dp > 0)
    # k=8 JL distortion is coarse — demand a clear majority, not
    # perfection (random would sit at ~50%)
    assert checked >= 20
    assert agree / checked >= 0.7

    re_rows = random_projection(emb.repartition(13)).collect()
    re_proj = {
        r.vec_id: tuple(r[f"p{j}"] for j in range(8)) for r in re_rows
    }
    assert re_proj == {k: tuple(v) for k, v in proj.items()}


def test_chunk_documents_offsets_tile_the_token_stream(spark):
    """Chunk windows must tile each document exactly: stride-48 starts,
    64-token spans (last chunk shorter), and re-concatenating the
    non-overlap prefixes reproduces the tokenized document."""
    from stream4flow_spark.registry import REGISTRY, queries

    queries()  # force gate registration
    out = REGISTRY["llm_chunk_documents"].fn(spark, SF_DIR).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, chunks in list(by_doc.items())[:50]:
        chunks.sort(key=lambda r: r.chunk_idx)
        last = chunks[-1]
        n_doc = last.start_token + last.n_chunk_tokens
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i and c.start_token == i * 48
            assert c.n_chunk_tokens == len(c.chunk_text.split())
            assert c.n_chunk_tokens == min(64, n_doc - c.start_token)
            if i < len(chunks) - 1:
                # the tail past the stride point reappears at the head
                # of the next chunk (the overlap region)
                assert (
                    c.chunk_text.split()[48:]
                    == chunks[i + 1].chunk_text.split()[: c.n_chunk_tokens - 48]
                )


def test_heavy_hitters_sketch_guarantee_on_skewed_fixture(spark):
    """MG candidate union must contain every token above the n/(k+1)
    floor even with a tiny k and adversarial partitioning, and the
    verified output must equal the brute-force > n/k set exactly."""
    from collections import Counter

    from stream4flow_spark.llmdata.lexsearch import heavy_hitters

    # 1000 tokens: 'hot' 30%, 'warm' 12%, tail of 58 rare words
    # (letter-only names: digits are tokenizer delimiters)
    words = (
        ["hot"] * 300 + ["warm"] * 120
        + [
            "rare" + chr(97 + i % 58 % 26) + chr(97 + i % 58 // 26)
            for i in range(580)
        ]
    )
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 20 : (i + 1) * 20])) for i in range(50)],
        "doc_id long, text string",
    ).repartition(7)  # spread the hot token across partitions
    got = {
        r.word: r.n_occurrences for r in heavy_hitters(docs, k=5).collect()
    }
    truth = Counter(words)
    n = len(words)
    want = {w: c for w, c in truth.items() if c > n / 5}
    assert got == want  # exact heavy hitters, nothing more or less
    assert "hot" in got and "warm" not in got  # 12% < 20% floor


def test_semantic_dedup_lsh_agrees_with_exact(spark):
    """The LSH-bucketed semantic dedup (the 100 TB path) must agree with
    the exact-pairs tier on ≥90% of keeper assignments — quantified
    recall, not vibes (same bar as the winnow near-dup gate)."""
    from stream4flow_spark.registry import REGISTRY, queries

    queries()
    exact = {
        r.vec_id: r.keeper_id
        for r in REGISTRY["llm_semantic_dedup"].fn(spark, SF_DIR).collect()
    }
    lsh = {
        r.vec_id: r.keeper_id
        for r in REGISTRY["llm_semantic_dedup_lsh"].fn(spark, SF_DIR).collect()
    }
    assert set(lsh) == set(exact)  # every vector gets an assignment
    agree = sum(lsh[v] == exact[v] for v in exact) / len(exact)
    assert agree >= 0.9, f"keeper agreement {agree:.3f}"


def test_verify_shards_detects_tampering(spark, tmp_path):
    """verify_shards must pass on a fresh export and fail with the
    precise per-shard diff after a shard file is deleted."""
    import glob
    import os

    from stream4flow_spark.llmdata.export import verify_shards, write_shards
    from stream4flow_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "shards")
    manifest = write_shards(docs, out, n_shards=4)
    res = verify_shards(spark, out)
    assert res["ok"] and res["total_rows"] == manifest["total_rows"]

    victim = glob.glob(f"{out}/shard=2/*.parquet")[0]
    os.remove(victim)
    res = verify_shards(spark, out)
    assert not res["ok"]
    assert set(res["mismatched"]) == {"2"}
    want, got = res["mismatched"]["2"]
    assert want == manifest["shards"]["2"] and (got or 0) < want


def test_token_budget_per_group_first_fit_and_cum(spark):
    """Greedy first-fit by the given order: each group keeps rows while
    the running weight total stays <= budget, with the post-include
    cumulative exposed."""
    from stream4flow_spark.llmdata.sampling import token_budget_per_group

    rows = [
        # src a: weights 50, 30, 30 (by id order when scores tie) ->
        # cum 50, 80, 110 -> third row bursts a 100 budget
        (1, "a", 50), (2, "a", 30), (3, "a", 30),
        # src b: one row over budget on its own
        (4, "b", 500),
        # src c: exactly-at-budget edge is KEPT (<=)
        (5, "c", 60), (6, "c", 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    got = {
        r.doc_id: r.cum_weight
        for r in token_budget_per_group(
            df, "source", budget=100, weight_col="w"
        ).collect()
    }
    assert got == {1: 50, 2: 80, 5: 60, 6: 100}


def test_token_budget_per_group_partitioning_independent(spark):
    from stream4flow_spark.llmdata.sampling import token_budget_per_group

    rows = [(i, f"s{i % 4}", 1 + (i * 7) % 13) for i in range(200)]
    df1 = spark.createDataFrame(rows, "doc_id long, source string, w long")
    df8 = df1.repartition(8)
    pick = lambda d: {  # noqa: E731
        (r.doc_id, r.cum_weight)
        for r in token_budget_per_group(
            d, "source", budget=90, weight_col="w"
        ).collect()
    }
    assert pick(df1) == pick(df8)


def test_token_budget_respects_explicit_order(spark):
    """order_by overrides the keep-longest default — curation orders by
    quality score, and the budget then fills with the BEST docs."""
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.sampling import token_budget_per_group

    rows = [(1, "a", 80, 0.1), (2, "a", 30, 0.9), (3, "a", 40, 0.8)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, w long, score double"
    )
    kept = sorted(
        r.doc_id
        for r in token_budget_per_group(
            df, "source", budget=75, weight_col="w",
            order_by=[F.col("score").desc()],
        ).collect()
    )
    assert kept == [2, 3]  # best-score-first: 30 + 40 fits, the 80 doesn't


def test_epoch_upsample_copy_counts_and_determinism(spark):
    """floor(e) copies per row + a deterministic md5-coin extra; groups
    not listed are dropped; 0-copy rows vanish; partitioning never
    changes the surviving (doc, copy) multiset."""
    from stream4flow_spark.llmdata.sampling import epoch_upsample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    epochs = {"a": 2.5, "b": 0.0}
    got = epoch_upsample(df, epochs).collect()
    assert all(r.source == "a" for r in got)  # b -> 0 copies, c unlisted
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append(r.epoch_idx)
    # every a-doc appears 2 or 3 times with dense 0-based indices
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())
    assert {len(v) for v in per_doc.values()} <= {2, 3}
    # the fractional coin fires on roughly half of a's 30 docs
    extras = sum(1 for v in per_doc.values() if len(v) == 3)
    assert 5 <= extras <= 25
    got8 = epoch_upsample(df.repartition(8), epochs).collect()
    assert sorted((r.doc_id, r.epoch_idx) for r in got) == sorted(
        (r.doc_id, r.epoch_idx) for r in got8
    )


def test_token_budget_salted_pre_cap_matches_single_window(spark):
    """The (group, bucket) rank pre-cap in the SAME order must never
    change the surviving set (weights >= 1 make rank > budget
    unreachable within the budget)."""
    from stream4flow_spark.llmdata.sampling import token_budget_per_group

    rows = [
        (i, "hot" if i % 10 else "cold", 1 + (i * 13) % 5) for i in range(600)
    ]
    # 0-weight rows (empty docs) are dropped by BOTH paths — before the
    # explicit filter, a 0-weight row ranked past ``budget`` survived the
    # single window (cum unchanged) but not the (group, bucket) pre-cap,
    # so salt_buckets changed the result set (round-8 ADVICE fix)
    rows += [(1000 + i, "hot", 0) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, w long"
    ).repartition(8)
    pick = lambda d, **kw: {  # noqa: E731
        (r.doc_id, r.cum_weight)
        for r in token_budget_per_group(
            d, "source", budget=120, weight_col="w", **kw
        ).collect()
    }
    assert pick(df) == pick(df, salt_buckets=16)


def test_build_training_set_end_to_end(spark, tmp_path):
    """The whole build: prepare -> train-only token budget -> pack ->
    sharded export with a verified manifest. Asserts the contract a
    migrating user relies on: eval splits never thinned, train capped
    per source, shards verify, packed offsets cover every exported
    row."""
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.pipeline import build_training_set
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id", "text")
    out = str(tmp_path / "train_set")
    res = build_training_set(
        docs,
        bench,
        out,
        token_budget_per_source=600,
        seq_budget=128,
        n_shards=4,
    )
    assert res["verify"]["ok"], res["verify"]
    assert set(res["splits"]) <= {"train", "val", "test"}
    back = spark.read.parquet(out)
    n_exported = back.count()
    assert n_exported == res["manifest"]["total_rows"] > 0
    # eval rows survive untouched; train is budget-capped per source
    per_source_train = (
        back.filter(F.col("split") == "train")
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    assert per_source_train and all(r.t <= 600 for r in per_source_train)
    # packed offsets exported and consistent with per-doc token counts
    row = back.orderBy("token_offset").first()
    assert row.token_offset == 0 and row.seq_first == 0
    total_tokens = back.agg(F.sum("n_tokens")).first()[0]
    max_end = back.agg(
        F.max(F.col("token_offset") + F.col("n_tokens"))
    ).first()[0]
    assert max_end == total_tokens  # dense global packing, no holes


def test_exact_substr_dedup_keeps_first_and_cuts_copies(spark):
    """ExactSubstr semantics: a >=L-token verbatim passage shared by two
    documents survives only in the corpus-wide first occurrence; tokens
    outside the duplicated run are untouched; short docs and docs with
    no duplicated window pass through whole."""
    from stream4flow_spark.llmdata.dedup import exact_substr_dedup

    passage = " ".join(f"p{i}" for i in range(6))  # 6 shared tokens
    docs = _docs(
        spark,
        [
            f"intro one {passage} outro one",       # first occurrence
            f"other beginning {passage} other end",  # later copy -> cut
            "nothing shared here at all",            # untouched
            "tiny",                                  # shorter than L
        ],
    )
    out = {r.doc_id: r for r in exact_substr_dedup(docs, min_len=6).collect()}
    assert out[0].dedup_text == f"intro one {passage} outro one"
    assert out[0].n_removed == 0
    assert out[1].dedup_text == "other beginning other end"
    assert out[1].n_removed == 6
    assert out[2].n_removed == 0 and out[2].dedup_text.startswith("nothing")
    assert (out[3].n_tokens, out[3].n_removed, out[3].dedup_text) == (
        1, 0, "tiny",
    )


def test_exact_substr_dedup_long_run_and_overlap_coverage(spark):
    """A duplicated run LONGER than L removes the whole run (overlapping
    marked windows coalesce via the difference array, not just one
    window); an intra-document repeat keeps only its first copy; empty
    docs survive the rebuild."""
    from stream4flow_spark.llmdata.dedup import exact_substr_dedup

    run = " ".join(f"r{i}" for i in range(10))  # 10-token run, L=4
    docs = _docs(
        spark,
        [
            f"{run} trailer",
            f"header {run}",          # whole 10-token run cut, not 4
            f"aa bb cc dd x aa bb cc dd",  # intra-doc repeat of a 4-gram
            "",
        ],
    )
    out = {r.doc_id: r for r in exact_substr_dedup(docs, min_len=4).collect()}
    assert out[0].dedup_text == f"{run} trailer"
    assert out[1].dedup_text == "header"
    assert out[1].n_removed == 10
    assert out[2].dedup_text == "aa bb cc dd x"
    assert out[2].n_removed == 4
    assert (out[3].n_tokens, out[3].n_removed, out[3].dedup_text) == (0, 0, "")


def test_exact_substr_dup_bloom_prefilter_is_result_identical(spark):
    """r14 (r13 verdict item 8): ``dup_bloom_items`` prunes the
    occurrence-side join probe map-side against a Bloom bitmap of the
    dup-gram set — the second full-gram exchange was the batch path's
    steepest scale grower. No false negatives means byte-identical
    output; the pruned plan must actually carry the bitmap probe
    (might_contain's word-indexing shape) below the join."""
    from stream4flow_spark.llmdata.dedup import exact_substr_dedup

    passage = " ".join(f"p{i}" for i in range(8))
    docs = _docs(
        spark,
        [
            f"intro {passage} outro",
            f"copy starts {passage} copy ends",
            "completely unrelated text with no duplicated window at all",
            f"third copy {passage} here too",
        ],
    )
    plain = sorted(map(tuple, exact_substr_dedup(docs, min_len=8).collect()))
    pruned_df = exact_substr_dedup(docs, min_len=8, dup_bloom_items=1000)
    assert sorted(map(tuple, pruned_df.collect())) == plain
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert "bf_words" in plan  # the broadcast bitmap probe is in place


def test_cluster_balanced_sample_caps_dense_regions(spark):
    """A corpus where one semantic mode owns 90% of the rows: the
    per-cluster cap keeps the mode's share bounded while the sparse
    mode survives whole — the balance no source/quality/token sampler
    provides. Ranks are contiguous 1..n within each cluster and the
    selection is deterministic across runs."""
    from stream4flow_spark.llmdata.sampling import cluster_balanced_sample

    rows = []
    for i in range(90):  # dense mode around e_0
        rows.append((i, [10.0 + (i % 7) * 0.01, float(i % 3) * 0.01]))
    for i in range(10):  # sparse mode around e_1
        rows.append((100 + i, [float(i % 3) * 0.01, 10.0 + (i % 5) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cluster_balanced_sample(df, n_clusters=2, cap=8, n_iters=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert len(by_cluster) == 2
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes == [8, 8]  # dense mode capped at 8, sparse keeps 8 of 10
    for members in by_cluster.values():
        assert sorted(r.sample_rank for r in members) == list(
            range(1, len(members) + 1)
        )
    # the two modes actually separate: no cluster mixes id ranges
    for members in by_cluster.values():
        ids = [r.vec_id for r in members]
        assert all(i < 100 for i in ids) or all(i >= 100 for i in ids)
    again = cluster_balanced_sample(df, n_clusters=2, cap=8, n_iters=3).collect()
    assert {(r.vec_id, r.cluster_id, r.sample_rank) for r in out} == {
        (r.vec_id, r.cluster_id, r.sample_rank) for r in again
    }


def test_dsir_ranks_target_like_docs_first(spark):
    """A raw doc sharing the target's vocabulary must outscore a raw
    doc from a disjoint vocabulary (md5 buckets, the oracle-replayable
    hash)."""
    from stream4flow_spark.llmdata.dsir import dsir_select, dsir_weights

    rows = [
        # target corpus: cooking vocabulary
        (0, "simmer the onion butter garlic sauce", "tgt"),
        (1, "garlic butter sauce simmer slowly onion", "tgt"),
        # raw pool: one cooking-like, two about engines
        (10, "butter garlic onion sauce simmer gently", "raw"),
        (11, "executor shuffle partition codegen stage task", "raw"),
        (12, "partition stage shuffle task codegen executor", "raw"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, pool string"
    )
    w = dsir_weights(
        docs, F.col("pool") == "tgt", n_buckets=512
    ).toPandas().set_index("doc_id")
    assert set(w.index) == {10, 11, 12}  # raw pool only
    assert w.loc[10, "weight"] > w.loc[11, "weight"]
    assert w.loc[10, "weight"] > w.loc[12, "weight"]
    top1 = dsir_select(
        docs, F.col("pool") == "tgt", 1, n_buckets=512
    ).collect()
    assert [r.doc_id for r in top1] == [10]


def test_dsir_omits_gramless_docs_and_counts_grams(spark):
    from stream4flow_spark.llmdata.dsir import dsir_weights

    docs = spark.createDataFrame(
        [
            (0, "alpha beta", True),
            (1, "alpha beta gamma", False),  # 3 unigrams + 2 bigrams
            (2, "12345 !!!", False),  # no [a-z] grams -> omitted
        ],
        "doc_id long, text string, tgt boolean",
    )
    w = dsir_weights(docs, F.col("tgt")).toPandas().set_index("doc_id")
    assert set(w.index) == {1}
    assert int(w.loc[1, "n_grams"]) == 5


def test_leakage_safe_split_component_coherence(spark):
    from stream4flow_spark.llmdata.sampling import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # pair graph: {3,17,29} is one transitive component (3-17, 17-29);
    # {5,6} another; everyone else is a singleton
    pairs = spark.createDataFrame(
        [(3, 17), (17, 29), (5, 6)], "id_a long, id_b long"
    )
    weights = {"train": 0.6, "val": 0.2, "test": 0.2}
    out = leakage_safe_split(docs, pairs, weights).toPandas().set_index(
        "doc_id"
    )
    base = hash_split(docs, weights).toPandas().set_index("doc_id")

    # every component member lands in ONE split: the min-id member's own
    for comp in [(3, 17, 29), (5, 6)]:
        rep = min(comp)
        for m in comp:
            assert out.loc[m, "split"] == base.loc[rep, "split"]
            assert out.loc[m, "split_orig"] == base.loc[m, "split"]
            assert bool(out.loc[m, "moved"]) == (
                base.loc[m, "split"] != base.loc[rep, "split"]
            )
    # singletons keep their naive split, unmoved
    for m in set(range(40)) - {3, 17, 29, 5, 6}:
        assert out.loc[m, "split"] == base.loc[m, "split"]
        assert not bool(out.loc[m, "moved"])


def test_hard_negatives_excludes_same_label_and_ranks_by_cos(spark):
    from stream4flow_spark.llmdata.simsearch import hard_negatives

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),     # anchor, class 1
            (1, [0.99, 0.1], 1),    # nearest overall but SAME label
            (2, [0.9, 0.2], 2),     # nearest cross-label
            (3, [0.5, 0.5], 2),
            (4, [0.0, 1.0], 3),
            (5, [1.0, 0.01], None), # null label: distinct from 1
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") == 0), k=3
    ).toPandas()
    assert list(out["neighbor_id"]) == [5, 2, 3]  # 1 excluded (same label)
    assert list(out["rank"]) == [1, 2, 3]
    assert out["cos"].is_monotonic_decreasing

    # null-safe rule: a NULL-label anchor treats NULL-label rows as SAME
    out5 = hard_negatives(
        emb, emb.filter(F.col("vec_id") == 5), k=10
    ).toPandas()
    assert 5 not in set(out5["neighbor_id"])
    assert set(out5["neighbor_id"]) == {0, 1, 2, 3, 4}


def test_corpus_diff_statuses_and_digest_modes(spark):
    from stream4flow_spark.llmdata.snapshot import (
        corpus_diff,
        corpus_diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c-edited"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "removed", 2: "unchanged", 3: "changed", 4: "added"
    }
    summary = {
        r.status: r.n_docs for r in corpus_diff_summary(old, new).collect()
    }
    assert summary == {
        "added": 1, "removed": 1, "changed": 1, "unchanged": 1
    }


def test_leakage_safe_split_preserves_caller_id_and_component_columns(spark):
    from stream4flow_spark.llmdata.sampling import leakage_safe_split

    # caller columns named "id"/"component" must survive the internal
    # component join (regression: drop-by-name removed them)
    docs = spark.createDataFrame(
        [(i, i * 10, f"c{i}") for i in range(8)],
        "doc_id long, id long, component string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = leakage_safe_split(docs, pairs, {"train": 0.5, "test": 0.5})
    assert {"doc_id", "id", "component", "split_orig", "split", "moved"} \
        <= set(out.columns)
    rows = {r.doc_id: (r.id, r.component) for r in out.collect()}
    assert rows[3] == (30, "c3")


def test_cluster_keywords_finds_distinguishing_terms(spark):
    from stream4flow_spark.llmdata.lexsearch import cluster_keywords

    docs = spark.createDataFrame(
        [
            (0, "the quantum field theory the boson", 1),
            (1, "the quantum entanglement boson decay", 1),
            (2, "the pasta sauce recipe the basil", 2),
            (3, "the basil pasta oven recipe", 2),
        ],
        "doc_id long, text string, cluster int",
    )
    out = cluster_keywords(docs, "cluster", k=2).collect()
    top = {}
    for r in out:
        top.setdefault(r.cluster, []).append(r.term)
    # distinguishing terms only — the shared 'the' has the highest raw
    # tf in BOTH clusters, yet cluster-specific vocabulary outranks it
    assert top[1] == ["boson", "quantum"] or top[1] == ["quantum", "boson"]
    assert "the" not in top[1] and "the" not in top[2]
    assert set(top[2]) <= {"pasta", "basil", "recipe"}
    assert all(1 <= r.rank <= 2 for r in out)


def test_curriculum_shards_order_by_score(spark, tmp_path):
    from stream4flow_spark.llmdata.export import write_curriculum_shards

    docs = spark.createDataFrame(
        [(i, f"doc {i}", float(i % 100)) for i in range(400)],
        "doc_id long, text string, quality double",
    )
    out = str(tmp_path / "curr")
    man = write_curriculum_shards(docs, out, 4, "quality")
    assert man["total_rows"] == 400 and len(man["shards"]) == 4
    # mean score strictly increases with shard index — the curriculum
    means = [man["shards"][i]["mean_score"] for i in range(4)]
    assert means == sorted(means) and means[0] < means[-1]
    # roughly balanced (quantile buckets): no shard under half its share
    assert all(s["rows"] >= 50 for s in man["shards"].values())
    # deterministic: a second write gives the identical assignment
    man2 = write_curriculum_shards(docs, str(tmp_path / "curr2"), 4, "quality")
    assert man2["shards"] == man["shards"]


def test_corpus_report_data_card(spark):
    from stream4flow_spark.llmdata.report import corpus_report

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en", "web"),
            (1, "alpha beta gamma", "en", "web"),   # exact dup of 0
            (2, "uno dos tres cuatro", "es", "web"),
            (3, "contact me at a@b.com now", "en", "mail"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    card = {
        (r.section, r.metric): r.value for r in corpus_report(docs).collect()
    }
    assert card[("volume", "n_docs")] == 4.0
    assert card[("volume", "n_tokens")] == 3 + 3 + 4 + 5
    assert card[("source_share", "web")] == 0.75
    assert card[("lang_share", "en")] == 0.75
    assert card[("duplication", "exact_dup_doc_rate")] == 0.25
    assert card[("pii", "emails_per_1k_docs")] == 250.0
    assert card[("length", "p50_tokens")] in (3.0, 3.5, 4.0)


def test_incremental_winnow_screen_flags_planted_copy(spark):
    """Rolling-hash (production) mode of the incremental winnow screen:
    a delta doc sharing a long verbatim passage with a corpus doc flags
    with that doc as best match; unrelated delta docs pass clean."""
    from stream4flow_spark.llmdata.dedup import incremental_winnow_neardup

    shared = (
        "the quick brown fox jumps over the lazy dog again and again "
        "today in the bright morning sun with a long enough shared run"
    )
    corpus = _docs(spark, ["prefix one " + shared + " suffix alpha"])
    delta = spark.createDataFrame(
        [
            (10, "other start " + shared + " different tail"),
            (11, "completely unrelated words about spark plans and "
                 "parquet files and columnar storage pushdown"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.is_near_dup, r.best_match_id)
        for r in incremental_winnow_neardup(
            corpus, delta, threshold=0.3
        ).collect()
    }
    assert out[10] == (True, 0)
    assert out[11] == (False, None)


def test_incremental_exact_substr_poisoned_first_occurrence(spark):
    """r9 verdict item 7: pin WHICH copy survives when the usual
    id-ordering assumption is violated. incremental_exact_substr's
    parity contract ("equals batch exact_substr_dedup restricted to the
    delta") holds when every corpus id precedes every delta id; the
    adversarial case — a delta id SMALLER than the corpus id holding
    the passage — must still cut the DELTA copy: the index is id-blind,
    so whoever was indexed first is the authoritative first occurrence
    regardless of id order. A refactor that switched the winner to
    min(id) (the batch operator's rule) would silently re-admit
    already-indexed text; this test fails loudly instead."""
    from stream4flow_spark.llmdata.dedup import (
        exact_substr_dedup,
        incremental_exact_substr,
    )

    shared = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen"
    )
    corpus = spark.createDataFrame(
        [(100, "corpus head " + shared + " corpus tail words")],
        "doc_id long, text string",
    )
    # delta doc 5 < corpus doc 100 shares the >=15-token passage
    delta = spark.createDataFrame(
        [(5, "delta start " + shared + " delta ending")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_exact_substr(
        corpus, delta, min_len=15
    ).collect()}
    assert out[5].n_removed >= 15, (
        "the indexed corpus copy must win even when the delta id is "
        "smaller — the delta occurrence was not removed"
    )
    assert shared not in out[5].dedup_text

    # and the batch operator over the union would pick the OTHER winner
    # (min id) — the documented divergence this test pins
    batch = {
        r.doc_id: r
        for r in exact_substr_dedup(
            corpus.unionByName(delta), min_len=15
        ).collect()
    }
    assert batch[5].n_removed == 0 and batch[100].n_removed >= 15


def test_contamination_screen_bounds_exact_counts(spark):
    """contamination_screen's n_suspect_grams must upper-bound the
    exact per-doc overlap with zero false negatives (every doc the
    exact path flags at any threshold is flagged by the screen), and on
    a clean-margin fixture the flag sets coincide."""
    from stream4flow_spark.llmdata.decontaminate import (
        contamination_counts,
        contamination_screen,
    )
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)

    exact = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(train, bench, n=3).collect()
    }
    screened = {
        r.doc_id: r.n_suspect_grams
        for r in contamination_screen(
            train, bench, n=3, expected_grams=50_000
        ).collect()
    }
    assert set(screened) == {r.doc_id for r in train.select("doc_id").collect()}
    for d, n_exact in exact.items():
        assert screened[d] >= n_exact, (d, screened[d], n_exact)
    # upper bound is tight at 1% fpp: zero-overlap docs stay ~zero
    clean = [screened[d] for d in screened if d not in exact]
    assert clean and sum(v == 0 for v in clean) / len(clean) > 0.9


def test_contamination_screen_is_stateless_in_streaming(spark, tmp_path):
    """The SAME contamination_screen expression must run as a
    Structured Streaming append query with NO stateful operator (the
    whole screen is one projection + a broadcast of the benchmark
    bitmap) and emit exactly the batch output."""
    import pandas as pd

    from stream4flow_spark.llmdata.decontaminate import contamination_screen
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR
    from tests.test_streaming import run_stream_to_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    want = {
        (r.doc_id, r.n_suspect_grams)
        for r in contamination_screen(
            train, bench, n=3, expected_grams=50_000
        ).collect()
    }

    src = tmp_path / "docs"
    src.mkdir()
    pdf = train.toPandas()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "w0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "w1.parquet"), index=False)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    screened = contamination_screen(
        stream, bench, n=3, expected_grams=50_000
    )
    got_df = run_stream_to_table(screened, output_mode="append")
    got = {(r.doc_id, r.n_suspect_grams) for r in got_df.collect()}
    assert got == want


def _left_semi_join_output_rows(df):
    """numOutputRows of every LeftSemi join in the EXECUTED plan — the
    measured-rows form of SCALE.md's candidate-bounded-fetch claim."""
    df.collect()

    def walk(n):
        yield n
        nm = n.nodeName()
        if nm == "AdaptiveSparkPlan":
            yield from walk(n.executedPlan())
            return
        if "QueryStage" in nm:
            yield from walk(n.plan())
            return
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    out = []
    for n in walk(df._jdf.queryExecution().executedPlan()):
        if "Join" in n.nodeName() and "LeftSemi" in n.toString().splitlines()[0]:
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    out.append(kv._2().value())
    return out


def test_incremental_winnow_verify_is_candidate_bounded(spark):
    """r10 verdict item 2: the winnow verify stage must tokenize only
    the CANDIDATE ids' text, not the whole archive — the left-semi on
    candidate ids sits BELOW the word_ngrams projection, so the
    measured row count entering the tokenizer equals the candidate
    count (here 1 of a 301-doc corpus), while the flags stay exactly
    the planted expectation (the sf0.001 gate oracle replays this
    pipeline end-to-end for value parity)."""
    from stream4flow_spark.llmdata.dedup import incremental_winnow_neardup

    shared = (
        "the quick brown fox jumps over the lazy dog again and again "
        "today in the bright morning sun with a long enough shared run"
    )
    fillers = [
        f"corpus filler number {i} carrying tokens alpha{i} beta{i} "
        f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i} iota{i}"
        for i in range(300)
    ]
    corpus = _docs(spark, ["prefix one " + shared + " suffix alpha"] + fillers)
    delta = spark.createDataFrame(
        [
            (1000, "other start " + shared + " different tail"),
            (1001, "completely unrelated words about spark plans and "
                   "parquet files and columnar storage pushdown"),
        ],
        "doc_id long, text string",
    )
    out_df = incremental_winnow_neardup(corpus, delta, threshold=0.3)
    out = {
        r.doc_id: (r.is_near_dup, r.best_match_id) for r in out_df.collect()
    }
    assert out[1000] == (True, 0)
    assert out[1001] == (False, None)

    semi_rows = _left_semi_join_output_rows(out_df)
    # two semi-joins (delta fetch, corpus fetch), each bounded by the
    # single candidate pair — NOT the 301-doc corpus or the 2-doc delta
    assert len(semi_rows) == 2, semi_rows
    assert all(r == 1 for r in semi_rows), (
        f"verify fetch is not candidate-bounded: {semi_rows} rows "
        "entered the tokenizer"
    )


def test_cdc_chunk_dedup_shift_robust_and_edges(spark):
    """The CDC selling point (llmdata/dedup.py cdc_chunk_table):
    boundaries are a function of local content, so inserting tokens at
    the FRONT of a copied document re-synchronizes — the interior
    chunks hash identically and the copy's duplication is still seen,
    where a fixed-offset segmentation would shift every chunk. Also
    pins the keep-first convention and the degenerate inputs (empty
    doc, doc shorter than the context window)."""
    import random

    from stream4flow_spark.llmdata.dedup import (
        cdc_chunk_dedup,
        cdc_chunk_table,
    )

    rng = random.Random(7)
    words = [f"w{rng.randrange(400)}" for _ in range(300)]
    base = " ".join(words)
    shifted = "alpha beta gamma " + base          # 3 inserted tokens
    docs = spark.createDataFrame(
        [(0, base), (1, shifted)], "doc_id long, text string"
    )

    ch = cdc_chunk_table(docs, divisor=8)
    fps0 = {r.chunk_fp for r in ch.filter("doc_id = 0").collect()}
    fps1 = {r.chunk_fp for r in ch.filter("doc_id = 1").collect()}
    # re-synchronization: nearly every chunk of the original reappears
    # verbatim in the shifted copy (only the first chunk, whose head
    # absorbed the insertion, may differ)
    shared = len(fps0 & fps1) / len(fps0)
    assert shared >= 0.8, (shared, len(fps0))

    out = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks)
        for r in cdc_chunk_dedup(docs, divisor=8).collect()
    }
    # keep-first: doc 0 holds the first occurrences; the copy is the one
    # blamed for (almost) all its chunks
    assert out[0][1] == 0
    assert out[1][1] >= 0.8 * out[1][0]

    # edges: empty text -> 0 chunks; 2 tokens (< context) -> 1 chunk
    ed = spark.createDataFrame(
        [(10, ""), (11, "just two")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.n_dup_tokens)
        for r in cdc_chunk_dedup(ed, divisor=4).collect()
    }
    assert got == {10: (0, 0, 0), 11: (1, 0, 0)}

    # chunk geometry invariant: chunks tile the token stream — lengths
    # sum to the token count and expected length tracks the divisor
    ch = cdc_chunk_table(docs.filter("doc_id = 0"), divisor=8)
    lens = [r.n_toks for r in ch.collect()]
    assert sum(lens) == 300
    assert 3 <= sum(lens) / len(lens) <= 24  # loose band around divisor=8
