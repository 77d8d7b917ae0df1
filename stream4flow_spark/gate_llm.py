"""Gate queries for the LLM-training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) over the driver's
``documents`` and ``embeddings`` tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream4flow_spark.llmdata.dedup import (
    dedup_corpus,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from stream4flow_spark.llmdata.multimodal import decode_images
from stream4flow_spark.llmdata.simsearch import (
    cosine_pairs_blocked,
    cosine_topk,
    lsh_bucketed_neighbors,
)
from stream4flow_spark.llmdata.textstats import (
    clean_text,
    fingerprints,
    language_id,
    quality_features,
    winnow_fingerprints,
)
from stream4flow_spark.gate_oracles import (
    _cluster_balanced_oracle,
    _ivf_oracle,
    _lsh_neighbors_oracle,
    _phash_neardup_oracle,
    _semantic_dedup_lsh_oracle,
)
from stream4flow_spark.registry import register
from stream4flow_spark.sources.tables import load_table

_STOP_EN = "('the', 'a', 'of', 'and', 'to')"

# DuckDB-side shingle/token primitives
_W = "string_split_regex(trim(text), '\\s+')"
_GRAMS3 = (
    f"list_distinct(list_transform(range(1, greatest(len({_W}) - 1, 1)), "
    f"i -> {_W}[i] || ' ' || {_W}[i+1] || ' ' || {_W}[i+2]))"
)


def _components_ctes(pairs_sql: str) -> str:
    """DuckDB CTEs for connected components of an undirected pair graph:
    ``pairs`` (id_a, id_b) from ``pairs_sql``, materialized once, then
    ``e`` (both edge directions), ``reach`` (transitive closure with
    UNION-distinct termination) and ``comp`` (id, component = min
    reachable id) — the min-label fixpoint that
    ``dedup.connected_components`` propagates. The caller's WITH must be
    RECURSIVE; only ids in some pair get a ``comp`` row."""
    return f"""pairs AS MATERIALIZED ({pairs_sql}),
        e AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM e
            UNION
            SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src
        ),
        comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)"""


# brute-force word-3-gram Jaccard >= 0.5 pair graph -> ``comp``
_JACCARD_COMPONENTS = f"""WITH RECURSIVE sh AS (
            SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents
            WHERE len({_W}) >= 3
        ),
        {_components_ctes('''
            SELECT a.id AS id_a, b.id AS id_b
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(a.grams || b.grams)) >= 0.5
        ''')}"""


@register(
    "llm_text_stats",
    covers="llm:token-count llm:quality-score",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_W}) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_tokens_bpe,
               CAST(length(text) - (len({_W}) - 1) AS DOUBLE) / len({_W}) AS avg_token_len,
               CAST(len(list_filter({_W}, t -> t IN {_STOP_EN})) AS DOUBLE)
                 / len({_W}) AS stopword_ratio,
               CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
                 / length(text) AS alnum_ratio,
               LEAST(CAST(len({_W}) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + LEAST(CAST(len(list_filter({_W}, t -> t IN {_STOP_EN})) AS DOUBLE)
                         / len({_W}) * 5.0, 1.0) * 0.3
                 + CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
                   / length(text) * 0.3 AS quality_score
        FROM documents
        """,
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id",
        "n_tokens",
        "n_tokens_bpe",
        "avg_token_len",
        "stopword_ratio",
        "alnum_ratio",
        "quality_score",
    )


_HITS = {
    "de": "('der', 'die', 'das', 'und', 'nicht')",
    "en": _STOP_EN,
    "es": "('el', 'la', 'de', 'los', 'que')",
    "fr": "('le', 'la', 'les', 'et', 'que')",
}
_HIT_EXPRS = {
    lang: f"len(list_filter({_W}, t -> t IN {words}))" for lang, words in _HITS.items()
}
_G = f"GREATEST({', '.join(_HIT_EXPRS.values())})"


@register(
    "llm_language_id",
    covers="llm:lang-id",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_G} = 0 THEN 'und'
                    WHEN {_HIT_EXPRS['de']} = {_G} THEN 'de'
                    WHEN {_HIT_EXPRS['en']} = {_G} THEN 'en'
                    WHEN {_HIT_EXPRS['es']} = {_G} THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM documents
        """,
)
def q_llm_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "predicted_lang")


@register(
    "llm_fingerprints",
    covers="llm:doc-fingerprint",
    oracle="""
        SELECT doc_id, md5(text) AS fp_exact,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_normalized
        FROM documents
        """,
)
def q_llm_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprints(docs).select("doc_id", "fp_exact", "fp_normalized")


@register(
    "llm_exact_dedup",
    covers="llm:dedup-exact A15",
    oracle="""
        SELECT md5(text) AS fp,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM documents GROUP BY 1
        """,
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


_JACCARD_ORACLE = f"""
        WITH sh AS (
            SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents WHERE len({_W}) >= 3
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(a.grams || b.grams)) AS jaccard
        FROM sh a JOIN sh b ON a.id < b.id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(a.grams || b.grams)) >= {{thr}}
        """


@register(
    "llm_ngram_jaccard",
    covers="llm:dedup-ngram-jaccard",
    oracle=_JACCARD_ORACLE.format(thr=0.35) + " AND a.id < 150 AND b.id < 150",
)
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(docs, threshold=0.35)


@register(
    "llm_minhash_lsh_dedup",
    covers="llm:dedup-minhash-lsh",
    # Oracle = brute-force Jaccard >= 0.5: valid because at num_perm=64 /
    # rows_per_band=2 the banded-LSH candidate recall at the threshold is
    # ~1-0.75^32 and verified exactly — confirmed equal on the gate data.
    oracle=_JACCARD_ORACLE.format(thr=0.5),
)
def q_llm_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, threshold=0.5)


# SimHash oracle: replay signature (64 vote sums over two md5 32-bit
# halves), 4×16-bit chunk banding, and the hamming verify — generated
# programmatically because 64 bit positions don't hand-write well.
_SH_V = ", ".join(
    f"SUM((({'h2' if j < 32 else 'h1'} >> {j % 32}) & 1) * 2 - 1) AS v{j}"
    for j in range(64)
)
_SH_BITS = " + ".join(
    [f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(63)]
    + ["(CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END)"]
)
_SIMHASH_ORACLE = f"""
    WITH w AS (SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents),
    g AS (SELECT id, unnest(grams) AS g FROM w),
    h AS (SELECT id,
                 CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substring(md5(g), 9, 8)) AS BIGINT) AS h2
          FROM g),
    v AS (SELECT id, {_SH_V} FROM h GROUP BY id),
    sh0 AS (SELECT id, {_SH_BITS} AS sh FROM v),
    sh AS (SELECT d.doc_id AS id, COALESCE(s.sh, 0) AS sh
           FROM documents d LEFT JOIN sh0 s ON d.doc_id = s.id),
    ch AS (SELECT id, sh, c, (sh >> (c * 16)) & 65535 AS val
           FROM sh, unnest([0, 1, 2, 3]) AS t(c)),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     a.sh AS sh_a, b.sh AS sh_b
              FROM ch a JOIN ch b
                ON a.c = b.c AND a.val = b.val AND a.id < b.id)
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


@register("llm_simhash_dedup", covers="llm:dedup-simhash", oracle=_SIMHASH_ORACLE)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-certified end to end:
    dedup.simhash_table derives each shingle's 64 bits from two 32-bit
    md5 halves DuckDB can recompute, so signature construction, chunk
    banding AND the hamming-distance verify are hash-checked
    value-for-value. max_hamming=3 is the largest distance the 4 x
    16-bit banding recalls in full. max_bucket (10k) cannot trigger on
    the 500-doc gate table, so the oracle omits the cap replay."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup(docs, max_hamming=3)


@register(
    "llm_ann_cosine_topk",
    covers="llm:similarity-topk",
    oracle="""
        WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        scored AS (
            SELECT qid AS query_id, nid AS neighbor_id,
                   ROUND(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 4) AS cos
            FROM q JOIN c ON qid <> nid
        )
        SELECT query_id, neighbor_id, cos,
               CAST(rnk AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rnk
              FROM scored)
        WHERE rnk <= 5
        """,
)
def q_llm_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "llm_embedding_neardup",
    covers="llm:dedup-embedding-cosine",
    oracle="""
        WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        FROM e a JOIN e b ON a.id < b.id
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
        """,
)
def q_llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_blocked(emb, threshold=0.3)


@register(
    "llm_embedding_neardup_lsh",
    covers="llm:similarity-lsh",
    oracle=_lsh_neighbors_oracle(threshold=0.3),
)
def q_llm_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-neighbor pairs. Oracle-backed since r09:
    the hyperplanes are already engine-independent (integer-hash
    constants, ``simsearch._hyperplane``), so the DuckDB oracle rebuilds
    the SAME planes as double literals and replays bucketing, the
    id-only candidate join and the exact 4dp-cosine verify — candidate
    recall is deterministic given the planes, not random
    (``gate_oracles._lsh_neighbors_oracle``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_neighbors(emb, threshold=0.3)


@register(
    "llm_multimodal_decode",
    covers="llm:multimodal-binary llm:multimodal-decode",
    # The oracle re-derives every column from the deterministic fixture
    # rule (multimodal.py docstring) INCLUDING the mean over all pixels —
    # so a green row proves the Spark side really parsed the PPM/BMP
    # bytes and materialized the samples, byte counts and all.
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
            FROM documents
        ),
        m AS (
            SELECT d.doc_id,
                   ROUND(AVG((d.doc_id + 7*r.r + 3*c.c + 11*ch.ch) % 256), 4)
                       AS px_mean
            FROM d, unnest(range(0, d.h)) AS r(r),
                 unnest(range(0, d.w)) AS c(c),
                 unnest(range(0, 3)) AS ch(ch)
            GROUP BY d.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               CAST(CASE WHEN d.doc_id % 2 = 0
                         THEN 9 + length(CAST(d.w AS VARCHAR))
                              + length(CAST(d.h AS VARCHAR)) + 3 * d.w * d.h
                         ELSE 54 + d.h * ((3 * d.w + 3) // 4 * 4)
                    END AS BIGINT) AS n_bytes,
               CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
               CAST(3 AS INT) AS channels, m.px_mean, TRUE AS ok
        FROM d JOIN m USING (doc_id)
        """,
)
def q_llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream4flow_spark.llmdata.multimodal import synthesize_images

    docs = load_table(spark, sf_dir, "documents")
    return decode_images(synthesize_images(docs))


@register(
    "llm_multimodal_resize",
    covers="llm:multimodal-resize",
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
            FROM documents
        ),
        m AS (
            SELECT d.doc_id,
                   ROUND(AVG((d.doc_id + 7*r.r + 3*c.c + 11*ch.ch) % 256), 4)
                       AS px_mean
            FROM d, unnest(range(0, d.h)) AS r(r),
                 unnest(range(0, d.w)) AS c(c),
                 unnest(range(0, 3)) AS ch(ch)
            GROUP BY d.doc_id
        )
        SELECT d.doc_id, CAST(d.w AS INT) AS src_width,
               CAST(d.h AS INT) AS src_height,
               CAST(FLOOR(d.w * LEAST(8.0 / d.w, 8.0 / d.h, 1.0)) AS INT)
                   AS width,
               CAST(FLOOR(d.h * LEAST(8.0 / d.w, 8.0 / d.h, 1.0)) AS INT)
                   AS height,
               LEAST(8.0 / d.w, 8.0 / d.h, 1.0) AS scale,
               m.px_mean
        FROM d JOIN m USING (doc_id)
        """,
)
def q_llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream4flow_spark.llmdata.multimodal import (
        resize_images,
        synthesize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_images(synthesize_images(docs))


@register(
    "llm_multimodal_frames",
    covers="llm:multimodal-frame-sample",
    # per-frame mean amplitude re-derived from the WAV sample rule — a
    # green row proves the RIFF chunks were walked and the PCM16 samples
    # decoded, not just the header length read
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id % 90 + 30 AS n FROM documents
        ),
        s AS (
            SELECT d.doc_id, i.i AS i,
                   ((d.doc_id * 13 + i.i * 17) % 65536) - 32768 AS v
            FROM d, unnest(range(0, d.n)) AS i(i)
        )
        SELECT doc_id, CAST((i // 30) * 30 AS INT) AS frame_idx,
               CAST((i // 30) * 1000 AS BIGINT) AS frame_ms,
               ROUND(AVG(v), 4) AS frame_mean
        FROM s GROUP BY doc_id, i // 30
        """,
)
def q_llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream4flow_spark.llmdata.multimodal import (
        sample_frames,
        synthesize_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(synthesize_audio(docs))


@register(
    "llm_multimodal_features",
    covers="llm:multimodal-feature-extract",
    # features = pixel statistics of the decoded array:
    # [mean_ch0, mean_ch1, mean_ch2, min, max, mean, width, height];
    # projected to scalar f0..f7 for the compare — array-valued cells
    # stringify differently between engines
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
            FROM documents
        ),
        px AS (
            SELECT d.doc_id, d.w, d.h, ch.ch,
                   (d.doc_id + 7*r.r + 3*c.c + 11*ch.ch) % 256 AS v
            FROM d, unnest(range(0, d.h)) AS r(r),
                 unnest(range(0, d.w)) AS c(c),
                 unnest(range(0, 3)) AS ch(ch)
        )
        SELECT doc_id,
               ROUND(AVG(v) FILTER (WHERE ch = 0), 4) AS f0,
               ROUND(AVG(v) FILTER (WHERE ch = 1), 4) AS f1,
               ROUND(AVG(v) FILTER (WHERE ch = 2), 4) AS f2,
               CAST(MIN(v) AS DOUBLE) AS f3,
               CAST(MAX(v) AS DOUBLE) AS f4,
               ROUND(AVG(v), 4) AS f5,
               CAST(MAX(w) AS DOUBLE) AS f6,
               CAST(MAX(h) AS DOUBLE) AS f7
        FROM px GROUP BY doc_id
        """,
)
def q_llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream4flow_spark.llmdata.multimodal import (
        extract_features,
        synthesize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(synthesize_images(docs))
    return feats.select(
        "doc_id", *[F.col("features")[j].alias(f"f{j}") for j in range(8)]
    )


@register(
    "llm_ann_ivf_topk",
    covers="llm:similarity-ivf",
    oracle=_ivf_oracle(k_centroids=8, iters=3, n_probe=3, topk=5, q_limit=10),
)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k (the scale path beside sign-LSH).
    Oracle-backed: centroid training (md5(id)-ordered sample, maximin
    init, 3 Lloyd rounds under shared 7dp/6dp rounding), inverted-file
    assignment, 3-of-8 probe and the exact re-scoring all replay
    CTE-for-CTE in DuckDB (``_ivf_oracle``); recall vs the exact
    cosine_topk is asserted in tests/test_llmdata.py."""
    from stream4flow_spark.llmdata.simsearch import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=8,
        n_probe=3,
        n_iters=3,
    )


@register(
    "llm_dedup_components",
    covers="llm:dedup-components",
    # oracle: transitive closure over the same near-dup pair graph
    # (recursive CTE with UNION-distinct termination), component = min
    # reachable id — exactly the min-label fixpoint the Spark side
    # propagates
    oracle=f"""
        WITH RECURSIVE emb AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_components_ctes('''
            SELECT a.id AS id_a, b.id AS id_b
            FROM emb a JOIN emb b ON a.id < b.id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
        ''')}
        SELECT id, CAST(component AS BIGINT) AS component FROM comp
        """,
)
def q_llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup-cluster assignment over the embedding near-dup
    pair graph — the keeper-selection step after candidate generation."""
    from stream4flow_spark.llmdata.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_blocked(emb, threshold=0.3)
    return connected_components(pairs).select(
        "id", F.col("component").cast("long").alias("component")
    )


@register(
    "llm_text_clean",
    covers="llm:text-scrub",
    oracle="""
        WITH c AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(text,
                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                   '<EMAIL>', 'g'),
                               'https?://[^\\s]+', '<URL>', 'g'),
                           '[0-9]{5,}', '<NUM>', 'g'),
                       '\\s+', ' ', 'g')) AS text_clean
            FROM documents
        )
        SELECT doc_id, text_clean,
               CAST(len(regexp_extract_all(text_clean, '<EMAIL>|<URL>|<NUM>'))
                    AS INT) AS n_redactions
        FROM c
        """,
)
def q_llm_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus scrub: email/URL/digit-run redaction + whitespace
    normalization, pure Column expressions (map-only at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    return clean_text(docs).select("doc_id", "text_clean", "n_redactions")


@register(
    "llm_corpus_select",
    covers="llm:corpus-selection",
    oracle=f"""
        WITH k AS (
            SELECT md5(text) AS fp, MIN(doc_id) AS keeper FROM documents GROUP BY 1
        )
        SELECT d.doc_id, d.lang, CAST(len({_W}) AS INT) AS n_tokens
        FROM documents d
        JOIN k ON md5(d.text) = k.fp AND d.doc_id = k.keeper
        WHERE len({_W}) >= 20
          AND CAST(length(regexp_replace(d.text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
              / length(d.text) >= 0.5
        """,
)
def q_llm_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pretraining selection: exact-dedup keepers only, minimum
    length, minimum alphanumeric density — the filter chain a corpus build
    runs before tokenization. Keeper check is a LEFT SEMI join against the
    digest aggregate (ids-only through the shuffle); the quality predicates
    are scan-side Column expressions."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    return (
        quality_features(docs)
        .join(keepers, "doc_id", "left_semi")
        .filter((F.col("n_tokens") >= 20) & (F.col("alnum_ratio") >= 0.5))
        .select("doc_id", "lang", "n_tokens")
    )


@register(
    "llm_dedup_corpus",
    covers="llm:dedup-end-to-end",
    # Oracle = the same keeper semantics over the BRUTE-FORCE Jaccard pair
    # graph (recursive-CTE transitive closure, keeper = min reachable id,
    # unpaired documents keep themselves). Valid against the LSH path for
    # the same reason as llm_minhash_lsh_dedup: banded candidate recall at
    # the 0.5 threshold is ~1-0.75^32 and pairs are verified exactly.
    oracle=f"""
        {_JACCARD_COMPONENTS}
        SELECT CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        GROUP BY 1
        """,
)
def q_llm_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline over documents: LSH pairs → transitive
    components → keeper per cluster → deduplicated corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_corpus(docs, threshold=0.5)


@register(
    "llm_dedup_corpus_keeper",
    covers="llm:dedup-end-to-end llm:keeper-policy",
    # Same brute-force transitive-closure oracle as llm_dedup_corpus, but
    # the keeper is the component member with the HIGHEST n_chars (lowest
    # doc_id on ties) — certifying the keeper_by policy end to end.
    oracle=f"""
        {_JACCARD_COMPONENTS},
        lab AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(c.component, d.doc_id) AS comp
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ),
        ranked AS (
            SELECT comp, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY comp
                                      ORDER BY n_chars DESC, doc_id ASC)
                     AS rn,
                   COUNT(*) OVER (PARTITION BY comp) AS gs
            FROM lab
        )
        SELECT CAST(doc_id AS BIGINT) AS keeper_id,
               CAST(gs AS BIGINT) AS group_size
        FROM ranked WHERE rn = 1
        """,
)
def q_llm_dedup_corpus_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_corpus with a QUALITY keeper policy (r06 verdict item 5):
    keeper = the component member with the highest ``n_chars`` (most
    content survives), deterministic lowest-id tiebreak — real curation
    keeps the best copy, not the first-seen. Same LSH pairs → transitive
    components chain as llm_dedup_corpus; the keeper choice is ONE
    partial-aggregated ``min(struct(-score, id))`` over the component
    members, no window sort."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_corpus(docs, threshold=0.5, keeper_by="n_chars")


def _winnow_fps_ctes(k: int, window: int) -> str:
    """DuckDB CTEs (h, m, f) recomputing ``winnow_fingerprints``'
    output — f = (doc_id, fps sorted distinct
    60-bit md5-derived k-gram window minima)."""
    return f"""
        h AS (
            SELECT doc_id,
                   list_transform(range(1, length(text) - {k} + 2),
                       i -> CAST(('0x' || substring(md5(substring(text,
                            CAST(i AS INT), {k})), 1, 15)) AS BIGINT)) AS hs
            FROM documents WHERE length(text) >= {k}
        ),
        m AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {window}
                        THEN list_transform(
                             range(1, len(hs) - {window} + 2),
                             j -> list_min(hs[CAST(j AS INT):
                                              CAST(j + {window} - 1 AS INT)]))
                        ELSE [list_min(hs)] END AS mins
            FROM h
        ),
        f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)
    """


_WINNOW_NEARDUP_ORACLE = f"""
    WITH {_winnow_fps_ctes(k=16, window=8)},
    f32 AS (SELECT doc_id AS id, fps[1:32] AS fps FROM f),
    e AS (SELECT id, unnest(fps) AS fp FROM f32),
    capped AS (SELECT id, fp FROM (
        SELECT id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY id) AS rn
        FROM e) WHERE rn <= 150),
    cand AS (SELECT a.id AS id_a, b.id AS id_b,
                    CAST(count(*) AS BIGINT) AS shared_fps
             FROM capped a JOIN capped b ON a.fp = b.fp AND a.id < b.id
             GROUP BY 1, 2 HAVING count(*) >= 2),
    sh AS (SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents)
    SELECT c.id_a, c.id_b, c.shared_fps,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)) AS jaccard
    FROM cand c JOIN sh a ON c.id_a = a.id JOIN sh b ON c.id_b = b.id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)) >= 0.5
    """


@register(
    "llm_winnow_neardup",
    covers="llm:dedup-winnow-blocking",
    oracle=_WINNOW_NEARDUP_ORACLE,
)
def q_llm_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-blocked near-dup pairs, oracle-certified end to end:
    each char 16-gram's fingerprint is 60 bits of its md5, which DuckDB
    recomputes, so fingerprinting, the bottom-32 sketch, the 150-cap
    bucket guard, the min_shared=2 blocking AND the word-3-gram Jaccard
    verify are hash-checked value-for-value (winnowing guarantee
    property-tested in tests/test_llmdata.py)."""
    from stream4flow_spark.llmdata.dedup import winnow_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_neardup_pairs(docs, threshold=0.5)


_WINNOW_INCR_ORACLE = f"""
    WITH {_winnow_fps_ctes(k=16, window=8)},
    f32 AS (SELECT doc_id AS id, fps[1:32] AS fps FROM f),
    e AS (SELECT id, unnest(fps) AS fp FROM f32),
    cap_c AS (SELECT id, fp FROM (
        SELECT id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY id) AS rn
        FROM e WHERE id < 250) WHERE rn <= 150),
    cap_d AS (SELECT id, fp FROM (
        SELECT id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY id) AS rn
        FROM e WHERE id >= 250) WHERE rn <= 150),
    cand AS (SELECT d.id AS id_d, c.id AS id_c, count(*) AS shared
             FROM cap_d d JOIN cap_c c ON d.fp = c.fp
             GROUP BY 1, 2 HAVING count(*) >= 2),
    sh AS (SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents),
    ver AS (SELECT cand.id_d, cand.id_c,
                   ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(a.grams || b.grams)), 4) AS j
            FROM cand JOIN sh a ON cand.id_d = a.id
                      JOIN sh b ON cand.id_c = b.id),
    best AS (SELECT id_d, id_c, j FROM (
        SELECT *, row_number() OVER (PARTITION BY id_d
                   ORDER BY j DESC, id_c) AS rn
        FROM ver WHERE j >= 0.5) WHERE rn = 1)
    SELECT d.doc_id,
           (best.id_c IS NOT NULL) AS is_near_dup,
           best.id_c AS best_match_id,
           best.j AS best_jaccard
    FROM documents d LEFT JOIN best ON d.doc_id = best.id_d
    WHERE d.doc_id >= 250
    """


@register(
    "llm_incremental_winnow_neardup",
    covers="llm:dedup-winnow-blocking llm:dedup-incremental",
    oracle=_WINNOW_INCR_ORACLE,
)
def q_llm_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-blocked near-dup screening of a delta (doc_id >= 250)
    against the already-admitted corpus' fingerprint index
    (dedup.incremental_winnow_neardup — completes the incremental
    family: exact, MinHash, semantic, ExactSubstr and now winnowing all
    have growing-index forms). The DuckDB oracle replays
    fingerprinting, per-side bucket caps, the min_shared=2 collision
    join, the Jaccard verify AND the best-match rank value-for-value."""
    from stream4flow_spark.llmdata.dedup import incremental_winnow_neardup

    docs = load_table(spark, sf_dir, "documents")
    return incremental_winnow_neardup(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        threshold=0.5,
    )


_WINNOW_FPS_ORACLE = f"""
    WITH {_winnow_fps_ctes(k=8, window=4)}
    SELECT doc_id, CAST(j AS INT) AS rank, fps[CAST(j AS INT)] AS fp
    FROM f, unnest(range(1, len(fps) + 1)) AS t(j)
    """


@register(
    "llm_winnow_fingerprints",
    covers="llm:doc-fingerprint-rolling",
    oracle=_WINNOW_FPS_ORACLE,
)
def q_llm_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document md5 winnowing fingerprints (DuckDB-replayable; see
    llm_winnow_neardup), EXPLODED to scalar
    (doc_id, rank, fp) rows — driver outputs must never be array
    columns (the r08 array<bigint> return crashed the driver's
    canonicalizer). rank = 1-based position in the sorted distinct
    fingerprint list, so the hash certifies order too.

    posexplode_OUTER + a post-filter on the generated attribute, NOT
    plain posexplode: Generate(outer=false) injects a size(fps)>0
    filter that predicate-pushdown drags below every exchange,
    re-inlining the whole md5 expression tree into a single-task
    Filter on the scan (measured 21 s; this form runs ~1 s)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    return (
        fps.select(
            "doc_id", F.posexplode_outer("fps").alias("rank0", "fp")
        )
        .filter(F.col("fp").isNotNull())
        .select(
            "doc_id", (F.col("rank0") + 1).cast("int").alias("rank"), "fp"
        )
    )


@register(
    "llm_length_stats",
    covers="llm:corpus-profile",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(n_chars), 4) AS mean_chars,
               ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
               ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars
        FROM documents GROUP BY 1
        """,
)
def q_llm_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile per language: count, mean, exact p50/p90 of
    document length — the distribution snapshot a corpus build checks
    before setting truncation/packing parameters. EXACT percentiles with
    BOUNDED aggregate state: ``percentile(col, p)`` buffers every group
    row in one aggregate state (a scale-killer when one language holds
    billions of docs); ``n_chars`` is integer-valued, so the same
    interpolated result comes from count-by-(lang, n_chars) + a
    cumulative-sum window over distinct lengths — state bounded by
    distinct lengths per language, identical values/hash to
    quantile_cont. See operators/percentiles.py."""
    from stream4flow_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = grouped_exact_percentiles(
        docs,
        group_cols=["lang"],
        value_col="n_chars",
        percentiles={"p50_chars": 0.5, "p90_chars": 0.9},
        extra_aggs={
            "n_docs": F.sum("cnt").cast("long"),
            "mean_chars": F.sum(F.col("n_chars") * F.col("cnt"))
            / F.sum("cnt"),
        },
    )
    return stats.select(
        "lang",
        "n_docs",
        F.round("mean_chars", 4).alias("mean_chars"),
        F.round("p50_chars", 4).alias("p50_chars"),
        F.round("p90_chars", 4).alias("p90_chars"),
    )


_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 4)) AS INT)"
)


@register(
    "llm_hash_split",
    covers="llm:train-split",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 52428 THEN 'train'
                    WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 58982 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        """,
)
def q_llm_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split — identical assignment in any engine,
    any run, any partitioning (unlike randomSplit)."""
    from stream4flow_spark.llmdata.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})


@register(
    "llm_stratified_sample",
    covers="llm:stratified-sample",
    oracle=f"""
        SELECT doc_id, lang FROM documents
        WHERE (lang = 'en' AND {_BUCKET_SQL.format(salt='s4f-sample')} < 13107)
           OR (lang = 'de' AND {_BUCKET_SQL.format(salt='s4f-sample')} < 32768)
        """,
)
def q_llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (en 20%, de 50%)."""
    from stream4flow_spark.llmdata.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, {"en": 0.2, "de": 0.5}, strata_col="lang")


# ------------------------------------------- round-5: lexical search tier

_BIGRAMS = (
    f"list_transform(range(1, greatest(len({_W}) - 1, 0) + 1), "
    f"i -> {_W}[i] || ' ' || {_W}[i+1])"
)


@register(
    "llm_tfidf_terms",
    covers="llm:tfidf llm:vocab-build A10",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_W}) AS term FROM documents
        ),
        per_doc AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term <> '' GROUP BY 1, 2
        )
        SELECT term,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM per_doc GROUP BY 1
        ORDER BY total_tf DESC, term ASC LIMIT 40
        """,
)
def q_llm_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-40 terms by total occurrences with
    document frequencies (llmdata/lexsearch.py corpus_term_stats).
    Explode → two partial-combining aggregates; shuffle is O(partitions
    × vocab), not O(tokens); the limit lowers to TakeOrderedAndProject."""
    from stream4flow_spark.llmdata.lexsearch import top_terms

    docs = load_table(spark, sf_dir, "documents")
    return top_terms(docs, k=40)


@register(
    "llm_bm25_topk",
    covers="llm:bm25 llm:lexical-search A10",
    oracle=f"""
        WITH pd AS (
            SELECT doc_id, len({_W}) AS dl,
                   len(list_filter({_W}, t -> t = 'join')) AS tf_0,
                   len(list_filter({_W}, t -> t = 'window')) AS tf_1,
                   len(list_filter({_W}, t -> t = 'scan')) AS tf_2
            FROM documents
        ),
        c AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                   SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                   SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                   SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
            FROM pd
        )
        SELECT doc_id,
               ROUND(
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
                   * (CAST(tf_0 AS DOUBLE) * 2.2)
                   / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
                   * (CAST(tf_1 AS DOUBLE) * 2.2)
                   / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
                   * (CAST(tf_2 AS DOUBLE) * 2.2)
                   / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                 6) AS score
        FROM pd, c
        WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
        ORDER BY score DESC, doc_id ASC LIMIT 50
        """,
)
def q_llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-50 for the query ["join", "window", "scan"]
    (llmdata/lexsearch.py bm25_topk, k1=1.2 b=0.75). The query terms
    pivot into conditional-aggregate columns — one pass keyed by doc_id,
    1-row broadcast of (N, avgdl, df) — and the fixed-order score
    expression makes the double arithmetic engine-reproducible, so the
    top-k boundary is deterministic (measured min score gap in the top
    60 at sf0.01 is 3e-6, far above double noise)."""
    from pyspark.sql import functions as SF

    from stream4flow_spark.llmdata.lexsearch import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    ranked = bm25_topk(docs, ["join", "window", "scan"], k=50)
    return ranked.select("doc_id", SF.round("score", 6).alias("score"))


@register(
    "llm_decontaminate",
    covers="llm:decontamination A15 J1",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest(list_distinct({_GRAMS3})) AS gram
            FROM documents WHERE len({_W}) >= 3
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 20 <> 0
        GROUP BY 1 HAVING COUNT(*) >= 5
        """,
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: every 20th document plays the
    held-out benchmark; training docs sharing ≥5 distinct word 3-grams
    with it are flagged with their overlap counts
    (llmdata/decontaminate.py). Gate runs ``hash_grams=False`` so the
    DuckDB oracle reproduces counts string-exactly; the xxhash64 path
    (8 bytes/gram on the wire — the 100 TB default) is asserted
    count-identical in tests/test_llmdata.py."""
    from stream4flow_spark.llmdata.decontaminate import contamination_counts

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    counts = contamination_counts(train, bench, n=3, hash_grams=False)
    return counts.filter(F.col("n_contaminated_grams") >= 5)


@register(
    "llm_decontaminate_bloom",
    covers="llm:decontamination llm:bloom-prune J1",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest(list_distinct({_GRAMS3})) AS gram
            FROM documents WHERE len({_W}) >= 3
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 10 <> 0
        GROUP BY 1 HAVING COUNT(*) >= 3
        """,
)
def q_llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the Bloom-pruned scale path
    (operators/bloom.py): the corpus gram stream is pruned map-side
    against a broadcast bitmap of the benchmark grams BEFORE the exact
    join. The oracle is the plain exact-overlap SQL — a green row
    certifies the no-false-negatives property end to end (the prune may
    pass ~fpp junk grams; the exact join removes them, so counts are
    value-identical while the join exchange shrinks to the contaminated
    sliver — the shape that matters when the corpus side is 100 TB).
    Every 10th document plays the benchmark; threshold ≥3 grams."""
    from stream4flow_spark.llmdata.decontaminate import contamination_counts

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    counts = contamination_counts(
        train, bench, n=3, hash_grams=False, bloom_prefilter=20_000
    )
    return counts.filter(F.col("n_contaminated_grams") >= 3)


@register(
    "llm_decontaminate_bloom_sharded",
    covers="llm:decontamination llm:bloom-prune-sharded J1",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest(list_distinct({_GRAMS3})) AS gram
            FROM documents WHERE len({_W}) >= 3
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 15 = 0)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 15 <> 0
        GROUP BY 1 HAVING COUNT(*) >= 2
        """,
)
def q_llm_decontaminate_bloom_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination through the SHARDED Bloom bitmap
    (``bloom_words_sharded`` / ``bloom_prune(shards=4)``) — the ≥10⁹-key
    form where the bitmap is a broadcast hash join on
    ``pmod(xxhash64(gram), shards)`` instead of a 1-row crossJoin. The
    oracle is again the plain exact-overlap SQL: a green row certifies
    that sharding (including the all-zero bitmaps emitted for empty
    shards) preserves the no-false-negatives property end to end, with
    the corpus side still exchange-free before the probe. Every 15th
    document plays the benchmark; threshold ≥2 grams."""
    from stream4flow_spark.llmdata.decontaminate import contamination_counts

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 15 == 0)
    train = docs.filter(F.col("doc_id") % 15 != 0)
    counts = contamination_counts(
        train,
        bench,
        n=3,
        hash_grams=False,
        bloom_prefilter=20_000,
        bloom_shards=4,
    )
    return counts.filter(F.col("n_contaminated_grams") >= 2)


@register(
    "llm_decontaminate_bloom_shuffle",
    covers="llm:decontamination llm:bloom-prune-shuffle J1",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest(list_distinct({_GRAMS3})) AS gram
            FROM documents WHERE len({_W}) >= 3
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 12 = 0)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 12 <> 0
        GROUP BY 1 HAVING COUNT(*) >= 2
        """,
)
def q_llm_decontaminate_bloom_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination through the NON-BROADCAST sharded Bloom rung
    (``bloom_prune(shards=4, broadcast=False)``) — the ≥10¹⁰-key form
    where the total bitmap outgrows per-executor broadcast budgets and
    the probe becomes a hinted SHUFFLED hash join on
    ``pmod(xxhash64(gram), shards)`` (DEPLOY.md sizing table). The
    oracle is the same plain exact-overlap SQL as the broadcast rungs:
    a green row certifies that moving the bitmap off the broadcast path
    preserves the no-false-negatives composition end to end. Every 12th
    document plays the benchmark; threshold ≥2 grams."""
    from stream4flow_spark.llmdata.decontaminate import contamination_counts

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 12 == 0)
    train = docs.filter(F.col("doc_id") % 12 != 0)
    counts = contamination_counts(
        train,
        bench,
        n=3,
        hash_grams=False,
        bloom_prefilter=20_000,
        bloom_shards=4,
        bloom_broadcast=False,
    )
    return counts.filter(F.col("n_contaminated_grams") >= 2)


@register(
    "llm_repetition",
    covers="llm:repetition-filter llm:quality-score",
    oracle=f"""
        WITH pb AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM (
                SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM documents
            ) GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
               CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_bigram_frac,
               CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
        FROM pb GROUP BY 1
        """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (duplicate-bigram fraction,
    top-bigram share — the Gopher-style boilerplate filters) from
    llmdata/textstats.py repetition_features. Two partial-combining
    aggregates; per-group state bounded by one document's distinct
    bigrams. The oracle's docs all have ≥2 tokens, so the zero-bigram
    guard path is exercised in tests instead."""
    from stream4flow_spark.llmdata.textstats import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs)


@register(
    "llm_source_cap",
    covers="llm:source-cap A9",
    oracle="""
        SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
        FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || 's4f-cap')
                   ) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 10
        """,
)
def q_llm_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (≤10 per source), chosen by the
    deterministic md5 order so the retained subset is engine- and
    run-reproducible (llmdata/sampling.py cap_per_group) — the
    per-domain cap every web corpus applies so giant crawls can't
    dominate training."""
    from stream4flow_spark.llmdata.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, group_col="source", cap=10)


_CLEAN_SQL = """
    SELECT doc_id, lang,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       'https?://[^\\s]+', '<URL>', 'g'),
                   '[0-9]{5,}', '<NUM>', 'g'),
               '\\s+', ' ', 'g')) AS tc
    FROM documents
"""
_WC = "string_split_regex(trim(tc), '\\s+')"
_GRAMS3_C = (
    f"list_distinct(list_transform(range(1, greatest(len({_WC}) - 1, 1)), "
    f"i -> {_WC}[i] || ' ' || {_WC}[i+1] || ' ' || {_WC}[i+2]))"
)


@register(
    "llm_prepare_corpus",
    covers="llm:pipeline-end-to-end llm:text-scrub llm:corpus-selection "
    "llm:decontamination llm:hash-split A15",
    oracle=f"""
        WITH c AS ({_CLEAN_SQL}),
        q AS (
            SELECT doc_id, lang, tc, CAST(len({_WC}) AS INT) AS n_tokens
            FROM c
            WHERE doc_id % 20 <> 0
              AND len({_WC}) >= 20
              AND CAST(length(regexp_replace(tc, '[^a-zA-Z0-9]', '', 'g'))
                       AS DOUBLE) / length(tc) >= 0.5
        ),
        k AS (SELECT md5(tc) AS fp, MIN(doc_id) AS keeper FROM q GROUP BY 1),
        kept AS (
            SELECT q.* FROM q
            JOIN k ON md5(q.tc) = k.fp AND q.doc_id = k.keeper
        ),
        kept_grams AS (
            SELECT doc_id, unnest({_GRAMS3_C}) AS gram FROM kept
            WHERE len({_WC}) >= 3
        ),
        bench_grams AS (
            SELECT DISTINCT gram FROM (
                SELECT unnest({_GRAMS3_C}) AS gram FROM c
                WHERE doc_id % 20 = 0 AND len({_WC}) >= 3
            )
        ),
        flagged AS (
            SELECT kg.doc_id FROM kept_grams kg
            JOIN bench_grams USING (gram)
            GROUP BY 1 HAVING COUNT(*) >= 5
        )
        SELECT kept.doc_id, kept.lang, kept.n_tokens,
               CASE WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 52428
                      THEN 'train'
                    WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 58982
                      THEN 'val'
                    ELSE 'test' END AS split
        FROM kept
        WHERE kept.doc_id NOT IN (SELECT doc_id FROM flagged)
        """,
)
def q_llm_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus build as ONE lazy plan
    (llmdata/pipeline.py prepare_corpus): scrub → quality floors →
    exact dedup → benchmark decontamination → deterministic split, with
    every 20th document playing the held-out benchmark. All exchanges
    are id/digest/gram-keyed — the text column never shuffles (the
    pipeline plan is audited in tests/test_plan_quality.py). Gate runs
    ``hash_grams=False`` so the DuckDB CTE chain reproduces the gram
    join string-exactly; production uses the 8-byte xxhash64 path."""
    from stream4flow_spark.llmdata.pipeline import prepare_corpus

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    out = prepare_corpus(corpus, bench, hash_grams=False)
    return out.select("doc_id", "lang", "n_tokens", "split")


@register(
    "llm_knn_label_vote",
    covers="llm:label-propagation llm:similarity-search A9",
    oracle="""
        WITH nb AS (
            SELECT a.vec_id, b.label
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        ),
        votes AS (
            SELECT vec_id, label, CAST(COUNT(*) AS BIGINT) AS c
            FROM nb GROUP BY 1, 2
        ),
        ranked AS (
            SELECT vec_id, label, c,
                   SUM(c) OVER (PARTITION BY vec_id) AS n_neighbors,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY c DESC, label ASC
                   ) AS rn
            FROM votes
        )
        SELECT vec_id, CAST(label AS INT) AS predicted_label,
               c AS n_votes, CAST(n_neighbors AS BIGINT) AS n_neighbors
        FROM ranked WHERE rn = 1
        """,
)
def q_llm_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation for data curation: each vector
    takes the majority label of its cosine-neighborhood (sim ≥ 0.3,
    ties to the smallest label). Neighbor pairs come from the tiled
    block-pair BLAS product (simsearch.cosine_pairs_blocked,
    round_digits=None so the double arithmetic matches the oracle's;
    measured min boundary margin at sf0.01 is 7e-5 — far above float
    noise). The vote itself is ids+labels only: one join against the
    label table, one grouped count, one rank window."""
    from pyspark.sql import Window

    from stream4flow_spark.llmdata.simsearch import cosine_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_blocked(emb, threshold=0.3, round_digits=None)
    directed = pairs.select(
        F.col("id_a").alias("vec_id"), F.col("id_b").alias("nb")
    ).unionByName(
        pairs.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("nb"))
    )
    labels = emb.select(F.col("vec_id").alias("nb"), "label")
    votes = directed.join(labels, "nb").groupBy("vec_id", "label").agg(
        F.count("*").alias("n_votes")
    )
    w = Window.partitionBy("vec_id")
    ranked = votes.withColumn(
        "n_neighbors", F.sum("n_votes").over(w)
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                F.desc("n_votes"), F.asc("label")
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "vec_id",
        F.col("label").cast("int").alias("predicted_label"),
        "n_votes",
        "n_neighbors",
    )


@register(
    "llm_pack_sequences",
    covers="llm:sequence-packing llm:prefix-sum",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS n_tokens,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                       || 's4f-pack'), 1, 4)) AS INT) % 256 AS bucket
            FROM documents
        ), o AS (
            SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
                ORDER BY bucket, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS token_offset
            FROM t
        )
        SELECT doc_id, n_tokens, CAST(bucket AS INT) AS bucket, token_offset,
               CAST(FLOOR(token_offset / 2048) AS BIGINT) AS seq_first,
               CAST(FLOOR((token_offset + n_tokens - 1) / 2048) AS BIGINT)
                 AS seq_last,
               CAST(FLOOR((token_offset + n_tokens - 1) / 2048)
                    - FLOOR(token_offset / 2048) + 1 AS BIGINT) AS n_seqs
        FROM o
        """,
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-and-chunk sequence assignment at 2048 tokens/sequence. The
    oracle is the naive single-window global prefix sum; the Spark plan
    is the two-level distributed prefix sum (256-way parallel in-bucket
    cumsums + a 256-row base-offset broadcast) — identical output,
    scale-safe plan (`llmdata/packing.py`)."""
    from stream4flow_spark.llmdata.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=2048, n_buckets=256)


@register(
    "llm_mixture_resample",
    covers="llm:mixture-reweight llm:deterministic-sample",
    oracle="""
        WITH c AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_group,
                   CASE source
                       WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                       WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                       ELSE CAST(0.2 AS DOUBLE) END AS target_w
            FROM documents WHERE source IN ('src0', 'src1', 'src2')
            GROUP BY 1
        ), t AS (
            SELECT source,
                   CAST(LEAST(CAST(65536 AS DOUBLE),
                        CAST(FLOOR(target_w
                             * (SELECT MIN(n_group / target_w) FROM c)
                             / n_group * 65536) AS DOUBLE)) AS INT)
                     AS keep_thresh
            FROM c
        )
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               ANY_VALUE(t.keep_thresh) AS keep_thresh
        FROM documents d
        JOIN t ON d.source = t.source
        WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
              || 's4f-mix'), 1, 4)) AS INT) < t.keep_thresh
        GROUP BY 1
        """,
)
def q_llm_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample three sources to a 50/30/20 output mixture with the
    deterministic md5 coin — per-source keep thresholds derive from a
    tiny count aggregate (broadcast back; keep-filter is map-side). The
    result row set is engine-reproducible, unlike `df.sample`
    (`llmdata/sampling.py mixture_resample`)."""
    from stream4flow_spark.llmdata.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_resample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, group_col="source"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.first("keep_thresh").alias("keep_thresh"),
    )


@register(
    "llm_embedding_stats",
    covers="llm:vector-stats llm:higher-order-array",
    oracle="""
        WITH norms AS (
            SELECT label, vec_id,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     AS l2_norm,
                   len(embedding) AS dims
            FROM embeddings
        ), centroid AS (
            SELECT label, (u.u).pos AS pos, AVG((u.u).v) AS c
            FROM (SELECT label, unnest(list_transform(embedding,
                      (x, i) -> {'pos': i, 'v': CAST(x AS DOUBLE)})) AS u
                  FROM embeddings) u
            GROUP BY 1, 2
        ), cnorm AS (
            SELECT label, sqrt(SUM(c * c)) AS centroid_norm
            FROM centroid GROUP BY 1
        )
        SELECT n.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MAX(n.dims) AS INT) AS dims,
               ROUND(AVG(n.l2_norm), 6) AS mean_norm,
               ROUND(ANY_VALUE(cn.centroid_norm), 6) AS centroid_norm
        FROM norms n JOIN cnorm cn ON n.label = cn.label
        GROUP BY 1
        """,
)
def q_llm_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding diagnostics (count, dims, mean L2 norm,
    centroid norm) with ZERO Python in the plan: per-row norms are
    higher-order array functions (`aggregate`/`transform`, JVM codegen),
    and the cross-row centroid is posexplode → per-(label, dim) average.
    The explode looks like an O(N×d) shuffle but partial aggregation
    combines map-side, so the wire carries tasks × labels × dims rows —
    the same bounded-vocabulary trick as corpus_term_stats. Float math
    is cast to double pre-sum and rounded at 1e-6 on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label",
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding", lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("l2_norm"),
        F.size("embedding").alias("dims"),
    )
    centroid = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm"))
    )
    return (
        norms.join(centroid, "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.max("dims").cast("int").alias("dims"),
            F.round(F.avg("l2_norm"), 6).alias("mean_norm"),
            F.round(F.first("centroid_norm"), 6).alias("centroid_norm"),
        )
    )


@register(
    "llm_length_floor",
    covers="llm:dynamic-selection llm:bounded-percentile",
    oracle="""
        WITH bounds AS (
            SELECT lang,
                   ROUND(quantile_cont(n_chars, 0.10), 4) AS p10,
                   ROUND(quantile_cont(n_chars, 0.90), 4) AS p90
            FROM documents GROUP BY 1
        )
        SELECT d.lang, ANY_VALUE(b.p10) AS p10, ANY_VALUE(b.p90) AS p90,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM documents d
        JOIN bounds b ON d.lang = b.lang
        WHERE d.n_chars >= b.p10 AND d.n_chars <= b.p90
        GROUP BY 1
        """,
)
def q_llm_length_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic per-language length selection: keep the p10–p90 band of
    document lengths, bounds computed per language. The percentile comes
    from `operators/percentiles.grouped_exact_percentiles` — exact
    interpolated quantiles with state bounded by DISTINCT lengths, not
    rows (the naive `percentile()` buffers the whole group) — and the
    tiny per-lang bounds table broadcast-joins back onto the scan, so
    selection is map-side."""
    from stream4flow_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    bounds = grouped_exact_percentiles(
        docs, ["lang"], "n_chars", {"p10": 0.10, "p90": 0.90}
    ).select(
        "lang",
        F.round("p10", 4).alias("p10"),
        F.round("p90", 4).alias("p90"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .filter(
            (F.col("n_chars") >= F.col("p10"))
            & (F.col("n_chars") <= F.col("p90"))
        )
        .groupBy("lang")
        .agg(
            F.first("p10").alias("p10"),
            F.first("p90").alias("p90"),
            F.count("*").alias("n_kept"),
        )
        .select("lang", "p10", "p90", "n_kept")
    )


@register(
    "llm_segment_dedup",
    covers="llm:segment-dedup llm:boilerplate-removal",
    oracle="""
        WITH segs AS (
            SELECT doc_id, (u.u).pos AS pos, (u.u).seg AS seg,
                   doc_id * 1000000 + (u.u).pos AS pk
            FROM (SELECT doc_id,
                         unnest(list_transform(string_split(text, ' '),
                             (x, i) -> {'pos': i - 1, 'seg': x})) AS u
                  FROM documents) u
        ), first AS (
            SELECT seg, CAST(MIN(pk) AS BIGINT) AS first_pk
            FROM segs GROUP BY 1
        ), kept AS (
            SELECT s.* FROM segs s
            JOIN first f ON s.seg = f.seg AND s.pk = f.first_pk
        ), rebuilt AS (
            SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
                   CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY 1
        ), totals AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments
            FROM segs GROUP BY 1
        )
        SELECT t.doc_id, COALESCE(r.text, '') AS text, t.n_segments,
               COALESCE(r.n_kept, 0) AS n_kept
        FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
)
def q_llm_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence segment dedup
    (`llmdata/dedup.py segment_dedup`). The production separator is the
    newline (boilerplate-line removal); this corpus is single-line, so
    the gate runs the same operator at its degenerate extreme — token
    segments — which exercises the identical plan (explode → min-key
    agg → semi-join → ordered reassembly) with a clean SQL oracle.
    Newline semantics are property-tested on multi-line fixtures."""
    from stream4flow_spark.llmdata.dedup import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, sep=" ")


@register(
    "llm_pii_stats",
    covers="llm:pii-audit llm:text-scrub",
    oracle="""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
                   AS BIGINT) AS n_emails,
               CAST(SUM(len(regexp_extract_all(text, 'https?://[^\\s]+')))
                   AS BIGINT) AS n_urls,
               CAST(SUM(len(regexp_extract_all(text, '[0-9]{5,}')))
                   AS BIGINT) AS n_digit_runs,
               CAST(SUM(CASE WHEN
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(text, 'https?://[^\\s]+'))
                   + len(regexp_extract_all(text, '[0-9]{5,}')) > 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
        FROM documents GROUP BY 1
        """,
)
def q_llm_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure audit with the SAME patterns `clean_text`
    redacts (`llmdata/textstats.py pii_stats`) — counts fold map-side,
    one row per source crosses the wire."""
    from stream4flow_spark.llmdata.textstats import pii_stats

    return pii_stats(load_table(spark, sf_dir, "documents"))


@register(
    "llm_incremental_dedup",
    covers="llm:incremental-dedup llm:snapshot-merge",
    oracle=f"""
        WITH b AS (
            SELECT *, {_BUCKET_SQL.format(salt='s4f-split')} AS bk
            FROM documents
        ), corpus AS (
            SELECT * FROM b WHERE bk < 52428
        ), delta AS (
            SELECT * FROM b WHERE bk >= 52428
        ), keeper AS (
            SELECT md5(text) AS fp, CAST(MIN(doc_id) AS BIGINT) AS doc_id
            FROM delta GROUP BY 1
        ), fresh AS (
            SELECT k.doc_id FROM keeper k
            LEFT JOIN (SELECT DISTINCT md5(text) AS fp FROM corpus) c
              ON k.fp = c.fp
            WHERE c.fp IS NULL
        )
        SELECT d.doc_id, d.lang, d.source
        FROM delta d JOIN fresh f ON d.doc_id = f.doc_id
        """,
)
def q_llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup (`llmdata/dedup.py incremental_dedup`):
    the corpus/delta split here is the deterministic 80/20 md5 bucket, so
    the oracle can replay it; in production the corpus side is the
    maintained digest index. Only digests shuffle; survivors return by a
    key semi-join."""
    from stream4flow_spark.llmdata.dedup import incremental_dedup
    from stream4flow_spark.llmdata.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    bk = hash_bucket(F.col("doc_id"), "s4f-split")
    corpus = docs.filter(bk < 52428)
    delta = docs.filter(bk >= 52428)
    return incremental_dedup(corpus, delta).select("doc_id", "lang", "source")


@register("llm_bpe_tokenize", covers="llm:bpe-tokenizer llm:token-count")
# rows-only: the learned vocabulary is the fixed point of an iterative
# global argmax — not SQL-expressible. Trainer/encoder exactness is
# asserted against an independent reference loop and cross-partitioning
# determinism in tests/test_llmdata.py.
def q_llm_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a real BPE vocabulary on the corpus (exact distributed word
    counts; bounded driver-side merge loop — the IVF-centroid pattern)
    and emit exact per-document subword token counts via the map-only
    Arrow encoder (`llmdata/bpe.py`)."""
    from stream4flow_spark.llmdata.bpe import encode_with_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=100, max_words=5_000)
    return encode_with_bpe(docs, merges)


@register("llm_quality_model", covers="llm:model-quality-filter")
# rows-only: LBFGS coefficients depend on float reduction order — the
# learned scores are not engine-reproducible by construction. Separation
# power is asserted on a planted-vocabulary corpus in tests
# (test_quality_classifier_separates_planted_signal).
def q_llm_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-label learned quality filter (`llmdata/quality_model.py`):
    train tokenize→hashingTF→LR with lang=='en' as the weak label, then
    score every doc map-only and report per-source mean predicted
    probability — the source-level curation signal a mixture step
    consumes."""
    from stream4flow_spark.llmdata.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "weak_label", (F.col("lang") == "en").cast("int")
    )
    model = train_quality_classifier(docs, "weak_label", max_iter=10)
    scored = score_quality(model, docs, id_cols=["doc_id", "source"])
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality_prob"), 3).alias("mean_quality_prob"),
    )


_QUANTIZED_TOPK_ORACLE = """
    WITH q0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                FROM embeddings),
    qz AS (SELECT id, v,
                  list_max(list_transform(v, x -> abs(x))) AS s
           FROM q0),
    codes AS (SELECT id,
                     CASE WHEN s > 0
                          THEN list_transform(v,
                               x -> floor(x * 127.0 / s + 0.5))
                          ELSE list_transform(v, x -> 0.0) END AS c
              FROM qz),
    q AS (SELECT id AS qid, c AS qv FROM codes WHERE id < 10),
    c AS (SELECT id AS nid, c AS cv FROM codes),
    scored AS (
        SELECT qid AS query_id, nid AS neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 4) AS cos
        FROM q JOIN c ON qid <> nid
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """


@register(
    "llm_ann_quantized_topk",
    covers="llm:ann-quantized llm:similarity-topk",
    oracle=_QUANTIZED_TOPK_ORACLE,
)
def q_llm_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine over the int8-quantized corpus
    (`llmdata/simsearch.py quantize_embeddings` — per-vector symmetric
    scaling divides out of every cosine, so distance runs on raw codes
    at a quarter of the scan bytes). Oracle-backed since r09: the code
    table's rounding is the explicit, engine-portable
    ``floor(x·127/max|x| + 0.5)``, so DuckDB replays quantization,
    cosine-over-codes and the top-5 rank value-for-value. Recall@5 vs
    the float exact path stays gated ≥0.9 in tests
    (test_quantized_topk_recall_vs_float_exact)."""
    from stream4flow_spark.llmdata.simsearch import cosine_topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_quantized(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "llm_hybrid_rrf",
    covers="llm:hybrid-retrieval llm:rank-fusion",
    oracle=f"""
        WITH pd AS (
            SELECT doc_id, len({_W}) AS dl,
                   len(list_filter({_W}, t -> t = 'join')) AS tf_0,
                   len(list_filter({_W}, t -> t = 'window')) AS tf_1,
                   len(list_filter({_W}, t -> t = 'scan')) AS tf_2
            FROM documents
        ),
        c AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                   SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                   SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                   SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
            FROM pd
        ),
        lex AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
                   * (CAST(tf_0 AS DOUBLE) * 2.2)
                   / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
                   * (CAST(tf_1 AS DOUBLE) * 2.2)
                   / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
                   * (CAST(tf_2 AS DOUBLE) * 2.2)
                   / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 DESC, doc_id ASC) AS r_lex
            FROM pd, c
            WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
            QUALIFY r_lex <= 50
        ),
        vec AS (
            SELECT nid AS doc_id, ROW_NUMBER() OVER (ORDER BY
                ROUND(list_dot_product(qv, cv)
                      / (sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv))), 4) DESC,
                nid ASC) AS r_vec
            FROM (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
                  FROM embeddings WHERE vec_id <> 0),
                 (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = 0)
            QUALIFY r_vec <= 50
        )
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (60 + l.r_lex), 0)
                     + COALESCE(1.0 / (60 + v.r_vec), 0), 6) AS rrf
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT 20
        """,
)
def q_llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 for ["join","window","scan"] fused
    with cosine top-50 around document 0's embedding via reciprocal-rank
    fusion (1/(60+rank), the standard RRF constant). Both candidate
    lists are bounded (k=50), so the fusion join touches ≤100 rows —
    all the heavy lifting stays in the two retrieval kernels, each with
    its documented scale shape. Docs without vectors participate only
    lexically (the corpus's vector modality covers a prefix at sf0.1)."""
    from pyspark.sql import Window

    from stream4flow_spark.llmdata.lexsearch import bm25_topk
    from stream4flow_spark.llmdata.simsearch import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    w_lex = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex = (
        bm25_topk(docs, ["join", "window", "scan"], k=50)
        .withColumn("r_lex", F.row_number().over(w_lex))
        .select("doc_id", "r_lex")
    )
    vec = (
        cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_vec"))
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(20)


@register(
    "llm_split_leakage",
    covers="llm:split-leakage llm:dedup-ngram-jaccard llm:train-split",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents
            WHERE len({_W}) >= 3 AND doc_id < 150
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || b.grams)) >= 0.35
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 52428
                            THEN 'train'
                        WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 58982
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT LEAST(sa.split, sb.split) AS split_a,
               GREATEST(sa.split, sb.split) AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN sp sa ON p.id_a = sa.doc_id
        JOIN sp sb ON p.id_b = sb.doc_id
        WHERE sa.split <> sb.split
        GROUP BY 1, 2
        """,
)
def q_llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs (3-gram Jaccard ≥ 0.35,
    bounded id<150 subset like llm_ngram_jaccard) whose members landed
    in DIFFERENT train/val/test splits — the eval-contamination report
    every split step should emit. Composition of the dedup pair tier and
    the deterministic hash split; at scale the pair source swaps to the
    banded LSH candidates, same downstream join."""
    from stream4flow_spark.llmdata.dedup import ngram_jaccard_pairs
    from stream4flow_spark.llmdata.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs.filter(F.col("doc_id") < 150), threshold=0.35
    ).select("id_a", "id_b")
    splits = hash_split(
        docs.select("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("sp_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("sp_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("sp_a") != F.col("sp_b"))
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "llm_unicode_normalize",
    covers="llm:unicode-normalize llm:doc-fingerprint",
    oracle="""
        SELECT doc_id, md5(nfc_normalize(text)) AS fp_nfc,
               nfc_normalize(text) <> text AS was_normalized
        FROM documents
        """,
)
def q_llm_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC canonicalization fingerprints
    (`llmdata/textstats.py normalize_unicode`): Python's unicodedata and
    DuckDB's nfc_normalize implement the same Unicode standard, so the
    post-normalization md5s hash-compare across engines. The combining-
    character behavior itself is unit-tested on decomposed fixtures
    (this corpus is ASCII, where NFC is the identity)."""
    from stream4flow_spark.llmdata.textstats import normalize_unicode

    docs = load_table(spark, sf_dir, "documents")
    return normalize_unicode(docs).select(
        "doc_id", F.md5("text_nfc").alias("fp_nfc"), "was_normalized"
    )


@register("llm_audio_spectrogram", covers="llm:multimodal-spectrogram")
# rows-only: rfft magnitudes have no SQL twin, and an explicit SQL DFT
# would hinge on libm-vs-JDK trig ulps — the planted-tone test
# (test_audio_spectrogram_finds_planted_tone) pins the math instead.
def q_llm_audio_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STFT magnitude features over REAL RIFF/WAVE payloads
    (`llmdata/multimodal.py audio_spectrogram`): decode → overlapped
    frames → vectorized rfft → per-clip dominant bin + energy, all in
    one map-only Arrow kernel."""
    from stream4flow_spark.llmdata.multimodal import (
        audio_spectrogram,
        synthesize_audio,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_spectrogram(synthesize_audio(docs))


@register(
    "llm_image_phash_neardup",
    covers="llm:multimodal-dedup llm:phash",
    oracle=_phash_neardup_oracle(max_hamming=6, id_limit=200),
)
def q_llm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup pairs over the synthetic image corpus
    (`llmdata/multimodal.py image_phash` + chunk-banded hamming join —
    the image analog of SimHash; every banded join shares the
    hot-bucket cap). Oracle-backed: the DCT basis is shared with the oracle as 12dp literals (neither
    engine evaluates cos), the matmul stages round 9dp/6dp, the median
    is an exact order statistic, and DuckDB replays decode-rule →
    resize → DCT → bits → chunk banding → hamming verify end to end
    (``gate_oracles._phash_neardup_oracle``). The rounding also fixed
    a real defect the rows-only era hid: unrounded, the fixture
    gradients' ~0 AC coefficients made every bit a float-dust coin flip
    — hashes were noise, near-identical images landed hamming-far.
    Input slices to doc_id<200 (the llm_ngram_jaccard pattern): the
    honest pHash clusters the near-identical fixtures densely, and an
    unbounded slice at bench SF would emit millions of pairs."""
    from stream4flow_spark.llmdata.multimodal import (
        phash_neardup_pairs,
        synthesize_images,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    return phash_neardup_pairs(synthesize_images(docs), max_hamming=6)


@register(
    "llm_split_drift",
    covers="llm:distribution-drift llm:train-split",
    oracle=f"""
        WITH toks AS (
            SELECT CASE WHEN {_BUCKET_SQL.format(salt='s4f-split')} < 52428
                        THEN 'train' ELSE 'heldout' END AS split,
                   unnest({_W}) AS tok
            FROM documents
        ), c AS (
            SELECT split, tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks GROUP BY 1, 2
        ), v AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM c
        ), tot AS (
            SELECT split, CAST(SUM(n) AS BIGINT) AS total
            FROM c GROUP BY 1
        ), joined AS (
            SELECT COALESCE(a.tok, b.tok) AS tok,
                   COALESCE(a.n, 0) AS n_train, COALESCE(b.n, 0) AS n_held
            FROM (SELECT * FROM c WHERE split = 'train') a
            FULL OUTER JOIN (SELECT * FROM c WHERE split = 'heldout') b
              ON a.tok = b.tok
        )
        SELECT ROUND(SUM(
                   ((n_train + 1.0) / (tt.total + v.vocab))
                   * ln(((n_train + 1.0) / (tt.total + v.vocab))
                        / ((n_held + 1.0) / (th.total + v.vocab)))
               ), 6) AS kl_train_vs_heldout,
               ANY_VALUE(v.vocab) AS n_vocab,
               ANY_VALUE(tt.total) AS train_tokens,
               ANY_VALUE(th.total) AS heldout_tokens
        FROM joined, v,
             (SELECT total FROM tot WHERE split = 'train') tt(total),
             (SELECT total FROM tot WHERE split = 'heldout') th(total)
        """,
)
def q_llm_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between the train split and everything
    else: add-one-smoothed KL(train ‖ heldout) over the union
    vocabulary — the monitoring number that catches a skewed split or a
    shifted incoming snapshot. Exact integer counts until the final
    fixed-order reduction (per-token terms ~1e-3; double-sum error
    ~1e-15, far under the 1e-6 rounding). Wire cost is the vocabulary,
    with map-side combine — same shape as corpus_term_stats."""
    docs = load_table(spark, sf_dir, "documents")
    from stream4flow_spark.llmdata.sampling import hash_bucket

    split = F.when(
        hash_bucket(F.col("doc_id"), "s4f-split") < 52428, "train"
    ).otherwise("heldout")
    toks = docs.select(
        split.alias("split"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    c = toks.groupBy("split", "tok").agg(F.count("*").alias("n"))
    vocab = c.select("tok").distinct().agg(F.count("*").alias("vocab"))
    tot = c.groupBy("split").agg(F.sum("n").alias("total"))
    tr = c.filter(F.col("split") == "train").select(
        F.col("tok"), F.col("n").alias("n_train")
    )
    he = c.filter(F.col("split") == "heldout").select(
        F.col("tok").alias("tok_h"), F.col("n").alias("n_held")
    )
    joined = (
        tr.join(he, tr.tok == he.tok_h, "full_outer")
        .select(
            F.coalesce("n_train", F.lit(0)).alias("n_train"),
            F.coalesce("n_held", F.lit(0)).alias("n_held"),
        )
    )
    tt = tot.filter(F.col("split") == "train").select(
        F.col("total").alias("t_train")
    )
    th = tot.filter(F.col("split") == "heldout").select(
        F.col("total").alias("t_held")
    )
    p = (F.col("n_train") + 1.0) / (F.col("t_train") + F.col("vocab"))
    q = (F.col("n_held") + 1.0) / (F.col("t_held") + F.col("vocab"))
    return (
        joined.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(th))
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_train_vs_heldout"),
            F.first("vocab").alias("n_vocab"),
            F.first("t_train").alias("train_tokens"),
            F.first("t_held").alias("heldout_tokens"),
        )
    )


@register(
    "llm_scene_changes",
    covers="llm:multimodal-scene-detect W2",
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id % 90 + 30 AS n FROM documents
        ),
        s AS (
            SELECT d.doc_id, i.i AS i,
                   ((d.doc_id * 13 + i.i * 17) % 65536) - 32768 AS v
            FROM d, unnest(range(0, d.n)) AS i(i)
        ),
        fr AS (
            SELECT doc_id, CAST((i // 30) AS INT) AS f,
                   ROUND(AVG(v), 4) AS m
            FROM s GROUP BY 1, 2
        ),
        dd AS (
            SELECT doc_id, f, m,
                   ABS(m - LAG(m) OVER (PARTITION BY doc_id ORDER BY f))
                     AS jump
            FROM fr
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(1 + COUNT(*) FILTER (WHERE jump > 4000) AS BIGINT)
                 AS n_scenes,
               ROUND(COALESCE(MAX(jump), 0), 4) AS max_jump
        FROM dd GROUP BY 1
        """,
)
def q_llm_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change segmentation over decoded frame sequences: per-doc
    lag window on the frame signal, boundary where the jump exceeds the
    threshold — the shot-boundary step of a video ingest pipeline, over
    the REAL WAV-decoded frame table. One doc-keyed window whose
    partitions are frames-per-clip (bounded by clip length, never
    corpus size)."""
    from pyspark.sql import Window

    from stream4flow_spark.llmdata.multimodal import (
        sample_frames,
        synthesize_audio,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = sample_frames(synthesize_audio(docs))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    dd = frames.withColumn(
        "jump", F.abs(F.col("frame_mean") - F.lag("frame_mean").over(w))
    )
    return dd.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        (
            1 + F.coalesce(F.sum((F.col("jump") > 4000).cast("long")), F.lit(0))
        ).alias("n_scenes"),
        F.round(F.coalesce(F.max("jump"), F.lit(0.0)), 4).alias("max_jump"),
    )


@register(
    "llm_dedup_rate_by_source",
    covers="llm:dedup-reporting A15",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                     / COUNT(*), 6) AS dup_rate
        FROM documents GROUP BY 1
        """,
)
def q_llm_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate report per source — the curation dashboard
    number that says which crawls are redundant before anything is
    dropped. Digest-only distinct count per group (the digest computes
    scan-side; text never shuffles), one exchange keyed by source."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.md5("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.round(
                1.0 - F.countDistinct("fp").cast("double") / F.count("*"), 6
            ).alias("dup_rate"),
        )
    )


@register(
    "llm_unigram_logprob",
    covers="llm:lm-quality-score llm:token-stats",
    oracle="""
        WITH toks AS (
            SELECT doc_id, t AS word
            FROM documents,
                 unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
            WHERE t <> ''
        ),
        doc AS (
            SELECT doc_id, word, COUNT(*) AS dcnt FROM toks GROUP BY 1, 2
        ),
        freq AS (
            SELECT word, CAST(SUM(dcnt) AS BIGINT) AS cnt FROM doc GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM freq)
        SELECT d.doc_id,
               CAST(SUM(d.dcnt) AS BIGINT) AS n_tokens,
               ROUND(SUM(d.dcnt * LN(CAST(f.cnt AS DOUBLE) / t.n))
                     / SUM(d.dcnt), 4) AS avg_logprob
        FROM doc d JOIN freq f USING (word) CROSS JOIN tot t
        GROUP BY 1
        """,
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score: the corpus's
    own unigram distribution scores each document by its mean token
    log-probability — boilerplate and keyword-stuffed pages score high
    (repetitive common tokens), gibberish scores very low, and the
    middle band is the keep zone (Wenzek et al., CCNet; the reference
    has no LM scoring — this is training-pipeline surface).

    Scale shape: ONE tokenize pass -> per-(doc, word) partial-agg
    counts (the explode never re-shuffles raw tokens; 'the'-skew is
    bounded because join rows per word <= n_docs, not token
    occurrences); the vocab-sized freq table derives from the same
    reduced counts; the scalar total broadcasts. Join key is the word,
    payload is two longs — text never travels."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word") != "")
    doc = toks.groupBy("doc_id", "word").agg(F.count("*").alias("dcnt"))
    freq = doc.groupBy("word").agg(F.sum("dcnt").alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("double").alias("n"))
    return (
        doc.join(freq, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("dcnt").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("dcnt")
                    * F.log(F.col("cnt").cast("double") / F.col("n"))
                )
                / F.sum("dcnt"),
                4,
            ).alias("avg_logprob"),
        )
    )


@register(
    "llm_semantic_dedup",
    covers="llm:dedup-semantic llm:connected-components",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        pairs AS MATERIALIZED (
            SELECT a.id AS id_a, b.id AS id_b
            FROM e a JOIN e b ON a.id < b.id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
        ),
        edges AS (
            SELECT id_a AS s, id_b AS t FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS t FROM pairs
        ),
        reach AS (
            SELECT id, id AS r FROM e
            UNION
            SELECT edges.t AS id, reach.r
            FROM reach JOIN edges ON reach.id = edges.s
        )
        SELECT id AS vec_id,
               CAST(MIN(r) AS BIGINT) AS keeper_id,
               (id = MIN(r)) AS kept
        FROM reach GROUP BY id
        """,
)
def q_llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): vectors
    whose embeddings are near-duplicates (cosine >= threshold) collapse
    transitively to one keeper — the min-id member of each connected
    component of the similarity graph. Output: one row per vector with
    its keeper and whether it survives.

    Scale shape: the pair stage is the tiled block-BLAS
    ``cosine_pairs_blocked`` (embeddings shuffle once into block tiles,
    never all-pairs on the wire; at production scale the LSH-bucketed
    variant feeds the same downstream); components run the Pregel-style
    min-label loop (ids only, O(diameter) rounds — dup clusters are
    tiny and dense); the final keeper join is id-keyed. The DuckDB
    oracle recomputes the transitive closure with a recursive CTE, so a
    green row certifies the whole chain incl. transitivity."""
    from stream4flow_spark.llmdata.dedup import connected_components
    from stream4flow_spark.llmdata.simsearch import cosine_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_blocked(emb, threshold=0.3)
    comp = connected_components(pairs)
    ids = emb.select(F.col("vec_id").alias("id"))
    return (
        ids.join(comp, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce("component", F.col("id")).alias("keeper_id"),
            (F.col("id") == F.coalesce("component", F.col("id"))).alias(
                "kept"
            ),
        )
    )


@register(
    "llm_chunk_documents",
    covers="llm:rag-chunking llm:token-windows",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents WHERE trim(text) <> ''
        ),
        starts AS (
            SELECT doc_id, toks, len(toks) AS n,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(toks) / 48.0) AS BIGINT)),
                       i -> i * 48)) AS s
            FROM t
        )
        SELECT doc_id,
               CAST(s / 48 AS INT) AS chunk_idx,
               CAST(s AS INT) AS start_token,
               CAST(least(n - s, 64) AS INT) AS n_chunk_tokens,
               array_to_string(toks[s + 1 : least(s + 64, n)], ' ')
                 AS chunk_text
        FROM starts WHERE s < n
        """,
)
def q_llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/packing-style document chunking: overlapping 64-token windows
    with stride 48 (16-token overlap), each chunk carrying its global
    start offset — the standard retrieval-corpus and long-context
    training preprocessing step.

    Map-only: tokenize, build the stride grid with ``sequence()``,
    slice each window with higher-order array functions, posexplode —
    all inside one projection over the scan, ZERO shuffle (the 1->N
    fan-out happens in-task). At 100 TB this runs at parquet-read
    speed; compare the reference's absence of any chunking surface."""
    from stream4flow_spark.llmdata.textstats import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, size=64, stride=48)


def _rp_oracle(out_dims: int = 8, in_dims: int = 64, salt: str = "s4f-rp") -> str:
    """DuckDB rebuild of the md5-sign JL projection (same matrix rule as
    simsearch.random_projection — the salt IS the matrix)."""
    cols = ",\n               ".join(
        "ROUND(list_sum(list_transform(range(0, %d), d -> "
        "v[d + 1] * (CASE WHEN substring(md5(d || '-%d-%s'), 1, 1) < '8' "
        "THEN 1 ELSE -1 END) / sqrt(%d))), 4) + 0.0 AS p%d"
        % (in_dims, j, salt, out_dims, j)
        for j in range(out_dims)
    )
    return f"""
        SELECT vec_id,
               {cols}
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        """


@register(
    "llm_random_projection",
    covers="llm:dimensionality-reduction llm:ann-compression",
    oracle=_rp_oracle(),
)
def q_llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL sign projection 64 -> 8 dims
    (simsearch.random_projection): the vector-compression stage in
    front of every large-scale similarity join — 8x less payload in
    every downstream shuffle, distances preserved within (1 ± eps).
    Map-only Column unroll, zero shuffle; the md5-salt rule means the
    oracle (and any other engine) rebuilds the identical matrix."""
    from stream4flow_spark.llmdata.simsearch import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb)


@register(
    "llm_heavy_hitters",
    covers="llm:heavy-hitters llm:sketch-verify",
    oracle="""
        WITH toks AS (
            SELECT t AS word
            FROM documents,
                 unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
            WHERE t <> ''
        ),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
        SELECT word,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               ROUND(COUNT(*) / t.n, 6) AS share
        FROM toks CROSS JOIN tot t
        GROUP BY word, t.n
        HAVING COUNT(*) > t.n / 50
        """,
)
def q_llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining via Misra-Gries sketch + exact verify
    (lexsearch.heavy_hitters): per-partition k-counter sketches whose
    union provably contains every token above the n/k frequency floor,
    then an exact count of only those candidates — the wire never
    carries the vocabulary, yet the output is deterministic (hence this
    brute-force GROUP BY oracle)."""
    from stream4flow_spark.llmdata.lexsearch import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, k=50)


@register(
    "llm_source_overlap",
    covers="llm:dedup-reporting llm:cross-source-overlap",
    oracle="""
        WITH d AS (
            SELECT DISTINCT
                   md5(array_to_string(
                       list_filter(
                           string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '')[1:20], ' ')) AS fp,
                   source
            FROM documents
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
        """,
)
def q_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: how many distinct content
    fingerprints each pair of sources shares — the curation report that
    says which crawls re-collect each other (drop the redundant one
    before paying to process it). The fingerprint is the md5 of the
    first 20 normalized tokens (the CCNet-style prefix signature):
    syndicated/boilerplate content keeps its head across re-crawls even
    when trailing chrome differs, which exact-text digests miss.
    Complements the within-source llm_dedup_rate_by_source.

    Scale shape: (fingerprint, source) pairs distinct map-side, the
    self-join keys on the fingerprint (per-digest fan-out bounded by
    the source count, not document count), counts partial-aggregate;
    the text column never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    d = docs.select(
        F.md5(F.array_join(F.slice(toks, 1, 20), " ")).alias("fp"), "source"
    ).distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


@register(
    "llm_source_overlap_trigram",
    covers="llm:cross-source-overlap llm:dedup-reporting",
    # Oracle computes on RAW grams; the Spark side hashes them (xxhash64,
    # 8 B/gram on the wire) — counts and Jaccard are identical unless a
    # 64-bit collision lands in this fixed corpus (~n²/2⁶⁵, and
    # deterministic either way — verified MATCH at sf0.001 + sf0.01).
    oracle=f"""
        WITH d AS (
            SELECT DISTINCT source, unnest({_GRAMS3}) AS g FROM documents
        ),
        s AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
        p AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   COUNT(*) AS n_shared
            FROM d a JOIN d b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT p.source_a, p.source_b,
               CAST(x.n AS BIGINT) AS n_grams_a,
               CAST(y.n AS BIGINT) AS n_grams_b,
               CAST(p.n_shared AS BIGINT) AS n_shared,
               ROUND(CAST(p.n_shared AS DOUBLE)
                     / (x.n + y.n - p.n_shared), 6) AS jaccard
        FROM p
        JOIN s x ON x.source = p.source_a
        JOIN s y ON y.source = p.source_b
        """,
)
def q_llm_source_overlap_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-granularity cross-source overlap (r06 verdict item 6):
    the Jaccard-weighted matrix over each source's distinct hashed word
    trigrams — catches mid-document syndication that
    llm_source_overlap's 20-token PREFIX fingerprint misses (shared
    body, different headline). Scale shape: grams hash to 8 bytes in
    the scan projection (text never shuffles), per-source sizes
    broadcast onto the pair counts; ``max_grams_per_source`` bottom-k
    caps any hot source (estimate mode, off here for the exact
    oracle)."""
    from stream4flow_spark.llmdata.textstats import source_overlap_trigram

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_trigram(docs)


@register(
    "llm_semantic_dedup_lsh",
    covers="llm:dedup-semantic llm:similarity-lsh",
    oracle=_semantic_dedup_lsh_oracle(
        threshold=0.3, num_planes=4, num_tables=12
    ),
)
def q_llm_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of llm_semantic_dedup: sign-LSH bucketed candidate
    pairs (exact-cosine verified within buckets, never all-pairs)
    feeding the same min-label components + keeper join. Oracle-backed
    since r09: the planes are deterministic integer-hash constants, so
    DuckDB replays bucketing + verify and closes the pair graph with
    the recursive-CTE transitive closure the llm_dedup_components
    oracle proved (``gate_oracles._semantic_dedup_lsh_oracle``);
    keeper-assignment agreement vs the exact tier additionally stays
    gated ≥90% in tests (test_semantic_dedup_lsh_agrees_with_exact)."""
    from stream4flow_spark.llmdata.dedup import connected_components
    from stream4flow_spark.llmdata.simsearch import lsh_bucketed_neighbors

    emb = load_table(spark, sf_dir, "embeddings")
    # 4 planes x 12 tables: measured 98% keeper agreement vs the exact
    # tier at t=0.3 at ~40% of the 3x10 verify cost (more planes shrink
    # buckets; more tables recover the recall — the 8x2 default is tuned
    # for the tighter neardup report and misses this graph's long chains)
    pairs = lsh_bucketed_neighbors(emb, threshold=0.3, num_planes=4, num_tables=12)
    comp = connected_components(pairs)
    ids = emb.select(F.col("vec_id").alias("id"))
    return ids.join(comp, "id", "left").select(
        F.col("id").alias("vec_id"),
        F.coalesce("component", F.col("id")).alias("keeper_id"),
        (F.col("id") == F.coalesce("component", F.col("id"))).alias("kept"),
    )


@register(
    "llm_incremental_neardup",
    covers="llm:dedup-minhash-lsh llm:incremental-dedup",
    # Oracle = brute-force delta×corpus Jaccard: valid for the same
    # reason as llm_minhash_lsh_dedup's (banded candidate recall at the
    # 0.5 threshold is ~1-0.75^32 — effectively exhaustive, then exact
    # verification).
    oracle=f"""
        WITH sh AS (
            SELECT doc_id AS id, {_GRAMS3} AS grams FROM documents
            WHERE len({_W}) >= 3
        ),
        cand AS (
            SELECT d.id AS id_d, c.id AS id_c,
                   ROUND(CAST(len(list_intersect(d.grams, c.grams)) AS DOUBLE)
                         / len(list_distinct(d.grams || c.grams)), 4)
                     AS jaccard
            FROM sh d JOIN sh c ON d.id % 10 = 0 AND c.id % 10 <> 0
        ),
        best AS (
            SELECT id_d, id_c, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY id_d
                                      ORDER BY jaccard DESC, id_c ASC) AS rn
            FROM cand WHERE jaccard >= 0.5
        )
        SELECT d.doc_id,
               (b.id_c IS NOT NULL) AS is_near_dup,
               b.id_c AS best_match_id,
               b.jaccard AS best_jaccard
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.id_d
        """,
)
def q_llm_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screening of an incoming snapshot against the standing
    corpus (dedup.incremental_neardup) — every 10th document plays the
    delta. The scale story: the corpus's (id, band, bucket) LSH index
    is computed once per snapshot (stored, `_band_table`), each delta
    only bands itself and joins ids against the index — no corpus
    re-scan, no all-pairs; candidates verify with exact Jaccard."""
    from stream4flow_spark.llmdata.dedup import incremental_neardup

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_neardup(corpus, delta, threshold=0.5)


@register(
    "llm_incremental_semantic_neardup",
    covers="llm:dedup-semantic llm:incremental-dedup llm:similarity-lsh",
    # Oracle = brute-force delta×corpus cosine (same pattern as
    # llm_incremental_neardup's). Valid for the LSH path because the gate
    # runs 2 planes × 16 tables: per qualifying pair the candidate-miss
    # probability is (1-(1-θ/π)²)^16 ≤ 0.644^16 ≈ 9e-4 at cos = 0.3 (and
    # falls fast above it), the hash is deterministic, and the result is
    # verified MATCH at sf0.001 + sf0.01.
    oracle="""
        WITH e AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cand AS (
            SELECT d.id AS id_d, c.id AS id_c,
                   ROUND(list_dot_product(d.v, c.v)
                         / (sqrt(list_dot_product(d.v, d.v))
                            * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
            FROM e d JOIN e c ON d.id % 10 = 0 AND c.id % 10 <> 0
        ),
        best AS (
            SELECT id_d, id_c, cos,
                   ROW_NUMBER() OVER (PARTITION BY id_d
                                      ORDER BY cos DESC, id_c ASC) AS rn
            FROM cand WHERE cos >= 0.3
        )
        SELECT d.vec_id,
               (b.id_c IS NOT NULL) AS is_near_dup,
               b.id_c AS best_match_id,
               b.cos AS best_cos
        FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.vec_id = b.id_d
        """,
)
def q_llm_incremental_semantic_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic near-dup screening of an incoming snapshot against the
    standing corpus in EMBEDDING space (r06 verdict item 4) — every 10th
    vector plays the delta. The corpus' sign-LSH bucket table
    (simsearch.sign_lsh_bucket_table) is the stored index — computed
    once per snapshot exactly like incremental_neardup's `_band_table`;
    the delta only buckets itself (one GEMM) and joins ids against it;
    candidates verify with exact cosine against vectors fetched by id.
    No corpus re-bucketing, no all-pairs."""
    from stream4flow_spark.llmdata.simsearch import (
        incremental_semantic_neardup,
        sign_lsh_bucket_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    # the stored-index path IS the production path — exercise it
    idx = sign_lsh_bucket_table(corpus, num_planes=2, num_tables=16)
    return incremental_semantic_neardup(
        corpus,
        delta,
        threshold=0.3,
        num_planes=2,
        num_tables=16,
        corpus_index=idx,
    )


@register(
    "llm_embedding_coverage",
    covers="llm:join-coverage-audit",
    oracle="""
        SELECT CAST(COUNT(*) FILTER (d.doc_id IS NOT NULL
                                     AND e.vec_id IS NOT NULL) AS BIGINT)
                 AS n_both,
               CAST(COUNT(*) FILTER (e.vec_id IS NULL) AS BIGINT)
                 AS n_docs_missing_embedding,
               CAST(COUNT(*) FILTER (d.doc_id IS NULL) AS BIGINT)
                 AS n_orphan_embeddings,
               ROUND(CAST(COUNT(*) FILTER (d.doc_id IS NOT NULL
                                           AND e.vec_id IS NOT NULL)
                          AS DOUBLE)
                     / NULLIF(COUNT(*) FILTER (d.doc_id IS NOT NULL), 0), 6)
                 AS doc_coverage
        FROM documents d
        FULL OUTER JOIN (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0)
             e ON d.doc_id = e.vec_id
        """,
)
def q_llm_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store coverage audit: which documents lack an embedding
    row and which embeddings are orphans — the join-completeness check
    every doc↔vector pipeline needs before ANN/semantic stages silently
    drop unembedded documents. One full-outer id join (ids only on the
    wire) folding straight into a 1-row conditional aggregate."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # every 7th embedding withheld: the gate audits a PARTIALLY-embedded
    # corpus so the missing/orphan counters actually count something
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % 7 != 0)
    )
    j = d.join(e, d["doc_id"] == e["vec_id"], "full_outer")
    both = (F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()).cast(
        "long"
    )
    return j.agg(
        F.sum(both).alias("n_both"),
        F.sum(F.col("vec_id").isNull().cast("long")).alias(
            "n_docs_missing_embedding"
        ),
        F.sum(F.col("doc_id").isNull().cast("long")).alias(
            "n_orphan_embeddings"
        ),
        F.round(
            F.sum(both).cast("double")
            / F.nullif(
                F.sum(F.col("doc_id").isNotNull().cast("long")), F.lit(0)
            ),
            6,
        ).alias("doc_coverage"),
    )


@register("llm_length_stats_approx", covers="llm:percentiles-approx")
# rows-only: percentile_approx's Greenwald-Khanna sketch is
# engine-specific (DuckDB's approximate quantiles use t-digest — same
# guarantee class, different values); the rank-error bound vs exact
# order statistics is gated in tests/test_operators.py
# (test_approx_percentiles_within_rank_error_of_exact)
def q_llm_length_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-language length percentiles — the sketch path of
    llm_length_stats for when even O(distinct values) state is too much
    (operators/percentiles.grouped_approx_percentiles); mergeable
    map-side like any partial aggregate."""
    from stream4flow_spark.operators.percentiles import (
        grouped_approx_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    return grouped_approx_percentiles(
        docs, ["lang"], "n_chars",
        {"p10": 0.1, "p50": 0.5, "p90": 0.9},
    )


@register(
    "llm_dedup_savings",
    covers="llm:dedup-reporting A15",
    oracle="""
        WITH g AS (
            SELECT md5(array_to_string(
                       list_filter(
                           string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '')[1:20], ' ')) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_all,
                   CAST(MIN(n_chars) AS BIGINT) AS chars_keeper
            FROM documents GROUP BY 1
        )
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped,
               ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6)
                 AS drop_rate,
               CAST(SUM(chars_all) - SUM(chars_keeper) AS BIGINT)
                 AS chars_saved
        FROM g
        """,
)
def q_llm_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case in one row: how many documents and how
    many characters (a token proxy) collapsing to one keeper per
    content fingerprint would drop — the headline a curation run
    reports before anyone pays for the full pipeline. Keyed on the
    20-token prefix fingerprint (the llm_source_overlap signature:
    exact digests find nothing on this corpus — head-duplicates are
    what re-crawls actually produce); keeper = the group's shortest
    document, the conservative savings floor. Digest-keyed aggregate
    (text never shuffles), then a 1-row fold."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    g = (
        docs.select(
            F.md5(F.array_join(F.slice(toks, 1, 20), " ")).alias("fp"),
            "n_chars",
        )
        .groupBy("fp")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars_all"),
            F.min("n_chars").alias("chars_keeper"),
        )
    )
    return g.agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        (F.sum("n") - F.count("*")).alias("n_dropped"),
        F.round(
            1.0 - F.count("*").cast("double") / F.sum("n"), 6
        ).alias("drop_rate"),
        (F.sum("chars_all") - F.sum("chars_keeper")).alias("chars_saved"),
    )


@register(
    "llm_vocab_growth",
    covers="llm:vocab-growth llm:corpus-analysis",
    oracle="""
        WITH toks AS (
            SELECT doc_id, t AS word
            FROM documents,
                 unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
            WHERE t <> ''
        ),
        first_seen AS (
            SELECT word, MIN(doc_id) AS fd FROM toks GROUP BY 1
        ),
        tok_per_bucket AS (
            SELECT CAST(doc_id // 50 AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM toks GROUP BY 1
        ),
        new_per_bucket AS (
            SELECT CAST(fd // 50 AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_new_words
            FROM first_seen GROUP BY 1
        )
        SELECT t.bucket,
               CAST(SUM(t.n_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(n.n_new_words, 0)) OVER w AS BIGINT)
                 AS cum_vocab
        FROM tok_per_bucket t LEFT JOIN new_per_bucket n USING (bucket)
        WINDOW w AS (ORDER BY t.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
)
def q_llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct words
    vs cumulative tokens at 50-document checkpoints — the corpus
    diagnostic that says whether more crawling still buys new language
    or just repeats (sub-linear growth flattening early = diminishing
    returns). Scale shape: 'distinct words so far' NEVER recomputes per
    checkpoint — each word contributes once at its FIRST document
    (vocab-keyed min aggregate), then per-bucket counts fold through
    one tiny cumulative window over n_buckets rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word") != "")
    first_seen = toks.groupBy("word").agg(F.min("doc_id").alias("fd"))
    tok_b = toks.groupBy((F.col("doc_id") / 50).cast("long").alias("bucket")).agg(
        F.count("*").alias("n_tokens")
    )
    new_b = first_seen.groupBy(
        (F.col("fd") / 50).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n_new_words"))
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_b.join(new_b, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("n_new_words", F.lit(0)))
            .over(w)
            .alias("cum_vocab"),
        )
    )


@register(
    "llm_ngram_novelty",
    covers="llm:novelty-score llm:corpus-analysis",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({_GRAMS3}) AS gram
            FROM documents WHERE len({_W}) >= 3
        ),
        first_seen AS (
            SELECT gram, MIN(doc_id) AS fd FROM sh GROUP BY 1
        )
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS novelty
        FROM sh JOIN first_seen f USING (gram)
        GROUP BY 1
        """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct trigrams not seen in any LOWER-id document — the
    duplication-aware ordering signal (near-copies of earlier docs
    score ~0, fresh content ~1) used for curriculum ordering and as a
    cheap crawl-value diagnostic alongside llm_vocab_growth.

    Scale shape: first-occurrence is ONE gram-keyed min aggregate (the
    same trick as vocab growth — no per-doc rescans of history), the
    novelty join keys on the gram (ids only; 8-byte hashed grams in a
    production variant like decontaminate's), and per-doc counts
    partial-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from stream4flow_spark.llmdata.dedup import word_ngrams

    sh = docs.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 3
    ).select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 3)).alias("gram")
    )
    first_seen = sh.groupBy("gram").agg(F.min("doc_id").alias("fd"))
    return (
        sh.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("fd") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.sum((F.col("fd") == F.col("doc_id")).cast("long")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


@register(
    "llm_gopher_rules",
    covers="llm:quality-rules llm:quality-score rel:conditional-agg",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN len({_W}) BETWEEN 30 AND 100000
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS word_count_violations,
               CAST(SUM(CASE WHEN CAST(length(text) - (len({_W}) - 1)
                                       AS DOUBLE) / len({_W})
                                  BETWEEN 3 AND 10
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS mean_word_len_violations,
               CAST(SUM(CASE WHEN len(list_filter({_W},
                                      t -> t IN {_STOP_EN})) >= 2
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS stopword_hits_violations,
               CAST(SUM(CASE WHEN CAST(len(list_distinct({_W})) AS DOUBLE)
                                  / len({_W}) >= 0.35
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS lexical_diversity_violations,
               CAST(SUM(CASE WHEN len({_W}) BETWEEN 30 AND 100000
                              AND CAST(length(text) - (len({_W}) - 1)
                                       AS DOUBLE) / len({_W})
                                  BETWEEN 3 AND 10
                              AND len(list_filter({_W},
                                      t -> t IN {_STOP_EN})) >= 2
                              AND CAST(len(list_distinct({_W})) AS DOUBLE)
                                  / len({_W}) >= 0.35
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        FROM documents GROUP BY 1
        """,
)
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rule audit, reported PER SOURCE
    (Rae et al. 2021 §A1.1 repetition/quality filters; the reference has
    no corpus-quality surface — this is training-pipeline coverage).
    Four document rules — word count in [30, 1e5], mean word length in
    [3, 10], ≥2 English stopword hits, lexical diversity (distinct/total
    words) ≥ 0.35 — compiled by ``operators/expect.audit`` into ONE
    conditional-sum pass with map-side partials: the wire carries one
    row per source no matter how many rules or how big the corpus, and
    ``n_clean`` is the quarantine() keep-lane size so the report and an
    actual split can never drift."""
    from stream4flow_spark.operators.expect import audit
    from stream4flow_spark.llmdata.textstats import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.col("text"))
    n_words = F.size(toks)
    stops = [s.strip(" '") for s in _STOP_EN.strip("()").split(",")]
    rules = {
        "word_count": n_words.between(30, 100_000),
        "mean_word_len": (
            (F.length("text") - (n_words - 1)).cast("double") / n_words
        ).between(3, 10),
        "stopword_hits": F.size(
            F.filter(toks, lambda t: t.isin(stops))
        ) >= 2,
        "lexical_diversity": (
            F.size(F.array_distinct(toks)).cast("double") / n_words
        ) >= 0.35,
    }
    return audit(docs, rules, group_cols=["source"], include_clean=True)


@register(
    "llm_token_budget",
    covers="llm:token-budget-cap llm:mixture A9",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, CAST(len({_W}) AS BIGINT) AS n_tokens
            FROM documents
            WHERE n_tokens >= 1
        )
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
        FROM t
        QUALIFY cum_weight <= 800
        """,
)
def q_llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN budget cap (llmdata/sampling.py
    token_budget_per_group): training mixtures are specified in tokens,
    not rows, so each source keeps its best documents only until the
    running token total hits the budget — greedy first-fit in a
    deterministic order (here longest-first, doc_id tiebreak). ONE
    exchange keyed by source + an in-partition running-sum window —
    the same plan shape as cap_per_group's rank window; weights ≥ 1
    token mean a bucketed rank pre-cap at ``budget`` rows bounds hot
    sources exactly when needed."""
    from stream4flow_spark.llmdata.sampling import token_budget_per_group
    from stream4flow_spark.llmdata.textstats import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(whitespace_tokens(F.col("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    return token_budget_per_group(
        docs, "source", budget=800, weight_col="n_tokens"
    )


@register(
    "llm_perplexity_buckets",
    covers="llm:lm-quality-score llm:mixture",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, t AS word
            FROM documents,
                 unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
            WHERE t <> ''
        ),
        doc AS (
            SELECT doc_id, lang, word, COUNT(*) AS dcnt
            FROM toks GROUP BY 1, 2, 3
        ),
        freq AS (
            SELECT word, CAST(SUM(dcnt) AS BIGINT) AS cnt FROM doc GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM freq),
        scored AS (
            SELECT d.doc_id, ANY_VALUE(d.lang) AS lang,
                   ROUND(SUM(d.dcnt * LN(CAST(f.cnt AS DOUBLE) / t.n))
                         / SUM(d.dcnt), 4) AS lp
            FROM doc d JOIN freq f USING (word) CROSS JOIN tot t
            GROUP BY 1
        ),
        binned AS (
            SELECT lang, lp,
                   NTILE(3) OVER (PARTITION BY lang
                                  ORDER BY lp DESC, doc_id) AS tercile
            FROM scored
        )
        SELECT lang,
               CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(lp), 4) + 0.0 AS mean_logprob,
               ROUND(MIN(lp), 4) + 0.0 AS min_logprob,
               ROUND(MAX(lp), 4) + 0.0 AS max_logprob
        FROM binned GROUP BY 1, 2
        """,
)
def q_llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail buckets (Wenzek et al. 2019 §4.3): score
    every document with the corpus's own unigram LM (same machinery as
    llm_unigram_logprob), then split each language into quality
    terciles — the mixture knob CCNet exposes ("train on head+middle,
    drop tail"). Deterministic: scores are rounded to 4dp BEFORE the
    tercile window orders on them (float noise between engines can't
    flip the order) with doc_id as tiebreak.

    Scale shape: the scoring join carries (word, two longs) — text
    never travels; the tercile NTILE is one exchange keyed by lang over
    (doc_id, lang, lp) rows only; the final rollup is a partial-agg over
    ≤ 3·|langs| groups."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
    ).filter(F.col("word") != "")
    doc = toks.groupBy("doc_id", "lang", "word").agg(
        F.count("*").alias("dcnt")
    )
    freq = doc.groupBy("word").agg(F.sum("dcnt").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("n"))
    scored = (
        doc.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.round(
                F.sum(
                    F.col("dcnt")
                    * F.log(F.col("cnt").cast("double") / F.col("n"))
                )
                / F.sum("dcnt"),
                4,
            ).alias("lp"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("lp").desc(), F.col("doc_id")
    )
    binned = scored.withColumn("tercile", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        binned.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            (F.round(F.avg("lp"), 4) + 0.0).alias("mean_logprob"),
            (F.round(F.min("lp"), 4) + 0.0).alias("min_logprob"),
            (F.round(F.max("lp"), 4) + 0.0).alias("max_logprob"),
        )
    )


_EPOCHS = {"src0": 2.5, "src1": 0.25, "src2": 1.0, "src3": 3.0}
_EPOCH_CASE = (
    "CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25 "
    "WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 3.0 END"
)


@register(
    "llm_epoch_upsample",
    covers="llm:mixture llm:epoch-upsample",
    oracle=f"""
        WITH f AS (
            SELECT doc_id, source,
                   CAST(FLOOR({_EPOCH_CASE}) AS INT)
                   + CASE WHEN CAST(('0x' || substring(md5(
                             CAST(doc_id AS VARCHAR) || 's4f-epoch'), 1, 4))
                             AS INT)
                          < ({_EPOCH_CASE} - FLOOR({_EPOCH_CASE})) * 65536
                     THEN 1 ELSE 0 END AS n_copies
            FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3')
        )
        SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
               CAST(u.i AS BIGINT) AS epoch_idx
        FROM f, unnest(range(n_copies)) AS u(i)
        """,
)
def q_llm_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixture upsampling (llmdata/sampling.py
    epoch_upsample): repeat each source's documents to its target epoch
    count — floor(e) copies plus a deterministic md5-coin extra for the
    fraction, the upsampling half of mixture building that
    mixture_resample's thinning can't express (GPT-3/Llama-style "3.5
    epochs of the good source"). Literal map lookup + in-task
    sequence()+explode — no join, no shuffle; the oracle reproduces the
    exact same coin, so the surviving (doc, copy) multiset is verified
    row-for-row."""
    from stream4flow_spark.llmdata.sampling import epoch_upsample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    up = epoch_upsample(docs, _EPOCHS)
    return up.select(
        "doc_id",
        "source",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("epoch_idx").cast("long").alias("epoch_idx"),
    )


@register(
    "llm_mixture_plan",
    covers="llm:mixture llm:corpus-profile",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_W})) AS BIGINT) AS n_tokens,
                   COALESCE({_EPOCH_CASE}, 1.0) AS epochs
            FROM documents GROUP BY source
        )
        SELECT source, n_docs, n_tokens, epochs,
               CAST(ROUND(n_tokens * epochs) AS BIGINT) AS effective_tokens,
               ROUND(CAST(ROUND(n_tokens * epochs) AS BIGINT)
                     / SUM(CAST(ROUND(n_tokens * epochs) AS BIGINT))
                       OVER (), 6) + 0.0 AS share
        FROM per
        """,
)
def q_llm_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture spreadsheet: per-source document/token counts, target
    epoch weights, effective (post-upsampling) token contribution and
    its share of the training mix — the planning table a data team signs
    off BEFORE epoch_upsample/token_budget materialize anything.

    Scale shape: ONE conditional-sum scan to per-source aggregates
    (≤ |sources| rows); the share denominator is a whole-frame window
    over those aggregate rows only — bounded by the source count, never
    the corpus (same justification as mixture_resample's threshold
    window)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    from stream4flow_spark.llmdata.textstats import whitespace_tokens

    emap = F.create_map(*[F.lit(x) for kv in _EPOCHS.items() for x in kv])
    per = (
        docs.select(
            "source",
            F.size(whitespace_tokens(F.col("text"))).alias("__nt"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
        )
        .withColumn("epochs", F.coalesce(emap[F.col("source")], F.lit(1.0)))
    )
    eff = F.round(F.col("n_tokens") * F.col("epochs")).cast("long")
    whole = Window.partitionBy()
    return (
        per.withColumn("effective_tokens", eff)
        .withColumn(
            "share",
            F.round(
                F.col("effective_tokens")
                / F.sum("effective_tokens").over(whole),
                6,
            )
            + 0.0,
        )
    )


@register(
    "llm_filter_funnel",
    covers="llm:corpus-profile llm:quality-rules A15",
    oracle=f"""
        WITH flags AS (
            SELECT doc_id,
                   (len({_W}) BETWEEN 30 AND 100000) AS f_len,
                   (len(list_filter({_W}, t -> t IN {_STOP_EN})) >= 2)
                     AS f_stop,
                   md5(text) AS fp
            FROM documents
        ),
        keep AS (
            SELECT fp, MIN(doc_id) AS keeper FROM flags GROUP BY 1
        ),
        staged AS (
            SELECT f.doc_id,
                   f.f_len AS s1,
                   (f.f_len AND f.f_stop) AS s2,
                   (f.f_len AND f.f_stop AND f.doc_id = k.keeper) AS s3
            FROM flags f JOIN keep k USING (fp)
        )
        SELECT stage, n_in, n_out,
               ROUND(1.0 - n_out / CAST(n_in AS DOUBLE), 6) AS drop_rate
        FROM (
            SELECT 'p1_length' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS n_in,
                   CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
            FROM staged
            UNION ALL
            SELECT 'p2_stopwords',
                   CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
            FROM staged
            UNION ALL
            SELECT 'p3_exact_dedup',
                   CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
            FROM staged
        )
        """,
)
def q_llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-filter attrition funnel: the docs-in/docs-out table every
    curation writeup reports (C4 table 1, Gopher A1, RefinedWeb fig 2 —
    "N docs → after length filter → after quality → after dedup").
    Stages compose conjunctively on ONE scan: each doc computes its
    per-stage flags map-side (length band, stopword evidence, exact-dup
    keeper via the digest-keyed min join), then a single conditional-sum
    aggregate emits the whole funnel — adding stages adds Columns, not
    scans. The keeper join is digest-narrow (md5, never text) exactly
    like llm_exact_dedup.

    Stage names carry a p<N>_ prefix so the funnel orders correctly
    under the driver's sorted-column hash."""
    docs = load_table(spark, sf_dir, "documents")
    from stream4flow_spark.llmdata.textstats import whitespace_tokens

    stops = [s.strip(" '") for s in _STOP_EN.strip("()").split(",")]
    toks = whitespace_tokens(F.col("text"))
    flags = docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.size(toks).between(30, 100_000).alias("f_len"),
        (F.size(F.filter(toks, lambda t: t.isin(stops))) >= 2).alias(
            "f_stop"
        ),
    )
    keep = flags.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    staged = flags.join(keep, "fp").select(
        F.col("f_len").alias("s1"),
        (F.col("f_len") & F.col("f_stop")).alias("s2"),
        (
            F.col("f_len")
            & F.col("f_stop")
            & (F.col("doc_id") == F.col("keeper"))
        ).alias("s3"),
    )
    agg = staged.agg(
        F.count("*").alias("n0"),
        F.sum(F.col("s1").cast("long")).alias("n1"),
        F.sum(F.col("s2").cast("long")).alias("n2"),
        F.sum(F.col("s3").cast("long")).alias("n3"),
    )
    stage = F.explode(
        F.array(
            F.struct(
                F.lit("p1_length").alias("stage"),
                F.col("n0").alias("n_in"),
                F.col("n1").alias("n_out"),
            ),
            F.struct(
                F.lit("p2_stopwords").alias("stage"),
                F.col("n1").alias("n_in"),
                F.col("n2").alias("n_out"),
            ),
            F.struct(
                F.lit("p3_exact_dedup").alias("stage"),
                F.col("n2").alias("n_in"),
                F.col("n3").alias("n_out"),
            ),
        )
    )
    return agg.select(stage.alias("s")).select(
        "s.stage",
        "s.n_in",
        "s.n_out",
        F.round(1.0 - F.col("s.n_out") / F.col("s.n_in"), 6).alias(
            "drop_rate"
        ),
    )


@register(
    "llm_importance_sample",
    covers="llm:quality-score llm:mixture llm:dynamic-selection",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   LEAST(CAST(len({_W}) AS DOUBLE) / 100.0, 1.0) * 0.4
                   + LEAST(CAST(len(list_filter({_W}, t -> t IN {_STOP_EN}))
                                AS DOUBLE) / len({_W}) * 5.0, 1.0) * 0.3
                   + CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))
                          AS DOUBLE) / length(text) * 0.3 AS q
            FROM documents
        )
        SELECT doc_id, source, ROUND(q, 6) + 0.0 AS quality_score
        FROM scored
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                          || 's4f-imp'), 1, 4)) AS INT)
              < LEAST(GREATEST(q, 0.0), 1.0) * 65536
        """,
)
def q_llm_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-quality sampling (CCNet-style soft
    filter, llmdata/sampling.py importance_sample): each document
    survives with p = its deterministic quality score, so the borderline
    mass thins smoothly instead of cliff-dropping at a threshold — and
    the md5 coin makes the survivor set reproducible enough for the
    DuckDB oracle to verify row-for-row. Map-only predicate on ONE scan:
    no shuffle, no state."""
    from stream4flow_spark.llmdata.sampling import importance_sample
    from stream4flow_spark.llmdata.textstats import quality_features

    docs = quality_features(load_table(spark, sf_dir, "documents"))
    kept = importance_sample(docs, F.col("quality_score"))
    return kept.select(
        "doc_id",
        "source",
        (F.round(F.col("quality_score"), 6) + 0.0).alias("quality_score"),
    )


@register(
    "llm_weighted_sample",
    covers="llm:mixture llm:quality-score A9",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   LEAST(CAST(len({_W}) AS DOUBLE) / 100.0, 1.0) * 0.4
                   + LEAST(CAST(len(list_filter({_W}, t -> t IN {_STOP_EN}))
                                AS DOUBLE) / len({_W}) * 5.0, 1.0) * 0.3
                   + CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))
                          AS DOUBLE) / length(text) * 0.3 AS q
            FROM documents
        ),
        keyed AS (
            SELECT doc_id, source, q,
                   ROUND(LN((CAST(('0x' || substring(md5(
                              CAST(doc_id AS VARCHAR) || 's4f-wrs'), 1, 4))
                              AS INT) + 0.5) / 65536.0) / q, 9) AS wkey
            FROM scored
        )
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY wkey DESC, doc_id
               ) AS INT) AS sample_rank,
               ROUND(q, 6) + 0.0 AS quality_score
        FROM keyed
        QUALIFY sample_rank <= 10
        """,
)
def q_llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional k-sample WITHOUT replacement per source
    (Efraimidis–Spirakis A-ES via llmdata/sampling.py
    weighted_sample_per_group): keep 10 docs per source with selection
    probability proportional to quality — the 'best but diverse' knob
    between cap_per_group's uniform cut and a greedy top-k-by-score.
    The reservoir key ln(u)/w uses the shared md5 uniform and is
    rounded to 9dp before ranking (doc_id tiebreak), so the DuckDB
    oracle re-derives the exact same selection. One exchange keyed by
    source + a rank window — cap_per_group's plan shape."""
    from stream4flow_spark.llmdata.sampling import weighted_sample_per_group
    from stream4flow_spark.llmdata.textstats import quality_features

    docs = quality_features(load_table(spark, sf_dir, "documents"))
    kept = weighted_sample_per_group(
        docs, "source", k=10, weight_col=F.col("quality_score")
    )
    return kept.select(
        "doc_id",
        "source",
        "sample_rank",
        (F.round(F.col("quality_score"), 6) + 0.0).alias("quality_score"),
    )


def _exact_substr_oracle(final_where: str = "") -> str:
    """The batch ExactSubstr replay on raw gram STRINGS; with
    ``final_where`` restricting the output rows it also oracles the
    incremental form (batch-restricted-to-delta == incremental — the
    parity property incremental_exact_substr documents)."""
    return f"""
        WITH raw AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                   generate_subscripts(
                       string_split_regex(trim(text), '\\s+'), 1) AS rp
            FROM documents
        ),
        toks AS (
            SELECT doc_id, tok,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1
                       AS pos
            FROM raw WHERE tok <> ''
        ),
        grams AS (
            SELECT doc_id, pos,
                   array_to_string(list(tok) OVER w, ' ') AS gram,
                   count(*) OVER w AS glen
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 14 FOLLOWING)
        ),
        g2 AS (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gram) AS c,
                   row_number() OVER (
                       PARTITION BY gram ORDER BY doc_id, pos) AS rn
            FROM grams WHERE glen = 15
        ),
        marked AS (SELECT doc_id, pos AS s FROM g2 WHERE c >= 2 AND rn >= 2),
        events AS (
            SELECT doc_id, pos, sum(d) AS d FROM (
                SELECT doc_id, s AS pos, 1 AS d FROM marked
                UNION ALL
                SELECT doc_id, s + 15, -1 FROM marked
            ) GROUP BY 1, 2
        ),
        cov AS (
            SELECT t.doc_id, t.pos, t.tok,
                   sum(coalesce(e.d, 0)) OVER (
                       PARTITION BY t.doc_id ORDER BY t.pos) AS c
            FROM toks t
            LEFT JOIN events e ON t.doc_id = e.doc_id AND t.pos = e.pos
        ),
        reb AS (
            SELECT doc_id, count(*) AS n_tokens,
                   count(*) FILTER (WHERE c > 0) AS n_removed,
                   coalesce(string_agg(tok, ' ' ORDER BY pos)
                            FILTER (WHERE c = 0), '') AS dedup_text
            FROM cov GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(r.n_tokens, 0) AS n_tokens,
               coalesce(r.n_removed, 0) AS n_removed,
               coalesce(r.dedup_text, '') AS dedup_text
        FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        {final_where}
        """


@register(
    "llm_exact_substr_dedup",
    covers="llm:dedup-substr A15",
    oracle=_exact_substr_oracle(),
)
def q_llm_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring removal (ExactSubstr, Lee et
    al. 2021; llmdata/dedup.py exact_substr_dedup) — the dedup tier the
    line-level and whole-document tiers both miss: a >=15-token passage
    copied verbatim between otherwise-distinct documents is cut from
    every non-first occurrence, first copy kept. Distributed shape: a
    run of >=L duplicated tokens is exactly the union of its L-token
    windows whose grams occur >=2x corpus-wide, so the suffix array
    becomes one O(total tokens) xxhash64 gram exchange (8 B/gram, text
    never shuffles) + a partial-agg min(struct) first-occurrence pick +
    a two-events-per-window difference-array coverage cumsum. The
    oracle replays it on raw gram STRINGS — also certifying that the
    64-bit hash path loses nothing at gate SF. r14: the gate runs the
    dup-set Bloom prefilter (the occurrence-side join probe prunes
    map-side to ~duplicated grams before its exchange — the r13 scale
    table's steepest grower was this second full-gram exchange); no
    false negatives, so the oracle is unchanged."""
    from stream4flow_spark.llmdata.dedup import exact_substr_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_substr_dedup(docs, min_len=15, dup_bloom_items=200_000)


@register(
    "llm_incremental_exact_substr",
    covers="llm:dedup-substr llm:dedup-incremental",
    oracle=_exact_substr_oracle("WHERE d.doc_id >= 250"),
)
def q_llm_incremental_exact_substr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr: the delta (doc_id >= 250) cleans itself
    against the already-admitted corpus' gram index plus its own
    intra-delta repeats (dedup.incremental_exact_substr — the growing-
    index form; streaming twin ExactSubstrIndexState in
    streaming/llmingest.py). Because corpus ids precede delta ids, the
    result equals the batch operator restricted to the delta, which is
    exactly what the oracle replays — certifying the incremental path
    AND the parity property with one query."""
    from stream4flow_spark.llmdata.dedup import incremental_exact_substr

    docs = load_table(spark, sf_dir, "documents")
    return incremental_exact_substr(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        min_len=15,
    )


@register(
    "llm_incremental_exact_substr_bloom",
    covers="llm:dedup-substr llm:dedup-incremental llm:bloom-prune",
    oracle=_exact_substr_oracle("WHERE d.doc_id >= 400"),
)
def q_llm_incremental_exact_substr_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr through the Bloom-pruned index probe
    (r10): identical semantics to llm_incremental_exact_substr, but the
    corpus gram index is cut map-side against a sharded bitmap of the
    delta's grams before the exact semi-join
    (dedup.incremental_exact_substr bloom_prefilter/bloom_shards —
    the shape that stops a 100 TB index shuffling itself in full per
    snapshot). The oracle is the SAME batch replay restricted to the
    delta: a green row certifies the prune's no-false-negatives
    property through the driver, on a different corpus/delta split
    (doc_id 400) so the two gate entries are independent results."""
    from stream4flow_spark.llmdata.dedup import incremental_exact_substr

    docs = load_table(spark, sf_dir, "documents")
    return incremental_exact_substr(
        docs.filter(F.col("doc_id") < 400),
        docs.filter(F.col("doc_id") >= 400),
        min_len=15,
        bloom_prefilter=50_000,
        bloom_shards=4,
    )


@register(
    "llm_cluster_balanced_sample",
    covers="llm:diversity-sample llm:clustering A9",
    oracle=_cluster_balanced_oracle(),
)
def q_llm_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced diversity sampling (SemDeDup-adjacent curation;
    llmdata/sampling.py cluster_balanced_sample): spherical k-means
    over the embedding space, then at most ``cap`` rows PER CLUSTER via
    the md5-deterministic cap rule — per-semantic-region balance, the
    axis the source/quality/token samplers can't see. The DuckDB
    oracle replays centroid training (md5(id)-ordered sample, maximin
    init + 3 Lloyd rounds), assignment, and the cap CTE-for-CTE under
    shared 7dp/6dp rounding —
    hash-certifying a LEARNED-parameter pipeline end to end, the
    host_pagerank pattern. Spark plan: bounded driver sample for
    training, ONE map-side assignment pass (centroid matrix in the
    closure, zip_with/aggregate dots), one cluster-keyed rank window."""
    from stream4flow_spark.llmdata.sampling import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, n_clusters=5, cap=20, n_iters=3)


@register(
    "llm_dsir_select",
    covers="llm:dsir llm:mixture llm:quality-score",
    oracle="""
        WITH words AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               w -> w <> '') AS ws
            FROM documents
        ),
        grams AS (
            SELECT doc_id, source = 'src0' AS tgt, g
            FROM words,
                 unnest(list_concat(ws,
                     [ws[i] || ' ' || ws[i+1]
                      FOR i IN range(1, greatest(len(ws), 1))])) AS u(g)
        ),
        per_db AS (
            SELECT doc_id, tgt,
                   CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)
                       % 4096 AS b,
                   COUNT(*) AS dcnt
            FROM grams GROUP BY 1, 2, 3
        ),
        counts AS (
            SELECT b,
                   SUM(CASE WHEN tgt THEN dcnt ELSE 0 END) AS ct,
                   SUM(CASE WHEN NOT tgt THEN dcnt ELSE 0 END) AS cr
            FROM per_db GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(ct) AS DOUBLE) AS nt,
                   CAST(SUM(cr) AS DOUBLE) AS nr
            FROM counts
        ),
        lam AS (
            SELECT b,
                   LN((ct + 1.0) / (nt + 4096.0))
                 - LN((cr + 1.0) / (nr + 4096.0)) AS lam
            FROM counts CROSS JOIN tot
        ),
        w AS (
            SELECT p.doc_id, CAST(SUM(p.dcnt) AS BIGINT) AS n_grams,
                   ROUND(SUM(p.dcnt * l.lam), 4) + 0.0 AS weight
            FROM per_db p JOIN lam l USING (b)
            WHERE NOT p.tgt
            GROUP BY 1
        ),
        sel AS (SELECT * FROM w ORDER BY weight DESC, doc_id LIMIT 120)
        SELECT s.doc_id, d.source, s.n_grams, s.weight
        FROM sel s JOIN documents d USING (doc_id)
        """,
)
def q_llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023; llmdata/dsir.py): treat
    src0 as the target domain, fit target-vs-raw hashed unigram+bigram
    LMs (4096 md5 buckets, Laplace 1.0), and keep the 120 raw documents
    whose gram bags have the highest log-likelihood ratio — "crawl data
    that looks like the target", the distribution-matching knob the
    absolute-quality tiers (Gopher rules, CCNet buckets) can't express.
    The oracle replays hashing, both LMs, the scoring join, and the
    ranked select CTE-for-CTE on the shared md5 bucket function.

    Scale shape: text never shuffles (grams hash in-task); the two LMs
    are one <=4096-row conditional-sum aggregate; the log-ratio table
    broadcasts into the scoring join; selection is
    TakeOrderedAndProject. See dsir.py's module docstring."""
    from stream4flow_spark.llmdata.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    sel = dsir_select(docs, F.col("source") == "src0", 120)
    # broadcast the 120-row selection against the corpus, not vice versa
    return F.broadcast(sel).join(
        docs.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", "n_grams", "weight")


def _split_case_sql(key: str, salt: str = "s4f-split") -> str:
    """DuckDB replay of sampling.split_expr for the 0.8/0.1/0.1 weights:
    same md5 bucket, same cumulative thresholds (int(0.8*65536)=52428,
    int(0.9*65536)=58982)."""
    b = (
        f"CAST(('0x' || substring(md5(CAST({key} AS VARCHAR) "
        f"|| '{salt}'), 1, 4)) AS INT)"
    )
    return (
        f"CASE WHEN {b} < 52428 THEN 'train' "
        f"WHEN {b} < 58982 THEN 'val' ELSE 'test' END"
    )


@register(
    "llm_leakage_safe_split",
    covers="llm:split-repair llm:train-split llm:dedup-components",
    # oracle: brute-force near-dup pairs -> recursive-CTE transitive
    # closure (the llm_dedup_corpus pattern) -> every doc re-split on its
    # component representative with the same md5 cumulative-bucket rule
    oracle=f"""
        {_JACCARD_COMPONENTS},
        lab AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ),
        sp AS (
            SELECT doc_id,
                   {_split_case_sql('doc_id')} AS split_orig,
                   {_split_case_sql('rep')} AS split
            FROM lab
        )
        SELECT doc_id, split_orig, split,
               split <> split_orig AS moved
        FROM sp
        """,
)
def q_llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-SAFE train/val/test split (llmdata/sampling.py
    leakage_safe_split): llm_split_leakage AUDITS near-dup pairs that
    straddle splits; this op makes them impossible — every document in a
    near-dup connected component inherits the split of the component's
    min-id representative, computed with the same md5 cumulative-bucket
    rule, so the repair is one id-only join + map-side Column math.
    Pairs come from the same effectively-exhaustive MinHash-LSH +
    exact-Jaccard-verify chain the dedup_corpus oracle certifies; the
    DuckDB oracle replays brute-force pairs -> recursive-CTE transitive
    closure -> representative re-split CTE-for-CTE."""
    from stream4flow_spark.llmdata.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.5).select("id_a", "id_b")
    return leakage_safe_split(
        docs.select("doc_id"),
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split_orig", "split", "moved")


@register(
    "llm_hard_negatives",
    covers="llm:hard-negatives llm:ann-topk A9",
    oracle="""
        WITH emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        ),
        q AS (SELECT * FROM emb WHERE vec_id < 20),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
            FROM q JOIN emb c
              ON q.vec_id <> c.vec_id
             AND q.label IS DISTINCT FROM c.label
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id)
                        AS INT) AS rank
            FROM scored
            WHERE cos IS NOT NULL AND NOT isnan(cos)
        )
        SELECT query_id, neighbor_id, cos, rank
        FROM ranked WHERE rank <= 5
        """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (llmdata/
    simsearch.py hard_negatives): for each of 20 anchor embeddings, the
    5 most-cosine-similar vectors with a DIFFERENT label — the
    embedding-space neighbors a contrastive loss needs as negatives.
    cosine_topk's plan with the null-safe label exclusion pushed into
    the broadcast-join condition: anchors broadcast, ONE map-only corpus
    scan, JVM-side dots, per-partition top-k prune, exact rank window
    over ≤ k·partitions survivors. The oracle brute-forces the same
    scored set and rank at shared 4dp rounding."""
    from stream4flow_spark.llmdata.simsearch import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 20), k=5)


@register(
    "llm_corpus_diff",
    covers="llm:snapshot-diff llm:doc-fingerprint J6",
    oracle="""
        WITH o AS (
            SELECT doc_id, md5(text) AS fp FROM documents
            WHERE doc_id % 10 <> 0
        ),
        n AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 10 = 2
                            THEN text || ' [v2]' ELSE text END) AS fp
            FROM documents WHERE doc_id % 10 <> 1
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.fp IS NULL THEN 'added'
                    WHEN n.fp IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        """,
)
def q_llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff (llmdata/snapshot.py
    corpus_diff): which documents were added / removed / changed /
    unchanged between two corpus versions — the membership audit before
    a retrain consumes a new crawl (rel_snapshot_drift answers the
    statistical half). Old/new snapshots are carved deterministically
    from the documents table (doc_id%10==0 absent from old, ==1 absent
    from new, ==2 edited in new). Text digests map-side, so the
    full-outer join carries (id, digest) only — text never shuffles."""
    from stream4flow_spark.llmdata.snapshot import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 2, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def _cdc_oracle(final_where: str = "") -> str:
    """The batch CDC chunk-dedup replay (md5 boundary hash + md5 chunk
    fingerprint); with ``final_where`` restricting the output rows it
    also oracles the incremental form (batch-restricted-to-delta ==
    incremental — the parity property incremental_cdc_chunks
    documents, the _exact_substr_oracle device)."""
    return f"""
        WITH raw AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                   generate_subscripts(
                       string_split_regex(trim(text), '\\s+'), 1) AS rp
            FROM documents
        ),
        toks AS (
            SELECT doc_id, tok,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rp) - 1
                       AS pos
            FROM raw WHERE tok <> ''
        ),
        flg AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN pos >= 2 AND
                        (CAST(('0x' || substring(md5(
                            lag(tok, 2) OVER w || ' ' ||
                            lag(tok, 1) OVER w || ' ' || tok), 1, 15))
                         AS BIGINT) % 8) = 0
                        THEN 1 ELSE 0 END AS flag
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        segd AS (
            SELECT doc_id, pos, tok,
                   COALESCE(SUM(flag) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS seg
            FROM flg
        ),
        chunks AS (
            SELECT doc_id, seg, min(pos) AS cpos, count(*) AS ntoks,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
            FROM segd GROUP BY 1, 2
        ),
        stats AS (
            SELECT *, count(*) OVER (PARTITION BY fp) AS c,
                   row_number() OVER (
                       PARTITION BY fp ORDER BY doc_id, cpos) AS rn
            FROM chunks
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_chunks,
                   SUM(CASE WHEN c >= 2 AND rn >= 2 THEN 1 ELSE 0 END)
                       AS n_dup_chunks,
                   SUM(CASE WHEN c >= 2 AND rn >= 2 THEN ntoks ELSE 0 END)
                       AS n_dup_tokens
            FROM stats GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
               CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        {final_where}
        """


@register(
    "llm_cdc_chunk_dedup",
    covers="llm:dedup-cdc A15",
    oracle=_cdc_oracle(),
)
def q_llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup audit (llmdata/dedup.py
    cdc_chunk_dedup) — the shift-robust sixth blocking scheme: chunk
    boundaries fall where the hash of the 3-token window divides 8, so
    an edit moves only the boundaries in its own neighborhood and
    copied passages re-synchronize to identical interior chunks (LBFS
    CDC on token streams; property-tested). Per document: chunk count,
    chunks duplicated elsewhere in the corpus (first occurrence by
    (doc, position) unblamed), and the tokens they cover. All chunking
    happens in-task over the token array — only (id, seg, ints, fp)
    rows ever shuffle. Both hashes are md5-derived, so DuckDB replays
    boundary hash and chunk fingerprint exactly."""
    from stream4flow_spark.llmdata.dedup import cdc_chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, context=3, divisor=8)


@register(
    "llm_incremental_cdc_chunks",
    covers="llm:dedup-cdc llm:dedup-incremental",
    oracle=_cdc_oracle("WHERE d.doc_id >= 250"),
)
def q_llm_incremental_cdc_chunks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental CDC: the delta (doc_id >= 250) audits its
    content-defined chunks against the already-admitted corpus' chunk
    fingerprints plus its own intra-delta repeats
    (dedup.incremental_cdc_chunks — the growing-index form; streaming
    twin CdcIndexState in streaming/llmingest.py). Because corpus ids
    precede delta ids, the result equals the batch operator restricted
    to the delta, which is exactly what the oracle replays — certifying
    the incremental path AND the parity property with one query (the
    llm_incremental_exact_substr device)."""
    from stream4flow_spark.llmdata.dedup import incremental_cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return incremental_cdc_chunks(
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
        context=3,
        divisor=8,
    )
