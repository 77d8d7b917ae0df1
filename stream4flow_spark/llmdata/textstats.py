"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristics, document fingerprinting, scrubbing.

Everything runs per document over the full corpus, so each op is a map
over the parquet scan, perfectly parallel per input split. Built-in Column
expressions (JVM-side, codegen) everywhere except ``normalize_unicode``,
which has no JVM builtin and runs an Arrow-batched pandas UDF. The one op
with exchanges is ``winnow_fingerprints``: two repartitions keep Catalyst
from re-inlining its per-gram md5 into every window-min reference (see
its body).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic (deterministic, dependency-free)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "que"],
}


def whitespace_tokens(text: Column) -> Column:
    """Whitespace tokenization (empty string → empty array)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Count of word-or-punctuation tokens (a BPE-ish pre-tokenizer regex:
    runs of word chars, or single non-word-non-space chars)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features per document.

    Adds: n_tokens, n_tokens_bpe, avg_token_len (double), stopword_ratio
    (double, share of tokens in the English stopword list), alnum_ratio
    (double, share of alphanumeric chars), quality_score (double ∈ [0,1]).
    """
    text = F.col(text_col)
    toks = whitespace_tokens(text)
    n_tok = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    )
    n_alnum = F.length(F.regexp_replace(text, r"[^\p{Alnum}]", ""))
    n_chars = F.length(text)
    avg_tok = F.when(n_tok > 0, (n_chars - (n_tok - 1)).cast("double") / n_tok)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    alnum_ratio = F.when(n_chars > 0, n_alnum.cast("double") / n_chars).otherwise(0.0)
    # crude but deterministic: long-enough docs with some stopwords and
    # mostly-alnum text score high
    score = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + alnum_ratio * 0.3
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_tokens_bpe"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alnum_ratio.alias("alnum_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: the language whose stopword list
    matches the most tokens wins; ties break alphabetically; no hits →
    'und' (undetermined)."""
    toks = whitespace_tokens(F.col(text_col))
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]
    # array_max on struct(hits, lang): max hits, then max lang — to get
    # alphabetical ties we invert via sort: pick first after sorting by
    # (-hits, lang). sort_array sorts struct fields lexicographically
    # ascending, so sort on (negated hits, lang) and take element 1.
    ranked = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-s["hits"]).alias("neg_hits"), s["lang"].alias("lang")
                )
                for s in scores
            ]
        )
    )
    best = ranked.getItem(0)
    predicted = F.when(best["neg_hits"] < 0, best["lang"]).otherwise("und")
    return df.withColumn("predicted_lang", predicted)


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: exact md5, plus md5 of the normalized text
    (lowercased, whitespace collapsed) — the canonical key for exact /
    near-exact dedup at scale (hash is computed scan-side; the later
    dedup groupBy shuffles only the 32-byte digest + id)."""
    text = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return df.select(
        "*",
        F.md5(text).alias("fp_exact"),
        F.md5(norm).alias("fp_normalized"),
    )


# ------------------------------------------------------- text scrubbing

#: redaction patterns (dialect-portable: the same regex text is valid in
#: Java regex (Spark) and RE2 (DuckDB) — no backrefs, no lookaround)
REDACTIONS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9]{5,}", "<NUM>"),
]


def clean_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub a text column for training: redact emails, URLs and long
    digit runs, then collapse whitespace runs and trim.

    Adds ``text_clean`` plus ``n_redactions`` (how many placeholder tokens
    the scrub introduced — a cheap signal for filtering boilerplate-heavy
    documents). Pure Column expressions: a single map stage over the scan,
    no shuffle, no Python — at 100 TB this runs at parquet-read speed.
    """
    cleaned = F.col(text_col)
    for pattern, token in REDACTIONS:
        cleaned = F.regexp_replace(cleaned, pattern, token)
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    n_red = F.size(
        F.regexp_extract_all(cleaned, F.lit(r"<EMAIL>|<URL>|<NUM>"), 0)
    )
    return df.withColumn("text_clean", cleaned).withColumn(
        "n_redactions", n_red
    )


# ------------------------------------------- winnowing fingerprints

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (MOSS-style) document fingerprints.

    Hash every character ``k``-gram, slide a ``window`` over the hash
    sequence, keep each window's minimum — the classic guarantee: any
    shared substring of length ≥ ``window + k - 1`` between two documents
    yields at least one shared fingerprint, while storage is ~1/window of
    the k-gram count. Output: id, ``fps`` (sorted distinct fingerprint
    array), ``n_fps``.

    Each character k-gram's fingerprint is the first 15 hex digits of
    ``md5(gram)`` as a 60-bit BIGINT, built from pure Column expressions
    (sequence→substring→md5→conv, slice+array_min window minima).
    Cross-engine replayable: a DuckDB oracle recomputes every fingerprint
    via ``md5``/``substring``/hex-cast, so the winnowing window-min
    selection is hash-certified value-for-value.

    Downstream near-dup candidate generation is ``explode(fps)`` +
    groupBy, the same ids-only banded-join shape as MinHash-LSH.
    """
    # CollapseProject merges chained selects and re-inlines the md5
    # transform into EVERY reference of the next step's lambdas —
    # measured 98 s (O(len²) inlining) and still 24 s (O(window)
    # inlining × 1 task) on the gate corpus. Real Exchange nodes are the
    # barrier Catalyst cannot collapse through: repartition the (tiny)
    # text first so the hash stage is parallel, and repartition the (id,
    # hashes) rows so the window-min stage reads __h as a materialized
    # attribute — the md5 transform then evaluates exactly once per
    # gram, for two exchanges of O(text) / O(8·grams) bytes.
    par = df.sparkSession.sparkContext.defaultParallelism
    text = F.col(text_col)
    gram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.substring(text, i, k)), 1, 15), 16, 10
    ).cast("long")
    hashes = F.when(
        F.length(text) >= k,
        F.transform(F.sequence(F.lit(1), F.length(text) - k + 1), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    # window minima as a zip_with fold over `window` shifted slices (the
    # word_grams_from_tokens trick): each slice references the
    # materialized hash array once; n_w derives from the row count, not
    # size(__h), so no extra references. zip_with pads the shorter slice
    # with nulls and least() skips nulls, which also yields the single
    # whole-array min when 0 < len(h) < window and [] when h is empty —
    # no separate short-document branch.
    h = F.col("__h")
    n_w = F.greatest(F.size(h) - (window - 1), F.lit(1))
    mins = F.slice(h, 1, n_w)
    for i in range(1, window):
        mins = F.zip_with(
            mins, F.slice(h, i + 1, n_w), lambda a, b: F.least(a, b)
        )
    fps = F.sort_array(F.array_distinct(F.col("__m")))
    return (
        df.select(F.col(id_col), text)
        .repartition(par)
        .select(F.col(id_col), hashes.alias("__h"))
        .repartition(par, id_col)
        .select(id_col, mins.alias("__m"))
        .select(
            F.col(id_col),
            fps.alias("fps"),
            F.size(fps).cast("int").alias("n_fps"),
        )
    )


# ------------------------------------------- repetition / boilerplate

def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters):
    the fraction of word bigrams that are duplicates of an earlier bigram
    in the same document, and the share of the single most frequent
    bigram. Repetitive machine-generated / boilerplate text scores high
    on both; natural prose stays low.

    Output: (id_col, n_bigrams, n_distinct_bigrams, dup_bigram_frac,
    top_bigram_frac). Documents with < 2 tokens emit 0 bigrams and
    0.0 fractions.

    Plan: ZERO shuffle. Every statistic is a property of one document's
    own bigram array, so it folds inside the row: sort the bigrams, then
    a single ``aggregate`` pass carries (prev, run-length, max-run,
    distinct) as constant-size struct state — total, distinct count and
    the max frequency fall out in O(bigrams·log) per document. The first
    cut exploded to a (doc, bigram) aggregate and shuffled 4.4 MB at
    sf0.1 (O(corpus tokens) exchange at 100 TB — TBs of wire for a
    map-computable quantity); this form is a pure map stage on the scan.
    """
    from stream4flow_spark.llmdata.dedup import word_grams_from_tokens

    # tokenize into a real column first; an inlined split() would
    # re-evaluate inside the gram lambdas (dedup.word_grams_from_tokens)
    toked = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__toks")
    )
    srt = F.sort_array(
        word_grams_from_tokens(F.col("__toks"), n=2, distinct=False)
    )
    toked = toked.select(F.col(id_col), srt.alias("__grams"))

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"),
        F.lit(0).cast("long").alias("distinct"),
    )

    def step(acc: Column, x: Column) -> Column:
        is_new = acc["prev"].isNull() | (x != acc["prev"])
        run = F.when(is_new, F.lit(1).cast("long")).otherwise(acc["run"] + 1)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            F.when(is_new, acc["distinct"] + 1)
            .otherwise(acc["distinct"])
            .alias("distinct"),
        )

    folded = F.aggregate(F.col("__grams"), init, step)
    total = F.size("__grams").cast("long")
    zero_safe = lambda num: F.when(  # noqa: E731
        total > 0, num.cast("double") / total
    ).otherwise(F.lit(0.0))
    return toked.select(
        F.col(id_col),
        total.alias("n_bigrams"),
        folded["distinct"].alias("n_distinct_bigrams"),
        zero_safe(total - folded["distinct"]).alias("dup_bigram_frac"),
        zero_safe(folded["maxrun"]).alias("top_bigram_frac"),
    )


def pii_stats(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group PII exposure audit: how many email / URL / long-digit-run
    matches each group's documents contain, and how many documents carry
    at least one — the report a privacy review wants BEFORE `clean_text`
    redacts (same patterns, so the audit and the scrub can't drift).

    Map-side `regexp_extract_all` counts fold into one grouped sum —
    shuffle carries one row per group, text never leaves the scan."""
    email, url, num = (p for p, _ in REDACTIONS)
    n_email = F.size(F.regexp_extract_all(F.col(text_col), F.lit(email), 0))
    n_url = F.size(F.regexp_extract_all(F.col(text_col), F.lit(url), 0))
    n_num = F.size(F.regexp_extract_all(F.col(text_col), F.lit(num), 0))
    return (
        df.select(
            group_col,
            n_email.alias("_e"),
            n_url.alias("_u"),
            n_num.alias("_n"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_e").alias("n_emails"),
            F.sum("_u").alias("n_urls"),
            F.sum("_n").alias("n_digit_runs"),
            F.sum(
                ((F.col("_e") + F.col("_u") + F.col("_n")) > 0).cast("long")
            ).alias("n_docs_with_pii"),
        )
    )


def normalize_unicode(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC canonicalization — the step BEFORE any content-hash
    dedup: visually-identical strings with different codepoint sequences
    (decomposed accents, compatibility forms) hash differently and slip
    past exact dedup. Adds ``text_nfc`` and ``was_normalized``.

    Arrow-batched pandas UDF (no JVM NFC builtin); map-only, runs at
    scan speed. NFC (not NFKC) so semantics-preserving canonical
    composition only — ligature/width folding is a corpus policy choice
    layered on top, not silently applied here.
    """
    import unicodedata

    import pandas  # noqa: F401 — resolves the UDF's pd.Series hints
    from pyspark.sql.functions import pandas_udf

    def _nfc(col: "pandas.Series") -> "pandas.Series":
        return col.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    _nfc.__annotations__ = {"col": pandas.Series, "return": pandas.Series}
    nfc = pandas_udf(_nfc, "string")

    out = df.withColumn("text_nfc", nfc(F.col(text_col)))
    return out.withColumn(
        "was_normalized", F.col("text_nfc") != F.col(text_col)
    )


def chunk_documents(
    docs: "DataFrame",
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Overlapping ``size``-token windows every ``stride`` tokens, each
    chunk carrying its global start offset — RAG / long-context
    preprocessing. Pure map stage: tokenize, build the stride grid with
    ``sequence()``, slice each window with higher-order array
    functions, explode — the 1->N fan-out happens in-task, ZERO
    shuffle, so it runs identically batch or streaming (parity-tested).
    Output: (id_col, chunk_idx, start_token, n_chunk_tokens, chunk_text).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(toks)
    starts = F.transform(
        F.sequence(
            F.lit(0), F.ceil(n / F.lit(float(stride))).cast("int") - 1
        ),
        lambda i: i * stride,
    )
    chunks = F.filter(
        F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_idx"),
                s.cast("int").alias("start_token"),
                F.least(n - s, F.lit(size)).cast("int").alias(
                    "n_chunk_tokens"
                ),
                F.array_join(F.slice(toks, s + 1, size), " ").alias(
                    "chunk_text"
                ),
            ),
        ),
        lambda c: c.start_token < n,
    )
    return (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(id_col, F.explode(chunks).alias("c"))
        .select(
            id_col, "c.chunk_idx", "c.start_token", "c.n_chunk_tokens",
            "c.chunk_text",
        )
    )


def source_overlap_trigram(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
    max_grams_per_source: int | None = None,
) -> DataFrame:
    """Jaccard-weighted cross-source content-overlap matrix on hashed
    word n-grams — the curation report that catches MID-DOCUMENT
    syndication the 20-token prefix fingerprint (source_overlap's
    signature) misses: two crawls sharing body paragraphs under
    different headlines overlap heavily here and not at all there.

    Per source: the DISTINCT set of xxhash64'd word n-grams (8 bytes per
    gram on the wire — the decontaminate hash mode; grams are hashed IN
    the scan projection, so gram text never shuffles). Per source pair
    (a < b): shared distinct grams and Jaccard
    |A∩B| / (|A| + |B| − |A∩B|). Hashing leaves both counts unchanged
    up to 64-bit collisions (~n²/2⁶⁵ expected), so the numbers equal the
    raw-gram computation.

    ``max_grams_per_source`` is the scale cap: keep each source's k
    SMALLEST gram hashes — a deterministic bottom-k sketch (the capped
    sets are min-wise samples, so shared/jaccard become size-bounded
    estimates; leave None for exact). Exchanges carry (source, hash)
    pairs only; per-source sizes broadcast back onto the pair counts.
    """
    from stream4flow_spark.llmdata.dedup import word_grams_from_tokens

    toks = docs.select(
        F.col(source_col).alias("source"),
        whitespace_tokens(F.col(text_col)).alias("toks"),
    )
    d = (
        toks.select(
            "source",
            F.explode(word_grams_from_tokens(F.col("toks"), n)).alias("g"),
        )
        .select("source", F.xxhash64("g").alias("gh"))
        .distinct()
    )
    if max_grams_per_source is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("source").orderBy("gh")
        d = (
            d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_grams_per_source)
            .drop("__rn")
        )
    sizes = d.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_grams_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_grams_b")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_grams_a",
            "n_grams_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (
                    F.col("n_grams_a")
                    + F.col("n_grams_b")
                    - F.col("n_shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
