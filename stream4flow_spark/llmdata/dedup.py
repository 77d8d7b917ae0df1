"""Deduplication operators for training-data pipelines.

All DataFrame-native:

- **Exact** — groupBy on a content hash (computed scan-side; only the
  digest shuffles). The canonical 100 TB first pass.
- **N-gram Jaccard** — exact set-similarity verification for candidate
  pairs (the verify stage after any blocking scheme; also usable brute
  force on bounded subsets).
- **MinHash + LSH** — shingle → minhash signature (xxhash64 with per-
  permutation seeds) → banded bucket join → verified pairs. The scale
  path: candidate generation is a groupBy on (band, bucket-hash), never a
  cross join; verification touches only co-bucketed pairs.
- **SimHash** — 64-bit near-dup fingerprint with hamming-distance
  banding (4×16-bit chunks: pairs within hamming ≤ 3 share ≥1 chunk).
- **Winnowing blocking** — md5 k-gram window-minimum fingerprint
  collision as the candidate key (substring-structural recall rather
  than probabilistic).
- **Transitive components + corpus dedup** — min-label propagation over
  any of the pair graphs, keeper selection, deduplicated corpus.

Every banded self-join shares the ``_cap_buckets`` hot-bucket guard. All
randomness is seed-deterministic, so results are reproducible run-to-run
(a correctness-gate requirement and a good production property).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stream4flow_spark.llmdata.textstats import whitespace_tokens


# ---------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content hash: keeper = min id, group_size =
    number of collapsed duplicates."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("group_size"),
        )
    )


# ------------------------------------------------------------- shingles

def word_grams_from_tokens(
    toks: Column, n: int = 3, distinct: bool = True
) -> Column:
    """Word n-grams built from a token-array column.

    Built from n shifted slices of the token array folded with
    ``zip_with`` — O(tokens) with n array ops total, ~3× faster than the
    per-position ``transform(sequence, i -> concat_ws(slice(i)))`` form
    (which re-slices per element). Short texts (< n tokens) yield [].

    Pass a MATERIALIZED column reference (project the tokenization into
    a column first), not the ``split(...)`` expression itself: an
    expression argument is inlined into each of the n slices and
    re-tokenizes the document n times — and inside ``transform`` lambdas
    an inlined expression re-evaluates PER ELEMENT, which measured 13×
    slower on the sf0.1 corpus."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, k) for i in range(n)]
    grams = shifted[-1]
    for arr in reversed(shifted[:-1]):
        grams = F.zip_with(arr, grams, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(grams) if distinct else grams


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of a text column. Convenience
    wrapper over ``word_grams_from_tokens`` — fine inside a single
    projection; materialize the token array first when the grams feed a
    higher-order function."""
    return word_grams_from_tokens(whitespace_tokens(text), n)


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two shingle arrays (double)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force pairwise n-gram Jaccard ≥ threshold (id_a < id_b).

    O(N²) — the *verify* semantics; use minhash_lsh_dedup for candidate
    generation at scale.
    """
    shingled = df.select(
        F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("grams")
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ngram_jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------- minhash + LSH

def _cap_buckets(
    keyed: DataFrame, bucket_cols: list[str], max_bucket: int | None
) -> DataFrame:
    """Keep each bucket's ``max_bucket`` lowest ids (deterministic).

    The hot-bucket guard shared by every banded LSH join here and in
    ``simsearch.lsh_bucketed_neighbors``: bounds any bucket's candidate
    contribution at max_bucket²/2 regardless of how degenerate the data
    is. No-op when ``max_bucket`` is None."""
    if max_bucket is None:
        return keyed
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols).orderBy("id")
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket)
        .drop("__rn")
    )

def _null_slot_starts(voff, lists):
    """Segment starts for an Arrow ListArray, with null slots PROVEN
    empty. The ``reduceat`` segmentation both signature kernels use
    assumes a null list slot spans zero child elements — true for every
    Spark-produced batch, but Arrow permits null slots with non-equal
    offsets (undefined child values), which would silently leak garbage
    elements into the preceding document's aggregate. Assert instead of
    guessing: foreign batches that violate it fail loudly."""
    import numpy as np
    import pyarrow as pa

    if lists.null_count:
        counts = np.diff(voff)
        nulls = ~np.asarray(pa.compute.is_valid(lists))
        if counts[nulls].any():
            raise ValueError(
                "ListArray has null slots with non-zero extent — "
                "not a Spark-produced batch; reduceat segmentation "
                "would be incorrect"
            )
    return voff[:-1]


def minhash_signature(grams: Column, num_perm: int = 64) -> Column:
    """MinHash signature: per permutation i, min over shingles of
    xxhash64(shingle, seed=i). Empty shingle set → NULL signature.

    Scalar form (num_perm array passes per row) — ``minhash_table`` is
    the aggregation form used on the hot path."""
    sig = F.array(
        *[
            F.array_min(F.transform(grams, lambda g: F.xxhash64(g, F.lit(i))))
            for i in range(num_perm)
        ]
    )
    return F.when(F.size(grams) > 0, sig)


def minhash_table(
    shingled: DataFrame, num_perm: int = 64, id_col: str = "id"
) -> DataFrame:
    """(id, m0..m{num_perm-1}) — MinHash signatures over a
    ``(id, grams)`` table, as ONE map-only Arrow kernel (guide §4.2,
    §2.1: the r14 rewrite removed the signature stage's shuffle
    outright).

    Values are bit-identical to the Column form it replaced
    (explode → ``xxhash64(g)`` → num_perm × ``xxhash64(h0, i)`` columns
    → groupBy(id).min): ``llmdata.xxh`` re-implements Spark's XXH64
    exactly (pinned by tests/test_xxh_bitexact.py against
    ``F.xxhash64`` on real shingles, plus a whole-table frame-equality
    test), the string hash reads the UTF-8 bytes zero-copy out of the
    Arrow list child buffer, NULL grams hash to the seed (42) exactly
    as ``xxhash64(NULL)`` does, and the per-document minimum is the
    signed int64 min Spark's ``min(LongType)`` computes. Documents with
    empty (or NULL) shingle sets drop out, same as explode dropped
    them.

    Why kernel instead of aggregate: per shingle the old plan paid
    num_perm JVM hash calls plus a num_perm-column partial aggregate,
    then exchanged (id, 64×long) rows. The kernel hashes each distinct
    byte-length group of shingles in whole-array NumPy passes, shares
    the seed-independent half of the 64 per-permutation hashes, and
    reduces to per-doc minima with no exchange at all — signatures are
    born on the partition that holds the document. At 100 TB that
    deletes a corpus-sized shuffle from every banding pipeline."""
    from .xxh import xxh64_long_multi_min, xxh64_utf8

    src = shingled.select(F.col(id_col).alias("id"), "grams")
    out_type = T.StructType(
        [src.schema.fields[0]]
        + [T.StructField(f"m{i}", T.LongType(), True) for i in range(num_perm)]
    )
    names = ["id"] + [f"m{i}" for i in range(num_perm)]

    def sign(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, lists = batch.column(0), batch.column(1)
            voff = lists.offsets.to_numpy().astype(np.int64)
            _null_slot_starts(voff, lists)  # assert null slots are empty
            counts = np.diff(voff)
            keep = counts > 0
            if lists.null_count:
                keep &= np.asarray(pa.compute.is_valid(lists))
            if not keep.any():
                continue
            child = lists.values
            co = child.offset
            bufs = child.buffers()
            odt = np.int64 if pa.types.is_large_string(child.type) else np.int32
            s_off = np.frombuffer(bufs[1], dtype=odt)[
                co : co + len(child) + 1
            ].astype(np.int64)
            sdata = (
                np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None
                else np.empty(0, dtype=np.uint8)
            )
            h0 = xxh64_utf8(sdata, s_off[:-1], np.diff(s_off), 42)
            if child.null_count:
                # xxhash64(NULL) leaves the hash at its seed
                h0[~np.asarray(pa.compute.is_valid(child))] = np.uint64(42)
            lo, hi = int(voff[0]), int(voff[-1])
            mins = xxh64_long_multi_min(
                h0[lo:hi], num_perm, voff[:-1][keep] - lo
            )
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [ids.filter(mask)] + [pa.array(mins[i]) for i in range(num_perm)],
                names=names,
            )

    return src.mapInArrow(sign, out_type)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
    cache_intermediate: bool = False,
) -> DataFrame:
    """MinHash/LSH near-dup pairs, verified by true n-gram Jaccard.

    With num_perm=64 and rows_per_band=2 (32 bands), a pair at the 0.5
    Jaccard threshold is bucketed with P ≈ 1 - (1 - 0.25)^32 ≈ 0.9999 —
    candidate recall is effectively exhaustive at the threshold while
    still pruning the vast majority of non-similar pairs.

    Plan shape: shingle+sign (map) → explode bands (×32) as narrow
    (id, band, bucket) rows → self-join on (band, bucket) → dedup pairs →
    re-join the shingle table twice to verify Jaccard. The band join
    deliberately carries ONLY ids: shingle arrays are the wide payload,
    and shipping them ×bands through the join exchange dominated runtime
    (and would dominate shuffle volume at scale); fetching them by id for
    the (few) surviving candidate pairs is two cheap hash joins.

    ``max_bucket`` caps hot buckets: a degenerate bucket of k co-hashed
    docs otherwise makes k²/2 candidates (one boilerplate string repeated
    a million times would melt the join). Buckets keep their
    ``max_bucket`` lowest ids, deterministically. Recall trade: a pair
    both of whose members fall past the cap in EVERY shared bucket is
    missed — but members of one near-dup cluster share ~all bands, so the
    retained ``max_bucket`` representatives still stitch the cluster
    together transitively (``connected_components``).
    """
    assert num_perm % rows_per_band == 0

    shingled = df.select(
        F.col(id_col).alias("id"),
        word_ngrams(F.col(text_col), n).alias("grams"),
    )
    if cache_intermediate:
        # referenced by the signature aggregate AND both verify-stage
        # gram fetches — without materialization Catalyst re-tokenizes
        # the corpus once per branch. Off by default: an
        # InMemoryRelation also blocks AQE's runtime re-planning below
        # it, and at bench scale the lost join conversions cost as much
        # as the recompute saved (measured: winnow 3.9→8.5 s WITH cache,
        # simhash 3.0→5.0 s, minhash a wash). At cluster scale,
        # checkpoint this boundary to a table instead of caching.
        shingled = shingled.persist()
    banded = _band_table(shingled, num_perm, rows_per_band, max_bucket)
    if cache_intermediate:
        # the self-join's two branches would otherwise each recompute
        # the 64-column signature aggregate; the cached relation is
        # narrow (id, band, bucket)
        banded = banded.persist()

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    ga = shingled.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = shingled.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("grams_a"), F.col("grams_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------- simhash

def _sh_from_votes(vote_cols: list[Column]) -> Column:
    """Fold 64 per-bit vote counts into the simhash long (bit j set iff
    votes[j] > 0; j=63 is the int64 sign bit)."""
    out = F.lit(0).cast("long")
    for j, votes in enumerate(vote_cols):
        bit_value = (1 << j) if j < 63 else -(1 << 63)  # int64 sign bit
        out = out.bitwiseOR(
            F.when(votes > 0, F.lit(bit_value).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, sh) per document — aggregation-form SimHash.

    explode(shingles) → one hash per shingle → groupBy(id) with 64
    flat ``sum`` columns (map-side partial aggregation, whole-stage
    codegen) → fold votes into the 64-bit hash. At scale this is one
    shuffle keyed by document id with 64-long rows — the nested
    aggregate/zip_with expression form is ~10× slower because the
    per-shingle 64-element array allocation falls out of codegen.
    Documents with no shingles hash to 0 (explode_outer keeps them).

    Each shingle's 64 bits are two 32-bit halves from its md5 hex digest
    (chars 1-8 → bits 32-63, chars 9-16 → bits 0-31). The same digest
    exists in DuckDB, so a SQL oracle replays signature, banding and
    hamming verify value-for-value, like ``dsir._bucket``. Halves stay
    below 2^32, so no sign/overflow divergence between engines. md5
    costs about 4-6× the per-gram time of ``xxh64_utf8`` (SCALE.md); the
    certified hash is kept over the faster uncertified one.

    r15 (guide §4.2, §2.1 — same treatment ``minhash_table`` got in
    r14): ONE map-only Arrow kernel instead of
    explode → per-gram hash → 64-column partial aggregate → id-keyed
    exchange. The signature is born on the partition that holds the
    document, deleting the exchange and the 64-``sum`` aggregate
    outright. Values are bit-identical to the Column form it replaced:

    - each gram's UTF-8 bytes go through the vectorized RFC 1321 MD5
      in ``llmdata.md5v`` (pinned against ``hashlib.md5``, the identical
      digest Spark's ``md5()`` computes), read as ``(h1 << 32) | h2``
      straight off the first 8 digest bytes (big-endian), which is
      exactly ``conv(substring(hex,1,8),16,10)`` /
      ``conv(substring(hex,9,8),16,10)``; bit j of that uint64 IS the
      old ``shiftright(half, j%32) & 1``. Null grams hashed NULL in the
      old form (the ``isNotNull`` guard) and are skipped here the same
      way.
    - votes are integer sums (``2·popcount_j − n_valid_grams``), exact;
      bit j of ``sh`` set iff votes > 0, packed little-endian so j=63
      lands on the int64 sign bit exactly as ``_sh_from_votes`` did.
    - documents with no/NULL shingle sets (or all-NULL grams) emit
      ``sh = 0`` — what the old explode_outer + ``coalesce(sum, 0)``
      produced.

    One row out per row in (``minhash_table``'s contract too): callers
    pass unique document ids, which is what the old ``groupBy(id)`` made
    observable. Pinned against the Column form by
    tests/test_llmdata.py::test_simhash_kernel_matches_column_form.
    """
    src = df.select(
        F.col(id_col).alias("id"),
        word_ngrams(F.col(text_col), n).alias("grams"),
    )
    out_type = T.StructType(
        [src.schema.fields[0], T.StructField("sh", T.LongType(), False)]
    )

    def sign(batches):
        import numpy as np
        import pyarrow as pa

        from .md5v import md5_prefix8

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, lists = batch.column(0), batch.column(1)
            voff = lists.offsets.to_numpy().astype(np.int64)
            _null_slot_starts(voff, lists)  # assert null slots are empty
            counts = np.diff(voff)
            if lists.null_count:
                counts = np.where(
                    np.asarray(pa.compute.is_valid(lists)), counts, 0
                )
            sh = np.zeros(batch.num_rows, dtype=np.int64)
            keep = counts > 0
            lo, hi = int(voff[0]), int(voff[-1])
            if keep.any() and hi > lo:
                child = lists.values
                co = child.offset
                bufs = child.buffers()
                odt = (
                    np.int64
                    if pa.types.is_large_string(child.type)
                    else np.int32
                )
                s_off = np.frombuffer(bufs[1], dtype=odt)[
                    co : co + len(child) + 1
                ].astype(np.int64)
                sdata = (
                    np.frombuffer(bufs[2], dtype=np.uint8)
                    if bufs[2] is not None
                    else np.empty(0, dtype=np.uint8)
                )
                # r15: vectorized MD5 (llmdata.md5v) instead of a
                # per-gram hashlib loop — identical first-8-digest-bytes
                # big-endian uint64 (pinned in tests/test_md5_bitexact.py),
                # ~2-3x the throughput at shingle sizes
                g64 = md5_prefix8(
                    sdata, s_off[lo:hi], s_off[lo + 1 : hi + 1] - s_off[lo:hi]
                )
                # bit j of g64 == the Column form's per-gram bit j; one
                # uint8 bit-plane, votes per doc via segmented sums
                # (int64 accumulator — no uint8 overflow)
                bits = np.unpackbits(
                    g64.view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )
                nval = counts
                if child.null_count:
                    valid = np.asarray(pa.compute.is_valid(child))[lo:hi]
                    bits[~valid] = 0  # NULL gram: hash is NULL, no vote
                    vstarts = voff[:-1][keep] - lo
                    nval = np.zeros(batch.num_rows, dtype=np.int64)
                    nval[keep] = np.add.reduceat(
                        valid.astype(np.int64), vstarts
                    )
                starts = voff[:-1][keep] - lo
                sums = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                votes = 2 * sums - nval[keep][:, None]
                packed = np.packbits(votes > 0, axis=1, bitorder="little")
                sh[keep] = np.ascontiguousarray(packed).view("<u8").ravel().view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sh)], names=["id", "sh"]
            )

    return src.mapInArrow(sign, out_type)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Banding: split the 64-bit hash into 4 × 16-bit chunks; any pair with
    hamming ≤ 3 agrees exactly on ≥ 1 chunk (pigeonhole), so the join key
    is (chunk_index, chunk_value) — no cross join. ``max_bucket`` caps
    hot chunks exactly like the MinHash band join (see
    ``minhash_lsh_dedup``); identical documents all land in the same four
    chunk buckets, so without the cap one mass-duplicated document goes
    quadratic. A ``max_hamming`` above 3 raises ``ValueError``: the
    banding would find just the pairs that happen to share a chunk.
    """
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming}: 4 x 16-bit chunk banding finds "
            "every pair only up to hamming 3"
        )
    hashed = simhash_table(df, text_col, id_col, n)
    chunked = hashed.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * 16)
                        .bitwiseAND(0xFFFF)
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("id", "sh", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    chunked = _cap_buckets(chunked, ["chunk", "val"], max_bucket)
    # materialize the capped (id, sh, chunk, val) rows ONCE (narrow —
    # two longs + two ints per row). Both self-join branches otherwise
    # re-execute the signature stage, and with the r15 Arrow kernel
    # that means two Python stages per action with unknown stats below
    # the join — measured pathologically unstable (md5-mode full query
    # 5.6–31.0 s/rep un-materialized vs 1.76–1.88 s warm with the
    # eager checkpoint; old Column form for reference: 4.7 s min).
    # localCheckpoint, not persist: an InMemoryRelation here blocks
    # AQE's runtime join planning, while the checkpointed RDD scan
    # carries exact stats.
    chunked = chunked.localCheckpoint(eager=True)
    a = chunked.alias("a")
    b = chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- corpus dedup

def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    scheme: str = "minhash",
    keeper_by: str | None = None,
    **scheme_kwargs,
) -> DataFrame:
    """End-to-end near-dup corpus deduplication: one row per KEPT document.

    The full pipeline a training-data run needs, composed from the tiers
    below: candidate pairs from the chosen blocking ``scheme`` —
    ``minhash`` (default), ``winnow`` (substring-structural recall), or
    ``simhash`` (hamming banding; takes ``max_hamming`` ≤ 3, ignores
    ``threshold``) — verified (Jaccard ``threshold`` for the first two)
    → transitive connected components (a~b, b~c ⇒ one keeper for
    {a,b,c}) → keeper per component; documents in no pair keep
    themselves. Output: keeper_id, group_size (how many documents the
    keeper absorbed, 1 = unique).

    Keeper policy: by default the minimum id. Real curation keeps the
    BEST copy, not the first — pass ``keeper_by`` naming a numeric
    column of ``df`` (a quality score) and the keeper becomes the
    component member with the highest score, ties broken by lowest id
    (deterministic on every engine). Implemented with the same
    struct-min trick as segment_dedup — ``min(struct(-score, id))`` is
    a partial-aggregated scan over each component's members, no window
    sort.

    Scale shape inherits from the parts: digest-narrow band joins with
    hot-bucket caps, id-only component propagation, and one final
    left join of the corpus ids against the (small) component map.
    """
    if scheme == "minhash":
        pairs = minhash_lsh_dedup(
            df, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
            **scheme_kwargs,
        )
    elif scheme == "winnow":
        pairs = winnow_neardup_pairs(
            df, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
            **scheme_kwargs,
        )
    elif scheme == "simhash":
        # simhash pairs are hamming-verified, not Jaccard-verified —
        # `threshold` does not apply; pass max_hamming via kwargs
        pairs = simhash_dedup(
            df, text_col=text_col, id_col=id_col, n=n, **scheme_kwargs
        )
    else:
        raise ValueError(f"unknown blocking scheme: {scheme!r}")
    pairs = pairs.select("id_a", "id_b")
    comp = connected_components(pairs)
    if keeper_by is None:
        ids = df.select(F.col(id_col).alias("doc"))
        labeled = ids.join(comp, ids["doc"] == comp["id"], "left").select(
            "doc",
            F.coalesce(F.col("component"), F.col("doc")).alias("keeper_id"),
        )
        return labeled.groupBy("keeper_id").agg(
            F.count("*").alias("group_size")
        )
    ids = df.select(
        F.col(id_col).alias("doc"), F.col(keeper_by).alias("__score")
    )
    labeled = ids.join(comp, ids["doc"] == comp["id"], "left").select(
        "doc",
        "__score",
        F.coalesce(F.col("component"), F.col("doc")).alias("__comp"),
    )
    # argmax-by-(score, then lowest id): min over (-score, id) — the
    # component label never leaves the output, the CHOSEN member's id does
    return (
        labeled.groupBy("__comp")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__score")).alias("ns"), F.col("doc").alias("d")
                )
            ).alias("w"),
            F.count("*").alias("group_size"),
        )
        .select(F.col("w.d").alias("keeper_id"), "group_size")
    )


# ------------------------------------------------- connected components

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every vertex in the pair graph; component =
    the minimum id reachable from the vertex.

    Near-dup pairs are only half of dedup — keeper selection must respect
    TRANSITIVE duplication (a~b, b~c ⇒ one keeper for {a,b,c}). Min-label
    propagation: every vertex starts labeled with itself; each round a
    vertex takes the minimum label in its CLOSED neighborhood (self +
    neighbors); converges in O(graph diameter) rounds (dup clusters are
    tiny and dense, so usually 2-3). r14 (guide §2.4 — remove shuffles
    outright — and §1.2 — the per-round Spark-job count is the wall-clock
    driver of every iterative pipeline):

    - each round folds the vertex's own label back in with a UNION into
      the min-aggregate (both branches feed the same partial
      aggregation) instead of the old second join (labels LEFT JOIN
      neighbor_min) — one join and one exchange fewer per round;
    - TWO propagation rounds are composed per materialized block
      (labels only ever DECREASE, so a block changes nothing iff both
      its rounds were no-ops — the convergence test is unchanged),
      halving the localCheckpoint+count job pairs the driver loop pays.
      ``max_iter`` therefore bounds two-round BLOCKS since r14: up to
      ``2 * max_iter`` propagation rounds run before the loop gives up
      (a strictly larger reach than the old per-round bound — halving
      the loop bound instead would change results on graphs of diameter
      > max_iter, so the parameter's unit is redocumented, not the
      loop).

    The edge cache deliberately stays AQE-planned (no manual
    repartition, no join-strategy hint): at bench scale AQE coalesces
    the tiny label exchanges and converts the per-round join to a
    broadcast of the label table; at cluster scale the same plan
    becomes a shuffled-hash/sort-merge join keyed on ``dst``. A
    hand-pinned ``repartition("dst")`` cache + SHUFFLE_HASH hint was
    measured 2-3× SLOWER here (it defeats both AQE rewrites and runs
    every stage at the static partition count), and the per-round label
    exchange it saves is vertex-sized, not edge-sized. Self-loop edges
    were also tried for the own-label fold and rejected: building them
    re-references the (expensive, deliberately uncached) upstream pair
    pipeline two extra times during cache materialization.
    """
    # iterative algorithm essentials: the edge set is CACHED (otherwise
    # every iteration recomputes the upstream pair generation — 6× at
    # sf0.01), and each block's labels are localCheckpoint'ed so the
    # lineage doesn't grow with the loop. Both edge directions come from
    # ONE explode over the pair row (r14) — the old two-branch union
    # referenced ``pairs`` twice, and the cache-materialization job ran
    # the whole upstream pair pipeline (an LSH/banded join) once per
    # branch.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .cache()
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        # min over the CLOSED neighborhood: neighbor labels arrive via
        # the join, the vertex's own label via the unioned branch —
        # both are partial-aggregated before the (single) exchange.
        # ``__old`` (the vertex's label at block start) rides through
        # as the single non-NULL value on the own-label row (neighbor
        # rows carry NULL, min() ignores them), so the block's
        # convergence test needs no join of new labels against old —
        # and it is type-agnostic (ids may be strings).
        old_t = lbl.schema["__old"].dataType
        neighbor = edges.join(lbl, edges["dst"] == lbl["id"]).select(
            F.col("src").alias("id"),
            "label",
            F.lit(None).cast(old_t).alias("__old"),
        )
        return (
            neighbor.unionByName(lbl.select("id", "label", "__old"))
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("__old").alias("__old"),
            )
        )

    # initialize each vertex with min(self, direct neighbors) — the same
    # aggregation a propagation round would compute over self-labels, so
    # this replaces round 1 with ONE groupBy (no join needed yet)
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("min_dst"))
        .select("id", F.least(F.col("id"), F.col("min_dst")).alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            # Block checkpoints are EAGER again (r15). r14 made them
            # lazy so the changed-count aggregate doubled as the
            # materializing action (one driver job per block instead of
            # two) — but the driver's r14 bench measured the two CC
            # headline queries SLOWER (components 4.69→8.80 s), and the
            # r15 bisect reproduced it: alternating eager/lazy A/B runs
            # put eager ahead on every min and median (components
            # 4.08/4.34 vs 4.33/5.14 min/med s, semantic_dedup
            # 3.28/3.94 vs 3.99/6.72). The ~0.19 s/block job the lazy
            # form saves is smaller than whatever the agg-materialized
            # cache costs at execution time, so the measured winner
            # stands. The r14 join-free convergence test is kept: the
            # ``__old`` column threaded through the propagate
            # aggregates still makes the changed-count a cheap scan of
            # the (now already materialized) checkpoint — no id-join.
            seeded = labels.withColumn("__old", F.col("label"))
            updated = propagate(propagate(seeded)).localCheckpoint(
                eager=True
            )
            changed = updated.agg(
                F.sum((F.col("label") != F.col("__old")).cast("long"))
            ).collect()[0][0]
            # superseded checkpoint blocks would otherwise pile up in the
            # BlockManager for the session's lifetime (localCheckpoint is
            # RDD-level storage that catalog.clearCache never touches;
            # the leak measured 2-3× inflation on later same-session
            # queries in an 81-query bench sequence)
            labels.unpersist()
            labels = updated.select("id", "label")
            if not changed:
                break
    finally:
        edges.unpersist()
    return labels.select("id", F.col("label").alias("component"))


# ------------------------------------------------ winnowing blocking

def winnow_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 8,
    min_shared: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_fps_per_doc: int | None = 32,
    max_bucket: int | None = 150,
    cache_intermediate: bool = False,
) -> DataFrame:
    """Near-dup pairs via winnowing-fingerprint blocking + exact Jaccard.

    The third blocking scheme next to MinHash bands and SimHash chunks:
    ``explode`` each document's winnowing fingerprints
    (``textstats.winnow_fingerprints``), self-join on the fingerprint
    value — documents sharing any substring of length ≥ window+k−1
    collide by the winnowing guarantee — keep pairs sharing at least
    ``min_shared`` fingerprints (cheap boilerplate filter), then verify
    with true word-n-gram Jaccard exactly like the MinHash path.

    Collision selectivity is the cost knob: a single shared substring of
    length window+k−1 (default 23 chars) joins two documents, so on prose
    corpora the defaults must keep fingerprints RARE — long k, wide
    window, ``max_fps_per_doc`` keeping only each document's smallest
    fingerprints (a deterministic bottom-m sketch that bounds the explode
    volume at m rows per document), and a tight ``max_bucket`` (any
    fingerprint shared by hundreds of documents is boilerplate, not a
    near-dup signal). Measured at sf0.1: the permissive first cut
    (k=8/window=4/uncapped) spent 45 s in the collision join; the r06
    64/500 sketch ran ~5-6 s with a 721k-pair candidate aggregate
    (9.6 MB shuffle); the r07 32/150 defaults produce the IDENTICAL
    verified pair set (asserted by set equality at sf0.1, 100% recall
    vs the exact tier at sf0.01) in ~3.5 s — near-dups share MANY
    fingerprints, so halving the sketch only thins singleton
    collisions.

    Same scale shape as the other banded joins: the exchange carries only
    (fingerprint, id); payloads are re-fetched per surviving candidate.
    Candidate recall is substring-structural (deterministic given the
    md5 hash of ``winnow_fingerprints``), so the whole pipeline —
    fingerprinting, bottom-m sketch, bucket cap, min_shared blocking AND
    the Jaccard verify — replays in a DuckDB oracle.
    """
    from stream4flow_spark.llmdata.textstats import winnow_fingerprints

    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    )
    fp_arr = F.col("fps")
    if max_fps_per_doc is not None:
        # fps is sorted ascending: the first m are the smallest — the
        # same content-deterministic "bottom sketch" idea as MinHash
        fp_arr = F.slice(fp_arr, 1, max_fps_per_doc)
    keyed = _cap_buckets(
        fps.select(F.col(id_col).alias("id"), F.explode(fp_arr).alias("fp")),
        ["fp"],
        max_bucket,
    )
    if cache_intermediate:
        # the collision self-join would otherwise run the md5
        # winnowing stages over the corpus once per branch
        keyed = keyed.persist()
    a, b = keyed.alias("a"), keyed.alias("b")
    candidates = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    # Verify only the candidate ids' text (r10 verdict, same bound as
    # incremental_winnow_neardup): semi-join the corpus on the ids that
    # survived blocking BEFORE the word_ngrams projection — Catalyst
    # won't hoist the projection above the verify join itself, so
    # without this the verify tokenizes the whole corpus even when
    # candidates are few. Checkpoint lazily: candidates now feeds the
    # semi-join and the verify join.
    candidates = candidates.localCheckpoint(eager=False)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingled = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col).alias("id"),
        word_ngrams(F.col(text_col), n).alias("grams"),
    )
    if cache_intermediate:
        shingled = shingled.persist()
    ga = shingled.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = shingled.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("grams_a"), F.col("grams_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared_fps", "jaccard")
    )


def segment_dedup(
    docs: DataFrame,
    sep: str = "\n",
    key_col: str = "doc_id",
    text_col: str = "text",
    keeper_by: str | None = None,
) -> DataFrame:
    """Corpus-wide segment-level dedup (RefinedWeb-style line/paragraph
    boilerplate removal): split every document on ``sep``, keep only ONE
    occurrence of each distinct segment across the whole corpus — by
    default the FIRST (lowest (doc, position)); with ``keeper_by``
    naming a numeric document column, the occurrence inside the
    highest-scoring document (ties → lowest (doc, position)) — and
    rebuild documents from their surviving segments in original order.

    Scale shape: the first-occurrence winner per segment is a
    `min(composite key)` aggregate keyed by the segment — map-side
    partial mins bound the state at one row per distinct segment, so a
    boilerplate line repeated a billion times costs its partial-agg
    merges, never a window sort over the repeats. Keepers then left-semi
    join back (ids + positions only — segment text rides the semi-join
    key hash, not the payload) and documents reassemble with one
    doc-keyed exchange.

    Returns (key_col, text: rebuilt text, n_segments, n_kept).
    """
    seg_cols = [key_col] + ([keeper_by] if keeper_by else [])
    segs = docs.select(
        *seg_cols,
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "seg"),
    )
    # winner = min over a struct — still a partial-agg min (state: one
    # struct per distinct segment) but with no arithmetic packing, so it
    # survives string doc ids, >=1M segments per doc, and any int64 id
    # range. Default orders by (doc, pos) = first occurrence; keeper_by
    # prepends the NEGATED document score, turning the same min into
    # argmax-by-score with the (doc, pos) tiebreak. The winning (doc,
    # pos) pair uniquely names one segment occurrence, so the semi-join
    # keys on it directly.
    win_fields = [F.col(key_col).alias("k"), F.col("pos").alias("p")]
    if keeper_by:
        win_fields.insert(0, (-F.col(keeper_by)).alias("ns"))
    first = segs.groupBy("seg").agg(F.min(F.struct(*win_fields)).alias("w"))
    segs = segs.select(key_col, "pos", "seg")
    kept = segs.join(
        first.select(F.col("w.k").alias(key_col), F.col("w.p").alias("pos")),
        [key_col, "pos"],
        "left_semi",
    )
    n_total = segs.groupBy(key_col).agg(F.count("*").alias("n_segments"))
    rebuilt = (
        kept.groupBy(key_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s.seg,
                ),
                sep,
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        n_total.join(rebuilt, key_col, "left")
        .select(
            key_col,
            F.coalesce("text", F.lit("")).alias("text"),
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup an incoming snapshot against an existing corpus — the
    incremental form of `exact_dedup` a continuously-crawled corpus needs
    (re-deduping 100 TB from scratch per snapshot is the naive
    alternative).

    Two stages, both digest-only on the wire:
    1. within-delta: keep the lowest-key row per md5(text) (partial-agg
       min, state = one row per distinct new digest);
    2. against-corpus: anti-join the surviving digests against the
       corpus' distinct digest set. In production the corpus side is a
       maintained fingerprint index (digests only) rather than a re-scan;
       either way text never shuffles — the delta's survivors return via
       a key semi-join.

    Returns the delta rows that genuinely enter the corpus.
    """
    fp = F.md5(F.col(text_col))
    corpus_fps = corpus.select(fp.alias("fp")).distinct()
    d_fp = delta.select(key_col, fp.alias("fp"))
    keeper = d_fp.groupBy("fp").agg(F.min(key_col).alias(key_col))
    fresh = keeper.join(corpus_fps, "fp", "left_anti").select(key_col)
    return delta.join(fresh, key_col, "left_semi")


def _band_table(
    shingled: DataFrame,
    num_perm: int,
    rows_per_band: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id, band, bucket) LSH band index over a (id, grams) table — the
    shared banding of minhash_lsh_dedup, reusable as a PERSISTED index:
    a production pipeline computes this once per corpus snapshot and
    every delta joins against the stored table."""
    return _bands_of(
        minhash_table(shingled, num_perm), num_perm, rows_per_band, max_bucket
    )


def _bands_of(
    signed: DataFrame,
    num_perm: int,
    rows_per_band: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id, band, bucket) over an already-signed ``(id, m0..)`` table
    (``minhash_table``'s output) — the banding half of ``_band_table``,
    split out so a caller that keeps the signatures too (the streaming
    near-dup screen) runs the minhash kernel once, not once per table.

    The band array is ONE SQL expression string: built from Column
    calls it would take ~8 per band (each a py4j round trip plus
    PySpark's call-site capture), paid on every call. The analysed plan
    is the Column form's, ``struct(<b> AS band, xxhash64(concat_ws(',',
    m..)) AS bucket)`` per band (pinned by tests/test_xxh_bitexact.py)."""
    assert num_perm % rows_per_band == 0
    structs = ", ".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', "
        + ", ".join(
            f"m{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        + ")) AS bucket)"
        for b in range(num_perm // rows_per_band)
    )
    banded = signed.select(
        "id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return _cap_buckets(banded, ["band", "bucket"], max_bucket)


def incremental_neardup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup screening of a DELTA snapshot against an existing CORPUS
    — the incremental form of minhash_lsh_dedup a continuously-crawled
    corpus needs (re-banding 100 TB per snapshot is the naive
    alternative; `incremental_dedup` is the exact-match sibling).

    Delta docs band with the SAME minhash rule as the corpus index, the
    candidate join keys (band, bucket) across the two tables (ids only
    on the wire), and candidates verify with true n-gram Jaccard. At
    scale the corpus side is a stored band index (see `_band_table`):
    the per-snapshot cost is O(delta) banding + the candidate joins,
    never a corpus re-scan.

    Output: one row per delta document — (id_col, is_near_dup,
    best_match_id, best_jaccard) with ties broken by lowest corpus id
    on the ROUNDED jaccard so every engine ranks identically.
    """
    sh_c = corpus.select(
        F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("grams")
    )
    sh_d = delta.select(
        F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("grams")
    )
    bc = _band_table(sh_c, num_perm, rows_per_band, max_bucket)
    bd = _band_table(sh_d, num_perm, rows_per_band, max_bucket)
    candidates = (
        bd.alias("d")
        .join(
            bc.alias("c"),
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(F.col("d.id").alias("id_d"), F.col("c.id").alias("id_c"))
        .dropDuplicates(["id_d", "id_c"])
    )
    gd = sh_d.select(F.col("id").alias("id_d"), F.col("grams").alias("grams_d"))
    gc = sh_c.select(F.col("id").alias("id_c"), F.col("grams").alias("grams_c"))
    verified = (
        candidates.join(gd, "id_d")
        .join(gc, "id_c")
        .withColumn(
            "jaccard",
            F.round(ngram_jaccard(F.col("grams_d"), F.col("grams_c")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_d").orderBy(
        F.col("jaccard").desc(), F.col("id_c").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_d").alias(id_col),
            F.col("id_c").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    return (
        delta.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("best_match_id").isNotNull().alias("is_near_dup"),
            "best_match_id",
            "best_jaccard",
        )
    )


def winnow_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 8,
    max_fps_per_doc: int | None = 32,
    max_bucket: int | None = 150,
) -> DataFrame:
    """The persistable winnowing-fingerprint index: exploded ``(fp,
    id)`` rows of each document's bottom-``max_fps_per_doc`` sketch,
    hot fingerprints capped at ``max_bucket`` lowest ids — exactly the
    collision table ``winnow_neardup_pairs`` builds internally, exposed
    so a production pipeline can compute it once per snapshot (or grow
    it per batch) and every delta joins the stored table."""
    from stream4flow_spark.llmdata.textstats import winnow_fingerprints

    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    )
    fp_arr = F.col("fps")
    if max_fps_per_doc is not None:
        fp_arr = F.slice(fp_arr, 1, max_fps_per_doc)
    keyed = fps.select(
        F.col(id_col).alias("id"), F.explode(fp_arr).alias("fp")
    )
    return _cap_buckets(keyed, ["fp"], max_bucket)


def incremental_winnow_neardup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 8,
    min_shared: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_fps_per_doc: int | None = 32,
    max_bucket: int | None = 150,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Winnowing-blocked near-dup screening of a DELTA against an
    existing CORPUS — the substring-structural sibling of
    ``incremental_neardup`` (MinHash) / ``incremental_semantic_neardup``
    (embeddings), completing the incremental family: every batch
    blocking tier now has a growing-index form.

    Delta documents fingerprint with the SAME winnowing rule as the
    corpus index, candidates key on shared fingerprints (ids +
    8-byte fps only on the wire; pairs need ``min_shared`` collisions),
    and candidates verify with true word n-gram Jaccard against the
    corpus text fetched by id. Pass ``corpus_index`` = a persisted
    ``winnow_index`` and the per-snapshot cost is O(delta)
    fingerprinting + the collision join — the corpus never re-hashes
    (``corpus`` is still required: the exact verify fetches the few
    surviving candidates' grams by id, the usual banded-join shape).
    The ``max_bucket`` cap applies per side (index build time for the
    corpus, delta-locally for the delta) — same bound, same
    boilerplate-recall trade as the batch tier.

    Output mirrors ``incremental_neardup``: one row per delta document
    — (id_col, is_near_dup, best_match_id, best_jaccard), best = the
    highest ROUNDED jaccard, ties to the lowest corpus id.
    """
    if corpus_index is None:
        corpus_index = winnow_index(
            corpus, text_col, id_col, k, window, max_fps_per_doc, max_bucket
        )
    dfps = winnow_index(
        delta, text_col, id_col, k, window, max_fps_per_doc, max_bucket
    )
    candidates = (
        dfps.alias("d")
        .join(corpus_index.alias("c"), F.col("d.fp") == F.col("c.fp"))
        .groupBy(
            F.col("d.id").alias("id_d"), F.col("c.id").alias("id_c")
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    # Candidate-bounded verify fetch (r10 verdict): left-semi each text
    # source on the candidate id set BEFORE the word_ngrams projection.
    # Catalyst will not defer a projection below a join probe on its
    # own, so without this the verify stage tokenizes the ENTIRE corpus
    # archive per snapshot even when candidates are few — O(archive)
    # where the docstring promises O(candidates). The semi-join is
    # correctness-neutral (the verify join is inner on the same ids)
    # and the candidate side is small post-threshold, so AQE broadcasts
    # it — the corpus never shuffles for the fetch. Checkpoint lazily:
    # candidates now feeds three consumers (two semi-joins + the verify
    # join) and must not re-run the collision join per consumer. At
    # deployment, store the corpus bucketed by id — either a catalog
    # bucketed table (sources/bucketing.py) or the id_bucket partition
    # layout the streaming twin writes (WinnowIndexState.text_buckets,
    # streaming/llmingest.py) — so the fetch also prunes the SCAN, not
    # just the tokenize (measured for the streaming store in
    # tests/test_streaming.py::test_winnow_verify_fetch_prunes_text_store_scan).
    candidates = candidates.localCheckpoint(eager=False)
    gd = delta.join(
        candidates.select(F.col("id_d").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("id_d"), word_ngrams(F.col(text_col), n).alias("grams_d")
    )
    gc = corpus.join(
        candidates.select(F.col("id_c").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("id_c"), word_ngrams(F.col(text_col), n).alias("grams_c")
    )
    verified = (
        candidates.join(gd, "id_d")
        .join(gc, "id_c")
        .withColumn(
            "jaccard",
            F.round(ngram_jaccard(F.col("grams_d"), F.col("grams_c")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_d").orderBy(
        F.col("jaccard").desc(), F.col("id_c").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_d").alias(id_col),
            F.col("id_c").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    return (
        delta.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("best_match_id").isNotNull().alias("is_near_dup"),
            "best_match_id",
            "best_jaccard",
        )
    )


# ----------------------------------------------- cross-document substrings

def exact_substr_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 15,
    dup_bloom_items: int | None = None,
    dup_bloom_shards: int = 1,
) -> DataFrame:
    """Cross-document repeated-SUBSTRING removal (ExactSubstr, Lee et
    al. 2021 "Deduplicating Training Data Makes Language Models
    Better") — the dedup tier between segment_dedup (identical whole
    lines) and the near-dup document tiers: a >= ``min_len``-token
    passage copied verbatim between two otherwise-distinct documents
    survives all three, and this removes it from every NON-first
    occurrence while keeping the corpus-wide first copy intact.

    The suffix-array formulation of the paper is single-machine; the
    distributed equivalence this uses instead: a duplicated token run of
    length >= L is EXACTLY the union of its length-L windows, and a
    window is part of such a run iff its L-token gram occurs >= 2 times
    in the corpus. So:

    1. tokenize (whitespace; same rule as every other tier);
    2. per document, hash every L-token window in-task —
       ``transform(sequence(...))`` over the token array, so only
       (id, pos, xxhash64) rows ever leave the scan, never gram text
       (8 B/gram on the wire, the ``llm_source_overlap_trigram``
       pattern);
    3. one groupBy(gram_hash) with a partial-agg ``min(struct(id,
       pos))`` names each gram's corpus-wide first occurrence and its
       count — state is one struct per distinct gram, no window sort;
    4. every occurrence of a count>=2 gram that is not the first marks
       its window [pos, pos+L) for removal;
    5. coverage resolves with a difference array — two (+1/-1) events
       per marked window, cumulative-summed per document — so
       overlapping marked windows cost two rows each, not L;
    6. documents rebuild from surviving tokens (one doc-keyed exchange,
       same reassembly as ``segment_dedup``).

    Shuffle cost is O(total tokens) 16-byte rows for the gram exchange —
    linear, like the suffix-array build itself — plus the (small) marked
    set; text travels only in the final per-doc rebuild. xxhash64
    collisions could merge two distinct grams (~n²/2⁶⁵ — negligible
    below ~10⁸ distinct grams; production can widen to a 128-bit pair
    exactly like ``minhash_signature``'s seed trick).

    Returns (id_col, n_tokens, n_removed, dedup_text) for EVERY input
    document (untouched docs pass through with n_removed = 0).

    ``dup_bloom_items`` (r14, the incremental form's ``bloom_prefilter``
    transferred to the batch path): the two consumers of the gram
    derivation exchange DIFFERENT rows — the groupBy ships partial-agg
    structs (≈ distinct grams per partition), but the occurrence-side
    join probe re-ships EVERY (id, pos, gh) occurrence row, and
    Catalyst cannot reuse one exchange for the other. Since the join
    only keeps occurrences of count>=2 grams — typically a few percent
    of a real corpus — set ``dup_bloom_items`` ≈ the expected
    duplicated-distinct-gram count and the probe side is pruned
    MAP-SIDE against a Bloom bitmap of the dup set before its exchange:
    probe rows drop from O(all gram occurrences) to O(dup occurrences +
    fpp·rest) with results IDENTICAL (no false negatives; the exact
    join drops the fpp survivors), so the gate oracle stays valid. The
    dup aggregate gains a second consumer (bitmap build + join) and is
    localCheckpoint'd — it is post-aggregation, O(duplicated grams),
    the small side by construction. ``dup_bloom_shards`` > 1 switches
    to the sharded bitmap past one broadcast cell (≥10⁹ dup grams).
    """
    base = _substr_base(df, text_col, id_col)
    grams = _substr_grams(base, min_len)
    dup = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("c"),
            F.min(F.struct(F.col("id").alias("k"), F.col("pos").alias("p"))).alias("w"),
        )
        .filter(F.col("c") >= 2)
        .select("gh", "w")
    )
    probe = grams
    if dup_bloom_items is not None:
        from stream4flow_spark.operators.bloom import bloom_prune

        dup = dup.localCheckpoint(eager=False)
        probe = bloom_prune(
            grams,
            dup.select("gh"),
            "gh",
            expected_items=dup_bloom_items,
            shards=dup_bloom_shards,
        )
    marked = (
        probe.join(dup, "gh")
        .filter(~((F.col("id") == F.col("w.k")) & (F.col("pos") == F.col("w.p"))))
        .select("id", F.col("pos").alias("s"))
    )
    return _substr_rebuild(df, id_col, base, marked, min_len)


def _substr_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, toks) tokenization shared by the batch and incremental
    ExactSubstr forms."""
    return df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.col(text_col)).alias("toks"),
    )


def _substr_grams(base: DataFrame, L: int) -> DataFrame:
    """(id, pos, gh) — every L-token window's xxhash64, computed
    in-task over the token array: joining the window with a separator
    reproduces the exact token sequence (whitespace tokens cannot
    contain the separator), so equal hash <=> equal L-token window
    modulo xxhash64 collisions. Only 16-byte rows leave the scan."""
    return base.select(
        "id",
        F.posexplode(
            F.when(
                F.size("toks") >= L,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - L),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("toks", i + 1, L), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("pos", "gh"),
    )


def _substr_rebuild(
    df: DataFrame, id_col: str, base: DataFrame, marked: DataFrame, L: int
) -> DataFrame:
    """Difference-array coverage + per-document rebuild shared by the
    batch and incremental ExactSubstr forms: two (+1/-1) events per
    marked window, cumulative-summed per document; surviving tokens
    reassemble from the token ARRAY. Untouched docs pass through with
    n_removed = 0 (``base`` derives from ``df``, so it spans the full
    id universe; ``id_col`` is assumed unique, as everywhere in the
    dedup tier).

    r14 (guide §4.2/§2.3): the old form posexploded every token into
    its own row, joined events by (id, pos), ran a per-doc window
    cumsum (exchange + sort over O(total tokens) rows) and reassembled
    with array_sort(collect_list(struct)). Now the marked starts
    aggregate per doc into one (typically tiny) array, join the token
    arrays once by id, and ONE Arrow-batched kernel does the
    difference-array cumsum + mask + join per document in NumPy — the
    text payload crosses once, no token-grain exchange, no window
    sort. Output values are identical: coverage is the same ±1 prefix
    sum, and ``" ".join(kept)`` is exactly the old
    ``array_join(sorted kept, " ")``."""
    starts = marked.groupBy("id").agg(F.collect_list("s").alias("__starts"))
    joined = base.join(starts, "id", "left")
    id_t = base.schema["id"].dataType.simpleString()

    def rebuild(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_tok, n_rem, texts = [], [], []
            for toks, starts_ in zip(pdf["toks"], pdf["__starts"]):
                if toks is None:
                    n_tok.append(0)
                    n_rem.append(0)
                    texts.append("")
                    continue
                T = len(toks)
                if starts_ is None or len(starts_) == 0:
                    n_tok.append(T)
                    n_rem.append(0)
                    texts.append(" ".join(toks))
                    continue
                s = np.asarray(starts_, dtype=np.int64)
                delta = np.zeros(T + L + 1, dtype=np.int64)
                np.add.at(delta, s, 1)
                np.add.at(delta, s + L, -1)
                keep = np.cumsum(delta[:T]) == 0
                n_tok.append(T)
                n_rem.append(int(T - keep.sum()))
                texts.append(" ".join(np.asarray(toks, dtype=object)[keep]))
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_tokens": pd.array(n_tok, dtype="int64"),
                    "n_removed": pd.array(n_rem, dtype="int64"),
                    "dedup_text": texts,
                }
            )

    return joined.mapInPandas(
        rebuild,
        f"id {id_t}, n_tokens long, n_removed long, dedup_text string",
    ).select(
        F.col("id").alias(id_col), "n_tokens", "n_removed", "dedup_text"
    )


def exact_substr_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 15,
) -> DataFrame:
    """The persistable ExactSubstr gram index: one ``gh`` row per
    DISTINCT L-token window hash in the corpus — 8 B per distinct gram,
    no text, no positions. A production pipeline computes this once per
    snapshot (or grows it per micro-batch — ``streaming/llmingest.py
    ExactSubstrIndexState``) and every delta cleans itself against the
    stored table; the corpus never re-tokenizes."""
    return (
        _substr_grams(_substr_base(df, text_col, id_col), min_len)
        .select("gh")
        .distinct()
    )


def incremental_exact_substr(
    corpus: DataFrame | None,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 15,
    corpus_index: DataFrame | None = None,
    bloom_prefilter: int | None = None,
    bloom_shards: int = 1,
    bloom_broadcast: bool = True,
) -> DataFrame:
    """ExactSubstr cleaning of a DELTA snapshot against an existing
    CORPUS — the incremental form of ``exact_substr_dedup`` a
    continuously-crawled corpus needs (re-hashing 100 TB of grams per
    snapshot is the naive alternative), the same growing-index shape as
    ``incremental_dedup`` / ``incremental_neardup``.

    A delta window is removed iff its L-gram already exists in the
    corpus (the corpus holds the first occurrence by construction) OR
    repeats within the delta and this occurrence is not the delta-wide
    first by (id, pos). When every corpus id precedes every delta id,
    this equals the batch ``exact_substr_dedup`` over corpus ∪ delta
    restricted to the delta's rows — parity-tested, and the property
    that makes the arrival-ordered streaming twin exact.

    Pass ``corpus_index`` = a persisted ``exact_substr_index`` and the
    per-snapshot cost is O(delta tokens) hashing + one ids-only
    semi-join against the index; with ``corpus_index=None`` the index
    is computed in-line from ``corpus``. Returns (id_col, n_tokens,
    n_removed, dedup_text) for every delta document.

    ``bloom_prefilter`` = the delta's expected distinct-gram count:
    when set, the CORPUS INDEX — the side that grows without bound —
    is pruned map-side against a broadcast Bloom bitmap of the delta's
    grams (``operators/bloom.py``) before the exact semi-join. The
    semi-join keeps every index gram the delta actually contains (no
    false negatives ⇒ the marked set is IDENTICAL), but the index rows
    entering the join exchange drop from O(corpus grams) to O(delta-
    matching grams + fpp·corpus grams) — at a 100 TB corpus the
    difference between shuffling the whole 8 B/gram index every
    micro-batch and shuffling the delta-sized sliver. ``bloom_shards``
    > 1 uses the sharded bitmap for delta gram sets past one broadcast
    cell (≥10⁹ keys); ``bloom_broadcast=False`` (needs shards > 1) is
    the ≥10¹⁰-key rung — the bitmap probe becomes a shuffled hash join
    on the shard id instead of a per-executor broadcast copy
    (``operators/bloom.py`` / DEPLOY.md sizing table).
    """
    if corpus_index is None:
        if corpus is None:
            raise ValueError("need corpus or corpus_index")
        corpus_index = exact_substr_index(corpus, text_col, id_col, min_len)
    base = _substr_base(delta, text_col, id_col)
    grams = _substr_grams(base, min_len)
    corpus_gh = corpus_index.select("gh")
    if bloom_prefilter is not None:
        from stream4flow_spark.operators.bloom import bloom_prune

        # the bitmap build adds a THIRD consumer of the delta gram
        # derivation (semi-join probe + within-delta dup count already
        # read it); checkpoint lazily so the tokenize+hash pass runs
        # once instead of three times (the word_grams_from_tokens
        # re-evaluation failure mode, r10 review)
        grams = grams.localCheckpoint(eager=False)
        corpus_gh = bloom_prune(
            corpus_gh,
            grams.select("gh"),
            "gh",
            expected_items=bloom_prefilter,
            shards=bloom_shards,
            broadcast=bloom_broadcast,
        )
    # marked-by-corpus: EVERY delta occurrence of an indexed gram
    in_corpus = grams.join(corpus_gh, "gh", "left_semi").select(
        "id", F.col("pos").alias("s")
    )
    # marked-within-delta: non-first occurrences of delta-repeated grams
    dup = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("c"),
            F.min(
                F.struct(F.col("id").alias("k"), F.col("pos").alias("p"))
            ).alias("w"),
        )
        .filter(F.col("c") >= 2)
        .select("gh", "w")
    )
    in_delta = (
        grams.join(dup, "gh")
        .filter(
            ~((F.col("id") == F.col("w.k")) & (F.col("pos") == F.col("w.p")))
        )
        .select("id", F.col("pos").alias("s"))
    )
    marked = in_corpus.unionByName(in_delta).dropDuplicates(["id", "s"])
    return _substr_rebuild(delta, id_col, base, marked, min_len)


# ------------------------------------------------ content-defined chunking

def cdc_chunk_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunks of every document — the shift-robust
    blocking primitive the fixed-geometry tiers miss: a chunk boundary
    falls after token *i* whenever the hash of the ``context``-token
    window ending at *i* is ≡ 0 (mod ``divisor``), so boundaries are a
    function of LOCAL CONTENT only. Insert or delete one token and
    every boundary outside its ``context``-token neighborhood stays put
    — the storage-dedup CDC idea (Muthitacharoen et al. 2001, LBFS)
    applied to token streams, sitting between ``segment_dedup`` (needs
    explicit separators) and ``exact_substr_dedup`` (fixed-L windows,
    O(tokens) gram exchange) in the dedup family. Expected chunk length
    is ``divisor`` tokens.

    Scale shape: tokenization, boundary hashing, chunk slicing and the
    chunk fingerprint all happen IN-TASK over the token array (each
    intermediate is materialized into its own projected column so
    Catalyst keeps the multi-referenced arrays as attributes instead of
    re-inlining their producers); only (id, seg, chunk_pos, n_toks,
    chunk_fp) rows leave the scan — chunk TEXT never shuffles, the same
    ids+hashes wire discipline as the winnow/ExactSubstr tiers.

    Boundary hash = first 15 hex digits of md5(window) as a 60-bit int,
    chunk_fp = md5(chunk) — both replayable in DuckDB, as winnow's are.
    Returns (id_col, seg, chunk_pos, n_toks, chunk_fp).
    """
    def bhash(c: Column) -> Column:
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    toked = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.col(text_col)).alias("__toks"),
    )
    t = F.col("__toks")
    # boundary flag per token (0-based i): 1 iff a full context window
    # ends at i and its hash divides; flags materialize as a column so
    # the starts filter reads an attribute, not a re-inlined transform
    flagged = toked.select(
        "id",
        "__toks",
        F.transform(
            F.when(F.size(t) > 0, F.sequence(F.lit(0), F.size(t) - 1))
            .otherwise(F.array().cast("array<int>")),
            lambda i: F.when(
                i >= context - 1,
                (
                    F.pmod(
                        bhash(
                            F.array_join(
                                F.slice(t, i - (context - 2), context), " "
                            )
                        ),
                        F.lit(divisor),
                    )
                    == 0
                ).cast("int"),
            ).otherwise(F.lit(0)),
        ).alias("__flags"),
    )
    # chunk start positions (0-based): 0, plus i+1 for every flagged
    # boundary i that is not the last token. The flags array is passed
    # as the TRANSFORM ARGUMENT with an (element, index) lambda — never
    # referenced inside a lambda body — because CollapseProject inlines
    # a once-referenced producer into its consumer, and a producer
    # inlined into a lambda BODY re-evaluates per element: the first
    # cut filtered sequence(0, n-1) on try_element_at(__flags, i),
    # which re-ran the whole per-token md5 transform once per index —
    # O(tokens²) hashes per document, measured 33 s at sf0.1 vs ~3 s
    # for this shape (the lesson of ``winnow_fingerprints``' two exchanges).
    started = flagged.select(
        "id",
        "__toks",
        F.when(
            F.size(t) > 0,
            F.array_compact(
                F.concat(
                    F.array(F.lit(0)),
                    F.transform(
                        F.col("__flags"),
                        lambda x, i: F.when(
                            (x == 1) & (i < F.size(t) - 1), i + 1
                        ),
                    ),
                )
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("__starts"),
    )
    s = F.col("__starts")
    nexted = started.select(
        "id",
        "__toks",
        "__starts",
        F.when(
            F.size(s) > 1,
            F.concat(F.slice(s, 2, F.size(s) - 1), F.array(F.size(t))),
        )
        .otherwise(
            F.when(F.size(s) == 1, F.array(F.size(t))).otherwise(
                F.array().cast("array<int>")
            )
        )
        .alias("__nexts"),
    )
    chunks = nexted.select(
        "id",
        F.posexplode(
            F.zip_with(
                F.col("__starts"),
                F.col("__nexts"),
                lambda st, nx: F.struct(
                    st.alias("cpos"),
                    (nx - st).alias("ntoks"),
                    F.md5(
                        F.array_join(F.slice(t, st + 1, nx - st), " ")
                    ).alias("fp"),
                ),
            )
        ).alias("seg", "ch"),
    )
    return chunks.select(
        F.col("id").alias(id_col),
        "seg",
        F.col("ch.cpos").alias("chunk_pos"),
        F.col("ch.ntoks").alias("n_toks"),
        F.col("ch.fp").alias("chunk_fp"),
    )


def cdc_chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Corpus-wide duplicated-chunk audit over the content-defined
    chunking (``cdc_chunk_table``): for every document, how many of its
    chunks also occur elsewhere in the corpus (first occurrence by
    (doc, position) stays unblamed — the keep-first convention every
    dedup tier here shares) and how many tokens those duplicate chunks
    cover. Because boundaries are content-defined, a passage copied
    WITH INSERTIONS around it still yields identical interior chunks —
    the case where ExactSubstr's fixed-L windows still match but
    segment_dedup's separator-split lines do not, and the one where
    CDC's re-synchronization is the textbook answer.

    One partial-agg ``min(struct(id, pos))`` + count per distinct
    chunk_fp names each chunk's first occurrence (no window sort); the
    stats exchange carries (fp, id, two ints) only. Returns one row per
    input document: (id_col, n_chunks, n_dup_chunks, n_dup_tokens).
    """
    chunks = cdc_chunk_table(df, text_col, id_col, context, divisor)
    agg = (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("c"),
            F.min(
                F.struct(
                    F.col(id_col).alias("k"), F.col("chunk_pos").alias("p")
                )
            ).alias("w"),
        )
    )
    marked = chunks.join(agg, "chunk_fp").withColumn(
        "is_dup",
        (F.col("c") >= 2)
        & ~(
            (F.col(id_col) == F.col("w.k"))
            & (F.col("chunk_pos") == F.col("w.p"))
        ),
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
        F.sum(
            F.when(F.col("is_dup"), F.col("n_toks")).otherwise(0)
        ).alias("n_dup_tokens"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        )
    )


def cdc_chunk_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """The persistable CDC index: one row per DISTINCT chunk
    fingerprint in the corpus — fp-only, no text, no positions (a
    32-character md5 hex string per chunk). A production pipeline
    computes this once per snapshot (or grows it per micro-batch —
    ``streaming/llmingest.py CdcIndexState``) and every delta audits
    itself against the stored table; the corpus never re-chunks."""
    return (
        cdc_chunk_table(df, text_col, id_col, context, divisor)
        .select("chunk_fp")
        .distinct()
    )


def incremental_cdc_chunks(
    corpus: DataFrame | None,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 3,
    divisor: int = 8,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """CDC duplicated-chunk audit of a DELTA against an existing CORPUS
    — the growing-index form of ``cdc_chunk_dedup``, same shape as
    ``incremental_exact_substr``: a delta chunk counts as duplicated
    iff its fingerprint already exists in the corpus index OR repeats
    within the delta and this occurrence is not the delta-wide first by
    (id, position). When every corpus id precedes every delta id this
    equals the batch operator restricted to the delta's rows
    (parity-tested — the property that makes the arrival-ordered
    streaming twin exact).

    Pass ``corpus_index`` = a persisted ``cdc_chunk_index`` and the
    per-snapshot cost is O(delta) chunking + one fp-keyed join; with
    ``corpus_index=None`` the index computes in-line from ``corpus``.
    Returns (id_col, n_chunks, n_dup_chunks, n_dup_tokens) for every
    delta document."""
    if corpus_index is None:
        if corpus is None:
            raise ValueError("need corpus or corpus_index")
        corpus_index = cdc_chunk_index(
            corpus, text_col, id_col, context, divisor
        )
    chunks = cdc_chunk_table(delta, text_col, id_col, context, divisor)
    # three consumers of the chunk derivation (within-delta agg, the
    # stats join, the corpus-fp join) — checkpoint lazily so the
    # tokenize+hash pass runs once
    chunks = chunks.localCheckpoint(eager=False)
    agg = chunks.groupBy("chunk_fp").agg(
        F.count("*").alias("c"),
        F.min(
            F.struct(F.col(id_col).alias("k"), F.col("chunk_pos").alias("p"))
        ).alias("w"),
    )
    corpus_fp = corpus_index.select("chunk_fp").withColumn(
        "__in_corpus", F.lit(1)
    )
    marked = (
        chunks.join(agg, "chunk_fp")
        .join(corpus_fp, "chunk_fp", "left")
        .withColumn(
            "is_dup",
            (F.col("__in_corpus") == 1)
            | (
                (F.col("c") >= 2)
                & ~(
                    (F.col(id_col) == F.col("w.k"))
                    & (F.col("chunk_pos") == F.col("w.p"))
                )
            ),
        )
        .withColumn("is_dup", F.coalesce("is_dup", F.lit(False)))
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
        F.sum(
            F.when(F.col("is_dup"), F.col("n_toks")).otherwise(0)
        ).alias("n_dup_tokens"),
    )
    return (
        delta.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        )
    )
