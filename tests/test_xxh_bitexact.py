"""Pins llmdata/xxh.py bit-for-bit against the engine's ``xxhash64``.

The MinHash signature kernel (dedup.minhash_table) only preserves query
results if every hash it computes equals what the Column form computed —
banding keys and candidate sets replay this arithmetic. These tests
compare the NumPy kernels against the LIVE engine (not only against a
transcription of the algorithm): xxh.py re-derives PRIME64_2 at import
from a pinned probe as a portability/self-check mechanism — on this
build it resolves to the textbook constant (see its docstring). If the
engine's hash family ever drifts, these fail loudly.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from stream4flow_spark.llmdata.xxh import (
    _PROBE_ZERO_LONG,
    ref_xxh64,
    xxh64_long_multi_min,
    xxh64_longs,
    xxh64_utf8,
)


def test_probe_value_matches_engine(spark):
    got = spark.sql("SELECT xxhash64(CAST(0 AS BIGINT))").collect()[0][0]
    assert got == _PROBE_ZERO_LONG, (
        "engine hash family changed — re-pin _PROBE_ZERO_LONG in "
        "llmdata/xxh.py with this value"
    )


def _flatten(byte_strings):
    data = np.frombuffer(b"".join(byte_strings), dtype=np.uint8)
    lens = np.array([len(b) for b in byte_strings], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return data, starts, lens


def test_string_hash_bitexact_vs_engine(spark):
    rng = random.Random(11)
    words = [
        "flow", "tcp", "udp", "the", "quick", "brown", "fox",
        "päckchen", "日本語テキスト", "x" * 19, "y" * 40, "",
    ]
    strs = [
        " ".join(rng.choices(words, k=rng.randint(1, 9))) for _ in range(5000)
    ]
    # adversarial byte lengths 0..96 cover every stripe/word/int/byte
    # tail combination of the hash
    strs += ["z" * n for n in range(97)]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = np.array(
        [r[0] for r in df.select(F.xxhash64("s")).collect()], dtype=np.int64
    )
    data, starts, lens = _flatten([s.encode("utf-8") for s in strs])
    mine = xxh64_utf8(data, starts, lens, 42).view(np.int64)
    assert (mine == got).all()


def test_vectorized_matches_scalar_reference():
    rng = random.Random(5)
    strs = [
        bytes(rng.getrandbits(8) for _ in range(length))
        for length in list(range(0, 130)) + [255, 1000]
        for _ in range(3)
    ]
    data, starts, lens = _flatten(strs)
    got = xxh64_utf8(data, starts, lens, 42)
    exp = np.array([ref_xxh64(s, 42) for s in strs], dtype=np.uint64)
    assert (got == exp).all()


@pytest.mark.parametrize("perm", [0, 1, 31, 63])
def test_permutation_chain_bitexact_vs_engine(spark, perm):
    # the minhash permutation is xxhash64(h0, lit(i)) — a seed CHAIN
    # (hashInt(i, hashLong(h0, 42))), not a seeded long hash
    rng = random.Random(perm)
    vals = np.array(
        [rng.getrandbits(64) for _ in range(2000)], dtype=np.uint64
    ).view(np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "h0 long")
    got = np.array(
        [r[0] for r in df.select(F.xxhash64("h0", F.lit(perm))).collect()],
        dtype=np.int64,
    )
    # singleton segments make the multi-min return the raw chain hashes
    mins = xxh64_long_multi_min(
        vals.view(np.uint64), perm + 1, np.arange(len(vals))
    )
    assert (mins[perm] == got).all()


def test_minhash_table_equals_column_form(spark):
    # whole-frame equality on real fixture shingles: the kernel form
    # must reproduce the explode→64-hash→groupBy-min Column form it
    # replaced, row for row, value for value
    from stream4flow_spark.llmdata.dedup import minhash_table, word_ngrams
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_ngrams(F.col("text"), 3).alias("grams")
    )
    exploded = sh.select("id", F.explode("grams").alias("g"))
    base = exploded.select("id", F.xxhash64("g").alias("h0"))
    hashed = base.select(
        "id", *[F.xxhash64("h0", F.lit(i)).alias(f"h{i}") for i in range(64)]
    )
    old = (
        hashed.groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(64)])
        .sort("id")
        .collect()
    )
    new = minhash_table(sh).sort("id").collect()
    assert len(new) > 0
    assert old == new


def test_bands_of_equals_column_form_banding(spark):
    # _bands_of builds the band array as one SQL string; it must be the
    # Column-form banding it replaced, frame for frame on real fixture
    # shingles (same buckets), with the same analysed plan
    import re

    from stream4flow_spark.llmdata.dedup import (
        _band_table,
        _bands_of,
        minhash_table,
        word_ngrams,
    )
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_ngrams(F.col("text"), 3).alias("grams")
    )
    signed = minhash_table(sh).persist()

    def column_form(rows_per_band):
        return signed.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col(f"m{b * rows_per_band + r}")
                                        for r in range(rows_per_band)
                                    ],
                                )
                            ).alias("bucket"),
                        )
                        for b in range(64 // rows_per_band)
                    ]
                )
            ).alias("bb"),
        ).select(
            "id", F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    def analysed(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return re.sub(r"#\d+L?", "#", plan)

    try:
        for rpb in (2, 4):
            old, new = column_form(rpb), _bands_of(signed, 64, rpb, None)
            assert analysed(new) == analysed(old)
            want = old.sort("id", "band").collect()
            assert len(want) > 0
            assert new.sort("id", "band").collect() == want
        assert (
            _band_table(sh, 64, 2, None).sort("id", "band").collect()
            == column_form(2).sort("id", "band").collect()
        )
    finally:
        signed.unpersist()


def test_null_and_empty_gram_semantics(spark):
    # empty / NULL gram arrays drop the document (explode semantics);
    # a NULL element hashes to the seed (42) exactly like xxhash64(NULL)
    from pyspark.sql import types as T

    from stream4flow_spark.llmdata.dedup import minhash_table

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grams", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, []), (3, None), (4, [None, "a b c"])],
        schema,
    )
    rows = {r["id"]: r for r in minhash_table(df).collect()}
    assert set(rows) == {1, 4}
    # doc 4's signature = elementwise min over {hash chain of NULL→42,
    # chain of "a b c"} — replay with the Column scalar semantics
    h_null = spark.sql(
        "SELECT "
        + ", ".join(f"xxhash64(xxhash64(CAST(NULL AS STRING)), {i})" for i in range(64))
    ).collect()[0]
    h_abc = spark.sql(
        "SELECT " + ", ".join(f"xxhash64(xxhash64('a b c'), {i})" for i in range(64))
    ).collect()[0]
    for i in range(64):
        assert rows[4][f"m{i}"] == min(h_null[i], h_abc[i])
