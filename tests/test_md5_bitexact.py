"""Pins llmdata/md5v.py bit-for-bit against ``hashlib.md5`` and the
engine's ``md5()``.

The simhash signature kernel (dedup.simhash_table) hashes every gram
with md5 and only preserves query results if the first 8 digest bytes
it derives per gram equal what the Column form computed via
``conv(substring(md5(gram),1,8),16,10)`` / ``conv(...,9,8)`` — banding
keys, hamming verification and the DuckDB oracle all replay that value.
md5v is a from-scratch RFC 1321 transcription, so these tests pin every
constant and every padding boundary against hashlib (the digest Spark's
``md5()`` computes) and a sample against the live engine.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from stream4flow_spark.llmdata.md5v import md5_prefix8

# every padded-block-count boundary: 55/56 (1->2 blocks), 119/120
# (2->3), plus word/stripe edges inside a block and multi-block tails
_BOUNDARY_LENGTHS = [
    0, 1, 2, 3, 4, 7, 8, 9, 15, 16, 31, 32, 54, 55, 56, 57,
    63, 64, 65, 118, 119, 120, 121, 127, 128, 129, 255, 256, 300, 511, 512,
]


def _flatten(byte_strings):
    data = np.frombuffer(b"".join(byte_strings), dtype=np.uint8)
    lens = np.array([len(b) for b in byte_strings], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens[:-1]))).astype(np.int64)
    return data, starts, lens


def _want(byte_strings):
    return np.array(
        [
            int.from_bytes(hashlib.md5(b).digest()[:8], "big")
            for b in byte_strings
        ],
        dtype=np.uint64,
    )


def test_md5_prefix8_boundary_lengths_and_random():
    rng = np.random.default_rng(42)
    msgs = [bytes(rng.integers(0, 256, L, dtype=np.uint8)) for L in _BOUNDARY_LENGTHS]
    msgs += [
        bytes(rng.integers(0, 256, int(rng.integers(0, 200)), dtype=np.uint8))
        for _ in range(1000)
    ]
    msgs += [b"", b"a", "naïve café über".encode(), b"x y z", b"\x00" * 64]
    got = md5_prefix8(*_flatten(msgs))
    assert (got == _want(msgs)).all()


def test_md5_prefix8_order_independent_of_block_grouping():
    """Messages are regrouped by block count internally; outputs must
    land back in input order."""
    rng = np.random.default_rng(7)
    # interleave 1-, 2- and 3-block messages
    msgs = [
        bytes(rng.integers(0, 256, L, dtype=np.uint8))
        for L in [10, 100, 150, 20, 130, 5, 60, 0, 200, 55, 56, 119, 120]
    ]
    got = md5_prefix8(*_flatten(msgs))
    assert (got == _want(msgs)).all()


def test_md5_prefix8_multi_kb_grams_split_by_byte_budget(monkeypatch):
    """Multi-KB grams (hostile input: boilerplate lines, minified code)
    are chunked by padded bytes, not a fixed row count. A tiny budget
    forces one-row and few-row chunks inside every block-count group;
    digests and input order must not change. An empty message at the
    very end of the buffer starts AT len(data) — its clipped gather
    lanes must stay in bounds."""
    import stream4flow_spark.llmdata.md5v as md5v

    rng = np.random.default_rng(11)
    lens = [2048, 4096, 4097, 8191, 9000, 3000, 4096, 60, 0, 5000]
    msgs = [bytes(rng.integers(0, 256, L, dtype=np.uint8)) for L in lens]
    msgs += [b"\xff" * 4096, b""]
    want = _want(msgs)
    assert (md5_prefix8(*_flatten(msgs)) == want).all()
    monkeypatch.setattr(md5v, "_CHUNK_BYTES", 9000)
    assert (md5_prefix8(*_flatten(msgs)) == want).all()


def test_md5_prefix8_empty_and_all_empty():
    data = np.empty(0, dtype=np.uint8)
    assert len(md5_prefix8(data, np.empty(0, np.int64), np.empty(0, np.int64))) == 0
    got = md5_prefix8(data, np.zeros(3, np.int64), np.zeros(3, np.int64))
    assert (got == _want([b""] * 3)).all()


def test_md5_prefix8_matches_engine_conv(spark):
    """End-to-end against the LIVE engine: the uint64 md5v derives must
    equal ``(conv(substring(md5(s),1,8),16,10) << 32) | conv(...,9,8)``
    — the exact Column arithmetic the old simhash md5 mode ran."""
    texts = [
        "one two three", "", "naïve café über", "a b c a b c",
        "the quick brown fox jumps over the lazy dog " * 4,  # multi-block
    ]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select(
        F.col("s"),
        (
            F.shiftleft(F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(F.conv(F.substring(F.md5("s"), 9, 8), 16, 10).cast("long"))
        ).alias("h"),
    ).collect()
    byte_strings = [r.s.encode() for r in rows]
    got = md5_prefix8(*_flatten(byte_strings)).view(np.int64)
    want = np.array([r.h for r in rows], dtype=np.int64)
    assert (got == want).all()
