"""Microbenchmarks of the hand-written hash kernels in ``llmdata``.

Each kernel runs on seeded word 3-grams and is timed as the median of a
few calls; its output is then checked bit for bit against the scalar
references (``hashlib.md5`` and ``xxh.ref_xxh64``).
"""

from __future__ import annotations

import hashlib
import statistics
import struct
import time

import numpy as np

from gen import seeded_rng, vocabulary

NUM_PERM = 64
CHECK_SEGMENTS = 40  # minhash segments replayed with the scalar reference


def gram_arrays(seed: int, n_docs: int = 400):
    """Word 3-grams of ``n_docs`` seeded documents as one flat UTF-8
    buffer with per-gram ``starts``/``lengths`` and per-document segment
    starts (the layout ``minhash_table`` feeds the kernels)."""
    rng = seeded_rng(seed, 3)
    vocab = vocabulary(rng, 2000)
    grams: list[bytes] = []
    seg_starts = []
    for _ in range(n_docs):
        words = vocab[rng.integers(len(vocab), size=int(rng.integers(40, 100)))]
        seg_starts.append(len(grams))
        grams.extend(
            " ".join(words[i : i + 3]).encode() for i in range(len(words) - 2)
        )
    lengths = np.array([len(g) for g in grams], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1])).astype(np.int64)
    data = np.frombuffer(b"".join(grams), dtype=np.uint8)
    return grams, data, starts, lengths, np.array(seg_starts, dtype=np.int64)


def _timed(fn, reps: int):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def run(seed: int, reps: int = 5) -> tuple[dict, bool]:
    """(metrics, bit_exact) for md5v, xxh64_utf8 and the minhash loop."""
    from stream4flow_spark.llmdata.md5v import md5_prefix8
    from stream4flow_spark.llmdata.xxh import (
        ref_xxh64,
        ref_xxh64_long,
        xxh64_long_multi_min,
        xxh64_utf8,
    )

    grams, data, starts, lengths, segs = gram_arrays(seed)
    n = len(grams)
    t_md5, md5 = _timed(lambda: md5_prefix8(data, starts, lengths), reps)
    t_xxh, h0 = _timed(lambda: xxh64_utf8(data, starts, lengths, 42), reps)
    t_min, mins = _timed(lambda: xxh64_long_multi_min(h0, NUM_PERM, segs), reps)

    ok = all(
        int(md5[i]) == int.from_bytes(hashlib.md5(g).digest()[:8], "big")
        for i, g in enumerate(grams)
    )
    ok &= all(int(h0[i]) == ref_xxh64(g, 42) for i, g in enumerate(grams))
    # minhash permutation i is hashInt(i, hashLong(h0, 42)); hashInt is
    # XXH64 over the 4 little-endian bytes of i
    bounds = list(segs[: CHECK_SEGMENTS + 1])
    for s in range(CHECK_SEGMENTS):
        seeds = [ref_xxh64_long(int(v), 42) for v in h0[bounds[s] : bounds[s + 1]]]
        for i in range(NUM_PERM):
            perm = struct.pack("<I", i)
            want = min(
                struct.unpack("<q", struct.pack("<Q", ref_xxh64(perm, sd)))[0]
                for sd in seeds
            )
            ok &= int(mins[i, s]) == want
    return {
        "llmdata.md5v_ns_per_gram": t_md5 / n * 1e9,
        "llmdata.xxh64_utf8_ns_per_gram": t_xxh / n * 1e9,
        "llmdata.minhash_ns_per_gram": t_min / n * 1e9,
    }, bool(ok)
