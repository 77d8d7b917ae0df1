"""Vectorized, bit-exact MD5 prefix (NumPy) — the digest behind Spark's
``md5()`` expression, restricted to the first 8 bytes.

Why this exists (guide §4.2, and SCALE.md's r15 growth-law note): the
simhash signature kernel's ``"md5"`` mode derives each shingle's 64-bit
source from the first 8 bytes of ``md5(gram)``. r15's Arrow kernel
deleted the explode + 64-column vote aggregate + id exchange, but its
md5 branch still called ``hashlib.md5`` once per gram in a Python loop
(~2.3 µs/gram, all interpreter call overhead) — at the 100×-scale cell
(~26 M grams) that loop IS the query. This module hashes every gram in
a record batch with whole-array NumPy ops instead: RFC 1321 MD5,
restricted to the (A, B) register pair that makes up digest bytes 0–7,
which is all the simhash mode reads (``(h1 << 32) | h2`` big-endian —
exactly ``conv(substring(hex,1,8),16,10)`` /
``conv(substring(hex,9,8),16,10)`` of Spark's ``md5()``; C and D still
participate in every round, they are just not emitted).

Bit-exactness is pinned against ``hashlib.md5`` (the identical digest
Spark's ``md5()`` computes — both are RFC 1321) by
``tests/test_md5_bitexact.py`` over random byte strings and every
padding-boundary length (0, 1, 55, 56, 63, 64, 119, 120, multi-block),
and end-to-end against the Column form by
``tests/test_llmdata.py::test_simhash_kernel_matches_column_form``.

Vectorization strategy (what it takes to beat OpenSSL-via-hashlib on
tiny messages):

- group messages by padded BLOCK count (length ≤ 55 → 1 block, ≤ 119 →
  2, …): within a group the padded layout is one rectangular uint8
  matrix built from a single clipped gather + mask multiply, and every
  loop bound is fixed. Shingle corpora are ~all single-block, so the
  common case is one group.
- the 64 rounds run on a fixed pool of five per-chunk uint32 buffers
  with ``out=``-form ufuncs — ZERO allocations per round. The MD5
  register rotation (a,b,c,d) → (d, b+rotl(f,s), b, c) is pure name
  rebinding: the new ``b`` is computed into the old ``a``'s buffer,
  which that round frees.
- message words are transposed to (16·blocks, k) so each round's
  ``x[g]`` read is a contiguous row, not a 64-byte-strided column
  (measured ~3× faster).
- chunks of 2^13 messages keep the working set (5 register buffers +
  the 16-row word matrix ≈ 0.7 MB) L2-resident PER CORE: with a 2^16
  chunk the ~5.5 MB working set spilled to the shared L3 and 32
  parallel workers fought for DRAM bandwidth — a paired 32-process
  stress test measured per-task medians of 0.39 s (2^13) vs parity-
  with-hashlib (2^16) on 500k grams/task.

All arithmetic is ``np.uint32`` with wraparound (RFC 1321 mod-2^32
semantics); little-endian word reads match the x86 buffers Arrow hands
us, so the uint32 view of the padded matrix needs no byteswap.
"""
from __future__ import annotations

import numpy as np

_U32 = np.uint32

# RFC 1321 T-table: T[i] = floor(2^32 * abs(sin(i+1))). Transcribed, and
# every constant is exercised (any message runs all 64 rounds) by the
# hashlib pin in tests/test_md5_bitexact.py.
_K = [
    _U32(v)
    for v in (
        0xD76AA478, 0xE8C7B756, 0x242070DB, 0xC1BDCEEE,
        0xF57C0FAF, 0x4787C62A, 0xA8304613, 0xFD469501,
        0x698098D8, 0x8B44F7AF, 0xFFFF5BB1, 0x895CD7BE,
        0x6B901122, 0xFD987193, 0xA679438E, 0x49B40821,
        0xF61E2562, 0xC040B340, 0x265E5A51, 0xE9B6C7AA,
        0xD62F105D, 0x02441453, 0xD8A1E681, 0xE7D3FBC8,
        0x21E1CDE6, 0xC33707D6, 0xF4D50D87, 0x455A14ED,
        0xA9E3E905, 0xFCEFA3F8, 0x676F02D9, 0x8D2A4C8A,
        0xFFFA3942, 0x8771F681, 0x6D9D6122, 0xFDE5380C,
        0xA4BEEA44, 0x4BDECFA9, 0xF6BB4B60, 0xBEBFBC70,
        0x289B7EC6, 0xEAA127FA, 0xD4EF3085, 0x04881D05,
        0xD9D4D039, 0xE6DB99E5, 0x1FA27CF8, 0xC4AC5665,
        0xF4292244, 0x432AFF97, 0xAB9423A7, 0xFC93A039,
        0x655B59C3, 0x8F0CCC92, 0xFFEFF47D, 0x85845DD1,
        0x6FA87E4F, 0xFE2CE6E0, 0xA3014314, 0x4E0811A1,
        0xF7537E82, 0xBD3AF235, 0x2AD7D2BB, 0xEB86D391,
    )
]

# per-round message word index g and left-rotation s (RFC 1321 order)
_G = (
    list(range(16))
    + [(5 * i + 1) & 15 for i in range(16, 32)]
    + [(3 * i + 5) & 15 for i in range(32, 48)]
    + [(7 * i) & 15 for i in range(48, 64)]
)
_S = (
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)

_A0, _B0, _C0, _D0 = (_U32(v) for v in (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476))

_CHUNK = 1 << 13
# padded message bytes per chunk: the gather matrix, its positions and
# mask cost ~7 bytes per padded byte, so a chunk of multi-KB grams stays
# near 30 MB instead of _CHUNK rows x width (hundreds of MB at 4 KB).
# Messages under 504 bytes (8 blocks) still fill _CHUNK-row chunks.
_CHUNK_BYTES = 1 << 22


def _ab_chunk(x: np.ndarray, nblocks: int, regs, t: np.ndarray):
    """MD5 (A, B) registers for k padded messages whose little-endian
    words are laid out TRANSPOSED as a C-contiguous (nblocks*16, k)
    uint32 matrix ``x``. ``regs`` is a 4-buffer pool and ``t`` a scratch
    buffer, each (≥k,) uint32 — rounds run entirely in-place on them.

    Boolean identities used for the round functions (2–3 ufunc calls,
    no temporaries beyond ``t``):
      F(b,c,d) = (b&c)|(~b&d) = d ^ (b & (c ^ d))
      G(b,c,d) = (d&b)|(~d&c) = c ^ (d & (b ^ c))
      H(b,c,d) = b ^ c ^ d
      I(b,c,d) = c ^ (b | ~d)
    """
    k = x.shape[1]
    a, b, c, d = (r[:k] for r in regs)
    t = t[:k]
    a[:] = _A0
    b[:] = _B0
    c[:] = _C0
    d[:] = _D0
    # running digest state: for block m > 0 we need the previous A..D;
    # fold them by re-adding at block end into persistent copies
    if nblocks > 1:
        accA, accB, accC, accD = a.copy(), b.copy(), c.copy(), d.copy()
    for blk in range(nblocks):
        xb = x[blk * 16 : (blk + 1) * 16]
        for i in range(64):
            q = i >> 4
            if q == 0:
                np.bitwise_xor(c, d, out=t)
                np.bitwise_and(t, b, out=t)
                np.bitwise_xor(t, d, out=t)
            elif q == 1:
                np.bitwise_xor(b, c, out=t)
                np.bitwise_and(t, d, out=t)
                np.bitwise_xor(t, c, out=t)
            elif q == 2:
                np.bitwise_xor(b, c, out=t)
                np.bitwise_xor(t, d, out=t)
            else:
                np.bitwise_not(d, out=t)
                np.bitwise_or(t, b, out=t)
                np.bitwise_xor(t, c, out=t)
            t += a
            t += _K[i]
            t += xb[_G[i]]
            # b_new = b + rotl32(t, s), computed into a's buffer (its
            # value was consumed by `t += a`; new a is the old d)
            s = _U32(_S[i])
            np.left_shift(t, s, out=a)
            np.right_shift(t, _U32(32) - s, out=t)
            a |= t
            a += b
            a, b, c, d = d, a, b, c
        if nblocks > 1:
            accA += a
            accB += b
            accC += c
            accD += d
            if blk + 1 < nblocks:
                a[:] = accA
                b[:] = accB
                c[:] = accC
                d[:] = accD
            else:
                return accA, accB
    return a + _A0, b + _B0


def md5_prefix8(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """First 8 bytes of ``md5(data[starts[i] : starts[i]+lengths[i]])``
    for n byte strings sliced out of one flat uint8 buffer, each read
    BIG-endian as one uint64 — i.e. exactly
    ``int.from_bytes(hashlib.md5(s).digest()[:8], "big")``, which is the
    value the simhash md5 mode derives from Spark's ``md5()`` hex via
    ``conv``. Returns uint64 (n,).

    Digest bytes 0–3 / 4–7 are the little-endian A / B registers, so
    the big-endian uint64 is ``(byteswap32(A) << 32) | byteswap32(B)``.
    """
    n = len(starts)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    starts = starts.astype(np.int64, copy=False)
    lengths = lengths.astype(np.int64, copy=False)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    # messages needing B blocks: 64*(B-1) - 8 <= length < 64*B - 8
    nblk = (lengths + 72) // 64
    order = np.argsort(nblk, kind="stable")
    sorted_blk = nblk[order]
    bounds = np.flatnonzero(np.diff(sorted_blk)) + 1
    group_starts = np.concatenate(([0], bounds, [n]))
    regs = [np.empty(_CHUNK, dtype=np.uint32) for _ in range(4)]
    scratch = np.empty(_CHUNK, dtype=np.uint32)
    pdt = np.int32 if len(data) < 2**31 else np.int64
    with np.errstate(over="ignore"):
        for gi in range(len(group_starts) - 1):
            glo, ghi = group_starts[gi], group_starts[gi + 1]
            blocks = int(sorted_blk[glo])
            width = blocks * 64
            gather_w = width - 8  # longest message in this group fits
            col = np.arange(gather_w, dtype=pdt)
            rows = max(1, min(_CHUNK, _CHUNK_BYTES // width))
            for clo in range(glo, ghi, rows):
                idx = order[clo : min(clo + rows, ghi)]
                k = len(idx)
                glen = lengths[idx]
                mat = np.zeros((k, width), dtype=np.uint8)
                if len(data) and int(glen.max()) > 0:
                    mask = col < glen[:, None]  # (k, gather_w) bool
                    # clip BEFORE the add: lanes past a message's end read
                    # its last byte (zeroed below), so no lane exceeds
                    # len(data) - 1 and an int32 position cannot wrap
                    last = np.maximum(glen - 1, 0).astype(pdt)
                    pos = np.minimum(col, last[:, None])
                    base = np.minimum(starts[idx], len(data) - 1).astype(pdt)
                    pos += base[:, None]
                    np.take(data, pos, out=mat[:, :gather_w])
                    mat[:, :gather_w] *= mask
                mat[np.arange(k), glen] = 0x80
                mat.view("<u8")[:, -1] = (glen << 3).astype(np.uint64)
                x = np.ascontiguousarray(mat.view("<u4").T)
                A, B = _ab_chunk(x, blocks, regs, scratch)
                out[idx] = (
                    A.byteswap().astype(np.uint64) << np.uint64(32)
                ) | B.byteswap().astype(np.uint64)
    return out
