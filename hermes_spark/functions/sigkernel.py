"""Arrow/numpy MinHash signature kernel behind
``operators.minhash_signatures``.

The same signatures as an expression,
``functions.minhash_signature(shingles(text, n), ...)``, cost ~97%
interpreted higher-order lambdas (round 9, 500k docs, 32 hashes): the
``transform(sequence, substr)`` shingle generator alone costs 34.6 s
against a 1.0 s scan, and the 32 ``array_min(transform(...))``
permutation minima cost several times that again.  Base hashing
(xxhash64, a JVM intrinsic) adds ~0.5 s — the CPU is interpreter
overhead, not hashing.  This module computes the identical signatures
in one Arrow-batched pass: Python slicing for shingles (~100
ns/shingle), a vectorized XXH64 over the batch's unique shingles, and
``np.minimum.reduceat`` for the permutation minima (~1 ns/element
instead of ~310 ns interpreted).

Bit-identical contract (tested against that public expression in
``tests/test_round9.py``):

* shingling: character n-grams; strings with ``len(text) <= n`` yield
  the whole string as the single shingle; ``None`` text yields the
  expression's all-null signature.
* portable base hash: first 8 hex chars of md5(UTF-8) as an integer,
  mod 2^31-1 — byte-for-byte the DuckDB-checkable recipe in
  ``functions/hashing.py``.
* fast base hash: ``abs(xxhash64(utf8, seed)) % (2^31-1)`` with JVM
  semantics (abs wraps at Long.MIN_VALUE; ``%`` is Java remainder).
  XXH64 is implemented here from the public spec (Collet, xxHash,
  BSD-2) and verified against Spark's expression on reference vectors.
* permutation minima: ``min((a_i*h + b_i) mod (2^31-1))`` over the
  doc's shingle hashes, exact int64 arithmetic (products < 2^62 —
  no overflow), same ``permutation_params`` coefficient stream.

Scale design: the kernel is embarrassingly parallel per Arrow batch —
no state, no shuffle; ``plans.rebalance_for_cpu`` upstream keeps every
core fed on narrow inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np

from .hashing import MERSENNE31, permutation_params

__all__ = [
    "xxh64_np",
    "hash31_np",
    "signatures_for_texts",
    "signatures_from_arrow",
]

# --- vectorized single-block MD5 (round 13, guide §4.2) ---------------
# The portable recipe hashes SHORT messages (shingles / tokens, almost
# always < 56 bytes = one padded MD5 block), and the per-unique-shingle
# `hashlib.md5` Python loop was the measured gap between the portable
# and xxhash64 bench twins (minhash_lsh_pairs 5.7 s vs minhash_fast_hash
# 2.6 s at sf0.1).  One MD5 block is 64 fixed rounds of 32-bit adds /
# rotates — fully vectorizable over the message axis.  Verified
# bit-identical to hashlib on random messages for every width 0..55
# (tests/test_round13_opt.py).
_MD5_K = np.array(
    [
        0xD76AA478, 0xE8C7B756, 0x242070DB, 0xC1BDCEEE, 0xF57C0FAF,
        0x4787C62A, 0xA8304613, 0xFD469501, 0x698098D8, 0x8B44F7AF,
        0xFFFF5BB1, 0x895CD7BE, 0x6B901122, 0xFD987193, 0xA679438E,
        0x49B40821, 0xF61E2562, 0xC040B340, 0x265E5A51, 0xE9B6C7AA,
        0xD62F105D, 0x02441453, 0xD8A1E681, 0xE7D3FBC8, 0x21E1CDE6,
        0xC33707D6, 0xF4D50D87, 0x455A14ED, 0xA9E3E905, 0xFCEFA3F8,
        0x676F02D9, 0x8D2A4C8A, 0xFFFA3942, 0x8771F681, 0x6D9D6122,
        0xFDE5380C, 0xA4BEEA44, 0x4BDECFA9, 0xF6BB4B60, 0xBEBFBC70,
        0x289B7EC6, 0xEAA127FA, 0xD4EF3085, 0x04881D05, 0xD9D4D039,
        0xE6DB99E5, 0x1FA27CF8, 0xC4AC5665, 0xF4292244, 0x432AFF97,
        0xAB9423A7, 0xFC93A039, 0x655B59C3, 0x8F0CCC92, 0xFFEFF47D,
        0x85845DD1, 0x6FA87E4F, 0xFE2CE6E0, 0xA3014314, 0x4E0811A1,
        0xF7537E82, 0xBD3AF235, 0x2AD7D2BB, 0xEB86D391,
    ],
    dtype=np.uint32,
)
_MD5_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)
_MD5_G = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)]
)
#: rows per vectorized MD5 chunk — 16k rows × 64-byte blocks ≈ 1 MB,
#: L2-resident under 32-way task concurrency (same sizing rationale as
#: the `_sigs_from_codes` occurrence chunks)
_MD5_CHUNK = 1 << 14


def md5_prefix32(buf: np.ndarray) -> np.ndarray:
    """``int(md5(row).hexdigest()[:8], 16)`` for every row of an
    ``(n, w)`` uint8 array with ``w <= 55`` — vectorized single-block
    MD5, bit-identical to hashlib (2.6-4.3× faster single-threaded at
    vocabulary-chunk sizes, and no per-row Python)."""
    n, w = buf.shape
    if w > 55:  # would need multi-block padding — callers guard this
        raise ValueError(f"md5_prefix32 requires width <= 55, got {w}")
    out = np.empty(n, dtype=np.int64)
    for c0 in range(0, n, _MD5_CHUNK):
        c1 = min(c0 + _MD5_CHUNK, n)
        m = c1 - c0
        block = np.zeros((m, 64), dtype=np.uint8)
        block[:, :w] = buf[c0:c1]
        block[:, w] = 0x80
        bitlen = w * 8  # < 2^16 for w <= 55
        block[:, 56] = bitlen & 0xFF
        block[:, 57] = (bitlen >> 8) & 0xFF
        M = block.view("<u4").reshape(m, 16)
        a = np.full(m, 0x67452301, dtype=np.uint32)
        b = np.full(m, 0xEFCDAB89, dtype=np.uint32)
        c = np.full(m, 0x98BADCFE, dtype=np.uint32)
        d = np.full(m, 0x10325476, dtype=np.uint32)
        A0 = a.copy()
        with np.errstate(over="ignore"):
            for i in range(64):
                if i < 16:
                    f = (b & c) | (~b & d)
                elif i < 32:
                    f = (d & b) | (~d & c)
                elif i < 48:
                    f = b ^ c ^ d
                else:
                    f = c ^ (b | ~d)
                f = f + a + _MD5_K[i] + M[:, _MD5_G[i]]
                a = d
                d = c
                c = b
                s = _MD5_S[i]
                b = b + ((f << np.uint32(s)) | (f >> np.uint32(32 - s)))
            A0 += a
        # digest bytes 0..3 are A0 little-endian; hexdigest()[:8] reads
        # them big-endian, so the parsed integer is byteswap32(A0)
        out[c0:c1] = A0.byteswap().astype(np.int64)
    return out


_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_MASK64 = (1 << 64) - 1


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round64(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    acc = acc + lane * _P2
    return _rotl(acc, 31) * _P1


def _le_u64(buf: np.ndarray, off: int) -> np.ndarray:
    """Little-endian uint64 read at byte offset ``off`` of every row of
    a (k, L) uint8 matrix — endianness-independent byte assembly."""
    out = buf[:, off].astype(np.uint64)
    for i in range(1, 8):
        out |= buf[:, off + i].astype(np.uint64) << np.uint64(8 * i)
    return out


def _le_u32(buf: np.ndarray, off: int) -> np.ndarray:
    out = buf[:, off].astype(np.uint64)
    for i in range(1, 4):
        out |= buf[:, off + i].astype(np.uint64) << np.uint64(8 * i)
    return out


def xxh64_np(buf: np.ndarray, seed) -> np.ndarray:
    """XXH64 of ``k`` same-length byte strings: ``buf`` is (k, L) uint8,
    result is (k,) uint64.  ``seed`` is a Python int or a (k,) uint64
    array (per-row seeds — how multi-field hashes chain).  Matches the
    reference xxHash (Collet) and Spark's per-field hashing (verified
    on Spark-produced vectors in tests)."""
    k, length = buf.shape if buf.ndim == 2 else (buf.shape[0], 0)
    if isinstance(seed, np.ndarray):
        seed64 = seed.astype(np.uint64, copy=False)
    else:
        seed64 = np.uint64(seed & _MASK64)
    pos = 0
    if length >= 32:
        # uint64 wrap-around is the algorithm; precomputed Python-int
        # constants avoid numpy's overflow RuntimeWarning
        c12 = np.uint64((int(_P1) + int(_P2)) & _MASK64)
        cneg1 = np.uint64((-int(_P1)) & _MASK64)
        v1 = np.broadcast_to(seed64, (k,)) + c12
        v2 = np.broadcast_to(seed64, (k,)) + _P2
        v3 = np.broadcast_to(seed64, (k,)).copy()
        v4 = np.broadcast_to(seed64, (k,)) + cneg1
        while pos + 32 <= length:
            v1 = _round64(v1, _le_u64(buf, pos))
            v2 = _round64(v2, _le_u64(buf, pos + 8))
            v3 = _round64(v3, _le_u64(buf, pos + 16))
            v4 = _round64(v4, _le_u64(buf, pos + 24))
            pos += 32
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ _round64(np.zeros(k, np.uint64), v)) * _P1 + _P4
    else:
        h = np.broadcast_to(seed64, (k,)) + _P5
    h = h + np.uint64(length)
    while pos + 8 <= length:
        h ^= _round64(np.zeros(k, np.uint64), _le_u64(buf, pos))
        h = _rotl(h, 27) * _P1 + _P4
        pos += 8
    if pos + 4 <= length:
        h ^= _le_u32(buf, pos) * _P1
        h = _rotl(h, 23) * _P2 + _P3
        pos += 4
    while pos < length:
        h ^= buf[:, pos].astype(np.uint64) * _P5
        h = _rotl(h, 11) * _P1
        pos += 1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def hash31_np(strings: list, portable: bool, seed: int) -> np.ndarray:
    """``base_hash31`` of each string — (n,) int64 in [0, 2^31-1).

    Portable path: md5 via hashlib (C-backed, exact recipe match).
    Fast path: Spark's ``xxhash64(col, lit(seed))`` hashes TWO fields
    left-to-right — the string's UTF-8 bytes with the engine default
    seed 42, then the literal (int32 for int-range seeds) seeded by the
    first hash — so the kernel chains two vectorized :func:`xxh64_np`
    passes (strings grouped by byte length), then applies JVM
    abs/remainder.  Verified bit-identical on Spark-produced vectors.
    """
    import struct

    n = len(strings)
    out = np.empty(n, dtype=np.int64)
    if portable:
        # group by UTF-8 byte length and run the vectorized single-block
        # MD5 per group; >55-byte messages (multi-block) stay on hashlib
        by_len: dict = {}
        encoded_p = [s.encode("utf-8") for s in strings]
        for i, bb in enumerate(encoded_p):
            by_len.setdefault(len(bb), []).append(i)
        for length, idxs in by_len.items():
            if length > 55:
                for i in idxs:
                    h = hashlib.md5(encoded_p[i]).hexdigest()
                    out[i] = int(h[:8], 16) % MERSENNE31
                continue
            ii = np.asarray(idxs, dtype=np.int64)
            flat = b"".join(encoded_p[i] for i in idxs)
            bufp = np.frombuffer(flat, dtype=np.uint8).reshape(len(ii), length)
            out[ii] = md5_prefix32(bufp) % _M31
        return out
    lit = (
        struct.pack("<i", seed)
        if -(1 << 31) <= seed < (1 << 31)
        else struct.pack("<q", seed)
    )
    by_len: dict = {}
    encoded = [s.encode("utf-8") for s in strings]
    for i, b in enumerate(encoded):
        by_len.setdefault(len(b), []).append(i)
    for length, idxs in by_len.items():
        ii = np.asarray(idxs, dtype=np.int64)
        if length == 0:
            buf = np.zeros((len(ii), 0), dtype=np.uint8)
        else:
            flat = b"".join(encoded[i] for i in idxs)
            buf = np.frombuffer(flat, dtype=np.uint8).reshape(len(ii), length)
        inner = xxh64_np(buf, 42)
        litbuf = np.broadcast_to(
            np.frombuffer(lit, dtype=np.uint8), (len(ii), len(lit))
        )
        h = xxh64_np(litbuf, inner).view(np.int64)
        m = np.abs(h)  # wraps at int64 min, same as java.lang.Math.abs
        r = m % np.int64(MERSENNE31)  # numpy floored == java for m >= 0
        neg = m < 0  # only Long.MIN_VALUE: java remainder keeps its sign
        if neg.any():
            for j in np.nonzero(neg)[0]:
                a = int(m[j])  # java remainder: sign of the dividend
                r[j] = -((-a) % MERSENNE31)
        out[ii] = r
    return out


_M31 = np.int64(MERSENNE31)


def _mod_m31(x: np.ndarray) -> np.ndarray:
    """``x mod (2^31-1)`` for 0 <= x < 2^62 without integer division:
    Mersenne folding — ``x = hi*2^31 + lo ≡ hi + lo (mod 2^31-1)``.
    Two folds bring x under 2^32; one conditional subtract finishes.
    ~3x faster than ``%`` on int64 (no hardware divide)."""
    x = (x >> np.int64(31)) + (x & _M31)
    x = (x >> np.int64(31)) + (x & _M31)
    return np.where(x >= _M31, x - _M31, x)


def _perm_mins(
    hcat: np.ndarray, starts: np.ndarray, num_hashes: int, seed: int
) -> np.ndarray:
    """(docs, num_hashes) permutation minima over per-doc hash runs."""
    sig = np.empty((len(starts), num_hashes), dtype=np.int64)
    for i, (a, b) in enumerate(permutation_params(num_hashes, seed)):
        if len(starts):
            vals = _mod_m31(hcat * np.int64(a) + np.int64(b))
            sig[:, i] = np.minimum.reduceat(vals, starts)
    return sig


def _pack_codes(
    data: np.ndarray, row_starts: np.ndarray, row_lens: np.ndarray,
    shingle_n: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """Every shingle occurrence of the selected ASCII rows of a shared
    byte buffer, packed into one integer code, fully vectorized: one
    byte per char means shingle i of a row is bytes ``[i, i+n)``, so
    the big-endian packing is ``n`` shifted adds over the WHOLE buffer
    (no per-occurrence loop) followed by one gather of the valid start
    positions (windows crossing row boundaries are simply never
    selected — their starts are never generated).

    Returns ``(codes, per-row shingle counts)``; requires
    ``shingle_n <= 8`` (codes fit int64) and every selected row longer
    than the shingle.  ASCII bytes are < 0x80, so codes fit int32 for
    ``shingle_n <= 4`` — half the memory traffic of int64, which
    matters because this kernel runs on every core at once.
    """
    m = row_lens - (shingle_n - 1)  # shingles per row (all positive here)
    n_sh = int(m.sum())
    idx_t = np.int32 if len(data) < (1 << 31) else np.int64
    within = np.arange(n_sh, dtype=idx_t)
    first = np.zeros(len(row_starts), dtype=idx_t)
    if len(row_starts) > 1:
        np.cumsum(m[:-1], out=first[1:])
    within -= np.repeat(first, m.astype(idx_t))
    starts_b = np.repeat(row_starts.astype(idx_t), m.astype(idx_t)) + within
    code_t = np.int32 if shingle_n <= 4 else np.int64
    n_codes = len(data) - shingle_n + 1
    code_all = data[:n_codes].astype(code_t)
    for k in range(1, shingle_n):
        code_all <<= code_t(8)
        code_all |= data[k: n_codes + k]
    return code_all[starts_b], m


def _pack_codes_cp(
    cps: np.ndarray, row_starts: np.ndarray, row_lens: np.ndarray,
    shingle_n: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """Codepoint twin of :func:`_pack_codes` for the non-ASCII lane:
    ``cps`` is a flat uint32 CODEPOINT buffer (UTF-32 units, one per
    character), so the per-shingle pack shifts 21 bits per char
    (codepoints < 0x110000 < 2^21).  Requires ``shingle_n <= 3``
    (3 x 21 = 63 bits keeps codes positive int64); larger shingles on
    non-ASCII text stay on the dict-interned scalar lane."""
    m = row_lens - (shingle_n - 1)
    n_sh = int(m.sum())
    idx_t = np.int32 if len(cps) < (1 << 31) else np.int64
    within = np.arange(n_sh, dtype=idx_t)
    first = np.zeros(len(row_starts), dtype=idx_t)
    if len(row_starts) > 1:
        np.cumsum(m[:-1], out=first[1:])
    within -= np.repeat(first, m.astype(idx_t))
    starts_b = np.repeat(row_starts.astype(idx_t), m.astype(idx_t)) + within
    n_codes = len(cps) - shingle_n + 1
    code_all = cps[:n_codes].astype(np.int64)
    for k in range(1, shingle_n):
        code_all <<= np.int64(21)
        code_all |= cps[k: n_codes + k]
    return code_all[starts_b], m


def _hash31_of_cp_codes(
    uniq_codes: np.ndarray, shingle_n: int, portable: bool, seed: int
) -> np.ndarray:
    """``base_hash31`` of 21-bit-packed codepoint shingle codes: unpack
    the DISTINCT codes back to characters (every code is exactly
    ``shingle_n`` chars — no leading-zero ambiguity) and reuse the
    string hasher, which encodes UTF-8 and groups by byte length."""
    u = len(uniq_codes)
    cps = np.empty((u, shingle_n), dtype=np.uint32)
    for k in range(shingle_n):
        cps[:, shingle_n - 1 - k] = (
            (uniq_codes >> np.int64(21 * k)) & np.int64(0x1FFFFF)
        ).astype(np.uint32)
    strings = ["".join(map(chr, row)) for row in cps.tolist()]
    return hash31_np(strings, portable, seed)


def _sigs_from_codes(
    codes: np.ndarray,
    m: np.ndarray,
    shingle_n: int,
    num_hashes: int,
    portable: bool,
    seed: int,
    hash_of_codes=None,
) -> np.ndarray:
    """(rows, num_hashes) signature matrix from packed shingle codes.

    Designed for 32 concurrent worker processes: the naive
    per-permutation ``pv[inv]`` materialization moves ~3 GB/batch of
    DRAM traffic and collapses under full-core memory-bandwidth
    contention (measured 15x slowdown inside Spark vs standalone).
    Here everything is int32, the permutation table is built once over
    the batch's DISTINCT codes, and the gather+segmented-min runs over
    doc-aligned ~1 MB chunks with a reused ``out=`` buffer — the chunk
    stays in L2 across all ``num_hashes`` passes, so DRAM sees each
    occurrence index once.
    """
    ndocs = len(m)
    if ndocs == 0:
        return np.empty((0, num_hashes), dtype=np.int64)
    params = permutation_params(num_hashes, seed)
    seg = np.zeros(ndocs, dtype=np.int64)
    if ndocs > 1:
        np.cumsum(m[:-1], out=seg[1:])
    n_sh = int(m.sum())
    sig = np.empty((ndocs, num_hashes), dtype=np.int64)
    chunk = 1 << 18  # occurrences per chunk: 1 MB int32, L2/L3-resident
    buf = np.empty(chunk + int(m.max()), dtype=np.int32)
    d0 = 0
    while d0 < ndocs:
        d1 = int(np.searchsorted(seg, seg[d0] + chunk, side="right"))
        d1 = max(d1, d0 + 1)
        s0 = int(seg[d0])
        s1 = int(seg[d1]) if d1 < ndocs else n_sh
        local = seg[d0:d1] - s0
        # chunk-local dedup + hash + permutation table: the trigram
        # vocabulary of a ~256k-occurrence chunk is a few thousand
        # codes, so unique/inv/pv all fit in L2 and re-hashing the
        # shared vocabulary once per chunk is far cheaper than any
        # batch-global LUT (a 2^24-entry table plus millions of random
        # gathers over it thrashes every core's cache at once —
        # measured 14x per-op slowdown under 32-way concurrency)
        uniqc, inv = np.unique(codes[s0:s1], return_inverse=True)
        inv = inv.astype(np.int32, copy=False)
        h31u = (hash_of_codes or _hash31_of_codes)(
            uniqc.astype(np.int64), shingle_n, portable, seed
        )
        bv = buf[: s1 - s0]
        for i, (a, b) in enumerate(params):
            pv = _mod_m31(h31u * np.int64(a) + np.int64(b)).astype(
                np.int32, copy=False
            )
            np.take(pv, inv, out=bv)
            sig[d0:d1, i] = np.minimum.reduceat(bv, local)
        d0 = d1
    return sig


def _hash31_of_codes(
    uniq_codes: np.ndarray, shingle_n: int, portable: bool, seed: int
) -> np.ndarray:
    """``base_hash31`` of packed shingle codes (DISTINCT values only —
    the occurrence count is orders of magnitude larger)."""
    u = len(uniq_codes)
    buf = np.empty((u, shingle_n), dtype=np.uint8)
    for k in range(shingle_n):
        buf[:, shingle_n - 1 - k] = (uniq_codes >> np.int64(8 * k)) & np.int64(0xFF)
    if portable:
        # vectorized single-block MD5 (shingle_n <= 8 bytes per message)
        return md5_prefix32(buf) % _M31
    import struct

    lit = (
        struct.pack("<i", seed)
        if -(1 << 31) <= seed < (1 << 31)
        else struct.pack("<q", seed)
    )
    inner = xxh64_np(buf, 42)
    litbuf = np.broadcast_to(np.frombuffer(lit, dtype=np.uint8), (u, len(lit)))
    h = xxh64_np(litbuf, inner).view(np.int64)
    # JVM abs + remainder; Long.MIN_VALUE kept exact (scalar fixup)
    ha = np.abs(h)
    r = ha % _M31
    neg = ha < 0
    if neg.any():
        for j in np.nonzero(neg)[0]:
            r[j] = -((-int(ha[j])) % MERSENNE31)
    return r


#: padding sentinel for shingles shorter than n (whole-string shingles
#: of short texts): above every valid codepoint (<= 0x10FFFF), so a
#: padded code can never collide with a real n-char shingle's code
_SHINGLE_PAD = np.int64(0x1FFFFF)


def packed_shingles_from_arrow(texts_arr, shingle_n: int):
    """Distinct character n-grams of one Arrow string array as 21-bit
    codepoint-packed int64 codes (``shingle_n <= 3``), one sorted list
    per row — an INJECTIVE image of the string shingle set (round 13).

    ``functions.hashing.shingles`` (array<string>) is interpreted
    per-element (transform/sequence/substr lambdas + array_distinct),
    and downstream exact-Jaccard consumers only use intersection /
    union SIZES, which any injection preserves: each shingle is exactly
    n chars (codepoints < 0x110000 < 2^21, so n<=3 packs into a
    positive int64), and shorter whole-string shingles pad with a
    sentinel above the codepoint range.  Null text yields a null list
    (matching ``shingles(null)``); the distinct set is returned sorted
    (consumers are order-insensitive).  Returns a ``pyarrow.ListArray``
    of int64 aligned with the input rows.
    """
    import pyarrow as pa

    if shingle_n > 3:
        raise ValueError("packed shingles require shingle_n <= 3")
    if isinstance(texts_arr, pa.ChunkedArray):
        texts_arr = texts_arr.combine_chunks()
    n_rows = len(texts_arr)
    if not pa.types.is_string(texts_arr.type) and not pa.types.is_large_string(
        texts_arr.type
    ):
        texts_arr = texts_arr.cast(pa.string())
    off_dtype = (
        np.int64 if pa.types.is_large_string(texts_arr.type) else np.int32
    )
    bufs = texts_arr.buffers()
    off0 = texts_arr.offset
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[off0: off0 + n_rows + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    blen = np.diff(offs).astype(np.int64)
    if texts_arr.null_count:
        valid = np.asarray(texts_arr.is_valid())
    else:
        valid = np.ones(n_rows, dtype=bool)
    if len(data):
        cs = np.zeros(len(data) + 1, dtype=np.int64)
        np.cumsum(data >= 0x80, out=cs[1:])
        nonascii = cs[offs[1:].astype(np.int64)] - cs[offs[:-1].astype(np.int64)]
    else:
        nonascii = np.zeros(n_rows, dtype=np.int64)

    # one shared flat codepoint buffer for every valid row: ASCII rows
    # widen their byte span directly (byte == codepoint), non-ASCII
    # rows decode once via utf-32-le; row order in the buffer is input
    # order so segments stay contiguous
    row_cps: list = [None] * n_rows
    for r in range(n_rows):
        if not valid[r]:
            continue
        if nonascii[r] == 0:
            row_cps[r] = data[offs[r]: offs[r] + blen[r]].astype(np.uint32)
        else:
            s = texts_arr[r].as_py()
            row_cps[r] = np.frombuffer(s.encode("utf-32-le"), dtype="<u4")

    out_offsets = np.zeros(n_rows + 1, dtype=np.int64)
    all_codes: list = []
    total = 0
    for r in range(n_rows):
        cps = row_cps[r]
        if cps is None:
            out_offsets[r + 1] = total
            continue
        L = len(cps)
        if L <= shingle_n:
            code = np.int64(0)
            for k in range(shingle_n):
                c = np.int64(cps[k]) if k < L else _SHINGLE_PAD
                code = (code << np.int64(21)) | c
            codes = np.array([code], dtype=np.int64)
        else:
            n_codes = L - shingle_n + 1
            codes = cps[:n_codes].astype(np.int64)
            for k in range(1, shingle_n):
                codes = (codes << np.int64(21)) | cps[k: n_codes + k]
            codes = np.unique(codes)
        all_codes.append(codes)
        total += len(codes)
        out_offsets[r + 1] = total
    values = (
        np.concatenate(all_codes) if all_codes else np.empty(0, dtype=np.int64)
    )
    if valid.all():
        offsets_arr = pa.array(out_offsets, type=pa.int32())
        return pa.ListArray.from_arrays(offsets_arr, pa.array(values))
    # a null at offsets[i] marks list i as null (the final offset stays)
    offs_py = [
        None if i < n_rows and not valid[i] else int(out_offsets[i])
        for i in range(n_rows + 1)
    ]
    offsets_arr = pa.array(offs_py, type=pa.int32())
    return pa.ListArray.from_arrays(offsets_arr, pa.array(values))


def signatures_for_texts(
    texts,
    shingle_n: int,
    num_hashes: int,
    portable: bool,
    seed: int = 42,
):
    """MinHash signatures for a sequence of texts (one Arrow batch).

    Returns a list of per-doc signature lists (``None`` components for
    ``None`` texts — the expression's ``array_min(null)`` yields an
    all-null array, preserved so unions with expression-built
    signature stores stay consistent).

    Three lanes, merged in input order: ASCII docs longer than the
    shingle go through the fully-vectorized byte sliding-window lane
    (one byte per char — no Python per shingle); non-ASCII docs with
    ``shingle_n <= 3`` through the CODEPOINT lane (round 10: one
    ``utf-32-le`` encode per row, then the same vectorized
    pack/dedup/hash/min pipeline over 21-bit-packed codepoints — the
    pre-r10 dict-interned path forfeited the kernel's win exactly on
    multilingual corpora); the rest (short, null, non-ASCII with
    shingle_n > 3) through the dict-interned scalar lane.  Signature
    minima are per-doc, so lane assignment cannot change the result
    (property-tested against the expression all three ways).
    """
    ascii_i: list = []
    ascii_bufs: list = []
    cp_i: list = []
    cp_bufs: list = []
    other_i: list = []
    vectorizable = shingle_n <= 8  # packed byte codes fit int64
    cp_vectorizable = shingle_n <= 3  # 21-bit codepoints fit int64
    for d, t in enumerate(texts):
        if t is None or len(t) <= shingle_n:
            other_i.append(d)
        elif vectorizable and t.isascii():
            ascii_i.append(d)
            ascii_bufs.append(t.encode("ascii"))
        elif cp_vectorizable:
            cp_i.append(d)
            cp_bufs.append(t.encode("utf-32-le"))
        else:
            other_i.append(d)

    out: list = [None] * len(texts)
    if ascii_bufs:
        lens = np.fromiter(
            (len(b) for b in ascii_bufs), dtype=np.int64, count=len(ascii_bufs)
        )
        row_starts = np.zeros(len(ascii_bufs), dtype=np.int64)
        if len(ascii_bufs) > 1:
            np.cumsum(lens[:-1], out=row_starts[1:])
        data = np.frombuffer(b"".join(ascii_bufs), dtype=np.uint8)
        codes, m = _pack_codes(data, row_starts, lens, shingle_n)
        sig = _sigs_from_codes(codes, m, shingle_n, num_hashes, portable, seed)
        for row, d in enumerate(ascii_i):
            out[d] = sig[row].tolist()

    if cp_bufs:
        # utf-32-le units ARE codepoints: 4 bytes/char, so char count =
        # byte count / 4 and the flat buffer concatenates row spans
        lens = np.fromiter(
            (len(b) >> 2 for b in cp_bufs), dtype=np.int64, count=len(cp_bufs)
        )
        row_starts = np.zeros(len(cp_bufs), dtype=np.int64)
        if len(cp_bufs) > 1:
            np.cumsum(lens[:-1], out=row_starts[1:])
        cps = np.frombuffer(b"".join(cp_bufs), dtype="<u4")
        codes, m = _pack_codes_cp(cps, row_starts, lens, shingle_n)
        sig = _sigs_from_codes(
            codes, m, shingle_n, num_hashes, portable, seed,
            hash_of_codes=_hash31_of_cp_codes,
        )
        for row, d in enumerate(cp_i):
            out[d] = sig[row].tolist()

    if other_i:
        uniq: dict = {}
        doc_idx: list = []
        counts = np.empty(len(other_i), dtype=np.int64)
        for row, d in enumerate(other_i):
            t = texts[d]
            if t is None:
                counts[row] = 0
                continue
            if len(t) <= shingle_n:
                grams = (t,)
            else:
                grams = (
                    t[i:i + shingle_n] for i in range(len(t) - shingle_n + 1)
                )
            c = 0
            setd = uniq.setdefault
            for g in grams:
                doc_idx.append(setd(g, len(uniq)))
                c += 1
            counts[row] = c
        h31 = hash31_np(list(uniq), portable, seed)
        idx = np.asarray(doc_idx, dtype=np.int64)
        hcat = h31[idx] if len(idx) else np.empty(0, dtype=np.int64)
        starts = np.zeros(len(other_i), dtype=np.int64)
        if len(counts) > 1:
            np.cumsum(counts[:-1], out=starts[1:])
        nonempty = counts > 0
        sig = _perm_mins(hcat, starts[nonempty], num_hashes, seed)
        null_sig = [None] * num_hashes
        row_ne = 0
        for row, d in enumerate(other_i):
            if counts[row] > 0:
                out[d] = sig[row_ne].tolist()
                row_ne += 1
            else:
                out[d] = list(null_sig)
    return out


def signatures_from_arrow(
    texts_arr,
    shingle_n: int,
    num_hashes: int,
    portable: bool,
    seed: int = 42,
):
    """MinHash signatures of one Arrow string array, zero-copy.

    The ``mapInArrow`` hot path: ASCII rows are shingled DIRECTLY off
    the Arrow data buffer (byte offsets == char offsets), so no Python
    string is ever materialized for them — the packed-code pipeline of
    :func:`signatures_for_texts` runs on the buffer slice views.
    Non-ASCII / short / null rows fall back to the scalar lane via
    ``as_py()`` (same results, property-tested).  Returns a
    ``pyarrow.ListArray`` of int64 built from numpy in one call — no
    per-row Python on the way out either.
    """
    import pyarrow as pa

    if isinstance(texts_arr, pa.ChunkedArray):
        texts_arr = texts_arr.combine_chunks()
    n_rows = len(texts_arr)
    if not pa.types.is_string(texts_arr.type) and not pa.types.is_large_string(
        texts_arr.type
    ):
        texts_arr = texts_arr.cast(pa.string())
    off_dtype = (
        np.int64 if pa.types.is_large_string(texts_arr.type) else np.int32
    )
    bufs = texts_arr.buffers()
    off0 = texts_arr.offset
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[off0: off0 + n_rows + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    blen = np.diff(offs).astype(np.int64)
    if texts_arr.null_count:
        valid = np.asarray(texts_arr.is_valid())
    else:
        valid = np.ones(n_rows, dtype=bool)
    # a row is ASCII iff no byte >= 0x80 in its span: one cumsum over
    # the whole buffer, then a per-row range difference
    if len(data):
        cs = np.zeros(len(data) + 1, dtype=np.int64)
        np.cumsum(data >= 0x80, out=cs[1:])
        nonascii = cs[offs[1:].astype(np.int64)] - cs[offs[:-1].astype(np.int64)]
    else:
        nonascii = np.zeros(n_rows, dtype=np.int64)
    fast = valid & (nonascii == 0) & (blen > shingle_n) & (shingle_n <= 8)

    values = np.zeros((n_rows, num_hashes), dtype=np.int64)
    elem_null = np.zeros(n_rows, dtype=bool)  # rows whose components are null

    fast_idx = np.nonzero(fast)[0]
    if len(fast_idx):
        row_starts = offs[:-1].astype(np.int64)[fast_idx]
        codes, m = _pack_codes(data, row_starts, blen[fast_idx], shingle_n)
        sig = _sigs_from_codes(codes, m, shingle_n, num_hashes, portable, seed)
        values[fast_idx] = sig

    slow_idx = np.nonzero(~fast)[0]
    if len(slow_idx):
        slow_texts = [texts_arr[int(i)].as_py() for i in slow_idx]
        slow_sigs = signatures_for_texts(
            slow_texts, shingle_n, num_hashes, portable, seed
        )
        for row, d in enumerate(slow_idx):
            s = slow_sigs[row]
            if s and s[0] is None:
                elem_null[d] = True
            else:
                values[d] = s

    import pyarrow as pa  # noqa: F811 — local alias for clarity

    offsets = pa.array(
        np.arange(0, (n_rows + 1) * num_hashes, num_hashes, dtype=np.int32)
    )
    if elem_null.any():
        mask = np.repeat(elem_null, num_hashes)
        vals = pa.array(values.ravel(), mask=mask)
    else:
        vals = pa.array(values.ravel())
    return pa.ListArray.from_arrays(offsets, vals)
