"""Vectorized 64-bit hashing for sketch input.

The reference library mandates that callers pre-hash input with a strong
64-bit hash, recommending MurmurHash3 (/root/reference/hll.go:328-338,
README.md:59-64). Two input hashes are offered here:

- :func:`murmur3_x64_128_low64` — numpy-vectorized MurmurHash3 x64-128
  (Austin Appleby's public-domain algorithm), returning the low 64 bits.
  This matches Guava's Murmur3_128 / postgresql-hll's ``hll_hash_text`` at
  seed 0, giving cross-system sketch parity when the same inputs are fed
  to a postgresql-hll database.
- Spark's built-in ``xxhash64`` (JVM, whole-stage codegen) — the default
  *hot-path* hash in the Spark layer: hashing then never crosses into
  Python at all, only already-hashed int64 columns do. Any strong 64-bit
  hash satisfies the reference's contract.

Variable-length strings are vectorized by grouping rows into equal-byte-
length classes and hashing each class as an (n, L) uint8 matrix — no
per-row Python in the loop body, only per-length-class.

Also includes the murmur3 64-bit finalizer (util.go:244-252), used as a
cheap avalanche hash for already-integer columns and for deriving
independent hash functions in CMS/Bloom (Kirsch-Mitzenmacher).
"""

from __future__ import annotations

import numpy as np

# NOTE: every scalar operand below is a 0-d uint64 ndarray — numpy's
# np-scalar and python-int operand paths are 30-60x slower than an
# array-array ufunc loop on large operands.
def _u64(x: int) -> np.ndarray:
    return np.array(x, dtype=np.uint64)


_C1 = _u64(0x87C37B91114253D5)
_C2 = _u64(0x4CF5AD432745937F)
_M5 = _u64(5)
_A1 = _u64(0x52DCE729)
_A2 = _u64(0x38495AB5)
_F1 = _u64(0xFF51AFD7ED558CCD)
_F2 = _u64(0xC4CEB9FE1A85EC53)
_S33 = _u64(33)
_SHIFTS = {r: (_u64(r), _u64(64 - r)) for r in (27, 31, 33)}


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    left, right = _SHIFTS[r]
    return (x << left) | (x >> right)


def _fmix64(x: np.ndarray) -> np.ndarray:
    x = x ^ (x >> _S33)
    x = x * _F1
    x = x ^ (x >> _S33)
    x = x * _F2
    x = x ^ (x >> _S33)
    return x


def murmur3_finalizer_u64(x: np.ndarray) -> np.ndarray:
    """MurmurHash3 64-bit finalizer/avalanche step (util.go:244-252)."""
    return _fmix64(np.ascontiguousarray(x).view(np.uint64))


_F32_1 = np.array(0x85EBCA6B, dtype=np.uint32)
_F32_2 = np.array(0xC2B2AE35, dtype=np.uint32)


def murmur3_finalizer_u32(x: np.ndarray) -> np.ndarray:
    """MurmurHash3 32-bit finalizer/avalanche (fmix32), vectorized.

    Semantics-parity with the reference's murmur3Hash32 (util.go:262-269),
    which scrambles keys for its open-addressing int hash maps
    (int2byte_hashmap.go:101). This build replaces those hash tables with
    numpy arrays/dicts, so the finalizer is exposed as a general utility
    (and used as an independent secondary mix in tests).
    """
    if isinstance(x, np.ndarray):
        if x.dtype.itemsize != 4:
            raise ValueError(
                f"murmur3_finalizer_u32 needs 32-bit input, got {x.dtype} "
                "(a silent .view would return the wrong number of hashes)"
            )
        x = np.ascontiguousarray(x).view(np.uint32)
    else:
        x = np.asarray(x, dtype=np.uint32)
    x = x ^ (x >> np.uint32(16))
    x = x * _F32_1
    x = x ^ (x >> np.uint32(13))
    x = x * _F32_2
    x = x ^ (x >> np.uint32(16))
    return x


def _murmur3_padded_sorted(
    padded: np.ndarray, lens: np.ndarray, seed: int
) -> np.ndarray:
    """Kernel over a zero-padded (n, 16*k) row matrix sorted by length
    descending. Block b processes the contiguous prefix slice of rows
    whose length covers block b — no gathers anywhere; the python-level
    loop count is max(len)//16 regardless of length diversity. The zero
    padding doubles as the murmur tail padding, so tails need no masks.
    """
    n = len(lens)
    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)
    nblocks = lens // 16
    max_blocks = int(nblocks[0]) if n else 0
    lanes_all = padded.view("<u8")  # (n, 2*k) little-endian lanes
    for b in range(max_blocks):
        na = int(np.searchsorted(-nblocks, -(b + 1), side="right"))
        k1 = lanes_all[:na, 2 * b].astype(np.uint64)
        k2 = lanes_all[:na, 2 * b + 1].astype(np.uint64)
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        a1 = h1[:na]
        a2 = h2[:na]
        a1 ^= k1
        a1 = _rotl64(a1, 27)
        a1 += a2
        a1 = a1 * _M5 + _A1
        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        a2 ^= k2
        a2 = _rotl64(a2, 31)
        a2 += a1
        a2 = a2 * _M5 + _A2
        h1[:na] = a1
        h2[:na] = a2

    tail_len = lens & 15
    has_tail = tail_len > 0
    if has_tail.any():
        idx = np.nonzero(has_tail)[0]
        tb = (nblocks[idx] * 2).astype(np.int64)
        k1 = lanes_all[idx, tb].astype(np.uint64)
        k2 = lanes_all[idx, tb + 1].astype(np.uint64)
        long_tail = tail_len[idx] > 8
        if long_tail.any():
            k2m = k2.copy()
            k2m *= _C2
            k2m = _rotl64(k2m, 33)
            k2m *= _C1
            h2[idx] = np.where(long_tail, h2[idx] ^ k2m, h2[idx])
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        h1[idx] ^= k1

    lens64 = lens.astype(np.uint64)
    h1 ^= lens64
    h2 ^= lens64
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    return h1


# Reused zero-padded workspace for the string kernel. Fresh 10 MB
# np.zeros per 16k-row chunk page-faults in this sandbox's kernel and
# serializes under multi-worker load; one cached buffer per worker
# process (re-zeroed with a memset, which touches already-mapped pages)
# avoids that. Width is rounded up to reduce reallocation churn across
# batches with varying max string length.
_WORKSPACE: dict[str, np.ndarray] = {}

# Cap the cached buffer so a batch containing one long string (e.g.
# hashing whole documents) cannot pin 16384 rows x that width per worker
# for the process lifetime. 16384 rows x 2 KB = 32 MB; wider batches get
# a transient allocation sized to the actual row count instead.
_WS_MAX_BYTES = 32 << 20


def _padded_workspace(n: int, max16: int) -> np.ndarray:
    w = ((max16 + 255) // 256) * 256
    rows = max(n, 16384)
    if rows * w > _WS_MAX_BYTES:
        return np.zeros((n, max16), dtype=np.uint8)
    buf = _WORKSPACE.get("buf")
    if buf is None or buf.shape[0] < n or buf.shape[1] < w:
        buf = np.zeros((rows, w), dtype=np.uint8)
        _WORKSPACE["buf"] = buf
    else:
        buf[:n, :max16] = 0
    return buf[:n, :max16]


def murmur3_x64_128_low64(values, seed: int = 0) -> np.ndarray:
    """Low 64 bits of MurmurHash3 x64-128 over str/bytes values.

    ``values``: a pandas Series or sequence of str/bytes. Returns uint64.
    Vectorization: rows sorted by byte length, packed into one zero-padded
    matrix with per-length C-level copies, then hashed block-column by
    block-column over shrinking contiguous prefixes — no per-row Python
    and no fancy gathers in the hot loop.
    """
    import pandas as pd

    s = pd.Series(values)
    n = len(s)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    # bound the padded-matrix working set: large fresh allocations fault
    # pages in the kernel, which serializes under multi-worker load
    _CHUNK = 16384
    if n > _CHUNK:
        return np.concatenate(
            [
                murmur3_x64_128_low64(s.iloc[i : i + _CHUNK], seed)
                for i in range(0, n, _CHUNK)
            ]
        )
    first = s.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        encoded = s
    elif pd.api.types.is_string_dtype(s) or isinstance(first, str):
        encoded = s.str.encode("utf-8")  # C-level, no per-row Python
    else:
        encoded = s.astype(str).str.encode("utf-8")
    lengths = encoded.str.len().to_numpy(dtype=np.int64)
    order = np.argsort(-lengths, kind="stable")
    lens = lengths[order]
    max16 = max(16, int(-(-int(lens[0]) // 16) * 16)) if int(lens[0]) else 16
    padded = _padded_workspace(n, max16)
    enc_np = encoded.to_numpy()
    # equal lengths are adjacent after the sort: one contiguous reshape
    # assignment per distinct length (C memcpy, no per-row work)
    pos = 0
    while pos < n:
        length = int(lens[pos])
        end = int(np.searchsorted(-lens, -length, side="right"))
        if length > 0:
            blob = b"".join(enc_np[order[pos:end]])
            padded[pos:end, :length] = np.frombuffer(blob, dtype=np.uint8).reshape(
                end - pos, length
            )
        pos = end
    out = np.empty(n, dtype=np.uint64)
    out[order] = _murmur3_padded_sorted(padded, lens, seed)
    return out


def hash64_long(values: np.ndarray) -> np.ndarray:
    """Strong 64-bit hash of integer columns via the murmur3 finalizer."""
    return murmur3_finalizer_u64(np.ascontiguousarray(values, dtype=np.int64))


def murmur3_low64_from_buffers(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: int = 0
) -> np.ndarray:
    """MurmurHash3 x64-128 low64 straight from Arrow string buffers.

    ``data``: the contiguous utf-8 data buffer (uint8); ``starts``/
    ``lens``: per-row byte offsets and lengths into it. Same result as
    :func:`murmur3_x64_128_low64` but skips the Arrow->pandas object
    conversion AND the per-row utf-8 encode (Arrow strings are already
    utf-8): the only data movement is one gather per length class into
    the shared zero-padded workspace. This is the hot path of the
    mapInArrow sketch build (operators/agg.py).
    """
    n = len(lens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    _CHUNK = 16384
    if n > _CHUNK:
        return np.concatenate(
            [
                murmur3_low64_from_buffers(
                    data, starts[i : i + _CHUNK], lens[i : i + _CHUNK], seed
                )
                for i in range(0, n, _CHUNK)
            ]
        )
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    order = np.argsort(-lens, kind="stable")
    slens = lens[order]
    max16 = max(16, int(-(-int(slens[0]) // 16) * 16)) if int(slens[0]) else 16
    padded = _padded_workspace(n, max16)
    # int32 index matrices when the data buffer allows it: the gather
    # index is transient traffic on a DRAM-bound box, so halving its
    # width matters for long rows (int64 only beyond 2 GB buffers)
    idx_dtype = np.int32 if len(data) < 2**31 else np.int64
    pos = 0
    while pos < n:
        length = int(slens[pos])
        end = int(np.searchsorted(-slens, -length, side="right"))
        if length > 0:
            src = starts[order[pos:end]].astype(idx_dtype, copy=False)
            idx = src[:, None] + np.arange(length, dtype=idx_dtype)[None, :]
            padded[pos:end, :length] = data[idx]
        pos = end
    out = np.empty(n, dtype=np.uint64)
    out[order] = _murmur3_padded_sorted(padded, slens, seed)
    return out
