"""Vectorized 64-bit hash / RNG primitives (numpy, wraparound arithmetic).

Parity targets (public reference sources):
- WangHash mix: /root/reference/sketch/include/sketch/hash.h:42-63
- wyhash64 stateless step: /root/reference/sketch/include/aesctr/wy.h:45-59
  (state += 0x60bee2bee120fc15; mum(state ^ 0xe7037ed1a0b428db, state),
  mum = 128-bit multiply folded lo^hi)
- WyRand seeding: seed 0 maps to state 1337
  (/root/reference/sketch/include/aesctr/wy.h:113)
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_M32 = U64(0xFFFFFFFF)

WY_INC = U64(0x60BEE2BEE120FC15)
WY_XOR = U64(0xE7037ED1A0B428DB)
WY_ZERO_SEED = U64(1337)


def _u64(x) -> np.ndarray:
    return np.asarray(x, dtype=U64)


def wanghash64(key) -> np.ndarray:
    """Thomas Wang 64-bit invertible mix, vectorized.

    Bit-exact vs sketch/include/sketch/hash.h:42-53 (public domain mix).
    """
    key = _u64(key).copy()
    with np.errstate(over="ignore"):
        key = (~key) + (key << U64(21))
        key = key ^ (key >> U64(24))
        key = (key + (key << U64(3))) + (key << U64(8))
        key = key ^ (key >> U64(14))
        key = (key + (key << U64(2))) + (key << U64(4))
        key = key ^ (key >> U64(28))
        key = key + (key << U64(31))
    return key


def _wymum(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """128-bit multiply of two u64 arrays, folded lo ^ hi.

    numpy has no native u128; split into 32-bit halves. All intermediate
    sums fit in u64: (2^32-1)^2 + (2^32-1) < 2^64.
    """
    with np.errstate(over="ignore"):
        xl, xh = x & _M32, x >> U64(32)
        yl, yh = y & _M32, y >> U64(32)
        ll = xl * yl
        lh = xl * yh
        hl = xh * yl
        hh = xh * yh
        cross = lh + (ll >> U64(32))
        cross2 = hl + (cross & _M32)
        hi = hh + (cross >> U64(32)) + (cross2 >> U64(32))
        lo = x * y  # wraparound == low 64 bits
    return lo ^ hi


def wyhash64_stream(seed0, n_steps: int) -> np.ndarray:
    """wyhash64_stateless sequence, vectorized across seeds.

    ``seed0``: array of initial states (shape [N]); zero seeds are mapped
    to 1337 exactly as WyRand does. Returns shape [N, n_steps] uint64 —
    step j for every seed.
    """
    state = _u64(seed0).copy()
    state[state == U64(0)] = WY_ZERO_SEED
    out = np.empty(state.shape + (n_steps,), dtype=U64)
    with np.errstate(over="ignore"):
        for j in range(n_steps):
            state = state + WY_INC
            out[..., j] = _wymum(state ^ WY_XOR, state)
    return out


def splitmix64(x) -> np.ndarray:
    """SplitMix64 finalizer (public domain, Steele et al.) — used to
    scatter the polynomial shingle hash into a well-distributed u64."""
    z = _u64(x).copy()
    with np.errstate(over="ignore"):
        z = (z + U64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
        z = z ^ (z >> U64(31))
    return z


_POLY_M = U64(0x100000001B3)  # FNV-1a 64 prime as polynomial base

# precomputed powers of the base are tiny; cache per k
_POW_CACHE: dict[int, np.ndarray] = {}


def _poly_powers(k: int) -> np.ndarray:
    pw = _POW_CACHE.get(k)
    if pw is None:
        pw = np.empty(k, dtype=U64)
        acc = U64(1)
        with np.errstate(over="ignore"):
            for i in range(k - 1, -1, -1):
                pw[i] = acc
                acc = acc * _POLY_M
        _POW_CACHE[k] = pw
    return pw


def shingle_hashes(data: bytes | np.ndarray, k: int, dedup: bool = True) -> np.ndarray:
    """All overlapping k-byte shingles of ``data`` hashed to u64.

    hash(i) = splitmix64( sum_j data[i+j] * M^(k-1-j)  mod 2^64 ).
    Deterministic, shared verbatim by the Spark pipeline and the pure-
    Python oracle (parity requires only that both use the same map).

    This is the web-text analogue of the reference's rolling 31-mer
    extraction (/root/reference/src/build_sketch.cpp:62-92); stride 1,
    overlapping, window k. Returns the *deduplicated* shingle set by
    default (HLL and SuperMinHash adds are idempotent, so set semantics
    are safe — see SURVEY.md §1).
    """
    if isinstance(data, (bytes, bytearray, str)):
        if isinstance(data, str):
            data = data.encode("utf-8")
        arr = np.frombuffer(bytes(data), dtype=np.uint8)
    else:
        arr = np.asarray(data, dtype=np.uint8)
    n = arr.shape[0]
    if n < k:
        return np.empty(0, dtype=U64)
    nh = n - k + 1
    pw = _poly_powers(k)
    acc = np.zeros(nh, dtype=U64)
    a64 = arr.astype(U64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc += a64[j : j + nh] * pw[j]
    out = splitmix64(acc)
    if dedup:
        out = np.unique(out)
    return out


def shingle_hashes_batch(
    texts: list, k: int, chunk_windows: int = 131072
) -> tuple[np.ndarray, np.ndarray]:
    """Deduplicated shingle hashes for MANY documents, chunk-vectorized.

    Returns (items u64, doc_idx i64): the per-document shingle SETS,
    concatenated, with doc_idx ascending — exactly what the batched
    sketch kernels consume. Bit-identical to per-doc ``shingle_hashes``
    (same polynomial map, same per-doc dedup).

    Chunking (doc-boundary aligned, ~``chunk_windows`` rolling windows
    per chunk): a whole-batch pass allocates tens of MB of streaming
    temporaries, which this host's throttled fault/DRAM path makes
    SLOWER than per-doc numpy on cache-resident arrays (measured 14x).
    ~1 MB chunk temporaries stay in cache; the Python loop shrinks from
    one iteration per document to one per ~80 documents.
    """
    enc = [t.encode("utf-8") if isinstance(t, str) else bytes(t or b"") for t in texts]
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    n_docs = len(enc)
    nh_doc = np.maximum(lens - (k - 1), 0)
    total_windows = int(nh_doc.sum())
    if n_docs == 0 or total_windows == 0:
        return np.empty(0, dtype=U64), np.empty(0, dtype=np.int64)
    pw = _poly_powers(k)
    out_h = np.empty(total_windows, dtype=U64)
    out_d = np.empty(total_windows, dtype=np.int64)
    wpos = 0
    lo = 0
    with np.errstate(over="ignore"):
        while lo < n_docs:
            hi = lo + 1
            wins = int(nh_doc[lo])
            while hi < n_docs and wins + int(nh_doc[hi]) <= chunk_windows:
                wins += int(nh_doc[hi])
                hi += 1
            if wins == 0:
                lo = hi
                continue
            arr = np.frombuffer(b"".join(enc[lo:hi]), dtype=np.uint8)
            c_lens = lens[lo:hi]
            c_nh = nh_doc[lo:hi]
            n_win_all = arr.shape[0] - k + 1
            a64 = arr.astype(U64)
            acc = np.zeros(n_win_all, dtype=U64)
            for j in range(k):
                acc += a64[j : j + n_win_all] * pw[j]
            c_starts = np.cumsum(c_lens) - c_lens
            first = np.repeat(np.concatenate([[0], np.cumsum(c_nh)[:-1]]), c_nh)
            valid = np.repeat(c_starts, c_nh) + (
                np.arange(wins, dtype=np.int64) - first
            )
            hashes = splitmix64(acc[valid])
            didx = np.repeat(np.arange(lo, hi, dtype=np.int64), c_nh)
            # per-doc set dedup: sort by (doc, hash), drop repeats
            order = np.lexsort((hashes, didx))
            h_s, d_s = hashes[order], didx[order]
            keep = np.empty(wins, dtype=bool)
            keep[0] = True
            np.not_equal(h_s[1:], h_s[:-1], out=keep[1:])
            keep[1:] |= d_s[1:] != d_s[:-1]
            n_keep = int(keep.sum())
            out_h[wpos : wpos + n_keep] = h_s[keep]
            out_d[wpos : wpos + n_keep] = d_s[keep]
            wpos += n_keep
            lo = hi
    # slice views, not copies: a copy would fault another ~total_windows*8
    # bytes of fresh memory (slow path on this host); the base buffer is
    # the same allocation either way.
    return out_h[:wpos], out_d[:wpos]

