"""Batched (multi-document) sketch builders.

The per-item kernels in ``smh``/``hll`` are independent across items,
so a whole Arrow batch of documents is sketched in ONE numpy pass:
concatenate every document's shingle set, run the item-parallel kernel,
then segment-reduce (min / max) by document index. This is the
vectorization that replaces the reference's OpenMP dynamic-schedule
per-file loop (/root/reference/src/build_sketch.cpp:232-238) — and the
reason the Spark sketch stage has no per-row Python in the hot path.
"""

from __future__ import annotations

import numpy as np

from .hashes import wanghash64
from .hll import ertl_mle_batch, hll_ranks

U64 = np.uint64
_M32 = U64(0xFFFFFFFF)
_U64MAX = np.iinfo(np.uint64).max


def _walk_chunk(part: np.ndarray, didx: np.ndarray, m: int, depth: int, out_flat: np.ndarray) -> None:
    """Depth-limited swap walk for one chunk; segment-min results into
    ``out_flat`` (flattened [n_docs, m]).

    Correctness of truncation at ``depth``: every candidate produced at
    j >= depth has value >= (depth << 32), strictly larger than any
    candidate with j < depth — so it can only matter for (doc, slot)
    pairs that receive NO candidate at j < depth. The caller detects
    those docs and re-runs them at full depth.
    """
    n = part.shape[0]
    state = part.copy()
    state[state == U64(0)] = U64(1337)
    perm = np.broadcast_to(np.arange(m, dtype=np.int64), (n, m)).copy()
    rows = np.arange(n)
    wy_inc = U64(0x60BEE2BEE120FC15)
    wy_xor = U64(0xE7037ED1A0B428DB)
    from .hashes import _wymum

    with np.errstate(over="ignore"):
        for j in range(depth):
            state = state + wy_inc
            v = _wymum(state ^ wy_xor, state)
            kj = (v & _M32).astype(np.int64) & np.int64(m - 1)
            tmp = perm[rows, kj]
            perm[rows, kj] = perm[rows, j]
            perm[rows, j] = tmp
            vis = perm[:, j]
            vals = (U64(j) << U64(32)) | (v >> U64(32))
            # only the FIRST visit of a slot counts for this item; a
            # repeat visit has higher j and loses anyway, so plain
            # minimum.at is exact here.
            np.minimum.at(out_flat, didx * m + vis, vals)


def _walk_chunk_sparse(part: np.ndarray, didx: np.ndarray, m: int, depth: int, out_flat: np.ndarray) -> None:
    """Same walk as ``_walk_chunk`` but WITHOUT materializing the
    (n, m) permutation matrix.

    Fisher-Yates at depth d touches at most 2d positions per item, so
    the permutation is kept as a write history (wpos/wval, 2 entries
    per step) and lookups replay it with d vectorized compares —
    O(depth^2) tiny column ops instead of an 8·n·m-byte perm buffer
    per chunk (the perm init + swap gathers measured 73% of the SMH
    stage). Bit-identical: same draw sequence, same swap semantics
    (fixture-parity tests pin it).
    """
    n = part.shape[0]
    state = part.copy()
    state[state == U64(0)] = U64(1337)
    wy_inc = U64(0x60BEE2BEE120FC15)
    wy_xor = U64(0xE7037ED1A0B428DB)
    from .hashes import _wymum

    wpos = np.full((2 * depth, n), -1, dtype=np.int64)
    wval = np.empty((2 * depth, n), dtype=np.int64)

    def lookup(q: np.ndarray, upto: int) -> np.ndarray:
        val = q
        for s in range(upto):  # ascending: last matching write wins
            # np.where over boolean fancy indexing: ~10x on this host
            val = np.where(wpos[s] == q, wval[s], val)
        return val

    with np.errstate(over="ignore"):
        for j in range(depth):
            state = state + wy_inc
            v = _wymum(state ^ wy_xor, state)
            kj = (v & _M32).astype(np.int64) & np.int64(m - 1)
            jj = np.full(n, j, dtype=np.int64)
            a = lookup(kj, 2 * j)  # perm[kj] pre-swap
            b = lookup(jj, 2 * j)  # perm[j] pre-swap
            wpos[2 * j] = kj
            wval[2 * j] = b  # perm[kj] := perm[j]
            wpos[2 * j + 1] = jj
            wval[2 * j + 1] = a  # perm[j] := perm[kj]
            vis = a  # perm[j] after the swap
            vals = (U64(j) << U64(32)) | (v >> U64(32))
            # only the FIRST visit of a slot counts for this item; a
            # repeat visit has higher j and loses anyway, so plain
            # minimum.at is exact here.
            np.minimum.at(out_flat, didx * m + vis, vals)


def superminhash_batch(
    items: np.ndarray,
    doc_idx: np.ndarray,
    n_docs: int,
    m: int,
    chunk: int = 8192,
) -> np.ndarray:
    """SuperMinHash signatures for many documents at once.

    ``items``: concatenated u64 shingles of all docs (deduplicated per
    doc); ``doc_idx``: same-length int array mapping item -> document
    (ascending). Returns uint64[n_docs, m]. Bit-identical to per-doc
    ``smh.superminhash``.

    Two-phase: a shallow walk (4 columns) covers almost every (doc,
    slot) when docs have >> m items; docs with any uncovered slot are
    re-run deeper. This keeps the wyhash stream cost at ~4/m of the
    naive cost.
    """
    if m & (m - 1):
        raise ValueError(f"m must be a power of two, got {m}")
    items = np.asarray(items, dtype=U64)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    out = np.full(n_docs * m, _U64MAX, dtype=U64)

    has_items = np.zeros(n_docs, dtype=bool)
    has_items[doc_idx] = True

    depth = 4 if m >= 16 else m
    cur_items, cur_docs = items, doc_idx
    while True:
        # sparse history walk while depth^2 stays small vs the dense
        # (chunk, m) perm matrix; dense path for deep re-runs
        walk = _walk_chunk_sparse if depth * depth <= 2 * m else _walk_chunk
        for lo in range(0, cur_items.shape[0], chunk):
            walk(cur_items[lo : lo + chunk], cur_docs[lo : lo + chunk], m, depth, out)
        if depth >= m:
            break
        out2 = out.reshape(n_docs, m)
        redo = (out2 == _U64MAX).any(axis=1) & has_items
        if not redo.any():
            break
        sel = redo[cur_docs]
        cur_items = cur_items[sel]
        cur_docs = cur_docs[sel]
        out2[redo] = _U64MAX  # walk restarts from j=0; clear partials
        depth = min(m, depth * 4)
    return out.reshape(n_docs, m)


def hll_cards_encode_batch(
    items: np.ndarray,
    doc_idx: np.ndarray,
    n_docs: int,
    p: int,
    encoding: str = "sparse",
    doc_chunk: int = 256,
) -> tuple[np.ndarray, list[bytes]]:
    """Fused HLL fold + Ertl-MLE cardinality + register-blob encode,
    chunked by document.

    Equivalent to ``hll_batch`` -> ``cardinalities`` ->
    ``encode_registers_sparse`` (or dense ``tobytes``) but never
    materializes the full [n_docs, 2^p] register matrix: a reused
    [doc_chunk, 2^p] scratch (4 MB at p=14) is zeroed, scattered and
    encoded per chunk. Peak memory drops ~8x and the buffers stay
    cache-resident — the register matrix was the largest fresh
    allocation in the sketch stage, the class of traffic this host's
    fault throttle punishes under multi-worker contention. The
    histograms come from the nonzero registers the sparse encoding
    extracts anyway (bin 0 = 2^p - nnz), not from a second dense pass.
    Returns (cards float64[n_docs], blobs list[bytes]).
    """
    m = 1 << p
    items = np.asarray(items, dtype=U64)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    cards = np.empty(n_docs, dtype=np.float64)
    blobs: list[bytes] = [b""] * n_docs
    regs = np.empty((min(doc_chunk, max(n_docs, 1)), m), dtype=np.uint8)
    # items are grouped by ascending doc_idx: chunk boundaries via searchsorted
    for lo in range(0, n_docs, doc_chunk):
        hi = min(lo + doc_chunk, n_docs)
        cnk = hi - lo
        r = regs[:cnk]
        r.fill(0)
        i0 = np.searchsorted(doc_idx, lo, side="left")
        i1 = np.searchsorted(doc_idx, hi, side="left")
        if i1 > i0:
            h = wanghash64(items[i0:i1])
            idx, rank = hll_ranks(h, p)
            flat = (doc_idx[i0:i1] - lo) * m + idx
            np.maximum.at(r.reshape(-1), flat, rank)
        nz_r, nz_c, ranks, offs = _nonzero_registers(r)
        hist = np.bincount(nz_r * 64 + ranks, minlength=cnk * 64).reshape(cnk, 64)
        hist[:, 0] = m - np.diff(offs)
        cards[lo:hi] = ertl_mle_batch(hist, p)
        if encoding == "sparse":
            blobs[lo:hi] = _encode_sparse_rows(r, nz_c, ranks, offs)
        else:
            for j in range(cnk):
                blobs[lo + j] = r[j].tobytes()
    return cards, blobs


def hll_batch(items: np.ndarray, doc_idx: np.ndarray, n_docs: int, p: int) -> np.ndarray:
    """HLL register files for many documents at once (uint8[n_docs, 2^p]).

    Applies WangHash then scatter-max into each doc's register file.
    Bit-identical to per-doc ``hll.hll_build``.
    """
    m = 1 << p
    regs = np.zeros((n_docs, m), dtype=np.uint8)
    items = np.asarray(items, dtype=U64)
    if items.size:
        h = wanghash64(items)
        idx, rank = hll_ranks(h, p)
        flat = np.asarray(doc_idx, dtype=np.int64) * m + idx
        np.maximum.at(regs.reshape(-1), flat, rank)
    return regs


def register_histograms(regs: np.ndarray, chunk: int = 256) -> np.ndarray:
    """Per-row 64-bin histograms of register files, chunked with a
    reused int32 scratch buffer.

    A whole-matrix ``astype(int64)`` would allocate rows*2^p*8 bytes of
    FRESH memory per call — measured pathologically slow under this
    host's page-fault throttling (~50s for 655MB). Chunking bounds the
    scratch to chunk*2^p*4 bytes, faulted once and reused.
    """
    n, m = regs.shape
    hist = np.empty((n, 64), dtype=np.int64)
    buf = np.empty((min(chunk, n), m), dtype=np.int32)
    offs = (np.arange(min(chunk, n), dtype=np.int32) * 64)[:, None]
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        cnk = hi - lo
        b = buf[:cnk]
        np.add(regs[lo:hi], offs[:cnk], out=b, casting="unsafe")
        hist[lo:hi] = np.bincount(b.ravel(), minlength=cnk * 64).reshape(cnk, 64)
    return hist


def cardinalities(regs: np.ndarray, p: int) -> np.ndarray:
    """Ertl-MLE per register file; regs shape [n_docs, 2^p]."""
    hist = register_histograms(regs)
    return ertl_mle_batch(hist, p)


def encode_registers_sparse(regs: np.ndarray) -> list[bytes]:
    """Sparse HLL register encoding: u32 nnz + u16 indices + u8 ranks.

    A p=14 register file is 16 KiB dense, but a document with d distinct
    shingles touches at most d registers — web documents (10^2..10^5
    shingles) leave most registers zero, so sparse cuts the bytes moved
    through Arrow/shuffles ~3-10x. Lossless: decode_registers inverts
    exactly; all estimator decisions are unchanged.

    Disambiguation invariant: a sparse blob (4 + 3*nnz bytes) is always
    STRICTLY SHORTER than the dense layout (2^p bytes); rows dense
    enough that sparse wouldn't win fall back to the dense layout, so
    decode_registers' len(blob) == 2^p dense check can never misparse a
    sparse blob (a sparse row with nnz == (2^p - 4) / 3 is also exactly
    2^p bytes).
    """
    return _encode_sparse_rows(regs, *_nonzero_registers(regs)[1:])


def _nonzero_registers(regs: np.ndarray):
    """Set registers of each row: (row, col, rank, CSR row offsets)."""
    nz_r, nz_c = np.nonzero(regs)
    offs = np.zeros(regs.shape[0] + 1, dtype=np.int64)
    np.cumsum(np.bincount(nz_r, minlength=regs.shape[0]), out=offs[1:])
    return nz_r, nz_c, regs[nz_r, nz_c], offs


def _encode_sparse_rows(regs, nz_c, ranks, offs) -> list[bytes]:
    m = regs.shape[1]
    idx16 = nz_c.astype("<u2")
    out = []
    for i in range(regs.shape[0]):
        lo, hi = offs[i], offs[i + 1]
        if 4 + 3 * (hi - lo) >= m:  # sparse not strictly shorter -> dense
            out.append(regs[i].tobytes())
            continue
        out.append(
            np.uint32(hi - lo).tobytes()
            + idx16[lo:hi].tobytes()
            + ranks[lo:hi].tobytes()
        )
    return out


def _parse_distinct(blobs_a, blobs_b, m: int):
    """Parse each DISTINCT register blob once, keyed by content.

    Returns (ua, ub, offs, idx, rank, dense, hist): per-pair ids into
    the distinct blobs; CSR set registers (offs[u]:offs[u+1] slices
    ``idx``/``rank``); one dense 2^p row and one 64-bin histogram per
    distinct blob (bin 0 = 2^p - nnz).
    """
    ids: dict[bytes, int] = {}
    uniq: list[bytes] = []

    def intern(blobs) -> np.ndarray:
        out = np.empty(len(blobs), dtype=np.int64)
        for i, b in enumerate(blobs):
            b = bytes(b)
            u = ids.get(b)
            if u is None:
                u = ids[b] = len(uniq)
                uniq.append(b)
            out[i] = u
        return out

    ua, ub = intern(blobs_a), intern(blobs_b)
    n_u = len(uniq)
    dense = np.zeros((n_u, m), dtype=np.uint8)
    idx_parts, rank_parts = [], []
    for u, b in enumerate(uniq):
        if len(b) == m:  # dense layout
            row = dense[u]
            row[:] = np.frombuffer(b, dtype=np.uint8)
            ix = np.flatnonzero(row)
            idx_parts.append(ix)
            rank_parts.append(row[ix])
            continue
        c = int(np.frombuffer(b, "<u4", 1, 0)[0])
        ix = np.frombuffer(b, "<u2", c, 4)
        rk = np.frombuffer(b, np.uint8, c, 4 + 2 * c)
        dense[u, ix] = rk
        idx_parts.append(ix)
        rank_parts.append(rk)
    lens = np.fromiter((x.size for x in idx_parts), dtype=np.int64, count=n_u)
    offs = np.zeros(n_u + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    idx = np.concatenate(idx_parts) if n_u else np.empty(0, np.int64)
    rank = np.concatenate(rank_parts) if n_u else np.empty(0, np.uint8)
    owner = np.repeat(np.arange(n_u, dtype=np.int64), lens)
    hist = np.bincount(owner * 64 + rank, minlength=n_u * 64).reshape(n_u, 64)
    hist[:, 0] += m - lens
    return ua, ub, offs, idx, rank, dense, hist


def union_histograms(blobs_a, blobs_b, p: int) -> np.ndarray:
    """Per-pair 64-bin histograms of the register-max union of two
    register blobs (sparse or dense layout) -> int64 [n_pairs, 64].

    Bit-identical to ``register_histograms(np.maximum(decode_registers(
    blobs_a, p), decode_registers(blobs_b, p)))`` but never touches the
    zero registers: each pair starts from its denser side's histogram
    and moves only the sparser side's set registers that beat the
    denser side's value (bin old -1, bin new +1). Distinct blobs are
    parsed once per call, keyed by content (not by any id, which a
    caller may let collide). Pairs run in chunks of about 2^18
    sparser-side registers, so peak memory is the distinct blobs' dense
    rows (at most two [n_pairs, 2^p] uint8 matrices) plus a fixed
    scratch.
    """
    m = 1 << p
    n = len(blobs_a)
    ua, ub, offs, idx, rank, dense, hist_u = _parse_distinct(blobs_a, blobs_b, m)
    lens = np.diff(offs)
    a_denser = lens[ua] >= lens[ub]
    d = np.where(a_denser, ua, ub)
    s = np.where(a_denser, ub, ua)
    out = hist_u[d]
    s_len = lens[s]
    s_end = np.cumsum(s_len)
    dflat = dense.reshape(-1)
    lo = 0
    while lo < n:
        budget_end = s_end[lo] - s_len[lo] + (1 << 18)
        hi = max(lo + 1, int(np.searchsorted(s_end, budget_end, side="right")))
        cl = s_len[lo:hi]
        # the sparser sides' set registers, pair after pair
        spans = [slice(offs[u], offs[u + 1]) for u in s[lo:hi].tolist()]
        ix = np.concatenate([idx[sp] for sp in spans])
        new = np.concatenate([rank[sp] for sp in spans])
        old = dflat[np.repeat(d[lo:hi] * m, cl) + ix]
        # few registers move (near-duplicates share most), so find them
        # first and map each back to its pair
        up = np.flatnonzero(new > old)
        key = np.searchsorted(np.cumsum(cl), up, side="right") * 64
        nb = (hi - lo) * 64
        out[lo:hi] += (
            np.bincount(key + new[up], minlength=nb)
            - np.bincount(key + old[up], minlength=nb)
        ).reshape(hi - lo, 64)
        lo = hi
    return out


def decode_registers(blobs, p: int) -> np.ndarray:
    """Inverse of encode_registers_sparse -> dense uint8 [n, 2^p].

    Also accepts dense 2^p-byte blobs (auto-detected by length), so
    warehouse tables written in dense mode verify identically.
    """
    m = 1 << p
    n = len(blobs)
    dense = np.zeros((n, m), dtype=np.uint8)
    for i, b in enumerate(blobs):
        b = bytes(b)
        if len(b) == m:  # dense layout
            dense[i] = np.frombuffer(b, dtype=np.uint8)
            continue
        c = int(np.frombuffer(b, "<u4", 1, 0)[0])
        idx = np.frombuffer(b, "<u2", c, 4)
        rank = np.frombuffer(b, np.uint8, c, 4 + 2 * c)
        dense[i, idx] = rank
    return dense
