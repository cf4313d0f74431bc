"""Hypothesis property tests for the numpy kernels (no Spark).

Complements the fixture-parity tests (which pin EXACT reference
artifacts) with randomized structural properties: batch kernels must
equal their per-doc references on arbitrary inputs, and the register
transport must roundtrip losslessly at every density.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from cuda_selection_criteria_spark.sketchlib.batch import (
    cardinalities,
    decode_registers,
    encode_registers_sparse,
    hll_batch,
    hll_cards_encode_batch,
    register_histograms,
    superminhash_batch,
    union_histograms,
)
from cuda_selection_criteria_spark.sketchlib.hashes import (
    shingle_hashes,
    shingle_hashes_batch,
)
from cuda_selection_criteria_spark.sketchlib.criteria import (
    aux_select_batch,
    hll_a_select,
    hll_an_select,
)
from cuda_selection_criteria_spark.sketchlib.hll import hll_build, hll_cardinality
from cuda_selection_criteria_spark.sketchlib.smh import superminhash

_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=120,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(_texts, st.sampled_from([4, 9, 16]))
def test_batch_shingling_equals_per_doc(texts, k):
    items, didx = shingle_hashes_batch(texts, k)
    for i, t in enumerate(texts):
        assert np.array_equal(np.sort(shingle_hashes(t, k)), items[didx == i])


_item_sets = st.lists(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=60),
    min_size=1,
    max_size=8,
)


@settings(max_examples=25, deadline=None)
@given(_item_sets, st.sampled_from([4, 16, 64]))
def test_smh_batch_equals_per_doc(sets, m):
    sets = [np.unique(np.array(s, dtype=np.uint64)) for s in sets]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = (
        np.concatenate([s for s in sets if s.size])
        if counts.sum()
        else np.empty(0, dtype=np.uint64)
    )
    didx = np.repeat(np.arange(len(sets), dtype=np.int64), counts)
    sigs = superminhash_batch(items, didx, len(sets), m)
    for i, s in enumerate(sets):
        if s.size:
            assert np.array_equal(sigs[i], superminhash(s, m)), i


@settings(max_examples=25, deadline=None)
@given(_item_sets, st.sampled_from([6, 8]))
def test_hll_fused_equals_per_doc(sets, p):
    sets = [np.unique(np.array(s, dtype=np.uint64)) for s in sets]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = (
        np.concatenate([s for s in sets if s.size])
        if counts.sum()
        else np.empty(0, dtype=np.uint64)
    )
    didx = np.repeat(np.arange(len(sets), dtype=np.int64), counts)
    regs = hll_batch(items, didx, len(sets), p)
    for i, s in enumerate(sets):
        assert np.array_equal(regs[i], hll_build(s, p)), i
    cards, blobs = hll_cards_encode_batch(items, didx, len(sets), p, doc_chunk=3)
    np.testing.assert_array_equal(cards, cardinalities(regs, p))
    np.testing.assert_array_equal(decode_registers(blobs, p), regs)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=256),
    st.sampled_from([6, 8]),
    st.randoms(use_true_random=False),
)
def test_register_roundtrip_any_density(nnz, p, rnd):
    m = 1 << p
    nnz = min(nnz, m)
    regs = np.zeros((1, m), dtype=np.uint8)
    idx = rnd.sample(range(m), nnz)
    for i in idx:
        regs[0, i] = rnd.randint(1, 60)
    blobs = encode_registers_sparse(regs)
    assert len(blobs[0]) <= m  # never larger than dense
    np.testing.assert_array_equal(decode_registers(blobs, p), regs)


# one document: (kind of fill, ship in the dense 2^p-byte layout?)
_docs = st.lists(
    st.tuples(st.sampled_from(["empty", "one", "sparse", "half", "full"]), st.booleans()),
    min_size=1,
    max_size=6,
)


@settings(max_examples=40, deadline=None)
@given(
    _docs,
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)), max_size=30),
    st.sampled_from([6, 14]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_union_histograms_equal_dense_reference(docs, pairs, p, seed):
    rng = np.random.default_rng(seed)
    m = 1 << p
    fill = {"empty": 0, "one": 1, "sparse": m // 16, "half": m // 2, "full": m}
    regs = np.zeros((len(docs), m), dtype=np.uint8)
    for i, (kind, _) in enumerate(docs):
        idx = rng.choice(m, size=fill[kind], replace=False)
        regs[i, idx] = rng.integers(1, 64 - p + 2, size=idx.size)
    sparse = encode_registers_sparse(regs)
    blobs = [regs[i].tobytes() if dense else sparse[i] for i, (_, dense) in enumerate(docs)]
    n = len(docs)
    pairs = [(a % n, b % n) for a, b in pairs]
    # always: a blob paired with itself, and blob 0 repeated across pairs
    pairs += [(0, 0)] + [(0, j) for j in range(n)] + [(j, 0) for j in range(n)]
    a = [blobs[i] for i, _ in pairs]
    b = [blobs[j] for _, j in pairs]
    ref = register_histograms(np.maximum(decode_registers(a, p), decode_registers(b, p)))
    got = union_histograms(a, b, p)
    assert got.dtype == ref.dtype
    np.testing.assert_array_equal(got, ref)


def test_union_histograms_no_pairs():
    assert union_histograms([], [], 14).shape == (0, 64)


def _aux_case(seed, criterion, p, n, tau, z, order_n):
    """n pairs of aux HLLs over overlapping random item sets, cards near
    each doc's own estimate -> (batch keep mask, scalar keep list)."""
    rng = np.random.default_rng(seed)
    pool = rng.integers(0, 2**63, size=800, dtype=np.uint64)
    regs, cards = [], []
    for _ in range(2 * n):
        items = rng.choice(pool, size=int(rng.integers(1, 600)), replace=False)
        r = hll_build(items, p)
        regs.append(r)
        cards.append(max(1, int(hll_cardinality(r, p) * rng.uniform(0.7, 1.3))))
    ra, rb = np.stack(regs[0::2]), np.stack(regs[1::2])
    ca, cb = np.array(cards[0::2]), np.array(cards[1::2])
    got = aux_select_batch(criterion, tau, ca, cb, ra, rb, p, z, order_n)
    expect = []
    for i in range(n):
        lo, hi = min(ca[i], cb[i]), max(ca[i], cb[i])
        if criterion == "hll_a":
            expect.append(hll_a_select(tau, lo, hi, ra[i], rb[i], p, z))
        else:
            expect.append(hll_an_select(tau, lo, hi, ra[i], rb[i], p, z, order_n))
    return got, expect


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from(["hll_a", "hll_an"]),
    st.sampled_from([4, 6, 8]),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from([0.5, 0.9, 1.0]),
    st.sampled_from([1.0, 1.96]),
    st.integers(min_value=1, max_value=3),
)
def test_aux_select_batch_equals_scalar(criterion, p, n, seed, tau, z, order_n):
    got, expect = _aux_case(seed, criterion, p, n, tau, z, order_n)
    assert got.dtype == np.bool_
    assert got.tolist() == expect


@pytest.mark.parametrize("criterion", ["hll_a", "hll_an"])
def test_aux_select_batch_keeps_and_drops(criterion):
    """Non-vacuous: on a fixed draw the predicate splits the pairs."""
    got, expect = _aux_case(3, criterion, 8, 300, 0.9, 1.96, 1)
    assert got.tolist() == expect
    assert got.any() and not got.all()


def test_aux_select_batch_rejects_other_criteria():
    one = np.ones((1, 16), dtype=np.uint8)
    with pytest.raises(ValueError):
        aux_select_batch("cb", 0.9, np.array([5]), np.array([5]), one, one, 4)
