"""Selection-criterion predicates: CB, hll_a, hll_an, smh_a.

Parity target: /root/reference/include/criteria_sketch.hpp (whole file).
Cardinalities enter as size_t-truncated values exactly like the oracle
binary (/root/reference/src/selection.cpp:275,280 assigns the double
report() into ``size_t e1, e2``).
"""

from __future__ import annotations

import math

import numpy as np

from .batch import register_histograms
from .hll import ertl_mle_batch, union_cardinality


def sigma(p: int) -> float:
    """HLL standard-error coefficient table (criteria_sketch.hpp:6-19).

    float32 arithmetic preserved (C++ ``float``)."""
    table = {4: 1.106, 5: 1.07, 6: 1.054, 7: 1.046}
    coef = table.get(p, 1.039)
    return float(np.float32(coef) / np.float32(math.sqrt(1 << p)))


def cb_select(tau: float, card_a: float, card_b: float) -> bool:
    """Cardinality-bound prune: keep iff card_a / card_b >= tau (a <= b).

    criteria_sketch.hpp:45-49."""
    gamma = float(card_a) / float(card_b)
    return gamma >= tau


def smh_a_select(v1: np.ndarray, v2: np.ndarray, n_rows: int, n_bands: int) -> bool:
    """Keep iff any band of r consecutive signature values matches
    (criteria_sketch.hpp:66-81)."""
    v1 = np.asarray(v1, dtype=np.uint64)
    v2 = np.asarray(v2, dtype=np.uint64)
    if n_rows * n_bands != v1.shape[0]:
        raise ValueError("bands*rows != signature size")
    eq = (v1 == v2).reshape(n_bands, n_rows)
    return bool(eq.all(axis=1).any())


def _cota_n(card_a: int, card_b: int, t_hat: float, p: int, z: float, order_n: int) -> float:
    """criteria_sketch.hpp:21-34 (hll_an correction term)."""
    gamma = float(card_a) / float(card_b)
    sigma_p = sigma(p)
    s = 0.0
    num = 1.0
    for _ in range(order_n):
        num *= z * sigma_p
        s += num
    minimo = min(1.0, (1.0 + z * sigma_p) * card_b / t_hat)
    return minimo * (1.0 + gamma) * s


def _kota_mas(card_a: int, card_b: int, t_hat: float, p: int, z: float) -> float:
    """criteria_sketch.hpp:36-43 (hll_a bound K+)."""
    gamma = float(card_a) / float(card_b)
    sigma_p = sigma(p)
    t_hat_mas = t_hat / (1.0 + z * sigma_p)
    return ((1.0 + gamma) * card_b - t_hat_mas) / t_hat_mas


def hll_a_select(
    tau: float,
    card_a: int,
    card_b: int,
    aux_regs_a: np.ndarray,
    aux_regs_b: np.ndarray,
    p: int,
    z: float = 1.96,
) -> bool:
    """criteria_sketch.hpp:60-64; note t_hat is size_t-truncated there."""
    t_hat = float(int(union_cardinality(aux_regs_a, aux_regs_b, p)))
    return _kota_mas(card_a, card_b, t_hat, p, z) >= tau


def hll_an_select(
    tau: float,
    card_a: int,
    card_b: int,
    aux_regs_a: np.ndarray,
    aux_regs_b: np.ndarray,
    p: int,
    z: float = 1.96,
    order_n: int = 1,
) -> bool:
    """criteria_sketch.hpp:52-58 (t_hat stays double here)."""
    t_hat = union_cardinality(aux_regs_a, aux_regs_b, p)
    j_hat = (card_a + card_b - t_hat) / t_hat
    c = _cota_n(card_a, card_b, t_hat, p, z, order_n)
    return (j_hat + c) >= tau


def aux_select_batch(
    criterion: str,
    tau: float,
    card_a: np.ndarray,
    card_b: np.ndarray,
    regs_a: np.ndarray,
    regs_b: np.ndarray,
    p: int,
    z: float = 1.96,
    order_n: int = 1,
) -> np.ndarray:
    """``hll_a_select`` / ``hll_an_select`` over a batch of pairs: bool
    keep mask. ``regs_a``/``regs_b`` are uint8 [n, 2^p] aux register
    rows, the cards size_t-truncated; either side may hold the larger
    card. Row for row the same float operations as the scalar forms."""
    t_hat = ertl_mle_batch(register_histograms(np.maximum(regs_a, regs_b)), p)
    ca = np.minimum(card_a, card_b).astype(np.float64)
    cb = np.maximum(card_a, card_b).astype(np.float64)
    gamma = ca / cb
    sigma_p = sigma(p)
    if criterion == "hll_a":
        t = np.floor(t_hat)  # size_t truncation (criteria_sketch.hpp:61)
        t_mas = t / (1.0 + z * sigma_p)
        return ((1.0 + gamma) * cb - t_mas) / t_mas >= tau
    if criterion == "hll_an":
        j_hat = (ca + cb - t_hat) / t_hat
        s = 0.0
        num = 1.0
        for _ in range(order_n):
            num *= z * sigma_p
            s += num
        minimo = np.minimum(1.0, (1.0 + z * sigma_p) * cb / t_hat)
        return (j_hat + minimo * (1.0 + gamma) * s) >= tau
    raise ValueError(f"no aux criterion {criterion!r}; hll_a or hll_an")
