"""Pure-Python oracle: reference ``selection`` semantics over a
web-page corpus.

Single-process, no Spark. This encodes the oracle binary's exact
decision procedure (/root/reference/src/selection.cpp:241-300):
sort by Ertl-MLE cardinality ascending -> per ordered pair:
skip e2==0 -> CB else break -> smh_a band collision else continue ->
p=14 HLL union Jaccard >= tau -> emit. The Spark pipeline must
reproduce the emitted pair set (recall >= 0.99 per BASELINE.json).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .sketchlib import (
    cb_select,
    hll_build,
    hll_cardinality,
    lsh_params,
    smh_a_select,
    superminhash,
    union_cardinality,
)
from .sketchlib.hashes import shingle_hashes


CRITERIA = ("smh_a", "hll_a", "hll_an", "cb")


@dataclass(frozen=True)
class DedupConfig:
    tau: float = 0.9
    shingle_k: int = 31  # bytes, stride 1 (reference k=31 kmers)
    smh_m: int = 64  # signature length (fixture .smh64 family)
    hll_p: int = 14  # primary sketch precision (hard-coded in reference)
    criterion: str = "smh_a"  # smh_a | hll_a | hll_an | cb (reference -c flag)
    register_encoding: str = "sparse"  # sparse (transport-efficient) | dense (16KiB blobs)
    aux_p: int = 8  # aux HLL precision (256 B default -> p=8, selection.cpp:80)
    z_score: float = 1.96  # selection.cpp:76
    order_n: int = 1  # selection.cpp:77

    def __post_init__(self) -> None:
        if not 0.0 < self.tau <= 1.0:
            raise ValueError(f"tau must be in (0, 1], got {self.tau!r}")
        if self.criterion not in CRITERIA:
            raise ValueError(f"unknown criterion {self.criterion!r}; one of {CRITERIA}")
        if self.register_encoding not in ("sparse", "dense"):
            raise ValueError(
                f"unknown register_encoding {self.register_encoding!r}; sparse or dense"
            )

    @property
    def bands(self) -> tuple[int, int]:
        return lsh_params(self.smh_m, self.tau)


def doc_sketches(
    text: str, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray, float, np.ndarray | None]:
    """(hll14 registers, smh signature, cardinality, aux regs) per doc."""
    sh = shingle_hashes(text, cfg.shingle_k)
    regs = hll_build(sh, cfg.hll_p)
    sig = superminhash(sh, cfg.smh_m)
    card = hll_cardinality(regs, cfg.hll_p)
    aux = hll_build(sh, cfg.aux_p) if cfg.criterion in ("hll_a", "hll_an") else None
    return regs, sig, card, aux


def oracle_dup_pairs(
    docs: list[tuple[str, str]], cfg: DedupConfig = DedupConfig()
) -> list[tuple[str, str, float]]:
    """Reference-semantics duplicate pairs over [(url, text)].

    Returns (url_a, url_b, jaccard) in the oracle binary's emit order
    (outer ascending-cardinality rank), for any of the reference's
    criteria (selection.cpp -c flag).
    """
    from .sketchlib import hll_a_select, hll_an_select

    ents = []
    for url, text in docs:
        regs, sig, card, aux = doc_sketches(text, cfg)
        ents.append((url, card, regs, sig, aux))
    ents.sort(key=lambda e: (e[1], e[0]))  # stable tie-break by url
    n_bands, n_rows = cfg.bands

    out: list[tuple[str, str, float]] = []
    for i in range(len(ents) - 1):
        url1, c1, r1, s1, a1 = ents[i]
        e1 = int(c1)  # size_t truncation (selection.cpp:275)
        for k in range(i + 1, len(ents)):
            url2, c2, r2, s2, a2 = ents[k]
            e2 = int(c2)
            if e2 == 0:
                continue
            if not cb_select(cfg.tau, e1, e2):
                break
            if cfg.criterion == "smh_a":
                if not smh_a_select(s1, s2, n_rows, n_bands):
                    continue
            elif cfg.criterion == "hll_a":
                if not hll_a_select(cfg.tau, e1, e2, a1, a2, cfg.aux_p, cfg.z_score):
                    continue
            elif cfg.criterion == "hll_an":
                if not hll_an_select(
                    cfg.tau, e1, e2, a1, a2, cfg.aux_p, cfg.z_score, cfg.order_n
                ):
                    continue
            t = union_cardinality(r1, r2, cfg.hll_p)
            jacc = (e1 + e2 - t) / t
            if jacc >= cfg.tau:
                out.append((url1, url2, jacc))
    return out


def connected_components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find clusters; representative = min url. Oracle for the
    Spark large-star/small-star implementation."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {u: find(u) for u in set(parent) | {u for p in pairs for u in p}}
