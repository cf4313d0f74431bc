"""Pure-numpy sketch kernels (no Spark dependency).

Bit-exact re-implementations, from public sources only, of the sketch
primitives the reference pipeline relies on:

- ``hashes``   : WangHash 64-bit mix, wyhash64 stateless RNG stream,
                 vectorized 64-bit shingle hashing.
- ``hll``      : HyperLogLog register fold + Ertl-MLE cardinality
                 estimator (arXiv:1702.01284) + pairwise union.
- ``smh``      : SuperMinHash one-pass signature (arXiv:1706.05601).
- ``lsh``      : LSH banding parameter search (MMDS ch.3).
- ``criteria`` : CB / hll_a / hll_an / smh_a selection predicates
                 (reference: /root/reference/include/criteria_sketch.hpp).
- ``sidecar``  : readers for the reference's gzipped .hll / .smh
                 sidecar files (used only by parity tests).
"""

from .hashes import wanghash64, wyhash64_stream, shingle_hashes, splitmix64
from .hll import (
    HLL_PRIMARY_P,
    hll_build,
    hll_cardinality,
    ertl_mle,
    ertl_mle_batch,
    sum_counts,
    union_cardinality,
)
from .smh import superminhash
from .lsh import lsh_params
from .criteria import cb_select, smh_a_select, hll_a_select, hll_an_select, sigma

__all__ = [
    "wanghash64",
    "wyhash64_stream",
    "shingle_hashes",
    "splitmix64",
    "HLL_PRIMARY_P",
    "hll_build",
    "hll_cardinality",
    "ertl_mle",
    "ertl_mle_batch",
    "sum_counts",
    "union_cardinality",
    "superminhash",
    "lsh_params",
    "cb_select",
    "smh_a_select",
    "hll_a_select",
    "hll_an_select",
    "sigma",
]
