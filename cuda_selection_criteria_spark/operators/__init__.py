"""Spark operators for the near-duplicate pipeline.

Stage map (SURVEY.md §3 lifecycle):
pages -> sketch (mapInPandas, narrow) -> candidates (band explode +
self-equi-join + CB) -> verify (HLL-union Jaccard, vectorized UDF)
-> cluster (large-star/small-star connected components). For hll_a /
hll_an / cb, candidates and verify are one grouped pass per
log-cardinality bucket (``candidates.cb_tile_pairs``).
"""

from .sketch import sketch_pages, SKETCH_SCHEMA
from .candidates import candidate_pairs
from .verify import verify_pairs
from .cluster import connected_components

__all__ = [
    "sketch_pages",
    "SKETCH_SCHEMA",
    "candidate_pairs",
    "verify_pairs",
    "connected_components",
]
