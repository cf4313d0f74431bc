"""Sketch stage: pages -> per-document sketches, one id exchange and one mapInPandas pass.

Replaces the reference's E1 ``build_sketch`` entry point
(/root/reference/src/build_sketch.cpp:186-295). Shingling, WangHash,
HLL fold, SuperMinHash and Ertl-MLE cardinality are FUSED per Arrow
batch — no per-row Python (all heavy math in the batched
numpy kernels, sketchlib/batch.py).

Output schema (FIXTURES.md F2):
  url string, url_id long, card double, card_i long,
  hll14 binary, smh array<long>

``url_id`` is a narrow 64-bit surrogate used to keep band-explode rows
small at 10^12-doc scale. One rule in ``sketch_pages`` assigns it to
every batch input, so the in-memory pipeline and the resumable warehouse
(``warehouse.sketch_with_resume``) give a document the same id:

  url_id = (part << 40) | rank,  part = pmod(xxhash64(url), ID_PARTS)

where ``rank`` is the row's 0-based place in its part, ordered by
``(url, xxhash64(text))``. It is a pure function of content — not of
partition layout, core count or resume points — and collision-free by
construction (2^16 parts x 2^40 rows per part covers 10^12 documents at
up to 65,536 sketch tasks), where a 64-bit url *hash* would silently
merge ~n^2/2^65 url pairs (~2.7e4 at 10^12 docs), each conflating two
documents in the band join, verify join and connected components.
Cost: one hash exchange of ``(url, text)`` on ``part`` (which also
spreads a narrow input over the cluster) and a sort within each task.

An input ``url_id`` column is passed through untouched (the collision
tests and differential gates use this). A stream keeps
``xxhash64(url)``: it cannot take a window, and its state is keyed
across micro-batches (collision exposure is bounded by the TTL'd active
horizon, not the full crawl).

``card_i`` preserves the oracle binary's size_t truncation
(/root/reference/src/selection.cpp:275).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.spread import spread
from ..oracle import DedupConfig
from ..sketchlib.batch import (
    hll_batch,
    hll_cards_encode_batch,
    superminhash_batch,
)
from ..sketchlib.hashes import shingle_hashes, shingle_hashes_batch

SKETCH_SCHEMA = (
    "url string, url_id long, card double, card_i long, hll14 binary, smh array<long>"
)
SKETCH_SCHEMA_AUX = SKETCH_SCHEMA + ", hll_aux binary"
ID_PARTS = 1 << 16  # url_id = (part << 40) | rank-within-part


def sketch_schema(cfg: DedupConfig) -> str:
    return SKETCH_SCHEMA_AUX if cfg.criterion in ("hll_a", "hll_an") else SKETCH_SCHEMA


def _sketch_batches(cfg: DedupConfig):
    k, m, p = cfg.shingle_k, cfg.smh_m, cfg.hll_p
    want_aux = cfg.criterion in ("hll_a", "hll_an")
    aux_p = cfg.aux_p

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            texts = pdf["text"].fillna("").tolist()
            # adaptive shingling (both bit-identical, tests pin it):
            # short docs -> chunk-vectorized batch pass (2.1x: per-doc
            # Python overhead dominates); long docs -> per-doc numpy
            # (small cache-resident buffers beat the chunked pass's
            # streaming temporaries on fault-throttled hosts; measured
            # 1.05s vs 1.25s per 4096x1.6KB batch, crossover ~0.5KB).
            if sum(len(t) for t in texts) <= 512 * n:
                items, didx = shingle_hashes_batch(texts, k)
            else:
                sets = [shingle_hashes(t, k) for t in texts]
                counts = np.array([s.size for s in sets], dtype=np.int64)
                if counts.sum():
                    items = np.concatenate([s for s in sets if s.size])
                else:
                    items = np.empty(0, dtype=np.uint64)
                didx = np.repeat(np.arange(n, dtype=np.int64), counts)
            # fused fold + estimate + encode: never materializes the
            # full [batch, 2^p] register matrix (cache-resident chunks)
            cards, hll_col = hll_cards_encode_batch(
                items, didx, n, p, encoding=cfg.register_encoding
            )
            sigs = superminhash_batch(items, didx, n, m)
            out = {
                "url": pdf["url"].values,
                "url_id": pdf["url_id"].values,
                "card": cards,
                "card_i": cards.astype(np.int64),  # size_t truncation
                "hll14": hll_col,
                "smh": [s.astype(np.int64) for s in sigs],  # u64 bit-cast
            }
            if want_aux:
                aux = hll_batch(items, didx, n, aux_p)
                out["hll_aux"] = [r.tobytes() for r in aux]
            yield pd.DataFrame(out)

    return fn


def sketch_pages(
    pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    min_partitions: int | None = None,
) -> DataFrame:
    """pages(url, text, ...) -> sketches DataFrame.

    Catalyst prunes every column except url/text (and a passed-through
    url_id) at the scan. A batch input gets its ids (module docstring)
    through one hash exchange on the id part, ``spread`` to at least
    ``min_partitions`` (default the cluster's parallelism) and never
    fewer than the input's planned partitions: a single-split input is
    spread over the cluster, a wide one keeps its width. At scale that
    is one exchange of ``(url, text)`` a narrow pass would not need, the
    price of ids that do not follow the layout.
    """
    has_id = "url_id" in pages.columns
    src = pages.select("url", "text", *(["url_id"] if has_id else []))
    if pages.isStreaming:  # a stream cannot take the window
        id_col = F.xxhash64("url")
    else:
        part = F.pmod(F.xxhash64("url"), F.lit(ID_PARTS))
        src = spread(src, min_partitions, key=part)
        # same partitioning as the exchange: the window adds none
        rank = F.row_number().over(Window.partitionBy(part).orderBy("url", F.xxhash64("text")))
        id_col = F.shiftleft(part.cast("long"), 40) + rank - 1
    src = src.select("url", "url_id" if has_id else id_col.alias("url_id"), "text")
    return src.mapInPandas(_sketch_batches(cfg), schema=sketch_schema(cfg))
