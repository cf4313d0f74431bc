"""Sketch stage: pages -> per-document sketches, one narrow mapInPandas pass.

Replaces the reference's E1 ``build_sketch`` entry point
(/root/reference/src/build_sketch.cpp:186-295). Shingling, WangHash,
HLL fold, SuperMinHash and Ertl-MLE cardinality are FUSED per Arrow
batch — no shuffle, no per-row Python (all heavy math in the batched
numpy kernels, sketchlib/batch.py).

Output schema (FIXTURES.md F2):
  url string, url_id long, card double, card_i long,
  hll14 binary, smh array<long>

``url_id`` is a narrow 64-bit surrogate used to keep band-explode rows
small at 10^12-doc scale. Two assignment modes (``id_mode``):

- ``"dense"`` (batch default): ``monotonically_increasing_id()`` —
  collision-FREE by construction (partition index in the high bits,
  per-partition counter in the low bits). A 64-bit *hash* surrogate
  silently merges ~n^2/2^65 url pairs (~2.7e4 expected collisions at
  10^12 docs, each conflating two documents in the band join, verify
  join and connected components); dense ids close that hazard without
  widening the shuffle key. Dense ids are assigned at materialization:
  the pipeline localCheckpoints sketches and the warehouse persists
  them (with part-scoped resume-stable ids, warehouse.py), so every
  downstream join sees one consistent assignment.
- ``"hash"``: ``xxhash64(url)`` — a pure function of the row. Required
  where ids must be reproducible across independent materializations:
  streaming (state keyed across micro-batches; collision exposure is
  bounded by the TTL'd active horizon, not the full crawl) and
  differential gates that compare two independently-built id spaces.

``card_i`` preserves the oracle binary's size_t truncation
(/root/reference/src/selection.cpp:275).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
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
    id_mode: str = "dense",
) -> DataFrame:
    """pages(url, text, ...) -> sketches DataFrame.

    Catalyst prunes every column except url/text at the scan.

    ``id_mode`` (see module docstring): ``"dense"`` (default) assigns
    collision-free monotonically-increasing surrogate ids at
    materialization; ``"hash"`` uses the pure-function xxhash64(url).
    Streaming inputs always use ``"hash"`` — dense ids restart their
    partition counters every micro-batch, which would collide ACROSS
    batches exactly where the stateful operators key on url_id.
    If ``pages`` already carries a ``url_id`` column it is passed
    through untouched (caller-controlled id space; the collision-
    injection tests use this).

    Normally narrow (no shuffle): a 100 TB table arrives in thousands
    of splits. But a small/single-file input would serialize the whole
    sketch pass on one core, so the narrow (url, text) projection goes
    through ``spread`` (up to ``min_partitions``, default the cluster's
    parallelism) first.
    """
    if id_mode not in ("dense", "hash"):  # validate FIRST: a typo must
        # raise on every path (streaming/passthrough included), not
        # silently fall back to hashing
        raise ValueError(f"unknown id_mode: {id_mode!r}")
    if "url_id" in pages.columns:
        id_col = F.col("url_id")
    elif pages.isStreaming or id_mode == "hash":
        id_col = F.xxhash64(F.col("url"))
    else:
        id_col = F.monotonically_increasing_id()
    narrow = ["url", "text"] + (["url_id"] if "url_id" in pages.columns else [])
    # id assigned AFTER the optional repartition so dense ids are a
    # function of the final (materialized) partition layout
    src = spread(pages.select(*narrow), min_partitions)
    src = src.select("url", id_col.alias("url_id"), "text")
    return src.mapInPandas(_sketch_batches(cfg), schema=sketch_schema(cfg))
