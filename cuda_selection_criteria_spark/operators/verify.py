"""Verify stage: exact reference Jaccard over the primary p=14 HLLs.

Replaces the reference's inner verification
(/root/reference/src/selection.cpp:286-288): t = union_size(hllA, hllB)
via elementwise register max + Ertl-MLE (hll.h:1188-1210), then
J = (e1 + e2 - t) / t with size_t-truncated e1, e2, keep iff J >= tau.

The register math runs as one vectorized numpy pass per Arrow batch
via mapInPandas. ``union_histograms`` builds each pair's union
histogram from the set registers only: each distinct blob is parsed
once (keyed by content), a pair starts from its denser side's 64-bin
histogram and moves just the sparser side's set registers that beat
it. Web pages set ~2k of the 16384 p=14 registers, so this skips the
zeros a dense [batch, 16384] max + histogram would walk; the
histograms, hence the Ertl-MLE estimates, are bit-identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle import DedupConfig
from ..sketchlib.hll import ertl_mle_batch

VERIFY_SCHEMA = "url_a string, url_b string, jaccard double"
VERIFY_SCHEMA_IDS = "id_a long, id_b long, url_a string, url_b string, jaccard double"


def _verify_batches(cfg: DedupConfig, with_ids: bool = False):
    p = cfg.hll_p
    tau = cfg.tau

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sketchlib.batch import union_histograms

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            hist = union_histograms(list(pdf["hll_a"]), list(pdf["hll_b"]), p)
            t = ertl_mle_batch(hist, p)
            e1 = pdf["card_a"].values.astype(np.float64)
            e2 = pdf["card_b"].values.astype(np.float64)
            jacc = (e1 + e2 - t) / t
            keep = jacc >= tau
            # canonical output order: url_a < url_b
            ua = pdf["url_a"].values[keep]
            ub = pdf["url_b"].values[keep]
            jj = jacc[keep]
            swap = ua > ub
            out = {
                "url_a": np.where(swap, ub, ua),
                "url_b": np.where(swap, ua, ub),
                "jaccard": jj,
            }
            if with_ids:
                ia = pdf["id_a"].values[keep]
                ib = pdf["id_b"].values[keep]
                out = {
                    # ids swap WITH the urls so (id_a, url_a) stay paired
                    "id_a": np.where(swap, ib, ia),
                    "id_b": np.where(swap, ia, ib),
                    **out,
                }
            yield pd.DataFrame(out)

    return fn


def verify_pairs(
    candidates: DataFrame,
    sketches: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    with_ids: bool = False,
) -> DataFrame:
    """(id_a, id_b, card_a, card_b) + sketches -> dup_pairs(url_a, url_b, jaccard).

    Two hash joins pull in the 16 KiB register blobs only for surviving
    candidates (the expensive payload never rides the band shuffle).

    ``with_ids=True`` additionally carries the surrogate id spine
    (id_a, id_b) through to the output so downstream consumers
    (connected components, pipeline.py) reuse the SAME ids the
    candidate join used instead of re-deriving ids by hashing urls —
    re-hashing would silently reintroduce the 64-bit collision hazard
    the collision-free url_id exists to close.
    """
    payload = sketches.select("url_id", "url", "hll14")
    joined = (
        candidates.join(
            payload.select(
                F.col("url_id").alias("id_a"),
                F.col("url").alias("url_a"),
                F.col("hll14").alias("hll_a"),
            ),
            "id_a",
        )
        .join(
            payload.select(
                F.col("url_id").alias("id_b"),
                F.col("url").alias("url_b"),
                F.col("hll14").alias("hll_b"),
            ),
            "id_b",
        )
        .select(
            *(["id_a", "id_b"] if with_ids else []),
            "url_a", "url_b", "card_a", "card_b", "hll_a", "hll_b",
        )
    )
    return joined.mapInPandas(
        _verify_batches(cfg, with_ids=with_ids),
        schema=VERIFY_SCHEMA_IDS if with_ids else VERIFY_SCHEMA,
    )
