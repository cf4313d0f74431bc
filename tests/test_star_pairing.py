"""Star bucket-pairing (scale mode) must preserve cluster assignments."""

from __future__ import annotations

import pytest

from cuda_selection_criteria_spark.operators import candidate_pairs
from cuda_selection_criteria_spark.oracle import DedupConfig
from cuda_selection_criteria_spark.pipeline import dedup_pipeline, pages_from_corpus


def _groups(cluster_rows):
    g = {}
    for r in cluster_rows:
        g.setdefault(r.cluster_id, set()).add(r.url)
    return {frozenset(v) for v in g.values()}


def test_star_mode_preserves_clusters(spark):
    pages = pages_from_corpus(spark, 220, seed=42, partitions=4).persist()
    cfg = DedupConfig()
    full = dedup_pipeline(pages, cfg, bucket_pairing="all")
    star = dedup_pipeline(pages, cfg, bucket_pairing="star")
    full_groups = _groups(full.clusters.collect())
    star_groups = _groups(star.clusters.collect())
    # cluster partitions identical on the synthetic corpus (hot-domain
    # template clique included)
    assert star_groups == full_groups
    # star emits far fewer pairs on big cliques
    assert star.dup_pairs.count() <= full.dup_pairs.count()


@pytest.mark.parametrize("mode", ["Star", "pairs", ""])
def test_unknown_bucket_pairing_raises(spark, mode):
    """Only "all" and "star" exist: a typo must not fall back to all-pairs."""
    sk = spark.createDataFrame([], "url_id long, card_i long, smh array<long>")
    with pytest.raises(ValueError, match="bucket_pairing"):
        candidate_pairs(sk, DedupConfig(), bucket_pairing=mode)
