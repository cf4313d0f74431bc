"""End-to-end near-duplicate pipeline (pages -> dup_pairs -> clusters).

The Spark re-expression of the reference's two binaries:
E1 build_sketch (sketch stage) + E2 selection -c smh_a (candidates +
verify), plus the north star's clustering. See SURVEY.md §3 for the
job-graph shape and shuffle inventory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import pages_to_pandas, generate_pages
from .oracle import DedupConfig
from .operators import (
    candidate_pairs,
    connected_components,
    sketch_pages,
    verify_pairs,
)


@dataclass
class DedupResult:
    sketches: DataFrame
    dup_pairs: DataFrame
    clusters: DataFrame


def dedup_from_sketches(
    sketches: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    max_band_bucket: int | None = None,
    bucket_pairing: str = "all",
    salt_target: int | None = None,
) -> DedupResult:
    """Post-sketch stages only: candidates -> verify -> clusters.

    Feed it the warehouse ``sketches`` table for the checkpoint-resume
    path (north_rule): sketching is the expensive pass; after a resume
    the selection re-runs from the persisted table without touching
    pages. E2 of the reference (selection.cpp loads sidecar sketches,
    never re-reads sequences) — same shape.
    """
    # with_ids: CC edges reuse the sketch table's surrogate ids instead
    # of re-hashing urls (xxhash64(url) here would reintroduce the
    # 64-bit silent-merge hazard the collision-free url_id closes — two
    # colliding urls would fuse into one CC node at 10^12-doc scale)
    if cfg.criterion == "smh_a":
        cands = candidate_pairs(
            sketches,
            cfg,
            max_band_bucket=max_band_bucket,
            bucket_pairing=bucket_pairing,
            salt_target=salt_target,
        )
        verified = verify_pairs(cands, sketches, cfg, with_ids=True)
    else:
        from .operators.candidates import cb_tile_pairs

        # CB, the aux criterion and verify in one pass per bucket tile;
        # same flood knobs as the smh path: salt_target splits hot
        # log-cardinality buckets, max_band_bucket drops them outright
        verified = cb_tile_pairs(
            sketches, cfg, salt_target=salt_target, max_bucket=max_band_bucket
        )
    verified = verified.localCheckpoint(eager=True)
    dup_pairs = verified.select("url_a", "url_b", "jaccard")
    edges = verified.select("id_a", "id_b")
    comp = connected_components(edges)
    url_ids = sketches.select("url", "url_id")
    clusters = comp.join(url_ids, comp["node"] == url_ids["url_id"]).select(
        "url", "cluster_id"
    )
    return DedupResult(sketches=sketches, dup_pairs=dup_pairs, clusters=clusters)


def dedup_pipeline(
    pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    max_band_bucket: int | None = None,
    bucket_pairing: str = "all",
    salt_target: int | None = None,
    min_partitions: int | None = None,
) -> DedupResult:
    """pages(url, text, ...) -> sketches, dup_pairs(url_a,url_b,jaccard),
    clusters(url, cluster_id).

    The sketches are materialized once, so the sketch pass runs once.
    Their ids are a pure function of content (``operators/sketch.py``),
    the same ``sketch_with_resume`` gives the pages, so ``cluster_id``
    does not depend on partition layout or core count.
    """
    # localCheckpoint over .persist(): the columnar cache builder
    # measured +66s on 600MB of sketch blobs (compression + memory
    # store contention) while checkpoint blocks write at full
    # parallelism. On a real cluster this materialization is the
    # warehouse sketches table instead (warehouse.sketch_with_resume).
    sketches = sketch_pages(pages, cfg, min_partitions=min_partitions).localCheckpoint(
        eager=True
    )
    return dedup_from_sketches(
        sketches,
        cfg,
        max_band_bucket=max_band_bucket,
        bucket_pairing=bucket_pairing,
        salt_target=salt_target,
    )


def pages_from_corpus(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic pages table as a Spark DataFrame."""
    rows, _ = generate_pages(n_rows, seed)
    pdf = pages_to_pandas(rows)
    df = spark.createDataFrame(pdf)
    if partitions:
        df = df.repartition(partitions)
    return df
