"""The traced run: each layer's public functions called from outside, in
the order ``dedup_pipeline`` uses, plus the single-process kernel layer,
the selection funnel and the fixed vs per-row fit."""

from __future__ import annotations

import math
import os
import random
import statistics
import time

STAGES = ("sketch", "candidates", "verify", "cluster", "warehouse")
KERNEL_DOCS = 384
KERNEL_PAIRS = 4096


def _best_rate(n: int, fn, reps: int = 3) -> float:
    """Items per second of ``fn`` (fastest of ``reps``: the floor)."""
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return n / best


def kernel_layer(texts: list[str], cfg, seed: int) -> dict[str, float]:
    """sketchlib kernels in one process on a fixed batch of the
    workload's own pages; the compute floor of the sketch and verify UDFs."""
    import numpy as np

    from cuda_selection_criteria_spark.sketchlib.batch import (
        decode_registers,
        hll_batch,
        hll_cards_encode_batch,
        register_histograms,
        superminhash_batch,
    )
    from cuda_selection_criteria_spark.sketchlib.hashes import (
        shingle_hashes,
        shingle_hashes_batch,
    )
    from cuda_selection_criteria_spark.sketchlib.hll import ertl_mle_batch

    rng = random.Random(seed)
    batch = rng.sample(texts, min(KERNEL_DOCS, len(texts)))
    n = len(batch)
    k, p, m, aux_p = cfg.shingle_k, cfg.hll_p, cfg.smh_m, cfg.aux_p

    def shingle():
        # the sketch UDF's rule: batch shingling for short docs
        if sum(len(t) for t in batch) <= 512 * n:
            return shingle_hashes_batch(batch, k)
        sets = [shingle_hashes(t, k) for t in batch]
        counts = np.array([s.size for s in sets], dtype=np.int64)
        items = np.concatenate([s for s in sets if s.size])
        return items, np.repeat(np.arange(n, dtype=np.int64), counts)

    items, didx = shingle()
    _, blobs = hll_cards_encode_batch(items, didx, n, p, encoding=cfg.register_encoding)
    aux = hll_batch(items, didx, n, aux_p)
    ia = [rng.randrange(n) for _ in range(KERNEL_PAIRS)]
    ib = [rng.randrange(n) for _ in range(KERNEL_PAIRS)]
    blobs_a, blobs_b = [blobs[i] for i in ia], [blobs[i] for i in ib]
    aux_a, aux_b = [aux[i].tobytes() for i in ia], [aux[i].tobytes() for i in ib]

    def verify():
        mx = np.maximum(decode_registers(blobs_a, p), decode_registers(blobs_b, p))
        ertl_mle_batch(register_histograms(mx), p)

    def aux_union():
        ra = np.frombuffer(b"".join(aux_a), dtype=np.uint8).reshape(-1, 1 << aux_p)
        rb = np.frombuffer(b"".join(aux_b), dtype=np.uint8).reshape(-1, 1 << aux_p)
        ertl_mle_batch(register_histograms(np.maximum(ra, rb)), aux_p)

    return {
        "sketchlib.shingle_docs_per_s": _best_rate(n, shingle),
        "sketchlib.hll_docs_per_s": _best_rate(
            n, lambda: hll_cards_encode_batch(items, didx, n, p, encoding=cfg.register_encoding)
        ),
        "sketchlib.smh_docs_per_s": _best_rate(n, lambda: superminhash_batch(items, didx, n, m)),
        "sketchlib.verify_pairs_per_s": _best_rate(KERNEL_PAIRS, verify),
        "sketchlib.aux_pairs_per_s": _best_rate(KERNEL_PAIRS, aux_union),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def traced_dedup(spark, tracer, workload, pages_path: str, warehouse: str) -> dict:
    """One traced ``cli dedup`` equivalent. Returns the layer counts; the
    span walls and Spark task metrics live in ``tracer``."""
    from pyspark.sql import functions as F

    from cuda_selection_criteria_spark.operators import (
        candidate_pairs,
        connected_components,
        sketch_pages,
        verify_pairs,
    )
    from cuda_selection_criteria_spark.operators.candidates import (
        aux_criterion_filter,
        cb_bucket_pairs,
    )
    from cuda_selection_criteria_spark.warehouse import Warehouse

    cfg = workload.config()
    with tracer.span("dedup"):
        pages = spark.read.parquet(pages_path)
        with tracer.span("sketch"):
            sketches = sketch_pages(pages, cfg).localCheckpoint(eager=True)
        with tracer.span("candidates"):
            if cfg.criterion == "smh_a":
                cands = candidate_pairs(sketches, cfg, bucket_pairing=workload.bucket_pairing)
            else:
                cands = cb_bucket_pairs(sketches, cfg)
                if cfg.criterion in ("hll_a", "hll_an"):
                    cands = aux_criterion_filter(cands, cfg)
            # the one barrier tracing adds: it separates candidates from verify
            cands = cands.localCheckpoint(eager=True)
        with tracer.span("verify"):
            verified = verify_pairs(cands, sketches, cfg, with_ids=True).localCheckpoint(
                eager=True
            )
        with tracer.span("cluster"):
            comp = connected_components(verified.select("id_a", "id_b"))
            url_ids = sketches.select("url", "url_id")
            clusters = comp.join(url_ids, comp["node"] == url_ids["url_id"]).select(
                "url", "cluster_id"
            )
        wh = Warehouse(spark, warehouse)
        with tracer.span("warehouse"):
            wh.write("dup_pairs", verified.select("url_a", "url_b", "jaccard"))
            wh.write("clusters", clusters)
        with tracer.span("cli_tail"):
            # what cmd_dedup does after its writes, so the traced wall
            # compares with the untraced one
            n_pages = pages.count()
            n_pairs = wh.read("dup_pairs").count()
            wh.read("clusters").count()
            wh.log_metric("trace", "dedup_e2e", 1.0, n_pages, n_pairs, spark.sparkContext.defaultParallelism)

    # the funnel, counted after the spans under their own job group
    spark.sparkContext.setJobGroup(f"{tracer.run_id}/funnel", "funnel")
    counts = {
        "pages": n_pages,
        "sketch.rows_out": sketches.count(),
        "candidates.pairs_out": cands.count(),
        "verify.pairs_out": verified.count(),
        "cluster.nodes_out": comp.count(),
        "warehouse.bytes_written": _dir_bytes(os.path.join(warehouse, "dup_pairs"))
        + _dir_bytes(os.path.join(warehouse, "clusters")),
    }
    counts.update(prejoin_estimate(sketches, workload, F))
    return counts


def prejoin_estimate(sketches, workload, F) -> dict:
    """Band-join input rows, largest bucket and the pre-join estimate of
    the candidate count, from bucket sizes alone.

    smh_a all-pairs: sum C(f,2) over band buckets; star: sum (f-1). The CB
    bucket join of the hll criteria pairs each log-cardinality bucket with
    itself and its upper neighbour: sum C(n_k,2) + n_k n_{k+1}."""
    from cuda_selection_criteria_spark.operators.candidates import explode_bands

    cfg = workload.config()
    if cfg.criterion == "smh_a":
        sizes = explode_bands(sketches, cfg).groupBy("band_id", "band").count()
        per_bucket = (
            F.col("count") * (F.col("count") - 1) / 2
            if workload.bucket_pairing == "all"
            else F.col("count") - 1
        )
        row = sizes.agg(
            F.sum("count").alias("rows"),
            F.max("count").alias("max"),
            F.sum(per_bucket).alias("est"),
        ).collect()[0]
        return {
            "candidates.band_rows": int(row["rows"]),
            "candidates.max_bucket": int(row["max"]),
            "candidates.prejoin_estimate": float(row["est"]),
        }
    inv_log = 1.0 / math.log(1.0 / cfg.tau)
    sizes = {
        r["bkt"]: r["count"]
        for r in sketches.where(F.col("card_i") > 0)
        .select(F.floor(F.log(F.col("card_i").cast("double")) * F.lit(inv_log)).alias("bkt"))
        .groupBy("bkt")
        .count()
        .collect()
    }
    est = sum(n * (n - 1) / 2 + n * sizes.get(b + 1, 0) for b, n in sizes.items())
    return {
        # a side once plus the b side exploded to {k-1, k, k+1}
        "candidates.band_rows": 4 * sum(sizes.values()),
        "candidates.max_bucket": max(sizes.values(), default=0),
        "candidates.prejoin_estimate": float(est),
    }


def qerror(estimate: float, actual: float) -> float:
    estimate, actual = max(estimate, 1.0), max(actual, 1.0)
    return max(estimate / actual, actual / estimate)


def fit_fixed_per_kdoc(points: dict[int, list[float]]) -> tuple[float, float]:
    """Least-squares line through (pages, wall) medians -> (fixed_s,
    per_kdoc_s)."""
    xs = sorted(points)
    ys = [statistics.median(points[x]) for x in xs]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    return my - slope * mx, slope * 1e3
