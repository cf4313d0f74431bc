"""Embedding similarity search over the ``embeddings`` table.

- ``embedding_knn``: brute-force cosine top-1 neighbor — the exact
  baseline, all math JVM-side (zip_with/aggregate HOFs in double
  precision), rank with deterministic tie-breaks.
- ``embedding_lsh_candidates``: random-hyperplane (SimHash) bucketing —
  the scale path: only vectors sharing a bucket are compared, the same
  explode + equi-join shape as the SuperMinHash band join.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    """round() with SQL semantics: half away from zero.

    ``np.round`` is banker's rounding (half to even), but the DuckDB
    oracle's ``round()`` rounds half away from zero — a similarity
    landing exactly on a 0.5*10^-digits boundary would round
    differently on the two sides, flipping value-hash gates and even
    ``>= threshold`` emit decisions (ADVICE r4). All reported sims use
    this helper so both engines share one rounding rule; residual
    divergence now requires the engines' RAW float sums to differ AND
    straddle a boundary (strictly smaller surface)."""
    scale = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


# repartition-to-parallelism before the opaque mapInPandas passes: the
# embeddings table is one parquet split at bench scale, which would run
# the whole O(N * N_broadcast) matmul in a single task (spread.py)
from .spread import spread


def _round_candidate_threshold(digits: int) -> float:
    """x can share round_half_away(x, digits) with m only if
    m - x < 10**-digits: the rounding grid has bucket width exactly
    10**-digits, and floor(a + 1) = floor(a) + 1 makes two points a
    full bucket apart land in different buckets (monotonically). The
    1e-7 relative slack absorbs float noise in the comparison; extra
    candidates are harmless (they are rounded and re-compared)."""
    return (10.0 ** -digits) * (1.0 + 1e-7)


def _collect_broadcast_vectors(embeddings: DataFrame, max_rows: int):
    """Gated driver-side collect of the full vector table for the
    exact broadcast paths: drop zero norms, sort by vec_id (the stable
    tie-break contract both knn paths rely on — ascending-id column
    order makes stable argsorts break sim ties by smallest id),
    broadcast (ids, vectors, norms). Returns None when the input
    exceeds ``max_rows`` (the caller picks raise vs fallback). The
    size probe is the limit(max+1) fold into this single collect — no
    separate count() job."""
    # Arrow-path toPandas, not row-based collect(): the py4j row
    # deserialization of N x dim float rows measured ~2.5x slower
    # (guide §6, Arrow for driver transfers; arrow.pyspark is on in
    # session.py)
    pdf = embeddings.select("vec_id", "embedding").limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    V = (
        np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        if len(pdf)
        else np.zeros((0, 1))
    )
    norms = np.sqrt((V * V).sum(axis=1))
    keep = norms > 0
    ids, V, norms = ids[keep], V[keep], norms[keep]
    # broadcast UNIT vectors: cosine becomes one matmul of normalized
    # sides (q/|q|) @ (b/|b|).T instead of matmul + np.outer(|q|,|b|) +
    # divide — the outer product alone materialized a fresh
    # batch x N float64 matrix per task (100 MB at 20k vectors), the
    # dominant first-touch cost of the stage. Float results can differ
    # from the divide form in the last ulp; the 4-digit rounding both
    # engines share absorbs that (oracle hash checks pin it on the
    # driver corpora).
    V = V / norms[:, None]
    order = np.argsort(ids, kind="stable")
    return embeddings.sparkSession.sparkContext.broadcast(
        (ids[order], V[order], norms[order])
    )


def with_norm(embeddings: DataFrame, col: str = "embedding") -> DataFrame:
    vec = F.transform(F.col(col), lambda x: x.cast("double"))
    return embeddings.withColumn("_vec", vec).withColumn(
        "_norm", F.sqrt(_dot(F.col("_vec"), F.col("_vec")))
    )


def embedding_knn(
    embeddings: DataFrame,
    round_digits: int = 4,
    max_broadcast_rows: int = 200_000,
    approx_fallback: bool = False,
    k: int = 1,
) -> DataFrame:
    """(vec_id, neighbor_id, sim) — cosine top-1 per vector; with
    ``k > 1``, (vec_id, neighbor_id, sim, rank) — the cosine top-k,
    rank 1..k ordered by (sim desc, neighbor_id asc). The k == 1
    schema is kept rank-free for record compatibility.

    Brute-force exact baseline as broadcast + blocked BLAS matmul: the
    (small) full matrix broadcasts to every task; each Arrow batch
    computes its block of the similarity matrix in one numpy matmul —
    ~50x faster than per-pair zip_with/aggregate HOFs, which Catalyst
    interprets lambda-per-element (measured 43s vs <1s at 2000x64).
    Output verified identical to the HOF formulation (and to the DuckDB
    oracle): sims rounded so summation-order noise can't flip the hash
    compare; ties broken by smallest neighbor id.

    The driver-side collect is gated at ``max_broadcast_rows`` (~100 MB
    of float64 at dim 64 — past any sane broadcast). Oversized inputs
    RAISE by default — this function's contract is the EXACT baseline
    (ann_upper_bound_gate depends on it); pass ``approx_fallback=True``
    to route oversized inputs to the IVF approximate path instead
    (exact brute force at that scale is the wrong tool anyway). The
    size probe is a ``limit(max+1).collect()`` folded into the single
    collect job — no separate count() pass.
    """
    from collections.abc import Iterator

    import pandas as pd

    bc = _collect_broadcast_vectors(embeddings, max_broadcast_rows)
    if bc is None:
        if not approx_fallback:
            raise ValueError(
                f"embedding_knn is the exact brute-force baseline and refuses "
                f"inputs above max_broadcast_rows={max_broadcast_rows}; pass "
                f"approx_fallback=True to use the IVF approximate path"
            )
        from .ivf import embedding_ivf_topk

        cols = ["vec_id", "neighbor_id", "sim"] + (["rank"] if k > 1 else [])
        return embedding_ivf_topk(embeddings, k=k).select(*cols)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_V, b_norms = bc.value
        thr = _round_candidate_threshold(round_digits)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            qn = np.sqrt((q * q).sum(axis=1))
            ok = qn > 0
            if not ok.any():
                continue
            q, qn = q[ok], qn[ok]
            qids = pdf["vec_id"].values[ok]
            S = (q / qn[:, None]) @ b_V.T  # b_V is pre-normalized
            S[qids[:, None] == b_ids[None, :]] = -np.inf  # exclude self
            # LAZY rounding: rounding is monotone, so only raw sims
            # within one rounding bucket of the per-row raw max (k-th
            # max for top-k) can reach the rounded max / rounded top-k
            # (_round_candidate_threshold). Rounding just those few
            # candidates replaces ~7 full passes over the NxN matrix
            # with one compare pass — identical output, pinned by the
            # lazy-vs-full parity test.
            if S.shape[1] == 0:  # empty broadcast side: no neighbors
                continue
            if k == 1:
                mx = S.max(axis=1)
                best = round_half_away(mx, round_digits)
                rows, cols = np.nonzero(S >= (mx[:, None] - thr))
                cand_r = round_half_away(S[rows, cols], round_digits)
                hit = cand_r == best[rows]
                # rows (hence cols-within-row) are emitted in ascending
                # order by nonzero, and b_ids ascend with column index,
                # so the FIRST hit per row = smallest neighbor id —
                # exactly the old full-matrix argmax tie-break
                r_hit, c_hit = rows[hit], cols[hit]
                _, first = np.unique(r_hit, return_index=True)
                out_n = b_ids[c_hit[first]]
                yield pd.DataFrame({"vec_id": qids, "neighbor_id": out_n, "sim": best})
                continue
            # top-k: every entry of the final rounded top-k has raw sim
            # > (k-th raw max) - bucket (the k largest raw values all
            # round >= round(kth), so the rounded top-k boundary is >=
            # round(kth)); rank candidates by (rounded desc, id asc)
            kk = min(k, S.shape[1])
            rk = np.partition(S, S.shape[1] - kk, axis=1)[:, S.shape[1] - kk]
            rows, cols = np.nonzero(S >= (rk[:, None] - thr))
            cand_r = round_half_away(S[rows, cols], round_digits)
            fin = np.isfinite(cand_r)
            rows, cols, cand_r = rows[fin], cols[fin], cand_r[fin]
            # (row asc, sim desc, col asc): cols ascend with neighbor id
            order = np.lexsort((cols, -cand_r, rows))
            rows, cols, cand_r = rows[order], cols[order], cand_r[order]
            # per-row position (0-based) without Python loops
            starts = np.zeros(len(rows), dtype=bool)
            starts[0:1] = True
            if len(rows) > 1:
                starts[1:] = rows[1:] != rows[:-1]
            start_idx = np.flatnonzero(starts)
            pos = np.arange(len(rows)) - np.repeat(
                start_idx, np.diff(np.append(start_idx, len(rows)))
            )
            keep = pos < k
            yield pd.DataFrame(
                {
                    "vec_id": qids[rows[keep]],
                    "neighbor_id": b_ids[cols[keep]],
                    "sim": cand_r[keep],
                    "rank": (pos[keep] + 1).astype(np.int64),
                }
            )

    schema = "vec_id long, neighbor_id long, sim double" + (
        ", rank long" if k > 1 else ""
    )
    return spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        fn, schema=schema
    )


def embedding_sim_pairs(
    embeddings: DataFrame,
    min_sim: float = 0.45,
    round_digits: int = 4,
    max_broadcast_rows: int = 200_000,
    method: str = "exact",
    **lsh_kwargs,
) -> DataFrame:
    """(id_a, id_b, sim): every pair with cosine similarity >= min_sim,
    id_a < id_b — embedding-cosine near-duplicate pairs.

    ``method="exact"``: broadcast + blocked matmul (the embedding_knn
    pattern) — ALL pairs checked, so the result is DuckDB-comparable;
    refuses inputs above ``max_broadcast_rows`` (exact contract, same
    as embedding_knn). Similarities are rounded BEFORE thresholding so
    the emit decision is identical across engines.

    ``method="lsh"``: hyperplane-LSH candidates -> exact cosine verify
    on the candidate pairs only — the 100 TB path (O(candidates), no
    N^2 anywhere; the verify joins vectors for candidate ids only).
    Precision is exact by construction (every emitted pair passes the
    same rounded-cosine check, so lsh output is a SUBSET of exact
    output — gate-checkable); recall is the LSH collision probability,
    with identical vectors pinned by lsh_recall_gate.
    """
    from collections.abc import Iterator

    import pandas as pd

    if method == "lsh":
        cands = embedding_lsh_candidates(embeddings, **lsh_kwargs)
        e = embeddings.select("vec_id", "embedding")
        joined = (
            cands.join(
                e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va")),
                "id_a",
            )
            .join(
                e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb")),
                "id_b",
            )
        )

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_va"]])
                B = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_vb"]])
                na = np.sqrt((A * A).sum(axis=1))
                nb = np.sqrt((B * B).sum(axis=1))
                ok = (na > 0) & (nb > 0)
                if not ok.any():
                    continue
                sim = round_half_away(
                    (A[ok] * B[ok]).sum(axis=1) / (na[ok] * nb[ok]), round_digits
                )
                keep = sim >= min_sim
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].values[ok][keep],
                        "id_b": pdf["id_b"].values[ok][keep],
                        "sim": sim[keep],
                    }
                )

        return joined.mapInPandas(verify, schema="id_a long, id_b long, sim double")

    bc = _collect_broadcast_vectors(embeddings, max_broadcast_rows)
    if bc is None:
        raise ValueError(
            f"embedding_sim_pairs(method='exact') checks all pairs and refuses "
            f"inputs above max_broadcast_rows={max_broadcast_rows}; use "
            f"method='lsh' at scale"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_V, b_norms = bc.value
        thr = _round_candidate_threshold(round_digits)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            qn = np.sqrt((q * q).sum(axis=1))
            ok = qn > 0
            if not ok.any():
                continue
            q, qn = q[ok], qn[ok]
            qids = pdf["vec_id"].values[ok]
            S = (q / qn[:, None]) @ b_V.T  # b_V is pre-normalized
            # LAZY rounding (same argument as embedding_knn): a raw sim
            # can only round up to >= min_sim from within one rounding
            # bucket below it, so pre-filter on raw >= min_sim - bucket
            # and round just the survivors — the rounded >= min_sim
            # check on those is the SAME emit decision as rounding the
            # full matrix. Each unordered pair is owned by the task
            # whose query id is the smaller one.
            mask = (S >= min_sim - thr) & (qids[:, None] < b_ids[None, :])
            qi, bi = np.nonzero(mask)
            if qi.size == 0:
                continue
            sims_r = round_half_away(S[qi, bi], round_digits)
            keep = sims_r >= min_sim
            if not keep.any():
                continue
            yield pd.DataFrame(
                {"id_a": qids[qi][keep], "id_b": b_ids[bi][keep], "sim": sims_r[keep]}
            )

    return spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        fn, schema="id_a long, id_b long, sim double"
    )


def embedding_lsh_candidates(
    embeddings: DataFrame,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 7,
    dim: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b): candidate pairs sharing a SimHash bucket.

    Random hyperplanes are derived deterministically from ``seed`` and
    broadcast as literals inside the plan (tiny: n_tables*n_planes*dim
    doubles). Bucket key = sign-bit pack — the embedding analogue of
    the SMH band join, same skew/scale properties.

    ``max_bucket`` is the flood guard: a hot bucket of f near-identical
    embeddings would emit f^2 all-pairs join rows. Buckets larger than
    ``max_bucket`` switch to STAR pairing (every member pairs with the
    bucket-minimum vec_id — O(f) rows, same connected components), the
    same flood answer the SMH band join uses
    (operators/candidates.py bucket_pairing='star'). Normal buckets are
    untouched, so output is unchanged on non-flood corpora; pass
    ``max_bucket=None`` for unconditional all-pairs.
    """
    from collections.abc import Iterator

    import pandas as pd

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    weights = (2.0 ** np.arange(n_planes - 1, -1, -1))  # MSB-first bit pack

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            norms = np.sqrt((V * V).sum(axis=1))
            ok = norms > 0
            if not ok.any():
                continue
            V = V[ok]
            ids = pdf["vec_id"].values[ok]
            out_ids, out_tables, out_buckets = [], [], []
            for t in range(n_tables):
                bits = (V @ planes[t].T) > 0  # [n, n_planes]
                keys = (bits @ weights).astype(np.int64)
                out_ids.append(ids)
                out_tables.append(np.full(len(ids), t, dtype=np.int32))
                out_buckets.append(keys)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "table_id": np.concatenate(out_tables),
                    "bucket": np.concatenate(out_buckets),
                }
            )

    # no spread here: the hyperplane pass is a tiny matmul (N x dim x
    # planes), so the repartition exchange costs more than the
    # parallelism buys — measured 0.98s -> 1.45s WITH the spread at a
    # 20k-vector scale; the join/dedup stages below dominate and
    # parallelize via their own exchanges.
    buckets = embeddings.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id long, table_id int, bucket long"
    )
    if max_bucket is not None:
        # materialize the hyperplane pass once: sizes, the anti-join and
        # the flood branch all reuse it (unchecked, each branch re-ran
        # the full mapInPandas sketch pass — three passes per call).
        # eager=False: the checkpoint job runs when the candidate plan
        # first EXECUTES, not at plan-construction time (ADVICE r4:
        # eager triggered a full Spark job for merely building the
        # DataFrame, and repeated gate/bench invocations accumulated
        # never-unpersisted checkpoint blocks for plans never run).
        # Lifecycle note: checkpoint blocks still live until the RDD is
        # GC'd driver-side (ContextCleaner reclaims them with the plan);
        # callers looping over many candidate sets should unpersist via
        # df.rdd or let the reference drop.
        buckets = buckets.localCheckpoint(eager=False)
        # hot buckets (few by construction) broadcast; the flood side
        # pairs against a per-bucket minimum computed with groupBy
        # (map-side partial aggregation) and broadcast-joined back — the
        # flood rows never shuffle and no single task holds a whole
        # flood bucket (a Window.partitionBy(bucket) min would funnel
        # each hot bucket into one task — a straggler at 10^8-row
        # template cliques)
        sizes = buckets.groupBy("table_id", "bucket").agg(F.count("*").alias("_n"))
        hot = sizes.where(F.col("_n") > max_bucket).select("table_id", "bucket")
        normal = buckets.join(F.broadcast(hot), ["table_id", "bucket"], "left_anti")
        flood = buckets.join(F.broadcast(hot), ["table_id", "bucket"], "left_semi")
        mins = flood.groupBy("table_id", "bucket").agg(F.min("vec_id").alias("_min"))
        star = (
            flood.join(F.broadcast(mins), ["table_id", "bucket"])
            .where(F.col("vec_id") != F.col("_min"))
            .select(
                F.least("vec_id", "_min").alias("id_a"),
                F.greatest("vec_id", "_min").alias("id_b"),
            )
        )
    else:
        normal, star = buckets, None
    a = normal.select("table_id", "bucket", F.col("vec_id").alias("id_a"))
    b = normal.select("table_id", "bucket", F.col("vec_id").alias("id_b"))
    pairs = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        pairs = pairs.union(star)
    return pairs.dropDuplicates(["id_a", "id_b"])
