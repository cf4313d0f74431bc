"""IVF (inverted-file) approximate nearest neighbor.

The coarse-quantizer scale path for embedding search: k-means centroids
trained on a deterministic sample (driver-side numpy Lloyd iterations —
the classic FAISS IVF recipe), every vector assigned to its nearest
``nprobe_assign`` centroid cells (multi-assignment on the indexing side
keeps boundary recall high), then top-k search runs per-cell as one
blocked matmul against the cell's members. All shuffles are plain
groupBy/join on the cell id — the same equi-join shape as the LSH and
SMH candidate generators.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import round_half_away
from .spread import spread


def _train_centroids(V: np.ndarray, n_cells: int, seed: int, iters: int = 10) -> np.ndarray:
    rng = np.random.default_rng(seed)
    n = V.shape[0]
    n_cells = min(n_cells, n)
    C = V[rng.choice(n, size=n_cells, replace=False)].copy()
    for _ in range(iters):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) if n * n_cells * V.shape[1] < 5e7 else None
        if d is None:
            # blocked assignment for big samples
            assign = np.empty(n, dtype=np.int64)
            for lo in range(0, n, 4096):
                blk = V[lo : lo + 4096]
                assign[lo : lo + 4096] = (
                    (blk * blk).sum(1)[:, None] - 2 * blk @ C.T + (C * C).sum(1)[None, :]
                ).argmin(axis=1)
        else:
            assign = d.argmin(axis=1)
        for c in range(n_cells):
            members = V[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def embedding_ivf_topk(
    embeddings: DataFrame,
    n_cells: int = 16,
    nprobe_assign: int = 2,
    k: int = 1,
    seed: int = 7,
    sample_n: int = 4096,
    round_digits: int = 4,
    max_cell: int = 4096,
) -> DataFrame:
    """(vec_id, neighbor_id, sim): approximate cosine top-1 via IVF;
    with ``k > 1``, (vec_id, neighbor_id, sim, rank) — approximate
    top-k (rank by sim desc, neighbor_id asc). Per block each query
    keeps its local top-k; the global top-k is a subset of the union
    of block top-ks, so the merge below is exact over the probed
    cells. The k == 1 schema is kept rank-free for record parity.

    Centroids train on a deterministic sample collected to the driver
    (tiny: sample_n x dim floats) and broadcast; assignment +
    per-cell search are distributed. Compare against ``embedding_knn``
    for recall; cells bound the pairwise work to sum(cell^2) instead
    of N^2.

    ``max_cell`` caps the straggler: a hot cell of f members (skewed
    corpora put near-duplicate embeddings in one cell) is split into
    s = ceil(f / max_cell) member blocks; queries replicate to every
    block of their probed cell, so one task holds at most ~max_cell
    members x the block's queries instead of the whole f^2. The window
    reduce below already merges per-block partial top-1s (max over
    blocks of block maxima == global max, same tie-break).
    """
    # Arrow-path toPandas over row collect() (similarity.py rationale)
    sample = embeddings.select("embedding").limit(sample_n).toPandas()
    Vs = np.array([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    norms = np.sqrt((Vs * Vs).sum(axis=1))
    Vs = Vs[norms > 0] / norms[norms > 0][:, None]
    C = _train_centroids(Vs, n_cells, seed)
    bc = embeddings.sparkSession.sparkContext.broadcast(C)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            n = np.sqrt((V * V).sum(axis=1))
            ok = n > 0
            if not ok.any():
                continue
            V, n = V[ok], n[ok]
            U = V / n[:, None]
            sims = U @ Cv.T
            order = np.argsort(-sims, axis=1)[:, :nprobe_assign]
            ids = pdf["vec_id"].values[ok]
            out_id = np.repeat(ids, nprobe_assign)
            out_cell = order.ravel().astype(np.int32)
            out_vec = np.repeat(np.arange(len(ids)), nprobe_assign)
            yield pd.DataFrame(
                {
                    "vec_id": out_id,
                    "cell": out_cell,
                    "vec": [U[i].astype(np.float32) for i in out_vec],
                }
            )

    # spread: the bench-scale embeddings table is one parquet split —
    # without the repartition the whole assignment matmul runs in a
    # single task (similarity.py rationale)
    assigned = spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        assign, schema="vec_id long, cell int, vec array<float>"
    )

    # hot-cell split: members hashed into blocks, queries replicated to
    # every block; cells at or under max_cell keep one block (s = 1, no
    # replication — queries == members, handled inside search).
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("_n"))
    assigned = assigned.join(F.broadcast(sizes), "cell").withColumn(
        "_s", F.ceil(F.col("_n") / F.lit(max_cell)).cast("int")
    )
    members = assigned.select(
        "cell",
        F.pmod(F.xxhash64("vec_id"), F.col("_s")).cast("int").alias("blk"),
        F.lit(False).alias("is_query"),
        "vec_id",
        "vec",
    )
    queries = assigned.where(F.col("_s") > 1).select(
        "cell",
        F.explode(F.sequence(F.lit(0), F.col("_s") - 1)).alias("blk"),
        F.lit(True).alias("is_query"),
        "vec_id",
        "vec",
    )
    blocked = members.union(queries)

    def search(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []})
        if len(pdf) == 0:
            return empty
        is_q = pdf["is_query"].values
        m = pdf.loc[~is_q]
        q = pdf.loc[is_q] if is_q.any() else m  # unsplit cell: members query themselves
        if len(m) == 0 or len(q) == 0:
            return empty
        m_ids = m["vec_id"].values
        q_ids = q["vec_id"].values
        M = np.array([np.asarray(v, dtype=np.float64) for v in m["vec"]])
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["vec"]])
        S = Q @ M.T
        S[q_ids[:, None] == m_ids[None, :]] = -np.inf
        Sr = round_half_away(S, round_digits)
        if k == 1:
            # tie-break = smallest member id among the max entries:
            # sort columns by id, then argmax of the equality mask picks
            # the first (= smallest-id) max — no per-row Python loop
            m_order = np.argsort(m_ids, kind="stable")
            m_ids_s = m_ids[m_order]
            Sr = Sr[:, m_order]
            best = Sr.max(axis=1)
            keep = np.isfinite(best)
            out_n = m_ids_s[np.argmax(Sr == best[:, None], axis=1)]
            return pd.DataFrame(
                {"vec_id": q_ids[keep], "neighbor_id": out_n[keep], "sim": best[keep]}
            )
        # local top-k per block (ids ascending -> stable argsort of -sim
        # ranks ties by smallest neighbor id; m_ids come sorted? not
        # guaranteed — sort columns by id first so stability holds)
        m_order = np.argsort(m_ids, kind="stable")
        m_ids_s = m_ids[m_order]
        Sr = Sr[:, m_order]
        order = np.argsort(-Sr, axis=1, kind="stable")[:, :k]
        sims_k = np.take_along_axis(Sr, order, axis=1)
        ids_k = m_ids_s[order]
        keep = np.isfinite(sims_k).ravel()
        return pd.DataFrame(
            {
                "vec_id": np.repeat(q_ids, order.shape[1])[keep],
                "neighbor_id": ids_k.ravel()[keep],
                "sim": sims_k.ravel()[keep],
            }
        )

    per_cell = blocked.groupBy("cell", "blk").applyInPandas(
        search, schema="vec_id long, neighbor_id long, sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    if k == 1:
        # a vector probed into multiple cells: keep its best neighbor
        return (
            per_cell.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id", "sim")
        )
    # k > 1: the same (query, neighbor) pair can surface from both
    # probed cells of the neighbor — dedup before ranking so it can't
    # occupy two ranks. groupBy max(sim), not dropDuplicates: the two
    # appearances are scored by different-shaped matmuls whose rounded
    # sims can differ by one grain, and dropDuplicates would keep an
    # arbitrary one (nondeterministic across partitionings).
    return (
        per_cell.groupBy("vec_id", "neighbor_id")
        .agg(F.max("sim").alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )
