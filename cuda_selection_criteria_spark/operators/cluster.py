"""Connected components: alternating large-star / small-star.

New capability on top of the reference (its output stops at pairs —
/root/reference/src/selection.cpp:297-300); the north star adds cluster
assignment. Algorithm: Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — converges in O(log^2 n) rounds of
plain DataFrame shuffles, each round localCheckpoint'ed to truncate
lineage (north_rule checkpoint discipline).

Node ids are longs (url_id surrogates); cluster_id = component minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", "mn").alias("mn"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids; connect all smaller neighbors
    (and self) to the minimum."""
    oriented = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("mn"))
    return (
        oriented.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
        .union(mins.select(F.col("a"), F.col("mn").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _local_union_find(rows) -> list[tuple[int, int]]:
    """Union-find with path halving; cluster_id = component minimum —
    bit-identical output contract to the distributed alternation."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the root is always the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """edges (a_col, b_col) -> (node long, cluster_id long).

    cluster_id is the minimum node id of the component. Every node that
    appears in an edge is assigned (singletons never enter).

    Small-graph fast path: the dup graph AFTER verification is orders
    of magnitude smaller than the corpus (edges ~ duplicates, not
    documents), and at that size each large-star/small-star round is a
    fixed scheduler round-trip, not compute. One bounded Arrow fetch of
    at most ``local_threshold + 1`` edges (default 1M edges — ~16 MB as
    two int64 columns, far under any sane driver heap) decides: if it
    holds every edge, union-find solves them on the driver; the result
    contract (component-minimum cluster ids) is identical and pinned by
    a parity test plus the driver's DuckDB recursive-CTE closure gate.
    Otherwise the fetched rows are dropped, the edges are checkpointed
    and the Kiveris alternation runs distributed; pass
    ``local_threshold=0`` to force it. It raises ``RuntimeError`` when
    ``max_iter`` rounds end without a fixed point.
    """
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # the limit caps the fetch at threshold+1 rows: a big graph costs
    # the driver at most that much before it goes distributed
    epdf = edges.limit(local_threshold + 1).toPandas()
    if len(epdf) <= local_threshold:
        import pandas as pd

        assigned = _local_union_find(zip(epdf["a"].tolist(), epdf["b"].tolist()))
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame(assigned, columns=["node", "cluster_id"]),
            schema="node long, cluster_id long",
        )
    edges = edges.localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        edges = _large_star(edges)
        edges = _small_star(edges).localCheckpoint(eager=True)
        # convergence: the alternation reaches a fixed point (Kiveris et
        # al. Thm 1); detect it with ONE cheap aggregate — edge count +
        # order-free xor-style hash — instead of extra join jobs.
        sig = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur
    else:
        # an unconverged labeling splits components: fail, don't return it
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({sig['n']} edges after the last round)"
        )
    members = edges.select(F.col("a").alias("node"), F.col("b").alias("cluster_id"))
    roots = edges.select(F.col("b").alias("node"), F.col("b").alias("cluster_id")).distinct()
    return members.union(roots).distinct()
