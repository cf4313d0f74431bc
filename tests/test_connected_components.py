"""Property tests for the large-star/small-star connected-components
operator against the union-find oracle, on adversarial random graphs
(the pipeline tests only exercise CC on near-dup pair sets, which are
mostly small dense cliques)."""

from __future__ import annotations

import random

import pytest

from cuda_selection_criteria_spark.operators import connected_components
from cuda_selection_criteria_spark.oracle import connected_components as uf


def _partition(assign: dict) -> set[frozenset]:
    groups: dict = {}
    for node, root in assign.items():
        groups.setdefault(root, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def _check(spark, edges: list[tuple[int, int]]) -> None:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    want = uf(edges)
    assert _partition(got) == _partition(want)
    # cluster_id must be the component MINIMUM (canonical labels)
    for node, cid in got.items():
        assert cid == min(x for x in got if got[x] == cid)


def test_random_sparse_graph(spark):
    rng = random.Random(99)
    edges = [(rng.randrange(4000), rng.randrange(4000)) for _ in range(1500)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_long_chain_needs_logn_rounds(spark):
    # a 300-node path is the worst case for label propagation depth
    chain = [(i, i + 1) for i in range(300)]
    _check(spark, chain)


def test_unconverged_alternation_raises(spark):
    """Two rounds cannot label a 300-node path; an unconverged labeling
    splits the component, so it must fail instead of being returned."""
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(df, max_iter=2, local_threshold=0)


def test_star_and_clique_mix(spark):
    star = [(0, i) for i in range(1, 120)]
    clique = [(1000 + i, 1000 + j) for i in range(15) for j in range(i + 1, 15)]
    bridge = [(5, 1003)]
    _check(spark, star + clique + bridge)


def test_duplicate_and_reversed_edges(spark):
    edges = [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (7, 8)]
    _check(spark, edges)


def test_local_fast_path_matches_distributed(spark):
    """The union-find fast path must produce bit-identical assignments
    to the distributed large-star/small-star alternation."""
    import random

    from cuda_selection_criteria_spark.operators import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(800)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    fast = {(r.node, r.cluster_id) for r in connected_components(df).collect()}
    dist = {
        (r.node, r.cluster_id)
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert fast == dist and fast


@pytest.mark.parametrize("extra", [0, 1], ids=["at_threshold", "above_threshold"])
def test_local_threshold_boundary(spark, monkeypatch, extra):
    """Exactly ``local_threshold`` edges stay local; one more goes
    distributed. Both label like the forced distributed run."""
    from cuda_selection_criteria_spark.operators import cluster

    threshold = 40
    rng = random.Random(3)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b][: threshold + extra]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    calls = []
    local = cluster._local_union_find
    monkeypatch.setattr(
        cluster, "_local_union_find", lambda rows: calls.append(1) or local(rows)
    )
    got = {tuple(r) for r in connected_components(df, local_threshold=threshold).collect()}
    assert calls == ([1] if extra == 0 else [])
    want = {tuple(r) for r in connected_components(df, local_threshold=0).collect()}
    assert got == want and got


def test_local_fast_path_empty_edges(spark):
    from cuda_selection_criteria_spark.operators import connected_components

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0
