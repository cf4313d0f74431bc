"""Round-6 optimization pins: the internals changed for performance
must be output-identical to their pre-optimization formulations.

- Lazy rounding in embedding_knn / embedding_sim_pairs vs a
  full-matrix round_half_away reference, on vectors engineered so
  rounding CREATES ties (distinct raw sims in one rounding bucket) —
  the exact case the candidate-threshold argument must survive.
- doc_shingles without the row-level distinct: rows unique by
  construction, gram/hashed modes consistent.
- cb_bucket_pairs late aux join: pair set identical to the narrow run,
  aux blobs correctly re-attached.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _ref_knn(ids, V, k, round_digits=4):
    """Independent full-matrix reference implementing the
    pre-optimization semantics: round EVERYTHING half-away, rank by
    (rounded desc, id asc), exclude self and zero-norm rows."""
    from cuda_selection_criteria_spark.functions.similarity import round_half_away

    ids = np.asarray(ids)
    order = np.argsort(ids, kind="stable")
    b_ids, b_V = ids[order], V[order]
    norms = np.linalg.norm(b_V, axis=1)
    keep = norms > 0
    b_ids, b_V, norms = b_ids[keep], b_V[keep], norms[keep]
    out = []
    for qi, qv in zip(ids, V):
        qn = np.linalg.norm(qv)
        if qn == 0:
            continue
        S = (qv @ b_V.T) / (qn * norms)
        S[b_ids == qi] = -np.inf
        Sr = round_half_away(S, round_digits)
        o = np.argsort(-Sr, kind="stable")[:k]
        for rank, j in enumerate(o, start=1):
            if np.isfinite(Sr[j]):
                out.append((int(qi), int(b_ids[j]), float(Sr[j]), rank))
    return sorted(out)


def _tie_vectors():
    """2-D unit vectors whose pairwise cosines straddle one 1e-4
    rounding bucket: angles chosen so raw sims differ in the 5th
    decimal — rounding merges them into ties that the id tie-break
    must then resolve."""
    angles = [0.0, 0.01, 0.010005, 0.01001, 0.2, 0.20001, 1.0, 2.5]
    return [[math.cos(a), math.sin(a)] for a in angles]


def test_embedding_knn_lazy_rounding_matches_full_matrix(spark):
    from cuda_selection_criteria_spark.functions.similarity import embedding_knn

    vecs = _tie_vectors()
    ids = list(range(len(vecs)))
    pdf = pd.DataFrame({"vec_id": ids, "embedding": vecs})
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    V = np.array(
        [np.asarray(v, dtype=np.float32).astype(np.float64) for v in vecs]
    )
    # top-1 (rank-free schema)
    got1 = sorted(
        (int(r.vec_id), int(r.neighbor_id), float(r.sim), 1)
        for r in embedding_knn(df).collect()
    )
    assert got1 == _ref_knn(np.array(ids), V, k=1)
    # top-5 with ranks
    got5 = sorted(
        (int(r.vec_id), int(r.neighbor_id), float(r.sim), int(r.rank))
        for r in embedding_knn(df, k=5).collect()
    )
    assert got5 == _ref_knn(np.array(ids), V, k=5)


@pytest.mark.parametrize("k", [1, 3])
def test_embedding_knn_empty_broadcast_side_yields_no_rows(spark, monkeypatch, k):
    """A query batch with nonzero vectors against an empty broadcast
    side (every broadcast vector dropped) returns no neighbors on both
    the k == 1 and the top-k branch; k == 1 used to crash on a
    zero-size max."""
    from cuda_selection_criteria_spark.functions import similarity

    sc = spark.sparkContext
    monkeypatch.setattr(
        similarity,
        "_collect_broadcast_vectors",
        lambda df, max_rows: sc.broadcast(
            (np.zeros(0, dtype=np.int64), np.zeros((0, 2)), np.zeros(0))
        ),
    )
    pdf = pd.DataFrame({"vec_id": [0, 1], "embedding": [[1.0, 0.0], [0.0, 1.0]]})
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    assert similarity.embedding_knn(df, k=k).collect() == []


def test_embedding_sim_pairs_lazy_threshold_matches_full_matrix(spark):
    from cuda_selection_criteria_spark.functions.similarity import (
        embedding_sim_pairs,
        round_half_away,
    )

    vecs = _tie_vectors()
    ids = list(range(len(vecs)))
    pdf = pd.DataFrame({"vec_id": ids, "embedding": vecs})
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    V = np.array(
        [np.asarray(v, dtype=np.float32).astype(np.float64) for v in vecs]
    )
    # pick min_sim ON a rounded value so the boundary case is exercised
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = round_half_away(n @ n.T, 4)
    min_sim = float(S[0, 4])  # a mid-range rounded sim
    exp = sorted(
        (a, b, float(S[a, b]))
        for a in ids
        for b in ids
        if a < b and S[a, b] >= min_sim
    )
    got = sorted(
        (int(r.id_a), int(r.id_b), float(r.sim))
        for r in embedding_sim_pairs(df, min_sim=min_sim).collect()
    )
    assert got == exp


def test_doc_shingles_rows_unique_without_distinct(spark):
    from cuda_selection_criteria_spark.functions.ngram import doc_shingles

    docs = spark.createDataFrame(
        [(0, "abababababab"), (1, "abab"), (2, "xy"), (3, None)],
        "doc_id long, text string",
    )
    out = doc_shingles(docs, 4).collect()
    rows = [(r.doc_id, r.s) for r in out]
    assert len(rows) == len(set(rows)), "shingle rows must be unique"
    # doc 0: 4-shingles of 'ab'*6 are only 'abab'/'baba'
    assert sorted(s for d, s in rows if d == 0) == ["abab", "baba"]
    assert sorted(s for d, s in rows if d == 1) == ["abab"]
    assert [s for d, s in rows if d in (2, 3)] == []
    # hashed mode = xxhash64 of the distinct gram set
    hashed = {(r.doc_id, r.s) for r in doc_shingles(docs, 4, hashed=True).collect()}
    lit = spark.createDataFrame(
        [(d, s) for d, s in rows], "doc_id long, g string"
    ).select("doc_id", F.xxhash64("g").alias("s"))
    assert hashed == {(r.doc_id, r.s) for r in lit.collect()}


def test_cb_bucket_pairs_late_aux_join(spark):
    from cuda_selection_criteria_spark.operators.candidates import cb_bucket_pairs
    from cuda_selection_criteria_spark.oracle import DedupConfig

    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="hll_a")
    rows = [
        (i, 100 + i % 3, bytes([i % 251]) * 8) for i in range(12)
    ]
    sk_aux = spark.createDataFrame(
        rows, "url_id long, card_i long, hll_aux binary"
    )
    with_aux = cb_bucket_pairs(sk_aux, cfg)
    assert {"id_a", "id_b", "card_a", "card_b", "aux_a", "aux_b"} <= set(
        with_aux.columns
    )
    got = with_aux.collect()
    # narrow run (no aux column) must produce the same pair set
    narrow = cb_bucket_pairs(sk_aux.drop("hll_aux"), cfg)
    assert {(r.id_a, r.id_b, r.card_a, r.card_b) for r in got} == {
        (r.id_a, r.id_b, r.card_a, r.card_b) for r in narrow.collect()
    }
    # the late join re-attached each side's own blob
    blob = {r[0]: r[2] for r in rows}
    for r in got:
        assert bytes(r.aux_a) == blob[r.id_a]
        assert bytes(r.aux_b) == blob[r.id_b]
    # salted variant unchanged too
    salted = cb_bucket_pairs(sk_aux, cfg, salt_target=2)
    assert {(r.id_a, r.id_b) for r in salted.collect()} == {
        (r.id_a, r.id_b) for r in got
    }
