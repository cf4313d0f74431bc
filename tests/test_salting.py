"""Explicit two-level salting and the bucket cap of the parity band
join (SURVEY §4 skew promise): a template clique (identical pages on
one hot domain) floods one band bucket; salting must spread the pair
work across s^2 shuffle keys without changing the emitted pair set,
and the cap must drop the flooded bucket and nothing else."""

from __future__ import annotations

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.operators.candidates import (
    _bucket_sides,
    candidate_pairs,
    explode_bands,
)
from cuda_selection_criteria_spark.operators import sketch_pages
from cuda_selection_criteria_spark.oracle import DedupConfig

CFG = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14)
CLIQUE = 60
WARM = 20  # a second clique: salted (> SALT_TARGET) but under CAP
SALT_TARGET = 16
CAP = 30


def _pages(spark):
    template = (
        "identical template page body served for every product url on "
        "the hot domain with enough text to shingle robustly " * 3
    )
    rows = [(f"hot/{i:03d}", template) for i in range(CLIQUE)]
    warm = (
        "a second shared layout served on a smaller domain whose pages all "
        "repeat one boilerplate body of quite different words " * 3
    )
    rows += [(f"warm/{i:03d}", warm) for i in range(WARM)]
    rows += [
        (f"cold/{i}", f"unique cold page number {i} with its own distinct words "
         f"and enough length to produce a real shingle set for document {i}")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_salted_pairs_identical_to_unsalted(spark):
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    base = {
        (r.id_a, r.id_b) for r in candidate_pairs(sk, CFG).collect()
    }
    salted = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(sk, CFG, salt_target=SALT_TARGET).collect()
    }
    assert salted == base
    # the clique contributes all its pairs
    assert len(base) >= CLIQUE * (CLIQUE - 1) // 2


def test_salt_bounds_per_key_join_work(spark):
    """No single (band, salt_a, salt_b) join key may hold more than
    ~salt_target rows per side — the straggler-task bound the salting
    exists to enforce, measured on the operator's own salted sides."""
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    bands = explode_bands(sk, CFG)
    sizes = bands.groupBy("band_id", "band").count()
    # the hot bucket really is hot (every clique member shares every band)
    assert sizes.agg(F.max("count")).collect()[0][0] >= CLIQUE
    a, b, key = _bucket_sides(bands, ["band_id", "band"], None, SALT_TARGET, None)
    assert key == ["band_id", "band", "sa", "sb"]
    for side in (a, b):
        max_side = side.groupBy(*key).count().agg(F.max("count")).collect()[0][0]
        # xxhash64 spreads the clique near-uniformly; 2x headroom on the target
        assert max_side <= 2 * SALT_TARGET


def test_max_band_bucket_drops_clique_only(spark):
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    ids = {r.url_id: r.url.split("/")[0] for r in sk.select("url", "url_id").collect()}

    def pairs(**kw):
        return {(r.id_a, r.id_b) for r in candidate_pairs(sk, CFG, **kw).collect()}

    def in_clique(pair_set, name):
        return {p for p in pair_set if ids[p[0]] == ids[p[1]] == name}

    base = pairs()
    capped = pairs(max_band_bucket=CAP)
    assert capped <= base
    assert len(in_clique(base, "hot")) == CLIQUE * (CLIQUE - 1) // 2
    assert not in_clique(capped, "hot")
    # the smaller clique's buckets sit under the cap and keep every pair
    assert len(in_clique(capped, "warm")) == WARM * (WARM - 1) // 2
    # salting the kept buckets changes nothing
    assert pairs(max_band_bucket=CAP, salt_target=SALT_TARGET) == capped
