"""Pipeline parity for the non-default criteria (hll_a, hll_an, cb)."""

from __future__ import annotations

import pytest

from cuda_selection_criteria_spark.corpus import generate_pages
from cuda_selection_criteria_spark.oracle import DedupConfig, oracle_dup_pairs
from cuda_selection_criteria_spark.pipeline import dedup_pipeline, pages_from_corpus

N_ROWS = 150
SEED = 7


def test_cb_bucket_pairs_adjacent_bucket_both_orderings(spark):
    """Pairs straddling a log-cardinality bucket boundary must survive
    regardless of which side has the larger url_id (regression: the
    b-side used to explode to {b, b-1} only, so a lower-bucket doc with
    the larger url_id lost its only orientation to the id_a < id_b
    filter)."""
    from cuda_selection_criteria_spark.operators.candidates import cb_bucket_pairs

    cfg = DedupConfig(criterion="cb")
    # tau=0.9: floor(ln(905)/ln(1/0.9)) = 64, floor(ln(1000)/ln(1/0.9)) = 65;
    # CB passes (905/1000 = 0.905 >= 0.9) -> pair must always survive.
    for small_card_id, big_card_id in ((1, 2), (2, 1)):
        sk = spark.createDataFrame(
            [(small_card_id, 905), (big_card_id, 1000)], "url_id long, card_i long"
        )
        got = {(r.id_a, r.id_b) for r in cb_bucket_pairs(sk, cfg).collect()}
        assert got == {(1, 2)}, (small_card_id, big_card_id)


def test_cb_bucket_pairs_matches_bruteforce(spark):
    """Bucket-join candidate set == brute-force CB over random cards."""
    import random

    from cuda_selection_criteria_spark.operators.candidates import cb_bucket_pairs

    cfg = DedupConfig(criterion="cb")
    rng = random.Random(123)
    cards = [rng.randint(1, 3000) for _ in range(80)]
    expect = {
        (i, j)
        for i in range(len(cards))
        for j in range(i + 1, len(cards))
        if min(cards[i], cards[j]) / max(cards[i], cards[j]) >= cfg.tau
    }
    rows = list(enumerate(cards))
    rng.shuffle(rows)
    sk = spark.createDataFrame(rows, "url_id long, card_i long")
    got = {(r.id_a, r.id_b) for r in cb_bucket_pairs(sk, cfg).collect()}
    assert got == expect


def test_cb_bucket_pairs_tau_one_pairs_equal_cards(spark):
    """At tau=1 CB keeps exactly the pairs of equal positive cardinality
    (regression: the log-bucket width 1/log(1/tau) divided by zero)."""
    import random

    from cuda_selection_criteria_spark.operators.candidates import cb_bucket_pairs

    cfg = DedupConfig(tau=1.0, criterion="cb")
    rng = random.Random(5)
    cards = [rng.randint(0, 12) for _ in range(60)]
    expect = {
        (i, j)
        for i in range(len(cards))
        for j in range(i + 1, len(cards))
        if cards[i] == cards[j] > 0
    }
    sk = spark.createDataFrame(list(enumerate(cards)), "url_id long, card_i long")
    got = {(r.id_a, r.id_b) for r in cb_bucket_pairs(sk, cfg).collect()}
    assert expect and got == expect


@pytest.mark.parametrize(
    "bad",
    [
        {"tau": 0.0},
        {"tau": -0.5},
        {"tau": 1.5},
        {"criterion": "hll-an"},
        {"criterion": "smh"},
        {"register_encoding": "Sparse"},
    ],
    ids=["tau0", "tau_neg", "tau_gt1", "hll-an", "smh", "Sparse"],
)
def test_dedup_config_rejects_bad_values(bad):
    with pytest.raises(ValueError):
        DedupConfig(**bad)


@pytest.mark.parametrize("criterion", ["cb", "hll_an"])
def test_criterion_matches_oracle_at_tau_one(spark, criterion):
    """tau=1 runs and agrees with the oracle (it used to divide by zero).
    The verified set is empty on this corpus for both: a truncated-
    cardinality HLL Jaccard rarely reaches exactly 1."""
    _assert_matches_oracle(spark, DedupConfig(tau=1.0, criterion=criterion))


@pytest.mark.parametrize("criterion", ["hll_a", "hll_an", "cb"])
def test_criterion_matches_oracle(spark, criterion):
    _assert_matches_oracle(spark, DedupConfig(criterion=criterion))


def _assert_matches_oracle(spark, cfg):
    rows, _ = generate_pages(N_ROWS, SEED)
    expect = {
        tuple(sorted((a, b))): j
        for a, b, j in oracle_dup_pairs([(r.url, r.text) for r in rows], cfg)
    }
    pages = pages_from_corpus(spark, N_ROWS, SEED, partitions=4)
    res = dedup_pipeline(pages, cfg)
    got = {(r.url_a, r.url_b): r.jaccard for r in res.dup_pairs.collect()}
    assert set(got) == set(expect)
    for k, v in got.items():
        assert abs(v - expect[k]) < 1e-9
