"""Round-5 regression tests: vectorized Ertl-MLE bit-identity, the
collision-free, content-determined url_id, and the cb_bucket_pairs flood guard
(VERDICT r4 "What's wrong" #1-#4)."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_selection_criteria_spark.oracle import DedupConfig
from cuda_selection_criteria_spark.operators import sketch_pages
from cuda_selection_criteria_spark.operators.candidates import (
    _bucket_sides,
    _log_buckets,
    cb_bucket_pairs,
)
from cuda_selection_criteria_spark.pipeline import dedup_pipeline, pages_from_corpus
from cuda_selection_criteria_spark.sketchlib.hll import (
    ertl_mle,
    ertl_mle_batch,
    hll_build,
    sum_counts,
)

CFG = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14)


# ------------------------------------------------------------ ertl_mle_batch


@pytest.mark.parametrize("p", [14, 8])
def test_ertl_mle_batch_bit_identical(p):
    """Every row of the vectorized secant must equal the scalar port
    bit-for-bit — same IEEE-754 op sequence per row by construction."""
    rng = np.random.default_rng(7)
    m = 1 << p
    hists = []
    # sparse/dense synthetic register files incl. empty and saturated
    for fill in sorted({0, 1, 3, 10, min(100, m), m // 2, m - 1, m}):
        regs = np.zeros(m, dtype=np.uint8)
        if fill:
            idx = rng.choice(m, size=fill, replace=False)
            regs[idx] = rng.integers(1, 64 - p + 2, size=fill)
        hists.append(sum_counts(regs))
    hists.append(sum_counts(np.full(m, 64 - p + 1, dtype=np.uint8)))  # -> inf
    # realistic: folded from random hashes at varied cardinalities
    for n_el in (5, 500, 50_000, 500_000):
        regs = hll_build(rng.integers(0, 2**63, size=n_el, dtype=np.uint64), p)
        hists.append(sum_counts(regs))
    H = np.stack(hists)
    scalar = np.array([ertl_mle(h, p) for h in H])
    batch = ertl_mle_batch(H, p)
    assert (np.isinf(scalar) == np.isinf(batch)).all()
    fin = ~np.isinf(scalar)
    assert np.array_equal(scalar[fin], batch[fin])  # bit-identical


def test_ertl_mle_batch_single_row_and_1d():
    regs = hll_build(np.arange(1000, dtype=np.uint64), 14)
    h = sum_counts(regs)
    assert ertl_mle_batch(h, 14)[0] == ertl_mle(h, 14)


# ------------------------------------------------- content-determined url_id


def test_dense_ids_unique_and_default(spark):
    pages = pages_from_corpus(spark, 200, seed=11, partitions=4)
    sk = sketch_pages(pages, CFG).localCheckpoint(eager=True)
    n = sk.count()
    assert n == 200
    assert sk.select("url_id").distinct().count() == n  # collision-free
    # the ids are NOT url hashes (the r4 silent-merge hazard)
    hashed = sk.withColumn("_h", F.xxhash64("url")).where(
        F.col("_h") == F.col("url_id")
    )
    assert hashed.count() < n


LONG_A = (
    "shared template body for the two genuine near-duplicate documents "
    "with plenty of shingleable text content repeated enough times " * 4
)
LONG_C = (
    "completely unrelated third document about a different topic entirely "
    "carrying its own distinct vocabulary and enough length to sketch " * 4
)


def test_forced_id_collision_wrongly_merges(spark):
    """Documents: A ~ B (true dups), C unrelated. Forcing C onto B's
    url_id (what a 64-bit hash surrogate does at 10^12-doc scale,
    n^2/2^65 times) conflates C with the A-B cluster — the hazard the
    collision-free url_id closes."""
    pages = spark.createDataFrame(
        [
            ("a", 1, LONG_A),
            ("b", 2, LONG_A),
            ("c", 2, LONG_C),  # forced collision with b
        ],
        "url string, url_id long, text string",
    )
    res = dedup_pipeline(pages, CFG)
    clusters = {r.url: r.cluster_id for r in res.clusters.collect()}
    assert clusters["a"] == clusters["b"]  # true dup pair found
    assert clusters.get("c") == clusters["a"]  # the WRONG merge happens


def test_verify_shared_url_id_uses_each_rows_own_blobs(spark):
    """Two different documents share url_id 2 (the forced collision
    above), one shipped in the dense register layout: every verify row
    must score its OWN blobs, as the dense max + histogram does — the
    verify kernel's per-batch blob cache is keyed by content, not id."""
    from types import SimpleNamespace

    from cuda_selection_criteria_spark.operators.verify import verify_pairs
    from cuda_selection_criteria_spark.sketchlib.batch import (
        decode_registers,
        hll_cards_encode_batch,
        register_histograms,
    )
    from cuda_selection_criteria_spark.sketchlib.hashes import shingle_hashes

    p = CFG.hll_p
    texts = {"a": LONG_A, "b": LONG_A[:-40] + " tail", "c": LONG_C}
    blobs, cards = {}, {}
    for url, text in texts.items():
        items = shingle_hashes(text, CFG.shingle_k)
        enc = "dense" if url == "c" else "sparse"
        card, blob = hll_cards_encode_batch(
            items, np.zeros(items.size, dtype=np.int64), 1, p, encoding=enc
        )
        cards[url], blobs[url] = float(card[0]), blob[0]
    assert len(blobs["c"]) == 1 << p and len(blobs["a"]) < 1 << p
    ids = {"a": 1, "b": 2, "c": 2}
    sketches = spark.createDataFrame(
        [(ids[u], u, bytearray(blobs[u])) for u in texts],
        "url_id long, url string, hll14 binary",
    )
    # card_a / card_b: the candidate frame carries one value per id
    cands = spark.createDataFrame(
        [(1, 2, cards["a"], cards["b"]), (2, 2, cards["b"], cards["b"])],
        "id_a long, id_b long, card_a double, card_b double",
    )
    # Jaccard >= -1 always; DedupConfig rejects tau <= 0, and verify
    # reads only hll_p and tau
    keep_all = SimpleNamespace(hll_p=p, tau=-1.0)
    got = sorted(
        (r.url_a, r.url_b, r.jaccard)
        for r in verify_pairs(cands, sketches, keep_all).collect()
    )

    def dense_jaccard(ua, ub, e1, e2):
        mx = np.maximum(decode_registers([blobs[ua]], p), decode_registers([blobs[ub]], p))
        t = ertl_mle_batch(register_histograms(mx), p)[0]
        return (e1 + e2 - t) / t

    rows = [("a", x, cards["a"], cards["b"]) for x in "bc"]
    rows += [(x, y, cards["b"], cards["b"]) for x in "bc" for y in "bc"]
    want = sorted(
        (min(x, y), max(x, y), dense_jaccard(x, y, e1, e2)) for x, y, e1, e2 in rows
    )
    assert got == want
    # the collision is visible: b and c score differently against a
    assert got[0][2] != got[1][2]


def test_dense_ids_keep_collision_victims_apart(spark):
    """Same three documents through the default-id pipeline:
    C stays out of the A-B cluster."""
    pages = spark.createDataFrame(
        [
            ("a", LONG_A),
            ("b", LONG_A),
            ("c", LONG_C),
        ],
        "url string, text string",
    )
    res = dedup_pipeline(pages, CFG)
    clusters = {r.url: r.cluster_id for r in res.clusters.collect()}
    assert clusters["a"] == clusters["b"]
    assert clusters.get("c") != clusters["a"]  # no silent merge


def _ids(sk):
    return {r.url: r.url_id for r in sk.select("url", "url_id").collect()}


def test_sketch_ids_and_star_pairs_independent_of_layout(spark):
    from cuda_selection_criteria_spark.operators.candidates import candidate_pairs

    pages = pages_from_corpus(spark, 200, seed=11).localCheckpoint(eager=True)
    runs = []
    for src, min_partitions in (
        (pages.coalesce(1), None),
        (pages.repartition(2), None),
        (pages.repartition(5), None),
        (pages, 6),
    ):
        sk = sketch_pages(src, CFG, min_partitions=min_partitions)
        sk = sk.localCheckpoint(eager=True)
        star = candidate_pairs(sk, CFG, bucket_pairing="star")
        runs.append((_ids(sk), sorted(tuple(r) for r in star.collect())))
    assert len(runs[0][0]) == 200 and runs[0][1]
    assert all(run == runs[0] for run in runs[1:])


def test_warehouse_ids_stable_and_content_determined(tmp_path, spark):
    """Warehouse ids: unique, reproduced identically on re-read after
    resume, and equal to the in-memory sketch_pages ids, also when the
    parts are sketched in two runs."""
    from cuda_selection_criteria_spark.warehouse import Warehouse, sketch_with_resume

    pages = pages_from_corpus(spark, 120, seed=5, partitions=3)
    want = _ids(sketch_pages(pages, CFG))
    assert len(set(want.values())) == len(want) == 120  # unique
    for n_parts in (4, 8):
        wh1 = Warehouse(spark, str(tmp_path / f"wh1_{n_parts}"))
        sk1 = sketch_with_resume(wh1, pages, CFG, n_parts=n_parts, run_id="r1")
        assert _ids(sk1) == want
        # resume (no todo parts) reproduces the persisted ids
        sk2 = sketch_with_resume(wh1, pages, CFG, n_parts=n_parts, run_id="r2")
        assert _ids(sk2) == want
        # partial resume: the low half of the parts sketched in one run,
        # the high half in the next, which the first never saw
        wh2 = Warehouse(spark, str(tmp_path / f"wh2_{n_parts}"))
        high = F.pmod(F.xxhash64("url"), F.lit(n_parts)) >= n_parts // 2
        sketch_with_resume(wh2, pages.where(~high), CFG, n_parts=n_parts, run_id="r3")
        shutil.rmtree(wh2.path("lineage"))  # as if the high half had not run
        wh2.mark_parts("r3", "sketch", list(range(n_parts // 2)))
        sk3 = sketch_with_resume(wh2, pages, CFG, n_parts=n_parts, run_id="r4")
        assert _ids(sk3) == want
        metrics = {r.run_id: r.rows_out for r in wh2.read("metrics").collect()}
        assert metrics["r4"] == pages.where(high).count() > 0


@pytest.mark.parametrize("n_parts", [0, 3, 12])
def test_warehouse_rejects_n_parts_not_dividing_id_parts(tmp_path, spark, n_parts):
    from cuda_selection_criteria_spark.warehouse import Warehouse, sketch_with_resume

    pages = pages_from_corpus(spark, 20, seed=5)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="n_parts"):
        sketch_with_resume(wh, pages, CFG, n_parts=n_parts)
    assert not (tmp_path / "wh").exists()


def test_warehouse_refuses_metaless_resume(tmp_path, spark):
    """ADVICE r4: completed sketch parts with no sketch_meta must refuse
    to resume instead of back-filling the NEW run's config as the
    recorded identity."""
    from cuda_selection_criteria_spark.warehouse import Warehouse, sketch_with_resume

    pages = pages_from_corpus(spark, 60, seed=5, partitions=2)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sketch_with_resume(wh, pages, CFG, n_parts=4, run_id="r1")
    shutil.rmtree(wh.path("sketch_meta"))  # pre-sketch_meta-era warehouse
    with pytest.raises(ValueError, match="no sketch_meta"):
        sketch_with_resume(wh, pages, CFG, n_parts=4, run_id="r2")


# -------------------------------------------------- cb_bucket_pairs salting

FLOOD = 80


def _flood_pages(spark):
    template = (
        "identical template page flooding a single log-cardinality bucket "
        "with enough repeated shingleable text to build a stable sketch " * 3
    )
    rows = [(f"hot/{i:03d}", template + f" v{i % 2}") for i in range(FLOOD)]
    rows += [
        (
            f"cold/{i}",
            f"cold page {i} with distinct words " + ("filler words here " * (3 + 5 * i)),
        )
        for i in range(15)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_cb_salted_pairs_identical_to_unsalted(spark):
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="cb")
    sk = sketch_pages(_flood_pages(spark), cfg).localCheckpoint(eager=True)
    base = {(r.id_a, r.id_b) for r in cb_bucket_pairs(sk, cfg).collect()}
    salted = {
        (r.id_a, r.id_b)
        for r in cb_bucket_pairs(sk, cfg, salt_target=16).collect()
    }
    assert salted == base
    # the flood bucket really floods: the clique contributes its pairs
    assert len(base) >= FLOOD * (FLOOD - 1) // 2


def test_cb_salt_bounds_per_key_rows(spark):
    """No single (bkt, sa, sb) join key may hold more than ~salt_target
    rows per side — the straggler bound the guard enforces within a
    log-cardinality bucket (r4 VERDICT #1: previously quadratic),
    measured on the operator's own salted sides."""
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="cb")
    sk = sketch_pages(_flood_pages(spark), cfg).localCheckpoint(eager=True)
    target = 16
    base, neighbours = _log_buckets(sk, cfg.tau)
    sizes = base.groupBy("bkt").count()
    assert sizes.agg(F.max("count")).collect()[0][0] >= FLOOD  # flood is real
    a, b, key = _bucket_sides(base, ["bkt"], neighbours, target, None)
    assert key == ["bkt", "sa", "sb"]
    # side b also holds the neighbour keys no side-a row joins; those
    # carry no join work, so the bound is taken over the shared keys
    shared = a.select(*key).intersect(b.select(*key))
    for side in (a, b):
        per_key = side.join(shared, key, "left_semi").groupBy(*key).count()
        assert per_key.agg(F.max("count")).collect()[0][0] <= 2 * target


def test_cb_max_bucket_drops_flooded_bucket(spark):
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="cb")
    sk = sketch_pages(_flood_pages(spark), cfg).localCheckpoint(eager=True)
    capped = cb_bucket_pairs(sk, cfg, max_bucket=FLOOD // 2)
    base = cb_bucket_pairs(sk, cfg)
    assert capped.count() < base.count()  # flood bucket dropped
    # surviving pairs are a subset of the unguarded set
    extra = capped.join(base, ["id_a", "id_b"], "left_anti")
    assert extra.count() == 0


def test_ertl_mle_batch_empty_batch():
    """Empty batches return an empty array (the listcomps this replaced
    did); callers like cardinalities() and the verify UDF must not
    crash on zero-row inputs."""
    out = ertl_mle_batch(np.zeros((0, 64), dtype=np.int64), 14)
    assert out.shape == (0,)


def test_cb_max_bucket_spares_neighbor_buckets(spark):
    """Dropping a flooded bucket must not drop its (non-flooded)
    neighbors: the cap filters the oversized bucket's DOCS, not every
    join key the explode touches."""
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="cb")
    rows = [(i, 1000) for i in range(200)]  # flood bucket (card 1000)
    rows += [(1000 + i, 905) for i in range(3)]  # small adjacent bucket
    sk = spark.createDataFrame(rows, "url_id long, card_i long")
    capped = {
        (r.id_a, r.id_b)
        for r in cb_bucket_pairs(sk, cfg, max_bucket=50).collect()
    }
    # all three within-neighbor-bucket pairs survive; every pair
    # involving a flooded doc is gone
    expect = {(1000, 1001), (1000, 1002), (1001, 1002)}
    assert capped == expect


def test_hll_a_pipeline_salted_parity(spark):
    """End-to-end hll_a dup_pairs are unchanged by the flood guard."""
    cfg = DedupConfig(
        tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion="hll_a", aux_p=8
    )
    pages = pages_from_corpus(spark, 150, seed=42, partitions=4)
    plain = {
        (r.url_a, r.url_b)
        for r in dedup_pipeline(pages, cfg).dup_pairs.collect()
    }
    salted = {
        (r.url_a, r.url_b)
        for r in dedup_pipeline(pages, cfg, salt_target=16).dup_pairs.collect()
    }
    assert plain == salted
    assert plain  # non-vacuous
