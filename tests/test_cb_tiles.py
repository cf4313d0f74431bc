"""The CB tile operator (``cb_tile_pairs``) against the pair-form chain
``cb_bucket_pairs`` -> ``aux_criterion_filter`` -> ``verify_pairs``, the
log-bucket join's one-match-per-pair property it relies on, and the
shape of the plan ``dedup_from_sketches`` runs for hll_an."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuda_selection_criteria_spark.operators import sketch_pages, verify_pairs
from cuda_selection_criteria_spark.operators import candidates
from cuda_selection_criteria_spark.operators.candidates import (
    _bucket_sides,
    _cb_keep,
    _log_buckets,
    aux_criterion_filter,
    cb_bucket_pairs,
    cb_tile_pairs,
)
from cuda_selection_criteria_spark.oracle import DedupConfig
from cuda_selection_criteria_spark.pipeline import dedup_from_sketches, pages_from_corpus

SALT = 8


@pytest.fixture(scope="module")
def corpus_sketches(spark):
    """Generated crawl pages, sketched with the aux HLL (hll_an carries it)."""
    pages = pages_from_corpus(spark, 200, seed=7, partitions=4).select("url", "text")
    return sketch_pages(pages, DedupConfig(criterion="hll_an")).localCheckpoint(eager=True)


def _sketches_for(sk: DataFrame, cfg: DedupConfig) -> DataFrame:
    return sk if cfg.criterion in ("hll_a", "hll_an") else sk.drop("hll_aux")


def _pair_form(sk, cfg, **kw) -> list[tuple]:
    cands = cb_bucket_pairs(sk, cfg, **kw)
    if cfg.criterion in ("hll_a", "hll_an"):
        cands = aux_criterion_filter(cands, cfg)
    return _rows(verify_pairs(cands, sk, cfg, with_ids=True))


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(
        (r.id_a, r.id_b, r.url_a, r.url_b, r.jaccard)
        for r in df.select("id_a", "id_b", "url_a", "url_b", "jaccard").collect()
    )


def _assert_tile_equals_pair_form(sk, cfg, **kw) -> list[tuple]:
    want = _pair_form(sk, cfg, **kw)
    got = _rows(cb_tile_pairs(sk, cfg, **kw))
    assert got == want
    assert len({(r[0], r[1]) for r in got}) == len(got)
    return got


def _bucket_sizes(sk, tau) -> list[int]:
    base, _ = _log_buckets(sk, tau)
    return sorted(r["count"] for r in base.groupBy("bkt").count().collect())


@pytest.mark.parametrize("criterion", ["cb", "hll_a", "hll_an"])
def test_tile_equals_pair_form_unsalted(spark, corpus_sketches, criterion):
    cfg = DedupConfig(criterion=criterion)
    assert _assert_tile_equals_pair_form(_sketches_for(corpus_sketches, cfg), cfg)


@pytest.mark.parametrize("criterion", ["cb", "hll_a", "hll_an"])
def test_tile_equals_pair_form_salted(spark, corpus_sketches, criterion):
    cfg = DedupConfig(criterion=criterion)
    sk = _sketches_for(corpus_sketches, cfg)
    assert _bucket_sizes(sk, cfg.tau)[-1] > SALT  # salting splits buckets
    got = _assert_tile_equals_pair_form(sk, cfg, salt_target=SALT)
    assert got == _rows(cb_tile_pairs(sk, cfg))


@pytest.mark.parametrize("criterion", ["cb", "hll_a", "hll_an"])
def test_tile_equals_pair_form_capped(spark, corpus_sketches, criterion):
    cfg = DedupConfig(criterion=criterion)
    sk = _sketches_for(corpus_sketches, cfg)
    cap = _bucket_sizes(sk, cfg.tau)[-1] - 1  # drops the largest bucket
    got = _assert_tile_equals_pair_form(sk, cfg, max_bucket=cap)
    assert len(got) < len(_rows(cb_tile_pairs(sk, cfg)))  # the cap bites
    assert got == _rows(cb_tile_pairs(sk, cfg, salt_target=SALT, max_bucket=cap))


@pytest.mark.parametrize("criterion", ["cb", "hll_a", "hll_an"])
def test_tile_equals_pair_form_tau_one(spark, corpus_sketches, criterion):
    """tau=1 keys on card_i itself, with no neighbour rows. card_i is
    raised to ceil(card) so equal-content docs verify at Jaccard >= 1."""
    cfg = DedupConfig(tau=1.0, criterion=criterion)
    sk = _sketches_for(corpus_sketches, cfg).withColumn(
        "card_i", F.ceil("card").cast("long")
    )
    got = _assert_tile_equals_pair_form(sk, cfg)
    if criterion == "cb":
        assert got  # non-vacuous


@pytest.mark.parametrize("criterion", ["cb", "hll_an"])
def test_tile_bucket_larger_than_pair_chunk(spark, criterion):
    """One bucket whose a x b grid exceeds the kernel's pair chunk, so
    the kernel steps through it in several chunks."""
    template = (
        "one template page repeated across a whole bucket so that every "
        "copy lands in the same log-cardinality bucket as the others " * 4
    )
    rows = [(f"flood/{i:03d}", template + f" v{i % 3}") for i in range(300)]
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg = DedupConfig(criterion=criterion)
    sk = sketch_pages(pages, cfg).localCheckpoint(eager=True)
    big = _bucket_sizes(sk, cfg.tau)[-1]
    assert big * big > candidates._PAIR_CHUNK
    got = _assert_tile_equals_pair_form(sk, cfg)
    assert len(got) > candidates._PAIR_CHUNK // 2


@pytest.mark.parametrize("salt_target", [None, SALT], ids=["unsalted", "salted"])
def test_cb_log_bucket_join_meets_each_pair_once(spark, corpus_sketches, salt_target):
    """The CB log-bucket join, before any dedup, holds each pair once:
    it meets only in its side-a doc's own bucket (salted: on one (bkt,
    sa, sb)). The tile kernel, which has no dedup, relies on this."""
    tau = DedupConfig().tau
    base, neighbours = _log_buckets(corpus_sketches, tau)
    a, b, key = _bucket_sides(base, ["bkt"], neighbours, salt_target, None)
    raw = a.join(b, key).where(F.col("id_a") < F.col("id_b")).where(_cb_keep(tau))
    n = raw.count()
    assert n > 0
    assert raw.select("id_a", "id_b").distinct().count() == n
    assert cb_bucket_pairs(corpus_sketches.drop("hll_aux"), DedupConfig(criterion="cb")).count() == n


def _explain(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_hll_an_plan_has_one_tile_pass_and_no_blob_joins(spark, corpus_sketches, monkeypatch):
    """Default-flag hll_an: one grouped Python pass, no join keyed on a
    pair id, and no operator whose rows hold a pair id next to a p=14
    or aux blob (what the pair form's payload joins build).
    ``localCheckpoint`` is made a no-op so ``dup_pairs``' plan shows the
    work instead of a scan of checkpoint blocks."""
    monkeypatch.setattr(
        type(corpus_sketches), "localCheckpoint", lambda self, eager=True: self
    )
    cfg = DedupConfig(criterion="hll_an")
    plan = _explain(dedup_from_sketches(corpus_sketches, cfg).dup_pairs)
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.MULTILINE)) == 1
    assert not re.findall(r"^\(\d+\) MapInPandas", plan, re.MULTILINE)
    keys = re.findall(r"^(?:Left|Right) keys \[\d+\]: (.*)$", plan, re.MULTILINE)
    assert not [k for k in keys if re.search(r"\bid_[ab]#", k)]
    columns = re.findall(r"^(?:Input|Output) \[\d+\]: (.*)$", plan, re.MULTILINE)
    blob = r"\b(?:hll14|hll_aux|hll_[ab]|aux_[ab])#"
    assert not [c for c in columns if re.search(r"\bid_[ab]#", c) and re.search(blob, c)]
