"""Input spreading: ``functions.spread.spread`` and the sketch stage's
use of it."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.functions.spread import spread
from cuda_selection_criteria_spark.operators import sketch_pages
from cuda_selection_criteria_spark.oracle import DedupConfig

CFG = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14)
TEXT = "the quick brown fox jumps over the lazy dog and keeps on running "


def _pages(spark, n=24, with_id=False):
    rows = [(f"u{i}", 1000 + 7 * i, TEXT * (1 + i % 3)) for i in range(n)]
    df = spark.createDataFrame(rows, "url string, url_id long, text string")
    return df if with_id else df.drop("url_id")


def _n_exchanges(df) -> int:
    """Exchanges in ``df``'s physical plan; call it before any action on
    ``df`` (AQE's final plan also prints the initial one)."""
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_single_partition_pages_sketch_on_default_parallelism(spark):
    pages = _pages(spark).coalesce(1)
    assert pages.rdd.getNumPartitions() == 1
    sk = sketch_pages(pages, CFG)
    assert _n_exchanges(sk) == 1
    assert sk.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sk.count() == 24


def test_min_partitions_at_input_width_adds_no_exchange(spark):
    pages = _pages(spark).repartition(3).localCheckpoint()
    assert _n_exchanges(pages) == 0
    n = pages.rdd.getNumPartitions()
    assert _n_exchanges(spread(pages, n)) == 0
    # the sketch stage's one exchange is its id exchange, as wide as
    # min_partitions or the input, whichever is wider
    for min_partitions, width in ((n - 1, n), (n, n), (n + 2, n + 2)):
        sk = sketch_pages(pages, CFG, min_partitions=min_partitions)
        assert _n_exchanges(sk) == 1
        assert sk.rdd.getNumPartitions() == width


def test_passed_through_url_id_survives_spread(spark):
    pages = _pages(spark, with_id=True).coalesce(1)
    sk = sketch_pages(pages, CFG)
    assert _n_exchanges(sk) == 1
    got = {(r.url, r.url_id) for r in sk.select("url", "url_id").collect()}
    want = {(r.url, r.url_id) for r in pages.select("url", "url_id").collect()}
    assert got == want


@pytest.mark.parametrize("criterion", ["smh_a", "hll_an"])
def test_spread_returns_streaming_input_unchanged(spark, criterion):
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert spread(stream) is stream
    pages = stream.select(
        F.col("value").cast("string").alias("url"), F.lit(TEXT).alias("text")
    )
    sk = sketch_pages(pages, DedupConfig(criterion=criterion))
    assert sk.isStreaming
