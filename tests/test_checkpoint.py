"""Lazy local checkpoints: ``localCheckpoint(eager=False)``, as the
cascade, gate, n-gram and similarity operators use it, stays readable
in full after a first action that computed only part of it."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

N = 1000

PARTIAL_ACTIONS = {
    "limit_collect": lambda df: df.limit(1).collect(),
    "take": lambda df: df.take(2),
    "show": lambda df: df.show(1),
}


@pytest.mark.parametrize("first", sorted(PARTIAL_ACTIONS))
def test_lazy_checkpoint_complete_after_partial_first_action(spark, first):
    df = (
        spark.range(0, N, numPartitions=8)
        .withColumn("k", F.col("id") % 10)
        .localCheckpoint(eager=False)
    )
    PARTIAL_ACTIONS[first](df)
    assert df.count() == N
    assert df.agg(F.sum("id")).first()[0] == N * (N - 1) // 2
    pairs = df.alias("a").join(df.alias("b"), "k")
    assert pairs.count() == N * N // 10
