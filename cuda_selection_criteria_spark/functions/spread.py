"""Scale-adaptive input spreading for per-row-heavy map stages.

At bench scale the ``documents`` / ``embeddings`` tables arrive as ONE
parquet split (a few MB under the 128 MB split size), so every
explode / hash / regex / matmul map stage downstream runs in a single
task on one core — the whole cluster idles while one task does the
work. A 100 TB table arrives in thousands of splits and never hits
this.

``spread(df)`` repartitions an input to the cluster's default
parallelism ONLY when its planned partition count is lower — the
adaptive form the optimization guide asks for (§2: derive partitioning
from input, don't tune a constant): big inputs are untouched (no extra
exchange at scale), small inputs pay one tiny exchange (the bench
tables are ~5-15 MB) to buy a parallelism-wide map stage. The sketch
stage (``operators/sketch.py``) spreads its (url, text) projection
through this same helper with a key: its id exchange hash-partitions
on the id part at the same width rule, so it spreads a narrow input
and keeps a wide one's width.

Results are partitioning-independent by construction everywhere this
is applied (groupBy/join keys, per-row projections, pure-function
sampling), so plans change but row sets do not — the oracle hash
checks pin that.

The ``getNumPartitions()`` probe reads the plan BEFORE adaptive query
execution: downstream of a shuffle it sees the configured
``spark.sql.shuffle.partitions`` (never below parallelism), so
``spread`` is a no-op there even when AQE later coalesces that shuffle
into a single partition. The HLL-union verify stage of ``cli dedup``
is such a case: AQE coalesces its ~94 KB candidate shuffle into one
task. Forcing ``repartition(defaultParallelism)`` on the candidates
before the payload joins spreads verify over 3 tasks. Measured with the
sparse ``union_histograms`` kernel and the worker zip stat guard
(``parity_m64`` seed 11, 7,238 candidates, 4-core VM, ``local[3]``, one
JVM, 8 alternating pairs in each of two runs): the verify job's wall
median went from 0.71/0.79 s to 0.65/0.73 s, while its UDF stage went
from 1 task of 0.32 s to 3 tasks totalling 0.65 s. About 0.06 s of a
~3.2 s dedup for twice the core time, so verify is deliberately left
unspread.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def spread(df: DataFrame, min_partitions: int | None = None, key: Column | None = None) -> DataFrame:
    """Repartition ``df`` up to cluster parallelism if it is planned
    narrower; no-op for streaming inputs and already-wide inputs.

    With a ``key`` it always hash-repartitions on it, at
    ``max(min_partitions, planned partitions)``: a caller that needs its
    rows clustered by the key gets that exchange, as wide as the input
    or the cluster, whichever is wider. The width is explicit because an
    AQE-sized exchange coalesces a small input into one task."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if min_partitions is None:
        min_partitions = sc.defaultParallelism
    # planned partitions, not file count: Spark packs small files into
    # fewer splits and splits large files into more (plan-time only —
    # the .rdd conversion is never executed)
    n = df.rdd.getNumPartitions()
    if key is not None:
        return df.repartition(max(min_partitions, n), key)
    if n < min_partitions:
        return df.repartition(min_partitions)
    return df
