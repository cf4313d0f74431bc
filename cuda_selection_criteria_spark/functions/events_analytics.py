"""Event-stream analytics operators: sessionization, as-of join,
hot-key skew profiling, typed rollups.

These are the batch siblings of ``streaming/windows.py`` — the event
operators a web-scale crawl pipeline needs around the dedup core:
gap-based sessionization (crawl visit grouping), as-of joins (attach
the most recent prior state to an event without a range-join blowup),
and hot-key detection (the skew profile that decides which keys the
salted repartitioning in ``operators/candidates.py`` must spread).

All outputs are integer-exact: timestamps leave as ``unix_micros``
BIGINTs, monetary-style doubles as round(value*100) cents, so the
DuckDB oracle matches bit-for-bit.

Scale shape (100 TB): sessionize and asof_join are ONE shuffle on the
partition key followed by a single window sort — the standard
distributed as-of pattern (never a ts-range join, whose fanout is
unbounded). ``key_skew_profile`` is a map-side-combined count plus a
1-row broadcast of the global totals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """(key, session_idx, n_events, session_start_us, session_end_us):
    gap-based sessions — a new session starts when the time since the
    key's previous event exceeds ``gap_seconds``.

    Ordering within a key is (ts, tiebreak) — total, so session
    boundaries are deterministic even with equal timestamps. One
    shuffle on the key; the cumulative-sum window is a single sort.
    """
    # TIMESTAMP_NTZ -> TIMESTAMP (session tz is pinned UTC) -> micros
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # NULLS LAST to match ANSI/DuckDB default ASC ordering (Spark
    # defaults to NULLS FIRST — a NULL ts would otherwise seed the
    # session numbering differently than the oracle)
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )
    prev = F.lag(us).over(w)
    # two projections: the lag window must be materialized before the
    # cumulative sum can window over its result (nested window
    # functions are illegal in one select)
    flagged = events.select(
        F.col(key_col),
        us.alias("_us"),
        F.col(tiebreak_col).alias("_tb"),
        F.when(prev.isNull() | (us - prev > gap_seconds * 1_000_000), 1)
        .otherwise(0)
        .alias("_new"),
    )
    wcum = (
        Window.partitionBy(key_col)
        .orderBy(F.col("_us").asc_nulls_last(), F.col("_tb").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessioned = flagged.select(
        F.col(key_col),
        F.col("_us"),
        F.sum("_new").over(wcum).alias("session_idx"),
    )
    return sessioned.groupBy(key_col, "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("_us").alias("session_start_us"),
        F.max("_us").alias("session_end_us"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    order_by: list[str],
    payload: str,
    out_col: str = "asof_value",
) -> DataFrame:
    """Distributed as-of join: every ``left`` row gains the most recent
    ``right`` row's ``payload`` at-or-before it in ``order_by`` order
    (right rows sort before left rows at exactly-equal order keys).

    Spark has no native as-of join; the classic composition is
    union-tag + last(ignorenulls) over a cumulative window: ONE
    shuffle on ``on`` and one sort, versus the unbounded fanout of a
    ts-range join. ``order_by`` should be a total order within each
    key group (include a unique tiebreak column) so the carried value
    is deterministic.
    """
    # check BOTH sides: a right-side on/order_by column named _p or
    # _side would produce duplicate columns in the tagged union and
    # fail later with an opaque ambiguity error. out_col only clashes
    # on the left: the right payload is aliased to _p before the union
    for side, cols, reserved in (
        ("left", set(left.columns), {"_p", "_side", out_col}),
        ("right", set(on) | set(order_by) | {payload}, {"_p", "_side"}),
    ):
        clash = reserved & cols
        if clash:
            # the union-tag composition would silently clobber (or
            # duplicate) these caller columns
            raise ValueError(
                f"asof_join reserves columns {sorted(reserved)}; "
                f"{side} already has {sorted(clash)}"
            )
    ptype = right.schema[payload].dataType
    r = right.select(
        *on,
        *order_by,
        F.col(payload).alias("_p"),
        F.lit(0).alias("_side"),
    )
    l = left.withColumn("_p", F.lit(None).cast(ptype)).withColumn(
        "_side", F.lit(1)
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        # NULLS LAST matches ANSI/DuckDB default ASC order (Spark
        # defaults NULLS FIRST); a NULL order key would otherwise
        # carry its payload into every row of the key group
        .orderBy(
            *[F.col(c).asc_nulls_last() for c in order_by],
            F.col("_side").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_carry", F.last("_p", ignorenulls=True).over(w))
    return (
        carried.where(F.col("_side") == 1)
        .drop("_p", "_side")
        .withColumnRenamed("_carry", out_col)
    )


def events_asof_clicks(events: DataFrame) -> DataFrame:
    """(event_id, user_id, ts_us, last_click_value_cents): each
    ``error`` event annotated with the value of the user's most recent
    prior ``click`` (NULL if none) — the as-of join specialization the
    driver oracle verifies.
    """
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        errors,
        clicks,
        on=["user_id"],
        order_by=["ts", "event_id"],
        payload="value",
        out_col="_last_click",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("_last_click") * 100)
        .cast("long")
        .alias("last_click_value_cents"),
    )


def key_skew_profile(
    df: DataFrame, key_col: str, heavy_factor: int = 2
) -> DataFrame:
    """(key, n_rows, is_heavy): per-key row counts with a heavy-hitter
    flag — heavy iff the key holds more than ``heavy_factor`` times
    the mean rows/key. The comparison is the integer cross-product
    ``n_rows * n_keys > heavy_factor * n_total`` (no division, exact),
    widened to decimal(38,0): at web scale (1e9 keys x 1e10-row hot
    key) the product overflows int64, which under ANSI mode crashes
    and otherwise wraps negative — silently un-flagging exactly the
    key the salted joins needed to spread.

    This is the skew detector that feeds salted repartitioning: keys
    it flags are the ones a band/bucket join must salt (the
    ``salt_target`` machinery in ``operators/candidates.py``).
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_rows"))
    totals = counts.agg(
        F.count("*").alias("_n_keys"), F.sum("n_rows").alias("_n_total")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        key_col,
        "n_rows",
        (
            F.col("n_rows").cast("decimal(38,0)") * F.col("_n_keys")
            > F.lit(heavy_factor) * F.col("_n_total").cast("decimal(38,0)")
        )
        .cast("int")
        .alias("is_heavy"),
    )


def event_type_stats(events: DataFrame) -> DataFrame:
    """(event_type, n_events, n_users, sum_value_cents, min_value_cents,
    max_value_cents): integer-exact per-type rollup. Values become
    cents BEFORE aggregation so the sum is an order-independent
    integer sum (float summation order differs across engines)."""
    cents = F.round(F.col("value") * 100).cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents).alias("sum_value_cents"),
        F.min(cents).alias("min_value_cents"),
        F.max(cents).alias("max_value_cents"),
    )
