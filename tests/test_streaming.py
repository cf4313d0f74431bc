"""Structured Streaming operators: windowed rollups and exact dedup."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.streaming import (
    run_available_now,
    streaming_exact_dedup,
    windowed_event_counts,
)
from cuda_selection_criteria_spark.streaming.windows import read_event_stream

SF = "/root/testdata/sf0.001"


def test_windowed_counts_stream_matches_batch(spark):
    batch = spark.read.parquet(f"{SF}/events.parquet")
    expect = {
        (r.w_start, r.event_type): r.n_events
        for r in windowed_event_counts(batch).collect()
    }
    stream = read_event_stream(spark, f"{SF}/events.parquet")
    assert stream.isStreaming
    got_df = run_available_now(windowed_event_counts(stream), "win_test")
    got = {(r.w_start, r.event_type): r.n_events for r in got_df.collect()}
    assert got == expect


def test_streaming_exact_dedup(spark, tmp_path):
    import pandas as pd
    from datetime import datetime, timedelta

    base = datetime(2025, 1, 1)
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(6)],
            "warc_ts": [base + timedelta(minutes=i) for i in range(6)],
            "text": ["aaa", "bbb", "aaa", "ccc", "bbb", "aaa"],
        }
    )
    src = tmp_path / "pages"
    spark.createDataFrame(pdf).write.parquet(str(src))
    stream = spark.readStream.schema("url string, warc_ts timestamp, text string").parquet(str(src))
    dedup = streaming_exact_dedup(stream)
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT text, count(*) AS n FROM dedup_test GROUP BY text").collect()
    counts = {r.text: r.n for r in rows}
    assert counts == {"aaa": 1, "bbb": 1, "ccc": 1}


def test_streaming_sketch_ids_are_url_hashes(spark, tmp_path):
    """A stream cannot take the batch id window: its ids stay xxhash64(url)."""
    from cuda_selection_criteria_spark.operators import sketch_pages
    from cuda_selection_criteria_spark.pipeline import pages_from_corpus

    src_dir = str(tmp_path / "pages")
    pages_from_corpus(spark, 40, seed=3).write.parquet(src_dir)
    batch = spark.read.parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    got = run_available_now(sketch_pages(stream).select("url", "url_id"), "sketch_ids")
    want = batch.select("url", F.xxhash64("url").alias("url_id"))
    assert sorted(got.collect()) == sorted(want.collect())


def test_streaming_band_candidates_stateful(spark, tmp_path):
    """applyInPandasWithState star pairing: connected components of the
    streamed candidate pairs == the batch star pairing's."""
    from cuda_selection_criteria_spark.operators import sketch_pages
    from cuda_selection_criteria_spark.operators.candidates import candidate_pairs
    from cuda_selection_criteria_spark.oracle import DedupConfig, connected_components
    from cuda_selection_criteria_spark.pipeline import pages_from_corpus
    from cuda_selection_criteria_spark.streaming import (
        run_available_now,
        streaming_band_candidates,
    )

    cfg = DedupConfig()
    src_dir = str(tmp_path / "pages")
    pages_from_corpus(spark, 300, seed=11).write.parquet(src_dir)

    batch_pages = spark.read.parquet(src_dir)
    # the diff compares node ids across stream and batch, so the batch
    # side passes through the id a stream assigns, xxhash64(url)
    sk = sketch_pages(batch_pages.withColumn("url_id", F.xxhash64("url")), cfg)
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(sk, cfg, bucket_pairing="star").collect()
    }

    stream = spark.readStream.schema(batch_pages.schema).parquet(src_dir)
    cands = streaming_band_candidates(stream, cfg, state_ttl_ms=None)
    assert cands.isStreaming
    got_df = run_available_now(cands, "neardup_cands")
    stream_pairs = {(r.id_a, r.id_b) for r in got_df.collect()}

    assert stream_pairs  # non-trivial corpus: planted duplicate clusters
    cc_batch = connected_components(list(batch_pairs))
    cc_stream = connected_components(list(stream_pairs))
    # same partition of the same node set (representatives may differ)
    def parts(cc):
        groups = {}
        for node, root in cc.items():
            groups.setdefault(root, set()).add(node)
        return {frozenset(g) for g in groups.values()}

    assert parts(cc_stream) == parts(cc_batch)
