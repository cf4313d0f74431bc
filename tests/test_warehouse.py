"""Warehouse lineage + resume semantics (FIXTURES.md F5 gate 5)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cuda_selection_criteria_spark.oracle import DedupConfig
from cuda_selection_criteria_spark.pipeline import pages_from_corpus
from cuda_selection_criteria_spark.warehouse import Warehouse, sketch_with_resume

CFG = DedupConfig()


def test_sketch_resume_skips_completed_parts(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pages = pages_from_corpus(spark, 120, seed=42)

    sk1 = sketch_with_resume(wh, pages, CFG, n_parts=8, run_id="r1")
    assert sk1.count() == 120
    assert wh.completed_parts("sketch") == set(range(8))

    # second run: nothing to do, identical output
    before = {(r.url, r.card_i) for r in wh.read("sketches").collect()}
    sk2 = sketch_with_resume(wh, pages, CFG, n_parts=8, run_id="r2")
    after = {(r.url, r.card_i) for r in sk2.collect()}
    assert before == after
    # lineage only recorded the first run's parts
    lineage = wh.read("lineage").collect()
    assert {r.run_id for r in lineage} == {"r1"}


def test_crash_between_write_and_mark_leaves_no_duplicates(spark, tmp_path):
    """Crash window: sketches written but lineage NOT recorded. The
    resumed run must REPLACE those partitions (dynamic partition
    overwrite), not append duplicate sketch rows."""
    wh = Warehouse(spark, str(tmp_path / "whc"))
    pages = pages_from_corpus(spark, 120, seed=42)
    sketch_with_resume(wh, pages, CFG, n_parts=8, run_id="r1")
    # simulate the crash: data present, lineage wiped
    import shutil

    shutil.rmtree(wh.path("lineage"))
    assert wh.completed_parts("sketch") == set()
    sk = sketch_with_resume(wh, pages, CFG, n_parts=8, run_id="r2")
    assert sk.count() == 120  # not 240
    dupes = sk.groupBy("url_id").count().where("count > 1").count()
    assert dupes == 0


def test_partial_resume(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    pages = pages_from_corpus(spark, 120, seed=42)
    # simulate a killed run: only parts 0-3 done
    full = sketch_with_resume(wh, pages, CFG, n_parts=8, run_id="r1")
    n_full = full.count()
    import shutil, os

    # wipe warehouse, re-run marking half done artificially. A real
    # killed run leaves sketch_meta behind (written before any part
    # completes), so the simulation writes it too — completed parts
    # WITHOUT meta are now refused outright (ADVICE r4 guard,
    # test_round5.test_warehouse_refuses_metaless_resume)
    from cuda_selection_criteria_spark.warehouse import SKETCH_META_SCHEMA

    wh2 = Warehouse(spark, str(tmp_path / "wh3"))
    meta = (
        CFG.criterion, int(CFG.shingle_k), int(CFG.smh_m), int(CFG.hll_p),
        int(CFG.aux_p), CFG.register_encoding, 8,
    )
    wh2.write("sketch_meta", spark.createDataFrame([meta], SKETCH_META_SCHEMA))
    wh2.mark_parts("dead", "sketch", [0, 1, 2, 3])
    sk = sketch_with_resume(wh2, pages, CFG, n_parts=8, run_id="r2")
    # only parts 4-7 materialized (0-3 claimed done by the dead run)
    parts = {r.part_id for r in sk.select("part_id").distinct().collect()}
    assert parts == {4, 5, 6, 7}
    assert sk.count() < n_full
    # metrics recorded, counting the rows sketched in parts 4-7
    (m,) = wh2.read("metrics").collect()
    assert m.rows_in == m.rows_out == sk.count()


def test_write_returns_rows_written(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(50).withColumn("part_id", (F.col("id") % 5).cast("int"))
    assert wh.write("plain", df) == 50 == wh.read("plain").count()
    assert wh.write("empty", df.where("id < 0")) == 0
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        assert wh.write("parts", df, partition_by=["part_id"]) == 50
        # replaces part 1 only: counts this write's rows, not the table's
        assert wh.write("parts", df.where("part_id = 1"), partition_by=["part_id"]) == 10
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert wh.read("parts").count() == 50


def test_ledger_rows_read_back(spark, tmp_path):
    """Metrics and lineage rows read back as logged; lineage ts is the
    naive UTC time of the append (read in the session time zone)."""
    from datetime import datetime, timezone

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t0 = datetime.now(timezone.utc).replace(tzinfo=None)
    wh.mark_parts("r1", "sketch", [])
    wh.mark_parts("r1", "sketch", [5, 3])
    t1 = datetime.now(timezone.utc).replace(tzinfo=None)
    wh.log_metric("r1", "sketch", 2.0, 100, 90, 4)
    assert [tuple(r) for r in wh.read("metrics").collect()] == [
        ("r1", "sketch", 2.0, 100, 90, 50.0, 4)
    ]
    lineage = wh.read("lineage").toPandas().sort_values("part_id")
    assert lineage[["run_id", "part_id", "stage", "status"]].values.tolist() == [
        ["r1", 3, "sketch", "done"], ["r1", 5, "sketch", "done"]
    ]
    assert all(t0 <= ts <= t1 for ts in lineage["ts"])
    assert wh.completed_parts("sketch") == {3, 5}


@pytest.mark.parametrize("resume", [False, True], ids=["default", "resume"])
def test_cli_dedup_reports_written_row_counts(spark, tmp_path, capsys, resume):
    """The JSON line and the metrics rows count what the tables hold."""
    from cuda_selection_criteria_spark import cli

    def last_json():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    corpus, wh = str(tmp_path / "pages"), str(tmp_path / "wh")
    cli.main(["gen-corpus", "--rows", "300", "--output", corpus])
    assert last_json()["rows"] == 300 == spark.read.parquet(corpus).count()
    cli.main(
        ["dedup", "--input", corpus, "--warehouse", wh, "--parts", "4"]
        + (["--resume"] if resume else [])
    )
    out = last_json()
    n_pairs = spark.read.parquet(f"{wh}/dup_pairs").count()
    n_cluster_rows = spark.read.parquet(f"{wh}/clusters").count()
    assert n_pairs > 0
    assert (out["pages"], out["dup_pairs"], out["cluster_rows"]) == (300, n_pairs, n_cluster_rows)
    metrics = {r.stage: r for r in spark.read.parquet(f"{wh}/metrics").collect()}
    assert set(metrics) == ({"sketch", "dedup_e2e"} if resume else {"dedup_e2e"})
    assert (metrics["dedup_e2e"].rows_in, metrics["dedup_e2e"].rows_out) == (300, n_pairs)
    if resume:
        n_sketched = spark.read.parquet(f"{wh}/sketches").count()
        assert metrics["sketch"].rows_in == metrics["sketch"].rows_out == n_sketched == 300
