"""Warehouse: table persistence + per-partition lineage + metrics.

The reference's sketch sidecar files (/root/reference/src/build_sketch.cpp
writes X.hll next to each input; /root/reference/src/selection.cpp:241-249
reloads them) become a partitioned ``sketches`` table; "skip files whose
sketches exist" becomes "skip part_ids recorded complete in lineage".

Iceberg note: when an Iceberg catalog is configured this class can be
swapped for ``writeTo(...).append()`` / MERGE with identical semantics;
this container has no Iceberg runtime jar, so the warehouse is plain
partitioned parquet + a lineage table — same public API either way
(SURVEY.md §7).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .oracle import DedupConfig
from .operators import sketch_pages
from .operators.sketch import ID_PARTS

LINEAGE_SCHEMA = "run_id string, part_id int, stage string, status string, ts timestamp"
SKETCH_META_SCHEMA = (
    "criterion string, shingle_k int, smh_m int, hll_p int, aux_p int,"
    " register_encoding string, n_parts int"
)
METRICS_SCHEMA = (
    "run_id string, stage string, wall_s double, rows_in long, rows_out long,"
    " docs_per_sec double, parallelism int"
)


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached: after the one action that
    writes it, ``obs.get["rows"]`` is the number of rows written — no
    extra job, no re-read."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class Ledger:
    """Lineage + metrics as append-only fact tables, over whatever
    ``spark`` / ``exists`` / ``read`` / ``write`` the subclass provides."""

    def append_rows(self, table: str, rows: list[tuple], schema: str) -> None:
        # through pandas (Arrow): a list of tuples takes the row-pickling
        # path, ~2.5x slower for one row and two files instead of one
        pdf = pd.DataFrame(rows, columns=[c.split()[0] for c in schema.split(",")])
        self.write(table, self.spark.createDataFrame(pdf, schema=schema), mode="append")

    def completed_parts(self, stage: str) -> set[int]:
        if not self.exists("lineage"):
            return set()
        rows = (
            self.read("lineage")
            .where((F.col("stage") == stage) & (F.col("status") == "done"))
            .select("part_id")
            .distinct()
            .collect()
        )
        return {r.part_id for r in rows}

    def mark_parts(self, run_id: str, stage: str, parts: list[int], status: str = "done") -> None:
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        self.append_rows(
            "lineage", [(run_id, int(p), stage, status, now) for p in parts], LINEAGE_SCHEMA
        )

    def log_metric(
        self, run_id: str, stage: str, wall_s: float, rows_in: int, rows_out: int, parallelism: int
    ) -> None:
        dps = rows_in / wall_s if wall_s > 0 else 0.0
        self.append_rows(
            "metrics",
            [(run_id, stage, float(wall_s), int(rows_in), int(rows_out), float(dps), int(parallelism))],
            METRICS_SCHEMA,
        )


@dataclass
class Warehouse(Ledger):
    spark: SparkSession
    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.startswith(("part-", "part_id=")) or f == "_SUCCESS" for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def write(self, table: str, df: DataFrame, mode: str = "overwrite", partition_by: list[str] | None = None) -> int:
        """Write ``df`` to ``table``; returns the number of rows written."""
        df, obs = observe_rows(df)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        return obs.get["rows"]


def sketch_with_resume(
    wh: Warehouse,
    pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    n_parts: int = 32,
    run_id: str | None = None,
) -> DataFrame:
    """Materialize the sketches table, skipping parts already complete.

    part_id = pmod(xxhash64(url), n_parts) — a pure function of the row,
    so re-runs assign identical parts regardless of input layout
    (checkpoint-resumable per north_rule). Returns the full sketches DF,
    whose ``url_id`` values are those ``sketch_pages`` gives the same
    pages in memory, however the parts were split across runs. That
    needs ``n_parts`` to divide ``ID_PARTS`` (a power of two up to
    65,536); any other value raises before anything is written. The
    write has no exchange of its own: it keeps the sketch stage's id
    exchange, so each part directory gets one file per writing task.

    The sketch CONFIG is part of the table's identity: a one-row
    ``sketch_meta`` table records (criterion, k, m, p, aux_p, encoding,
    n_parts) at first materialization, and any later call with a
    different config raises instead of resuming — mixing would
    silently skip "done" parts sketched under the old config (lineage
    is criterion-blind) and could leave a mixed-schema table (some
    parts without hll_aux). n_parts is in the identity too: part_id is
    a pure function of it, so a different n_parts reshuffles which
    rows belong to which "done" part.
    """
    if n_parts <= 0 or ID_PARTS % n_parts:
        raise ValueError(
            f"n_parts must be a power of two from 1 to {ID_PARTS}, got {n_parts}"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    meta = (
        cfg.criterion,
        int(cfg.shingle_k),
        int(cfg.smh_m),
        int(cfg.hll_p),
        int(cfg.aux_p),
        cfg.register_encoding,
        int(n_parts),
    )
    if wh.exists("sketch_meta"):
        prev = tuple(wh.read("sketch_meta").collect()[0])
        if prev != meta:
            names = (
                "criterion", "shingle_k", "smh_m", "hll_p", "aux_p",
                "register_encoding", "n_parts",
            )
            raise ValueError(
                f"warehouse sketches at {wh.root} were built with sketch "
                f"config {dict(zip(names, prev))} but this run requests "
                f"{dict(zip(names, meta))}; resume requires an identical "
                f"config — use a fresh --warehouse to re-sketch"
            )
    else:
        done_before = wh.completed_parts("sketch")
        if done_before:
            # A warehouse sketched before sketch_meta existed (or whose
            # meta table was lost) must NOT silently adopt THIS run's
            # config as its recorded identity — back-filling would bless
            # exactly the mixed-config resume (e.g. smh_a parts without
            # hll_aux resumed under hll_a) the identity check prevents.
            raise ValueError(
                f"warehouse at {wh.root} has {len(done_before)} completed "
                "sketch parts but no sketch_meta table recording their "
                "config; refusing to resume (the completed parts' sketch "
                "config is unknowable). Re-sketch into a fresh --warehouse."
            )
        wh.write("sketch_meta", wh.spark.createDataFrame([meta], SKETCH_META_SCHEMA))
    done = wh.completed_parts("sketch")
    todo = sorted(set(range(n_parts)) - done)
    if todo:
        t0 = time.time()
        part_id = F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
        # the ids sketch_pages assigns, never a caller's: those need not
        # be unique across runs. n_parts divides ID_PARTS, so an id's
        # prefix p lies in resume part p mod n_parts (an older
        # warehouse's ids have that part as prefix): this run ranks all
        # of every id part it sketches, and its ids never meet those of
        # parts done in another run.
        missing = pages.where(part_id.isin(todo)).drop("url_id")
        sk = sketch_pages(missing, cfg).withColumn("part_id", part_id)
        # Dynamic partition overwrite makes the write idempotent per
        # part_id: a crash between this write and mark_parts leaves the
        # parts unrecorded, and the resumed run REPLACES those exact
        # partitions instead of appending duplicate sketch rows (Iceberg
        # equivalent: MERGE / replaceWhere on part_id).
        prev = wh.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        wh.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            n_in = wh.write("sketches", sk, mode="overwrite", partition_by=["part_id"])
        finally:
            wh.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        wall = time.time() - t0
        wh.mark_parts(run_id, "sketch", todo)
        wh.log_metric(
            run_id, "sketch", wall, n_in, n_in, wh.spark.sparkContext.defaultParallelism
        )
    return wh.read("sketches")
