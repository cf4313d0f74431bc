"""Iceberg-native warehouse: the production implementation of the
``Warehouse`` API seam.

The parquet ``Warehouse`` (warehouse.py) stands in for this container,
which ships no iceberg-spark-runtime jar; on a real cluster configure
a catalog, e.g.::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.web=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.web.type=hadoop \
      --conf spark.sql.catalog.web.warehouse=s3://bucket/warehouse \
      ...

and construct ``IcebergWarehouse(spark, catalog="web", db="dedup")``.
Same method surface as ``Warehouse``, and the same lineage/metrics
ledger (``warehouse.Ledger``); differences that matter at
100 TB:

- ``write(partition_by=...)`` declares Iceberg PARTITIONED BY, so
  partition pruning is metadata-only and rewrites are per-partition;
- the resume path uses ``overwritePartitions()`` (dynamic overwrite) —
  the same idempotent-per-part_id semantics warehouse.py gets from
  spark.sql.sources.partitionOverwriteMode=dynamic, but transactional:
  a crashed writer leaves NO visible partial data (snapshot isolation),
  so the write-then-mark lineage window closes completely;
- ``merge_rows`` upserts via MERGE INTO (exact-dup suppression /
  dup_pairs idempotent refresh from streaming foreachBatch).

``available(spark)`` gates everything; tests skip when no catalog.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .warehouse import Ledger, observe_rows


def available(spark: SparkSession, catalog: str) -> bool:
    """True iff an Iceberg SparkCatalog is configured and loadable."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@dataclass
class IcebergWarehouse(Ledger):
    spark: SparkSession
    catalog: str = "web"
    db: str = "dedup"

    def __post_init__(self) -> None:
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.db}")

    def path(self, table: str) -> str:
        return f"{self.catalog}.{self.db}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.table(self.path(table))

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` to ``table``; returns the number of rows written."""
        df, obs = observe_rows(df)
        w = df.writeTo(self.path(table))
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            if self.exists(table):
                # dynamic partition overwrite: replaces exactly the
                # partitions present in df, transactionally
                df.writeTo(self.path(table)).overwritePartitions()
            else:
                w.create()
        elif mode == "append":
            w.append() if self.exists(table) else w.create()
        else:
            raise ValueError(f"unsupported mode {mode}")
        return obs.get["rows"]

    def merge_rows(self, table: str, df: DataFrame, key_cols: list[str]) -> None:
        """Idempotent upsert (MERGE INTO) — the streaming foreachBatch
        sink for dup_pairs/clusters refreshes."""
        view = f"_merge_src_{table}"
        df.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
        self.spark.sql(
            f"MERGE INTO {self.path(table)} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
