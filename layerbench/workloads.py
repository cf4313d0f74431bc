"""Workload definitions and their seeded inputs.

Every input comes from the package's own deterministic crawl generator,
``corpus.generate_pages(n, seed)``, and is written to parquet before any
timer starts. The program only ever sees that parquet file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    """One ``cli dedup`` configuration; BENCHMARK.json says why each exists."""

    name: str
    n_pages: int  # pages per timed ``cli dedup``
    criterion: str = "smh_a"
    smh_m: int = 64
    bucket_pairing: str = "all"

    @property
    def cli_args(self) -> tuple[str, ...]:
        """Flags after ``dedup --input .. --warehouse ..``."""
        return ("-c", self.criterion, "--m", str(self.smh_m), "--bucket-pairing", self.bucket_pairing)

    def config(self):
        from cuda_selection_criteria_spark.oracle import DedupConfig

        return DedupConfig(smh_m=self.smh_m, criterion=self.criterion)


# Sizes keep each workload's largest stage the one it was chosen for
# (verify, sketch, candidates) while a whole timed run, set-up included,
# stays near 50 s on a 4-core VM.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(name="parity_m64", n_pages=2000),
        Workload(name="star_m512", n_pages=3000, smh_m=512, bucket_pairing="star"),
        Workload(name="hll_an_cb", n_pages=1200, criterion="hll_an"),
    )
}


def write_pages(n: int, seed: int, path: str):
    """generate_pages(n, seed) -> parquet at ``path``; returns the rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuda_selection_criteria_spark.corpus import generate_pages, pages_to_pandas

    rows, _ = generate_pages(n, seed)
    table = pa.Table.from_pandas(pages_to_pandas(rows), preserve_index=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # Spark reads microsecond timestamps only
    pq.write_table(table, path, coerce_timestamps="us")
    return rows
