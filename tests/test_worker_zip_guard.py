"""The worker-side stat guard on zip directory re-reads (``_worker.py``).

The Spark-free cases run in a ``python -I`` subprocess, so this test
process's import system is never patched. The Spark case checks a real
worker after a package UDF stage."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cuda_selection_criteria_spark"

PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport
    root, z = sys.argv[1], sys.argv[2]

    def write(modules):
        with zipfile.ZipFile(z, "w") as zf:
            for name in ("zpkg/__init__.py", "zpkg/a/__init__.py", "zpkg/b/__init__.py", *modules):
                zf.writestr(name, "X = 1\\n")

    write(["zpkg/a/one.py"])
    sys.path.insert(0, z)
    import zpkg.a.one, zpkg.b
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter) and v.archive == z]
    assert len(importers) >= 3, importers

    reads = []
    stock_read = zipimport._read_directory
    def counted(path):
        if path == z:
            reads.append(path)
        return stock_read(path)
    zipimport._read_directory = counted

    def invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return len(reads)

    stock = zipimport.zipimporter.invalidate_caches
    assert invalidate() == len(importers)  # stock: once per importer

    sys.path.insert(0, root)
    import cuda_selection_criteria_spark._worker as w
    assert zipimport.zipimporter.invalidate_caches is stock  # plain import: nothing installed

    w.install_zip_stat_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not stock
    assert invalidate() == 0  # unchanged archive: no re-read
    w.install_zip_stat_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded  # second install: no-op

    write(["zpkg/a/one.py", "zpkg/a/two.py"])
    assert invalidate() == 1  # rewritten: one re-read, shared by every importer
    import zpkg.a.two
    assert invalidate() == 0
    print("ok")
    """
)


def test_zip_stat_guard_rereads_only_changed_archives(tmp_path):
    out = subprocess.run(
        [sys.executable, "-I", "-c", PROBE, ROOT, str(tmp_path / "z.zip")],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_guard_installed_in_workers_not_driver(spark):
    import pandas as pd

    from cuda_selection_criteria_spark import pipeline

    pages = spark.createDataFrame(
        [(f"https://e.com/{i}", f"page {i} " * 20) for i in range(20)], ["url", "text"]
    )
    assert pipeline.sketch_pages(pages).count() == 20

    def probe(batches):
        import zipimport

        import cuda_selection_criteria_spark as pkg

        for _ in batches:
            pass
        guarded = zipimport.zipimporter.invalidate_caches.__module__ == f"{pkg.__name__}._worker"
        yield pd.DataFrame({"file": [pkg.__file__], "guarded": [guarded]})

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(probe, "file string, guarded boolean")
        .collect()
    )
    import cuda_selection_criteria_spark as pkg

    assert rows and {r.file for r in rows} == {pkg.__file__}
    assert all(r.guarded for r in rows)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
