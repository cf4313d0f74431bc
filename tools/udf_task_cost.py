"""Fixed per-task cost of a Python UDF task: a no-op package ``mapInPandas``.

    python tools/udf_task_cost.py [--cores 3] [--reps 5]

Run it from the root of a checkout: local Python workers import the
package from the driver's working directory.

Each rep runs one no-op ``mapInPandas`` stage, ``--cores`` tasks wide, over
a ``localCheckpoint``ed input, so the stage reads no shuffle and does no
work: what its tasks take is the Python worker's per-task start-up (set-up,
UDF unpickling, Arrow stream open and close). The UDF imports the package,
as every package UDF does when its closure unpickles. The first rep starts
the workers and is not counted. Prints one JSON line: median and max
per-task ``executorRunTime`` of the counted reps, read from Spark's status
REST API, and from the workers, the largest count of zip importers and
whether every worker had the stat guard of ``_worker.py`` installed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import urllib.request
from urllib.parse import urlparse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def noop(batches):
    import sys
    import zipimport

    import pandas as pd

    import cuda_selection_criteria_spark  # noqa: F401

    for _ in batches:
        pass
    importers = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    guarded = zipimport.zipimporter.invalidate_caches.__module__ == "cuda_selection_criteria_spark._worker"
    yield pd.DataFrame({"importers": [importers], "guarded": [guarded]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=3)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from cuda_selection_criteria_spark.session import get_spark

    spark = get_spark(app_name="udf-task-cost", master=f"local[{args.cores}]", shuffle_partitions=args.cores)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    base = f"http://127.0.0.1:{urlparse(sc.uiWebUrl).port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    src = spark.range(args.cores * 100).repartition(args.cores).localCheckpoint()
    task_s, rows = [], []
    for rep in range(args.reps):
        sc.setJobGroup(f"rep{rep}", "no-op package UDF")
        out = src.mapInPandas(noop, "importers long, guarded boolean").collect()
        if rep == 0:
            continue
        rows += out
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(f"rep{rep}"):
            for stage in tracker.getJobInfo(job).stageIds:
                for t in get(f"/stages/{stage}/0/taskList?length=1000"):
                    task_s.append(t["taskMetrics"]["executorRunTime"] / 1e3)
    spark.stop()
    print(
        json.dumps(
            {
                "cores": args.cores,
                "tasks": len(task_s),
                "median_task_s": round(statistics.median(task_s), 3),
                "max_task_s": round(max(task_s), 3),
                "zip_importers": max(r.importers for r in rows),
                "guarded": all(r.guarded for r in rows),
            }
        )
    )


if __name__ == "__main__":
    main()
