"""cuda_selection_criteria_spark — PySpark-native near-duplicate
detection + clustering engine.

A from-scratch re-imagination of sanhue903/CUDA_Selection_Criteria's
HLL + SuperMinHash selection-criteria cascade for Common-Crawl-style
web pages: vectorized pandas/Arrow sketching, LSH band equi-joins for
candidate generation, exact reference Jaccard verification, and
connected-components clustering. See SURVEY.md for the blueprint.
"""

__version__ = "0.1.0"

import sys as _sys

# Inside a PySpark worker (the flag is set by the worker's per-task set-up,
# before a UDF unpickles): stop every later task from re-reading the
# worker's zip archives; see _worker.py.
_files = _sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from ._worker import install_zip_stat_guard

    install_zip_stat_guard()
