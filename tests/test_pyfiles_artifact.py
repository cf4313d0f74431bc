"""The spark-submit --py-files zip is built on demand with
`python tools/make_pyfiles.py [out.zip]`, not committed. Building it must
capture exactly the package's .py files, and the entry modules must
import from that zip alone (the README documents
`spark-submit --py-files cuda_selection_criteria_spark.zip`)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cuda_selection_criteria_spark"


def _tree_files():
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, ROOT)] = f.read()
    return out


def test_pyfiles_zip_builds_and_imports(tmp_path):
    zpath = str(tmp_path / "x.zip")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_pyfiles.py"), zpath],
        check=True,
        capture_output=True,
    )
    with zipfile.ZipFile(zpath) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == _tree_files()
    # -I: no PYTHONPATH, user site or cwd on sys.path — only the zip
    probe = (
        "import sys; z = sys.argv[1]; sys.path.insert(0, z)\n"
        f"import {PKG}.cli, {PKG}.pipeline\n"
        f"for m in ({PKG}.cli, {PKG}.pipeline):\n"
        "    assert m.__file__.startswith(z + '/'), m.__file__\n"
    )
    subprocess.run(
        [sys.executable, "-I", "-c", probe, zpath], check=True, cwd=str(tmp_path)
    )
