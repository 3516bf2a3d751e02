"""The engine-owned Python worker daemon (axora_spark/pyworker.py).

get_spark launches the tests' local[4] session itself, so its Python
tasks fork from axora_spark.pyworker. The daemon skips the per-task
re-read of the archives on the worker's path at start; an archive that
arrives later (addPyFile) must still be importable inside a task.
"""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_udf_worker_runs_under_engine_daemon(spark):
    @F.pandas_udf(T.StringType())
    def main_module(ids: pd.Series) -> pd.Series:
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        return ids.map(lambda _: spec.name if spec else "")

    got = {r[0] for r in spark.range(8, numPartitions=4)
           .select(main_module("id")).collect()}
    assert got == {"axora_spark.pyworker"}


def test_py_file_added_after_start_is_importable(spark, tmp_path):
    mod = f"axora_late_{uuid.uuid4().hex[:12]}"
    token = uuid.uuid4().hex
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", f"TOKEN = {token!r}\n")
    spark.sparkContext.addPyFile(str(zpath))

    @F.pandas_udf(T.StringType())
    def late_token(ids: pd.Series) -> pd.Series:
        import importlib
        value = importlib.import_module(mod).TOKEN
        return ids.map(lambda _: value)

    got = {r[0] for r in spark.range(8, numPartitions=4)
           .select(late_token("id")).collect()}
    assert got == {token}


_FREEZE_PROBE = """
import importlib, sys, zipfile
frozen_zip, late_zip = sys.argv[1], sys.argv[2]
sys.path.insert(0, frozen_zip)
from axora_spark.pyworker import freeze_startup_archives
freeze_startup_archives()
sys.path.insert(0, late_zip)
import frozen_a, late_a       # both archives now have cached importers
for path, name in ((frozen_zip, "frozen_b"), (late_zip, "late_b")):
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(name + ".py", "")
importlib.invalidate_caches()
for name in ("frozen_b", "late_b"):
    try:
        importlib.import_module(name)
        print(name, "found")
    except ImportError:
        print(name, "missing")
"""


def test_only_startup_archives_skip_invalidation(tmp_path):
    # no Spark: the patch itself, in a fresh interpreter
    zips = []
    for name in ("frozen", "late"):
        p = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(p, "w") as z:
            z.writestr(f"{name}_a.py", "")
        zips.append(str(p))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _FREEZE_PROBE] + zips, cwd=repo,
        capture_output=True, text=True, timeout=60, check=True).stdout
    assert out.split("\n")[:2] == ["frozen_b missing", "late_b found"]
