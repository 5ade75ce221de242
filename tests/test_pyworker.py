"""The Python-worker daemon (rag_content_spark.pyworker): its zip
directory guard in-process, and the guard and imports in real workers."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from rag_content_spark import pyworker

GUARD_FLAG = "keeps_unchanged_zips"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)
needs_guard = pytest.mark.skipif(not GUARDED, reason="no guard from Python 3.13")


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


@pytest.fixture()
def guard(monkeypatch):
    """Install the guard on a clean slate; undone after the test. Counts
    the archive directory reads in ``reads``."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _import_fresh(module: str):
    sys.modules.pop(module, None)
    return importlib.import_module(module)


@needs_guard
def test_unchanged_archive_keeps_its_directory(guard, tmp_path, monkeypatch):
    mod = f"zg_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "a.zip")
    _write_zip(path, mod, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    assert _import_fresh(mod).VALUE == 1
    assert guard.count(path) == 1
    assert pyworker.install_zip_guard()
    assert getattr(zipimport.zipimporter.invalidate_caches, GUARD_FLAG)
    for _ in range(3):
        importlib.invalidate_caches()
    assert guard.count(path) == 1
    assert _import_fresh(mod).VALUE == 1
    sys.modules.pop(mod, None)


@needs_guard
def test_archive_rewritten_at_same_path_is_reread(guard, tmp_path, monkeypatch):
    mod = f"zg_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "a.zip")
    _write_zip(path, mod, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    assert _import_fresh(mod).VALUE == 1
    pyworker.install_zip_guard()
    _write_zip(path, mod, "VALUE = 2\nOTHER = 'new'\n")
    importlib.invalidate_caches()
    assert guard.count(path) == 2
    fresh = _import_fresh(mod)
    assert (fresh.VALUE, fresh.OTHER) == (2, "new")
    # read once for the change, then kept again
    importlib.invalidate_caches()
    assert guard.count(path) == 2
    sys.modules.pop(mod, None)


@needs_guard
def test_new_archive_is_read(guard, tmp_path, monkeypatch):
    pyworker.install_zip_guard()
    mod = f"zg_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "b.zip")
    _write_zip(path, mod, "VALUE = 3\n")
    monkeypatch.syspath_prepend(path)
    importlib.invalidate_caches()
    assert _import_fresh(mod).VALUE == 3
    assert guard.count(path) == 1
    # first seen after the guard went in: re-read once, then kept
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert guard.count(path) == 2
    sys.modules.pop(mod, None)


def test_version_gate(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert pyworker.install_zip_guard() is False
    assert not hasattr(zipimport.zipimporter.invalidate_caches, GUARD_FLAG)


# ---- in real workers --------------------------------------------------------


def test_every_worker_pool_runs_the_guard(spark):
    """Tasks of a pandas UDF, a mapInPandas and a plain RDD all run in
    workers forked from the engine's daemon."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # nested, so the workers get it by value (tests/ is no package)
    def _report(_):
        import zipimport

        return hasattr(zipimport.zipimporter.invalidate_caches, GUARD_FLAG)

    def _udf(v: pd.Series) -> pd.Series:
        return v.map(_report)

    def _mip(batches):
        for pdf in batches:
            yield pd.DataFrame({"g": [_report(None)] * len(pdf)})

    df = spark.range(8, numPartitions=4)
    udf = df.select(pandas_udf(_udf, "boolean")("id").alias("g")).collect()
    mip = df.mapInPandas(_mip, "g boolean").collect()
    rdd = (
        spark.createDataFrame([(i,) for i in range(8)], "i long")
        .rdd.map(_report)
        .collect()
    )
    assert {r["g"] for r in udf} == {GUARDED}
    assert {r["g"] for r in mip} == {GUARDED}
    assert set(rdd) == {GUARDED}


def test_add_py_file_zip_still_imports(spark, tmp_path):
    mod = f"zg_added_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, mod, "VALUE = 41\n")
    spark.sparkContext.addPyFile(path)

    def _use(_):
        return importlib.import_module(mod).VALUE + 1

    assert set(spark.sparkContext.parallelize(range(4), 4).map(_use).collect()) == {42}


_OUTSIDE = r"""
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from rag_content_spark.session import get_spark

def plus_one(v: pd.Series) -> pd.Series:
    import zipimport
    guarded = hasattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged_zips")
    if guarded != (sys.version_info < (3, 13)):
        raise AssertionError("guard missing in a worker")
    return v + 1

spark = get_spark("outside", master="local[1]", shuffle_partitions=1)
print(sum(r[0] for r in spark.range(3).select(pandas_udf(plus_one, "long")("id")).collect()))
spark.stop()
"""


def test_driver_outside_the_repo_runs_a_pandas_udf(tmp_path):
    """A driver whose cwd is not the repo, with no PYTHONPATH: the
    daemon module and the UDF's imports come from the package's parent
    directory, which the session hands to the workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, ROOT],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "6"
