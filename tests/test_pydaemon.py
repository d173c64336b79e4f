"""The Python daemon that local sessions fork their workers from
(``bran_spark.pydaemon``, wired in ``session.get_spark``): it skips
PySpark's per-task import-cache invalidation while ``sys.path`` is
unchanged, still invalidates when a py-file changes the path, falls back to
the stock daemon on a PySpark without ``worker_util.importlib``, and starts
under spark-submit from outside the checkout."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bran_spark import pydaemon

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_proxy_invalidates_once_per_new_path(monkeypatch, tmp_path):
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    monkeypatch.setattr(sys, "path", list(sys.path))
    proxy = pydaemon.PathKeyedImportlib(importlib)

    proxy.invalidate_caches()  # nothing seen yet
    proxy.invalidate_caches()
    assert len(calls) == 1
    sys.path.insert(1, str(tmp_path / "added.zip"))
    proxy.invalidate_caches()
    proxy.invalidate_caches()
    assert len(calls) == 2
    sys.path.remove(str(tmp_path / "added.zip"))
    proxy.invalidate_caches()
    assert len(calls) == 3


def test_proxy_forwards_every_other_attribute():
    """Every module attribute but ``invalidate_caches`` (dunders such as
    ``__doc__`` are the proxy object's own)."""
    proxy = pydaemon.PathKeyedImportlib(importlib)
    names = [n for n in dir(importlib) if not n.startswith("__")]
    assert "import_module" in names and "_bootstrap" in names
    for name in names:
        if name != "invalidate_caches":
            assert getattr(proxy, name) is getattr(importlib, name), name


def test_install_swaps_worker_util_importlib(monkeypatch):
    from pyspark import worker_util

    monkeypatch.setattr(worker_util, "importlib", worker_util.importlib)
    assert pydaemon.install()
    assert isinstance(worker_util.importlib, pydaemon.PathKeyedImportlib)
    assert worker_util.importlib.import_module is importlib.import_module


def test_stock_daemon_when_worker_util_has_no_importlib(monkeypatch):
    from pyspark import daemon, worker_util

    monkeypatch.delattr(worker_util, "importlib")
    assert not pydaemon.install()
    assert not hasattr(worker_util, "importlib")
    ran = []
    monkeypatch.setattr(daemon, "manager", lambda: ran.append(1))
    pydaemon.main()
    assert ran == [1] and not hasattr(worker_util, "importlib")


def test_py_files_added_mid_session_import_in_a_udf(spark, tmp_path):
    """Py-files added mid-session import inside a pandas UDF whose workers
    already ran tasks under the proxy: a zip changes the workers' sys.path
    (the proxy invalidates, see test_proxy_invalidates_once_per_new_path);
    a .py lands in the files directory already on the path, where the
    directory finder sees the directory's new modification time."""
    df = spark.range(0, 8, numPartitions=4)

    @F.pandas_udf("string")
    def worker_importlib(s: pd.Series) -> pd.Series:
        from pyspark import worker_util

        return s.map(lambda _: type(worker_util.importlib).__name__)

    kinds = {r.k for r in df.select(worker_importlib("id").alias("k")).collect()}
    assert kinds == {"PathKeyedImportlib"}

    zipped = tmp_path / "bran_probe_zipped.zip"
    with zipfile.ZipFile(zipped, "w") as z:
        z.writestr("bran_probe_zipped.py", "VALUE = 'zip'\n")
    plain = tmp_path / "bran_probe_plain.py"
    plain.write_text("VALUE = 'py'\n")
    spark.sparkContext.addPyFile(str(zipped))
    spark.sparkContext.addPyFile(str(plain))

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import bran_probe_plain
        import bran_probe_zipped

        return s.map(lambda _: f"{bran_probe_zipped.VALUE}+{bran_probe_plain.VALUE}")

    assert {r.v for r in df.select(probe("id").alias("v")).collect()} == {"zip+py"}


@pytest.mark.parametrize("job", ["checkout", "outside"])
def test_spark_submit_py_files_from_outside_the_checkout(tmp_path, testdata_dir, job):
    """spark-submit from a directory outside the checkout, the package
    shipped as ``--py-files dist/bran_spark.zip``, on a leaf whose rows come
    out of a mapInPandas. ``checkout`` runs jobs/run_query.py in place (the
    driver imports the checkout); ``outside`` runs a copy of it from the
    temp dir, so the driver imports the package from the zip alone."""
    import pyspark

    subprocess.run(["make", "-s", "dist"], cwd=_ROOT, check=True)
    script = os.path.join(_ROOT, "jobs", "run_query.py")
    if job == "outside":
        script = shutil.copy(script, tmp_path / "run_query.py")
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            submit, "--master", "local[2]",
            "--py-files", os.path.join(_ROOT, "dist", "bran_spark.zip"),
            str(script), "--name", "q46_media_features",
            "--sf-dir", os.path.abspath(testdata_dir), "--master", "local[2]",
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["name"] == "q46_media_features" and out["rows"] > 0
