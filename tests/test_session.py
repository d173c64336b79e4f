"""The session's environment: the OpenBLAS kernel picked at package import
(``bran_spark.pin_blas_kernel``), the kernel the Python workers really run,
and the master a spark-submit launch keeps when ``get_spark`` is given
none."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bran_spark import pin_blas_kernel

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_AVX512 = "avx512f avx512dq avx512cd avx512bw avx512vl"


def _cpuinfo(tmp_path, flags: str):
    path = tmp_path / "cpuinfo"
    path.write_text(
        "processor\t: 0\nmodel\t\t: 207\n"
        f"flags\t\t: fpu sse sse2 ssse3 sse4_1 sse4_2 {flags}\n\n"
    )
    return str(path)


@pytest.mark.parametrize(
    "flags, kernel",
    [
        (f"avx avx2 fma {_AVX512} avx512_bf16", "SkylakeX"),
        ("avx avx2 fma", "Haswell"),
        ("avx avx2 fma avx512f", "Haswell"),  # AVX-512 foundation alone
        ("avx avx2", None),  # AVX2 without FMA
        ("avx", None),
    ],
)
def test_blas_kernel_from_cpu_flags(tmp_path, flags, kernel):
    env = {}
    assert pin_blas_kernel(_cpuinfo(tmp_path, flags), env) == kernel
    assert env == ({"OPENBLAS_CORETYPE": kernel} if kernel else {})


def test_blas_kernel_without_cpuinfo(tmp_path):
    env = {}
    assert pin_blas_kernel(str(tmp_path / "absent"), env) is None
    assert env == {}


def test_blas_kernel_callers_value_wins(tmp_path):
    env = {"OPENBLAS_CORETYPE": "Prescott"}
    assert pin_blas_kernel(_cpuinfo(tmp_path, f"avx2 fma {_AVX512}"), env) == "Prescott"
    assert env == {"OPENBLAS_CORETYPE": "Prescott"}


def test_workers_run_the_selected_kernel(spark):
    """The kernel OpenBLAS reports inside a Python worker is the one the
    package import selected (OpenBLAS spells it in its own case)."""
    want = os.environ.get("OPENBLAS_CORETYPE")
    if not want:
        pytest.skip("no kernel selected on this host")

    @F.pandas_udf("string")
    def corename(s: pd.Series) -> pd.Series:
        import ctypes

        import numpy  # noqa: F401  (loads OpenBLAS)

        with open("/proc/self/maps") as f:
            libs = {ln.split()[-1] for ln in f if "openblas" in ln.lower()}
        name = ""
        for lib in sorted(libs):
            fn = getattr(ctypes.CDLL(lib), "openblas_get_corename64_", None)
            if fn is not None:
                fn.argtypes, fn.restype = [], ctypes.c_char_p
                name = fn().decode()
        return s.map(lambda _: name)

    got = {r.k for r in spark.range(0, 4, numPartitions=2).select(corename("id").alias("k")).collect()}
    if got == {""}:
        pytest.skip("numpy's OpenBLAS exports no openblas_get_corename64_")
    assert {k.lower() for k in got} == {want.lower()}


def test_spark_submit_master_kept(tmp_path):
    """``get_spark()`` with no master, under ``spark-submit --master
    local[2]``, runs on local[2] with the local daemon, and its workers get
    the driver's kernel although the JVM started before the driver
    imported the package."""
    import pyspark

    script = tmp_path / "probe.py"
    script.write_text(
        "import json, os, sys\n"
        f"sys.path.insert(0, {_ROOT!r})\n"
        "from bran_spark.session import get_spark\n"
        "spark = get_spark('master_probe')\n"
        "env = spark.sparkContext.parallelize([0], 1).map(\n"
        "    lambda _: os.environ.get('OPENBLAS_CORETYPE')).collect()[0]\n"
        "print(json.dumps({'master': spark.sparkContext.master,\n"
        "    'daemon': spark.conf.get('spark.python.daemon.module', None),\n"
        "    'driver_kernel': os.environ.get('OPENBLAS_CORETYPE'), 'worker_kernel': env}))\n"
        "spark.stop()\n"
    )
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "OPENBLAS_CORETYPE")}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [submit, "--master", "local[2]", str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["master"] == "local[2]"
    assert out["daemon"] == "bran_spark.pydaemon"
    assert out["worker_kernel"] == out["driver_kernel"]
