"""bran_spark — a from-scratch, PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of patverga/bran
(full-abstract biomedical relation extraction, NAACL 2018; arXiv:1802.10569).

This is NOT a port of the reference TensorFlow code: the pipeline is declared
with the DataFrame API so Catalyst/Tungsten pick physical strategies; Python
runs only inside Arrow-batched pandas UDFs (encoder/scorer/BPE).

Layout
------
- ``session``     SparkSession factory (Arrow, AQE, nested pruning on)
- ``fixtures``    deterministic CDR-shaped corpus generator (seed=42)
- ``sources``     table IO (manifest-parquet checkpoint layer), PubTator parser
- ``functions``   columnar text/vector functions (BPE, lang-id, quality, ...)
- ``operators``   relational operators (pair-gen, linking, pooling, dedup, ANN)
- ``model``       seeded NumPy transformer encoder + bi-affine scorer (UDF-side)
- ``plans``       the flagship KG-construction DAG with checkpoint/resume
- ``streaming``   incremental (Trigger.AvailableNow-style) triple construction

Importing the package picks the OpenBLAS kernel (``pin_blas_kernel``). It
runs here because OpenBLAS reads ``OPENBLAS_CORETYPE`` once, when numpy
first loads it, and because the JVM, the Python daemon and its workers
inherit the environment of the process that starts them.
"""

from __future__ import annotations

import os

__version__ = "0.1.0"

# OpenBLAS kernels by preference, each with the /proc/cpuinfo flags it needs
_BLAS_KERNELS = (
    ("SkylakeX", frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})),
    ("Haswell", frozenset({"avx2", "fma"})),
)


def pin_blas_kernel(cpuinfo: str = "/proc/cpuinfo", environ=os.environ) -> str | None:
    """Set ``OPENBLAS_CORETYPE`` from the CPU's flags unless it is set.

    OpenBLAS picks its kernel by CPU model, and on a model it does not know
    (virtual CPUs often report one) it falls back to the generic Prescott
    kernel: the encoder then runs ~2.4x slower, and the float32 rounding,
    so the flagship's scores, differ from the SkylakeX kernel's. Choosing
    by instruction set gives every host with the same ISA the same kernel.
    Returns the value in effect (a caller's own value wins), or None when
    neither kernel's flags are present or there is no ``cpuinfo`` (OpenBLAS
    then picks as it always does)."""
    if "OPENBLAS_CORETYPE" in environ:
        return environ["OPENBLAS_CORETYPE"]
    try:
        with open(cpuinfo) as f:
            flags = next(
                (set(line.split(":", 1)[1].split()) for line in f if line.startswith("flags")),
                set(),
            )
    except OSError:
        return None
    for kernel, needs in _BLAS_KERNELS:
        if needs <= flags:
            environ["OPENBLAS_CORETYPE"] = kernel
            return kernel
    return None


pin_blas_kernel()
