"""SparkSession factory.

One place that sets every config the pipeline relies on, so tests, jobs,
bench and the driver contract all execute with identical semantics.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting is the
  backstop behind our explicit salting (operators.pairs.salted_repartition).
- Nested schema pruning on: text-only stages must not deserialize the
  ``media_ref`` payload of ``spans`` elements (BASELINE.json input_hint).
- Arrow on + bounded batch size: the flagship crosses JVM<->Python twice,
  in the word-split pandas UDF and in the scorer's mapInPandas (tokenize +
  encode + score); 128 docs/batch keeps NumPy matmuls amortized while
  bounding python-worker memory at 32 concurrent workers.

Python daemon (local masters only):
- ``spark.python.daemon.module=bran_spark.pydaemon`` forks the Python
  workers from a daemon that skips PySpark's per-task
  ``importlib.invalidate_caches()`` when ``sys.path`` has not changed.
  The stock call makes every task re-read ``pyspark.zip``'s directory; it
  was about 60 % of a no-op pandas UDF's per-task overhead.
  ``spark.python.worker.module`` cannot carry this: ``pyspark/daemon.py``
  honours only worker modules whose name starts with ``pyspark``.
- The daemon imports ``bran_spark`` before any task has put the py-files
  on its path, so the package root (the checkout, or the ``--py-files``
  zip under spark-submit) goes on ``spark.executorEnv.PYTHONPATH``.
- Both are set for ``local`` masters only: there the executors run on
  this host and see the driver's paths. On a cluster the package root is
  a driver path that the executors do not have, and a daemon that cannot
  import its module fails every Python task, so the stock daemon runs.

Master and BLAS kernel:
- With no ``master`` argument, a driver that spark-submit launched keeps
  spark-submit's ``--master`` (``spark.master`` of the launching conf);
  ``local[$SPARK_GRAFT_CPUS]`` is the fallback only when no master is set.
  The daemon settings above and the kernel below follow the master that
  takes effect.
- ``import bran_spark`` sets ``OPENBLAS_CORETYPE`` from the CPU's flags
  (``bran_spark.pin_blas_kernel``) unless the caller set it. Workers of a
  session this process starts inherit it. Under spark-submit the JVM, and
  so the daemon, predates the driver's import, so for ``local`` masters
  the value also goes on ``spark.executorEnv.OPENBLAS_CORETYPE``. On a
  cluster the executors are other hosts, whose CPUs the driver's flags
  say nothing about, so nothing is forwarded there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# the checkout, or the --py-files zip the package was imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _launch_master() -> str | None:
    """``spark.master`` of the conf spark-submit launched this driver with;
    None when this process was not started by spark-submit. PySpark passes
    a launching JVM's gateway to its Python driver in
    ``PYSPARK_GATEWAY_PORT``; a gateway that PySpark starts itself does not
    set it, and its master is only spark-submit's ``local[*]`` default."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "bran_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's canonical config.

    ``master`` defaults to the one spark-submit was given, else to
    ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``), so the same code
    path serves pytest, bench.py and spark-submit.
    """
    # Pin BLAS to one thread per python worker BEFORE any JVM/worker forks:
    # 32 concurrent pandas-UDF workers × multi-threaded BLAS would
    # oversubscribe, and threaded reductions break bitwise determinism
    # (the local[8]-vs-local[32] invariance gate).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # glibc malloc: keep numpy temporaries on the heap free-lists instead of
    # per-allocation mmap/munmap — 32 concurrent python workers otherwise
    # serialize on kernel page-path locks (+60% encoder throughput measured
    # at both 8 and 32 workers, tools/encoder_concurrency_bench.py). Set
    # before the JVM forks so pyspark daemons/workers inherit it.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "134217728")
    master = master or _launch_master() or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # local-scale split sizing: the corpus parquet is O(50-100MB), and
        # the default 128MB maxPartitionBytes would hand the whole BPE/encode
        # python chain 1-2 tasks. 2MB keeps the scan at ~cores splits at
        # test scale (the sf0.5 corpus is 54MB -> 27 splits; at 4MB the
        # 13-task scan stage ran 6.7s vs its 2.5s even-packing ideal); a
        # real 100TB deployment retunes this upward (files and row groups
        # provide the splits there).
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("BRAN_SPARK_DRIVER_MEM", "8g"))
        # shuffle/spill dir: overridable so the scaling bench can point it
        # at tmpfs — this sandbox has ONE 1 GB/s virtio disk, a fixed
        # resource that floors every shuffle-heavy stage identically at 8
        # and 32 cores, whereas real N vs 4N clusters scale disk bandwidth
        # with node count. RAM-backed shuffle is the honest single-box
        # stand-in for that.
        .config(
            "spark.local.dir",
            os.environ.get("BRAN_SPARK_LOCAL_DIR", "/tmp"),
        )
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "bran_spark.pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        if "OPENBLAS_CORETYPE" in os.environ:
            builder = builder.config(
                "spark.executorEnv.OPENBLAS_CORETYPE", os.environ["OPENBLAS_CORETYPE"]
            )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    from pyspark.sql import SparkSession as _SS

    active = _SS.getActiveSession()
    spark = builder.getOrCreate()
    if active is not None:
        # getOrCreate silently ignores EVERY config on an existing session;
        # surface the mismatch instead of letting a bench/test believe its
        # shuffle_partitions/extra_conf took effect
        import warnings

        want = {}
        if shuffle_partitions is not None:
            want["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        if extra_conf:
            want.update({k: str(v) for k, v in extra_conf.items()})
        diffs = {
            k: (spark.conf.get(k, None), v)
            for k, v in want.items()
            if spark.conf.get(k, None) != v
        }
        if diffs:
            warnings.warn(
                "get_spark: active SparkSession already exists; requested "
                f"configs ignored (have, want): {diffs}",
                stacklevel=2,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark
