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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "bran_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's canonical config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the same code path serves pytest, bench.py and spark-submit.
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
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
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
