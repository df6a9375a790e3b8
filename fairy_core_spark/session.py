"""SparkSession factory with scale-appropriate defaults.

Local testing uses local[N]; production submits the same code via
``spark-submit --py-files fairy_core_spark.zip job.py`` against a real
cluster. Every conf here is a plain Spark conf — nothing sandbox-specific.

Python workers pay a fixed cost per task before any UDF runs: PySpark's
worker calls ``importlib.invalidate_caches()`` for every task, and on
CPython 3.10–3.12 each zip importer then re-reads its whole archive
directory. Workers import pyspark from ``pyspark.zip`` (and, under
``--py-files``, the engine from its own zip), so that was 0.14–0.24 s of
CPU per task. The package ``__init__`` installs
``fairy_core_spark._zipimport``, which re-reads an archive only when its
size or mtime changed; every worker that unpickles an engine function
imports the package, so no conf here is needed for it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fairy-core-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    - AQE on (runtime coalesce + skew-join splitting: hot S2 cells in the
      spatial join are the documented skew source, SURVEY.md §2.6).
    - Arrow on (every Python-side operator is a vectorized pandas_udf).
    - UTC session timezone (deterministic reports; DuckDB-oracle parity).
    - shuffle partitions default to ~2x cores locally; on a real cluster
      AQE coalesces from a deliberately high initial number.
    """
    # one BLAS thread per worker: the engine's numpy math is already
    # batch-vectorized and one worker runs per core — BLAS's own threads
    # (and their spin-waiting) only oversubscribe and burn CPU. Must be in
    # the env before numpy loads in each python worker; local-mode workers
    # inherit the driver env, clusters get it via executorEnv below.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = int(cpus) if cpus else (os.cpu_count() or 8)
        shuffle_partitions = max(8, 2 * n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: with wide binary columns (7KB+ images) large
        # batches (10k rows ~ 70MB) thrash executor memory; 1024 rows keeps
        # JVM<->Python transfer buffers ~7MB and was measured 5x faster
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # 32MB input splits: a lone mid-size CSV/parquet otherwise parses
        # on 1-2 tasks (128MB default) and starves the other cores; at
        # cluster scale inputs span thousands of files and this matters
        # less, but it never hurts parallelism
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # unix domain sockets for the python<->JVM arrow pipe: measured
        # faster and far lower run-to-run variance than TCP loopback for
        # the image-decode hot path (BENCH/BASELINE.md)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
