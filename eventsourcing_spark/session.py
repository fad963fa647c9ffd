"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-plan, skew-join
splitting, dynamic coalesce), Arrow on (all pandas-UDF paths are
Arrow-batched), shuffle partitions sized by env so the driver harness
can tune per scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "eventsourcing-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    # Executor python workers must be able to import this package for
    # pickled UDFs (applyInPandas folds, scrubbers) regardless of the
    # driver script's cwd. Local mode: workers inherit the driver env →
    # extend PYTHONPATH before the JVM starts. Cluster mode: ship a zip
    # via spark.submit.pyFiles instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    # Pin BLAS/OpenMP to one thread per python worker: N workers ×
    # BLAS-threads-per-worker oversubscribes the box catastrophically
    # (32×32 threads on local[32]) and the pandas-UDF matmuls operate on
    # small per-batch matrices where threading only adds overhead. Task
    # parallelism comes from Spark, not from nested BLAS pools.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and join-strategy switch — all essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas interchange (UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers are expensive to start (numpy/pandas imports);
        # keep them alive and reuse across tasks/stages.
        .config("spark.python.worker.reuse", "true")
        # Small-dim broadcast threshold: generous — dims like region/
        # nation/checkpoint tables are tiny even at 100 TB fact scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scan batching.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The event store's views name their committed files one by one
        # (from the bucket logs); past 32 paths Spark would otherwise run
        # a listing job for every view it builds.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long nanos and normalize in
        # io.load_table (ns → µs truncation matches DuckDB/pandas).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
