"""SparkSession factory with the engine's standard configuration.

Local-mode defaults sized for the sandbox (local[N], single JVM); the same
builder settings apply on a real cluster via spark-submit --conf. AQE is on
as the skew/coalesce backstop (SURVEY.md §4.4); Arrow is on for the one
pandas-UDF surface (drift, SURVEY.md §4.5)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g. In local mode the
    driver JVM runs every task, and a heap limit near the host's memory
    lets G1 grow the heap until the kernel's OOM killer stops the JVM."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16 * 1024, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "jsonschema_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # one BLAS thread per Python worker: Spark already parallelizes
    # across workers, so letting OpenBLAS/MKL spawn cores-many threads
    # PER worker oversubscribes cores^2-fold and serializes on the
    # scheduler (measured: dedup_cosine_embeddings 19.2s -> 1.4s at
    # local[32]). Set in our env (inherited by forked local workers)
    # AND as executorEnv for cluster mode; respect explicit overrides.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # local[N] -> N cores; shuffle partitions ~ 2x cores keeps every core
    # busy without tiny-task overhead at local scale
    if shuffle_partitions is None:
        n = int(master[master.index("[") + 1 : -1]) if "[" in master and "*" not in master else cpus
        shuffle_partitions = max(2 * n, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-bench default 32m: a GB-scale single-file scan must split
        # into >= cores tasks or the CPU-heavy scan stage starves the
        # extra cores (cluster deployments override back to 128m+)
        .config(
            "spark.sql.files.maxPartitionBytes",
            max_partition_bytes or os.environ.get("SPARK_MAX_PARTITION_BYTES", "33554432"),
        )
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
