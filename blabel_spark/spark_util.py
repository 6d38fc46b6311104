"""SparkSession construction with the engine's standard configuration.

The hash-combine column kernels live in pair_kernels.py (int64-pair digest
representation); this module only owns session setup.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

HASH_BYTES = 16

# context ids whose Python worker pool has been pre-forked (see below)
_PREWARMED: set = set()


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python worker pool and import its heavy modules once at
    session construction.

    The first Arrow-UDF stage of a session otherwise pays one fork +
    ``import pandas/numpy`` (~0.3-1 s) per core INSIDE whatever operator
    happens to run first, misattributing interpreter startup to that
    operator.  Production executors are long-lived, so this belongs to
    session setup; with ``spark.python.worker.reuse`` (the default) the
    warmed pool serves every later stage.  Gated by
    ``SPARK_GRAFT_PREWARM=0`` for latency-sensitive one-shot scripts."""
    ctx = spark.sparkContext
    key = ctx.applicationId
    if key in _PREWARMED or os.environ.get("SPARK_GRAFT_PREWARM") == "0":
        return
    _PREWARMED.add(key)

    def touch(batches):
        import numpy  # noqa: F401  — preload the kernel deps per worker
        import pandas  # noqa: F401
        yield from batches

    try:
        (spark.range(cpus).repartition(cpus)
         .mapInPandas(touch, "id long")
         .write.format("noop").mode("overwrite").save())
    except Exception:  # pragma: no cover — warmup must never fail a job
        pass


def get_spark(app: str = "blabel-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local[-mode] session with the settings we also want on a cluster:
    AQE (runtime skew-join splitting + partition coalescing), Arrow for all
    pandas-UDF exchange."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)
    # local-mode shuffle files on tmpfs when available: with 32 concurrent
    # tasks, shuffle spill I/O on the root disk serializes the whole job
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle parallelism at the core count: without these,
        # AQE coalesces mid-size shuffles (~hundreds of MB) to the 64 MB
        # advisory target — a handful of tasks — and extra cores idle
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins: let the planner pick shuffled-hash over sort-merge when a
        # side fits a per-partition hash map (guide §3.1/§9) — removes the
        # two sorts from every mid-size equi-join.  This also enables
        # STATIC shuffled-hash selection, which trusts the optimizer's size
        # estimate (build side < autoBroadcastJoinThreshold × shuffle
        # partitions and 3× smaller than the other side); the AQE
        # local-map threshold below does not bound that choice — it only
        # bounds the runtime SMJ→SHJ rewrite, which uses measured
        # per-partition shuffle sizes
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    _prewarm_python_workers(spark, cpus)
    return spark


