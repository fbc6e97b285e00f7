"""SparkSession factory tuned for the entity-resolution workload.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime skew-join splitting + partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for the
driver-side ``toPandas`` solves and the pandas-UDF paths (Jaro-Winkler query
scoring, the ``mapInPandas``/``applyInPandas`` scans), UTC timezone pinned so
results are comparable with the DuckDB oracle.

:func:`cut` is the one lineage cut every operator, plan and query uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_driver_memory() -> str:
    """``min(24g, 60% of physical RAM)`` as a Spark size string: below
    physical RAM the JVM hits its own heap limit (a loud OutOfMemoryError)
    before the kernel OOM killer takes the whole process."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, int(ram_mb * 0.6))}m"


def cluster_conf_profile(
    executor_cores: int = 8,
    executors: int = 1000,
    executor_mem_gb: int = 32,
) -> dict[str, str]:
    """spark-submit conf profile for the 100 TB / multi-executor target
    (SURVEY §2.10 X3). Returns ``--conf`` key/values; rationale per knob:

    - ``shuffle.partitions = 3 × total cores``: the pair/score stages
      shuffle ~TBs; 3× cores keeps every wave busy while holding partition
      size near shuffle-efficient 128-512 MB at 100 TB (AQE coalesces the
      small tail).
    - ``adaptive.* on``: runtime skew-join splitting is the backstop for
      hot blocks the static salting misses; coalescing trims the empty
      partitions the 3× over-provision creates.
    - ``autoBroadcastJoinThreshold = 256m``: the alias dictionary and
      block-frequency tables are ≤ hundreds of MB at 10¹² files; broadcast
      beats shuffling the 100 TB fact side every time.
    - ``files.maxPartitionBytes = 256m``: scan granularity for a parquet
      source at this scale — big enough to amortize task overhead across
      ~10⁶ input splits, small enough for executor-memory headroom.
    - ``adaptive.advisoryPartitionSizeInBytes = 256m``: AQE re-coalesce
      target aligned with the scan granularity.
    - ``memory.fraction = 0.8 / storageFraction = 0.3``: execution-heavy
      workload (one deliberate cache: the per-doc feature table); most of
      unified memory goes to shuffle/aggregation.
    - ``arrow.maxRecordsPerBatch = 4096``: the Arrow paths (Jaro-Winkler
      query scoring, the ``mapInPandas``/``applyInPandas`` scans) can carry
      rows of ~100-1000 array elements or whole article texts; 4k
      rows/batch bounds per-batch memory at a few hundred MB while keeping
      numpy kernels hot.
    - ``speculation on``: at 1000 executors stragglers (bad disk, hot node)
      dominate p99 stage time; re-launching the slowest 10% is cheap.
    - ``maxResultSize = 4g``: the driver only ever collects counters and
      small cluster summaries; 4g is a guard, not a workload budget.
    - ``shuffle.file.buffer / io.compression.codec zstd``: fewer, better-
      compressed spill files at TB-scale shuffles.
    """
    total_cores = executor_cores * executors
    return {
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.instances": str(executors),
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.memory.fraction": "0.8",
        "spark.memory.storageFraction": "0.3",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.speculation": "true",
        "spark.speculation.quantile": "0.9",
        "spark.driver.maxResultSize": "4g",
        "spark.shuffle.file.buffer": "1m",
        "spark.io.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        # wide per-dimension column math (e.g. 64-dim quantization ≈ 200
        # live fields mid-plan) must stay codegen-eligible
        "spark.sql.codegen.maxFields": "400",
    }


def get_spark(
    app_name: str = "wiki_entity_linker_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    Shuffle partitions follow the core count (at least 8) so small local
    runs don't over-parallelize; on a real cluster they are set to
    ``2-3 × total executor cores`` via spark-submit conf instead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, n_cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound pandas-UDF batch memory. It was measured when the ER scoring
        # stages still ran Arrow UDFs over int64 feature arrays of 10²-10³
        # elements per row per side: the 10k default was ~100-300 MB per
        # in-flight batch × one per core, and at 32 wide on one node that
        # inverted the 757k-file scaling leg (437-483 s vs 402 s at 8 cores;
        # 389 s once bounded). The ER pipeline runs no UDF now; the bound
        # stays for the remaining Arrow paths (Jaro-Winkler scoring, the
        # mapInPandas/applyInPandas scans), whose rows can be as wide.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split small-but-CPU-heavy parquet inputs across cores (a 50 MB
        # file at the default 128 MB split is a single task)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # headroom for the per-dimension column-math operators (embedding
        # quantization: 64 dims ≈ 200 live fields mid-plan): keep wide
        # projections codegen-ELIGIBLE rather than risk the interpreted
        # fallback the default maxFields=100 allows (verified: the
        # quantization plan codegens end-to-end, *(n) spans in explain)
        .config("spark.sql.codegen.maxFields", "400")
    )
    # Shuffle/spill on tmpfs when available: the sandbox's single shared
    # disk is a serial resource that caps multi-core scaling (a real 4×
    # cluster brings 4× disks/NICs with it). Overridable via SPARK_LOCAL_DIRS.
    if os.environ.get("SPARK_LOCAL_DIRS") is None and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return it with its lineage truncated.

    Every lineage cut in the package goes through here, so where the rows
    go is one deployment decision, read from Spark's own setting:

    - a checkpoint directory is set (``spark.checkpoint.dir`` or
      ``SparkContext.setCheckpointDir``): a reliable
      ``checkpoint(eager=True)``. The rows are written under that
      directory, so a lost executor costs a re-read, not the job.
    - none is set (the default; nothing in this package sets one): a
      ``localCheckpoint(eager=True)``. The rows stay in executor block
      storage, which skips the write, but a lost executor fails the job:
      the truncated lineage cannot recompute its blocks.

    Either way the returned frame's plan is a bare ``LogicalRDD``, so a
    loop that cuts every round keeps a constant-size plan. Reliable
    checkpoint files stay on disk after the job unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
