"""SparkSession factory.

Local testing runs ``local[N]`` (one JVM); the configs below are chosen so
the same code scales to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, join-strategy
  switch) — at 100 TB this is what turns a mis-estimated sort-merge join
  back into a broadcast join and splits skewed shuffle partitions.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
- Arrow enabled for every pandas-interop path (Pandas UDFs, toPandas).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Streaming checkpoints (offset log, commit log, the file source's log)
  are committed through ``FileSystemBasedCheckpointFileManager``, not
  Spark's default ``FileContextBasedCheckpointFileManager``.  Without the
  native Hadoop library, FileContext's rename on the local filesystem
  looks up link status by forking a ``readlink`` process per lookup: a
  JFR ``jdk.ProcessStart`` recording in the driver read 24 ``readlink``
  + 6 ``chmod`` forks per trigger, all on the stream thread.  With this
  manager a trigger forks 0 ``readlink``; the 6 ``chmod`` forks of
  ``RawLocalFileSystem.setPermission`` remain (they need the native
  library).  On 4 vCPUs the per-trigger medians of ``latestOffset`` +
  ``walCommit`` + ``commitOffsets`` fell 69 → 19 ms.  The commit is no
  weaker: on the local filesystem FileContext already renames
  check-then-rename (Hadoop's ``AbstractFileSystem.renameInternal``
  "deals with overwrite in a non-atomic way"), and the FileSystem
  manager does the same ``exists`` check, then ``rename(src, dst)``,
  moving the ``.crc`` sidecar with the file.  On HDFS the two-argument
  rename refuses to overwrite, so a second writer of the same batch
  still fails.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.storagelevel import StorageLevel


#: Storage level for every ``localCheckpoint`` in the engine (guide §5).
#: Spark's default local-checkpoint level stores blocks DESERIALIZED
#: (``MEMORY_AND_DISK_DESER``): every MemoryStore put then pays a
#: ``SizeEstimator`` reflection walk over the row-object graph to price the
#: block, and the retained object graphs bloat the old generation across a
#: long-lived session (one bench JVM runs 50 queries' checkpoints
#: back-to-back).  Measured on this runtime: ``reco_assembly`` first run in
#: a fresh JVM 53.7s deserialized vs 6.2s serialized, and 66s warm
#: mid-bench vs ~5s after this change.  Serialized blocks have exact sizes
#: (no estimator walk) and compact byte[] payloads (no GC amplification);
#: the extra (de)serialization is codegen'd UnsafeRow work, which the
#: steady-state A/B shows is free at these block sizes.
CHECKPOINT_LEVEL = StorageLevel.MEMORY_AND_DISK  # serialized in Spark 4 naming


def local_cpus() -> int:
    """Cores for ``local[N]`` and the default shuffle partition count:
    ``$SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    half of the host's ``MemTotal`` — the rest is left to the Python
    workers and the OS page cache."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2048}m"  # kB / 2 → MB
    raise RuntimeError(
        "no MemTotal in /proc/meminfo; set SPARK_GRAFT_DRIVER_MEM"
    )


def get_spark(
    app_name: str = "hainan_big_data_recommend_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[local_cpus()]`` so tests and bench
    share one code path; on a cluster, pass ``None`` with a pre-set master
    in the environment (spark-submit) and the builder leaves it alone.
    """
    cpus = local_cpus()
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    nparts = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
