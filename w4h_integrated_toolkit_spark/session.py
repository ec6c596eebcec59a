"""SparkSession factory.

Scale posture: these configs are chosen so the same code runs on local[N]
for tests and on a large cluster unchanged:

- AQE on (runtime join re-planning, partition coalescing, skew-join splitting)
  so plans survive data-scale changes without manual retuning.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalescing makes the initial number far less sensitive.
- Session timezone pinned to UTC: the GeoMTS data model treats timestamps as
  instants (reference stores naive UTC in PostgreSQL, w4h_db_utils.py:41-44),
  and the DuckDB oracle compares naive-UTC values.
- Arrow enabled for the pandas-UDF escape hatches (grouped calibration,
  geometry codecs).
- File-listing fan-out bounded to the cores: a scan over more than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) explicit
  paths is listed by a Spark job whose task count defaults to one per path
  (capped at 10,000). A streaming catch-up batch of ~650 small files paid a
  650-task job just to stat them; the parallelism is derived from the core
  count (``cpus`` here, ``defaultParallelism`` in :func:`prepare_session`),
  like the shuffle partitions, so it is not a separate knob. Scans of 32
  paths or fewer are still listed on the driver.
- Streaming checkpoints renamed through ``FileSystem.rename``
  (``FileSystemBasedCheckpointFileManager``). Spark's default manager
  renames through ``FileContext.rename``, and on a local path Hadoop
  3.4's ``RawLocalFileSystem.getFileLinkStatus`` resolves the target via
  ``FileUtil.readLink``, which forks a ``readlink`` process from the JVM.
  That fork ran on every state-store delta commit (per state partition,
  per batch, twice with the checksum files) and on every offset, commit
  and source-log write. With ~5 rows per trigger it was most of a live
  trigger's busy time: in sampled executor stacks 18 of 28 busy task
  samples were inside the forked ``readlink`` under a state-store commit.
  On a 4-vCPU VM this manager alone took the ``stream`` perfbench
  workload's file freshness p50 from 1.9–2.6 s to 1.7–1.9 s; the
  per-batch offset-log write (``walCommit``) went 74–81 ms → 22–35 ms
  in traced runs. The no-clobber rule
  is the same: both managers check the target is absent, then rename,
  and HDFS ``rename`` refuses an existing target. Checkpoint checksums
  stay at Spark's default.
  :func:`prepare_session` sets the manager only on a ``local[...]``
  master, the same rule as the ``/dev/shm`` drain checkpoint: a cluster
  session keeps whatever manager its deployment chose for its store.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "prepare_session"]

_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
_CHECKPOINT_MANAGER = (
    "spark.sql.streaming.checkpointFileManagerClass",
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
)


def get_spark(
    app_name: str = "w4h-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(_LISTING_PARALLELISM, str(cpus))
        .config(*_CHECKPOINT_MANAGER)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # write timestamps as annotated INT64 (µs): INT96 is deprecated and
        # carries no parquet stats, which kills min/max file pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # naive parquet timestamps are instants in this data model (session
        # tz pinned UTC above); NTZ inference would also break ts→double
        # epoch math used by window/gap operators
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally-created session.

    The driver hands us its own SparkSession; timestamp semantics of every
    query depend on the session timezone, so pin it (runtime-settable) rather
    than trusting the ambient config.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # INT96 (the legacy default) writes NO footer min/max stats, silently
    # disabling the file/row-group pruning write_sorted exists to provide
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # treat naive parquet timestamps as UTC instants, not NTZ (see get_spark)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # listing fan-out sized to the cores (see the module docstring)
    spark.conf.set(
        _LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism)
    )
    # fork-free checkpoint renames, local masters only (see the module
    # docstring)
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set(*_CHECKPOINT_MANAGER)
    return spark
