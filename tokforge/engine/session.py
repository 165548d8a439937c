"""SparkSession builder tuned for the token engine.

Defaults target local[32] testing but every knob is the one you would set
on a 1000-executor cluster: AQE on (runtime re-plan + skew-join splitting),
Arrow for the pandas UDF exchange, UTC session time so event-time windows
are replay-stable, shuffle partitions sized to cores.

Two stream-start rules live here, both read by Spark when a query starts
(so a runtime conf works): ``apply_state_store`` picks the state-store
tier, and ``apply_checkpoint_manager`` picks how checkpoint files are
committed: through the FileSystem API on a local disk, Spark's own
choice on every other FileSystem.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def apply_state_store(spark: SparkSession, state_store: str) -> None:
    """Select the streaming state-store tier (read at stream START, so a
    runtime conf works): "hdfs" keeps the default in-heap provider, the
    memory tier of the reference's foyer cache (caching/cache.rs:258-327);
    "rocksdb" switches to the disk tier — RocksDB with changelog
    checkpointing, the provider for state that outgrows executor heap
    (the 10^12-key cache table of the north rule)."""
    if state_store == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        # changelog checkpointing ships per-batch deltas instead of full
        # RocksDB snapshots — the knob that makes disk-tier state viable
        # at scale
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif state_store in ("hdfs", "", None):
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        raise ValueError(f"unknown state_store tier: {state_store!r}")


def apply_checkpoint_manager(spark: SparkSession, checkpoint_dir: str) -> None:
    """Select the checkpoint file manager for a stream about to start on
    ``checkpoint_dir``.  Spark's default for ``file:`` paths commits each
    offsets / commits / state-delta file through ``FileContext.rename``,
    which asks for the link status of the source, the destination and
    both ``.crc`` twins; without libhadoop each ask forks a ``readlink``
    process that always fails (16 per state task and 24 on the stream
    thread per micro-batch).  A local ``rename(2)`` is already atomic, so
    on the local FileSystem the FileSystem-API manager keeps the atomic
    commit without the forks; checksums (the ``.crc`` files and Spark's
    checkpoint file checksums) stay on.  Any other FileSystem (HDFS, S3,
    ABFS) keeps Spark's own choice.  The decision reads only the path's
    scheme, resolved against ``fs.defaultFS``; no FileSystem is opened."""
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    scheme = hadoop_fs.Path(checkpoint_dir).toUri().getScheme()
    if scheme is None:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop_fs.FileSystem.getDefaultUri(conf).getScheme()
    if scheme == "file":
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    else:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)


def build_spark(
    app_name: str = "tokforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> SparkSession:
    # Keep numpy buffers heap-resident in every child process (see
    # tokforge/worker_setup.py); must be in the env before the JVM forks
    # the Python worker daemon.
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r8 re-measure: the round-2 "100k rows 3x faster than 10k" no
        # longer holds — the kernel's per-batch working set now fits
        # cache at 10k rows (100k x 136 x 4B = 54 MB blows L3) and the
        # handshake is amortized enough; flagship sf1.0 best-of-4 swept
        # 100k=6.9-7.2s, 32k=6.5s, 20k=6.2-6.5s, 10k=6.2s.  10k is also
        # Spark's default.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("TOKFORGE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Plan STRINGS are unbounded by default (Int.MaxValue) and every
        # action renders one for the SQL listener event; deep pipeline
        # lineages (stacked assembly ops, nested InMemoryRelation dumps
        # that double per join) can OOM the driver inside explainString's
        # StringConcat before any data moves.  10 MB keeps full plans for
        # anything sane and truncates the pathological ones.
        .config("spark.sql.maxPlanStringLength", str(10 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    tier = state_store or os.environ.get("TOKFORGE_STATE_STORE")
    if tier:
        apply_state_store(spark, tier.strip().lower())
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to a session we did not build
    (the driver hands us one in ``__spark_entry__.entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.maxPlanStringLength", str(10 * 1024 * 1024))
    return spark
