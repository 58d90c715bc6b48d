"""SparkSession factory with scale-oriented defaults.

The reference tunes its engine for single-node latency (batch_size=32,
coalesce_batches=false — crates/core/src/context.rs:27-37). A Spark
build tunes the opposite direction: large columnar batches, AQE for
runtime re-planning, and shuffle-partition counts sized to the
cluster. These defaults are chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged:

- AQE on: coalesces post-shuffle partitions at runtime, rewrites
  skewed joins, and converts sort-merge joins to broadcast when the
  runtime size allows — this is what makes one static config survive
  a 100× scale-up.
- Two settings are derived from the built session by
  :func:`apply_session_defaults`; pass either via ``extra_conf`` to
  override it session-wide.

  - ``spark.sql.shuffle.partitions`` is the session's
    ``defaultParallelism`` (N on ``local[N]``, total executor cores on
    a cluster). In batch plans it is the pre-AQE upper bound that AQE
    coalesces down. Spark turns AQE off for stateful streams, so there
    it is the number of state-store instances every micro-batch
    loads, updates and commits, and the checkpoint pins it for the
    life of the query.
  - ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
    ``FileSystemBasedCheckpointFileManager`` when the default
    filesystem is ``file:``. Spark's default FileContext manager asks
    Hadoop, on every checkpoint-file rename, whether the temp file is
    a symlink; without Hadoop's native library (absent from the pip
    build) that check starts a ``readlink`` child process, 7-9 ms
    each. A 3-file ``window_drain`` on 4 cores started ~370 of them
    per drain, one per state-store delta and log file. Both managers
    check that the target is absent, rename with POSIX ``rename(2)``
    and write Hadoop's ``.crc`` sidecars, and Spark's checkpoint
    checksums wrap either one. Any other default filesystem (``hdfs``,
    ``s3a``, ...) keeps Spark's default manager. One ``chmod`` child
    per created file remains: Hadoop sets local file permissions
    through a process when its native IO is missing.
- ``spark.sql.codegen.cache.maxEntries`` is 1,000 (Spark's default is
  100). Every plan's whole-stage and expression code is compiled by
  Janino into a class, and Spark keeps compiled classes in one
  JVM-wide cache keyed on the generated source. One pass over the 8
  ``perfbench`` batch lanes uses ~130 distinct classes and one over
  the 22 ``bench.py`` headline lanes 277, so at 100 the cache thrashes
  and every warm pass recompiles most of them (~120 and ~285 classes
  on 4 cores, at 1,000 none). A stream reuses its generated code
  across micro-batches: once the README window pipeline has run
  (~30 classes), the micro-batches after a drain's first compile
  nothing, at either size.
  1,000 holds the headline working set 3.6 times over and costs no
  measurable metaspace (164 MB after 4 passes of the 22 lanes, 170 MB
  at 100: evicted classes stay loaded until collected). The conf is
  static: only the session that starts the JVM sets it, and
  ``extra_conf`` overrides it.
- UTC session timezone: parquet/DuckDB timestamps are UTC-naive;
  pinning the session TZ makes event-time arithmetic deterministic.
- Arrow enabled: every Python-boundary crossing (pandas UDFs,
  toPandas, applyInPandas) is Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs — shared verbatim by __spark_entry__._configure
# so a driver-provided session gets IDENTICAL semantics (especially the
# timestamp confs: a session without inferTimestampNTZ=false reads naive
# parquet timestamps as TIMESTAMP_NTZ, changing column types engine-wide).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep scan partitions big enough to amortize task overhead but
    # small enough to fit in executor memory at 100 TB inputs.
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # Broadcast threshold: dimension tables (region/nation/customer/
    # supplier/part at reasonable SFs) should broadcast, not shuffle.
    "spark.sql.autoBroadcastJoinThreshold": "67108864",  # 64 MiB
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (pandas/pyarrow default) is otherwise
    # unreadable; read as long and convert in sources.files.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps (isAdjustedToUTC=false, e.g. pyarrow
    # timestamp[us]) would otherwise read as TIMESTAMP_NTZ, which
    # withWatermark rejects; read them as session-TZ TIMESTAMP (UTC
    # above), matching DuckDB's naive interpretation value-for-value.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

_DEFAULTS = {
    **RUNTIME_CONF,
    "spark.ui.showConsoleProgress": "false",
    # Local-mode JVM heap. Spark's 1g default OOMs collect_list-heavy
    # aggregations long before the box's memory is used; on a real
    # cluster this is spark.executor.memory territory instead. Only
    # effective at JVM launch (first session build).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Room for the registry's generated classes (module docstring).
    # Static, so it cannot go in RUNTIME_CONF.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def apply_session_defaults(spark: SparkSession, keep=()) -> None:
    """Set the confs derived from the session rather than fixed in
    :data:`RUNTIME_CONF` (the module docstring says why): one
    shuffle/state partition per core, and the FileSystem-API checkpoint
    manager when the default filesystem of the session's Hadoop conf is
    ``file:``. Keys in ``keep`` (the caller's explicit settings) are
    left alone. Both :func:`get_spark` and the driver contract's
    ``_configure`` call this, so the two surfaces plan with the same
    partition count and commit checkpoints through the same manager."""
    derived = {SHUFFLE_PARTITIONS: str(spark.sparkContext.defaultParallelism)}
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    # One lookup by the full class name: walking the package chain
    # costs a reflection round trip per segment (~1.6 ms per call).
    file_system = getattr(spark._jvm, "org.apache.hadoop.fs.FileSystem")
    default_fs = file_system.getDefaultUri(hadoop_conf)
    if default_fs.getScheme() == "file":
        derived[CHECKPOINT_FILE_MANAGER] = FILESYSTEM_CHECKPOINT_MANAGER
    for key, value in derived.items():
        if key not in keep:
            spark.conf.set(key, value)


from contextlib import contextmanager


@contextmanager
def state_partition_scope(spark: SparkSession, n: int):
    """Pin one streaming query's state-store partition count away from
    the session default (:func:`apply_session_defaults`).

    Spark captures ``spark.sql.shuffle.partitions`` into the streaming
    checkpoint at the first micro-batch and every stateful operator
    gets one state-store instance per partition for the life of the
    checkpoint (restarts reuse the checkpointed count, whatever the
    session says then). Use this only when one query needs a
    different count, e.g. a wider key space on a cluster that will
    grow.

    Keep the query's first ``awaitTermination`` inside the scope: the
    first batch is planned asynchronously after ``start()``.
    """
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, str(n))
    try:
        yield spark
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)


def get_spark(
    app_name: str = "denormalized_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and
    no cluster manager is configured, so tests and bench share one
    code path with production (where ``master`` comes from
    spark-submit and this argument stays None). The shuffle/state
    partition count and the checkpoint file manager are derived from
    the built session (:func:`apply_session_defaults`) unless
    ``extra_conf`` sets them.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master("local[*]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_session_defaults(spark, keep=extra_conf or ())
    return spark
