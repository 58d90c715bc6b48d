"""Checkpoint/recovery: kill a windowed streaming query, restart from
the same checkpoint, observe (a) offset resume — already-read files
are not reprocessed, (b) state restore — a window whose rows all
arrived before the restart emits (once) after it, (c) no re-emission
of windows closed before the restart.

This is the contract the reference implements by hand:
offset persistence/resume (kafka_stream_read.rs:108-140) and window
accumulator state restore (grouped_window_agg_stream.rs:160-211).
Spark equivalent: the checkpoint's offset WAL + state store — plus
the RocksDB provider (state_backend/rocksdb_backend.rs analogue),
enabled here to prove the config path works.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import time
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from denormalized_spark import functions as f
from denormalized_spark.datastream import DataStream
from denormalized_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    FILESYSTEM_CHECKPOINT_MANAGER,
    SHUFFLE_PARTITIONS,
    apply_session_defaults,
    get_spark,
)
from denormalized_spark.streaming.checkpoint import (
    checkpoint_dir,
    enable_rocksdb_state_store,
    use_default_state_store,
)

BASE = "2024-01-01 "


def _write_file(spark, tmp_path, stream_dir, rows, name, age_s):
    df = spark.createDataFrame(rows).select(F.to_timestamp("ts_str").alias("ts"), "v")
    tmp_out = str(tmp_path / f"_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
    dest = str(stream_dir / name)
    os.rename(os.path.join(tmp_out, part), dest)
    t = time.time() - age_s
    os.utime(dest, (t, t))


def _start(spark, stream_dir, schema, ckpt, keys=(), timeout=180, median=f.median):
    """Drain the directory through an hourly window count and median of
    ``v`` by ``keys``; returns (emitted rows, the finished query)."""
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    rows = []
    q = DataStream(sdf, event_time="ts").window(
        list(keys), [F.count("*").alias("n"), median("v").alias("med")], 3600_000
    ).sink(lambda df: rows.extend(df.collect()), checkpoint=ckpt)
    q.awaitTermination(timeout)
    return rows, q


def _run(spark, stream_dir, schema, ckpt):
    return _start(spark, stream_dir, schema, ckpt)[0]


def test_kill_restart_resumes_offsets_and_state(spark, tmp_path):
    stream_dir = tmp_path / "ck_stream"
    stream_dir.mkdir()
    ckpt = checkpoint_dir(str(tmp_path), "winq")

    # hour 0: 3 rows; hour 1: 2 rows (still open at first shutdown)
    # plus 1 row in the second file, merged into the restored state
    _write_file(
        spark,
        tmp_path,
        stream_dir,
        [
            Row(ts_str=BASE + "00:10:00", v=1),
            Row(ts_str=BASE + "00:20:00", v=1),
            Row(ts_str=BASE + "00:50:00", v=1),
            Row(ts_str=BASE + "01:10:00", v=3),
            Row(ts_str=BASE + "01:20:00", v=8),
        ],
        "a.parquet",
        age_s=100,
    )
    schema = spark.read.parquet(str(stream_dir)).schema

    enable_rocksdb_state_store(spark)
    try:
        # run 1: drains file A, watermark → 01:20, emits hour-0 only
        rows1 = _run(spark, stream_dir, schema, ckpt)
        emitted1 = {r["window_start_time"].hour: r["n"] for r in rows1}
        assert emitted1 == {0: 3}, rows1

        # "crash": query already terminated; new data lands
        _write_file(
            spark,
            tmp_path,
            stream_dir,
            [Row(ts_str=BASE + "01:30:00", v=4), Row(ts_str=BASE + "02:10:00", v=1),
             Row(ts_str=BASE + "02:20:00", v=1), Row(ts_str=BASE + "03:05:00", v=1)],
            "b.parquet",
            age_s=0,
        )

        # run 2, same checkpoint: must NOT reprocess file A (offset
        # resume), must emit hour-1 from RESTORED state merged with its
        # new row and hour-2 from new data, must NOT re-emit hour 0.
        rows2 = _run(spark, stream_dir, schema, ckpt)
        emitted2 = {r["window_start_time"].hour: (r["n"], r["med"]) for r in rows2}
        assert emitted2 == {1: (3, 4.0), 2: (2, 1.0)}, rows2
    finally:
        use_default_state_store(spark)


def test_fresh_checkpoint_reprocesses_everything(spark, tmp_path):
    """Control: without the old checkpoint the same directory replays
    from scratch — proving run 2 above really did resume."""
    stream_dir = tmp_path / "ck_stream2"
    stream_dir.mkdir()
    _write_file(
        spark,
        tmp_path,
        stream_dir,
        [
            Row(ts_str=BASE + "00:10:00", v=1),
            Row(ts_str=BASE + "01:10:00", v=1),
            Row(ts_str=BASE + "02:10:00", v=1),
        ],
        "a.parquet",
        age_s=100,
    )
    schema = spark.read.parquet(str(stream_dir)).schema
    rows = _run(spark, stream_dir, schema, checkpoint_dir(str(tmp_path), "fresh"))
    emitted = {r["window_start_time"].hour: r["n"] for r in rows}
    assert emitted == {0: 1, 1: 1}  # hour-2 window held (wm = 02:10)


def _state_partitions(q) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }


_HOURS = [("00:10:00", 1), ("00:20:00", 2), ("00:50:00", 3), ("01:10:00", 1),
          ("01:20:00", 4)]
_LATER = [("01:40:00", 2), ("01:50:00", 4), ("02:10:00", 1), ("02:20:00", 5),
          ("03:05:00", 3)]


def _windows(rows) -> set:
    out = [(r["window_start_time"].hour, r["v"], r["n"], r["med"]) for r in rows]
    assert len(out) == len(set(out)), f"duplicate emission in {out}"
    return set(out)


def _restart_vs_whole(spark, tmp_path, name, first, second=None):
    """Drain file a (hours 0-1) by ``first(stream_dir, schema, ckpt)``,
    add file b (hours 1-3), resume the same checkpoint by ``second``
    (default: ``_start`` under the session defaults), then drain both
    files on a fresh checkpoint in one run. Each callable returns
    (rows, query); so does this, for the three runs. The windows of
    the two runs together must equal the uninterrupted run's, with
    the (01:00, v=4) window's median from restored state plus a new
    row."""
    second = second or (lambda *a: _start(spark, *a, keys=["v"]))
    stream_dir = tmp_path / f"{name}_stream"
    stream_dir.mkdir()
    _write_file(spark, tmp_path, stream_dir,
                [Row(ts_str=BASE + t, v=v) for t, v in _HOURS], "a.parquet", age_s=100)
    schema = spark.read.parquet(str(stream_dir)).schema
    ckpt = checkpoint_dir(str(tmp_path), name)

    run1 = first(stream_dir, schema, ckpt)
    _write_file(spark, tmp_path, stream_dir,
                [Row(ts_str=BASE + t, v=v) for t, v in _LATER], "b.parquet", age_s=0)
    run2 = second(stream_dir, schema, ckpt)
    whole = _start(spark, stream_dir, schema,
                   checkpoint_dir(str(tmp_path), f"{name}_whole"), keys=["v"])

    (rows1, _), (rows2, _), (rows, _) = run1, run2, whole
    assert _windows(rows1) | _windows(rows2) == _windows(rows)
    assert not _windows(rows1) & _windows(rows2)
    assert {h for h, *_ in _windows(rows)} == {0, 1, 2}
    assert (1, 4, 2, 4.0) in _windows(rows2)
    return run1, run2, whole


def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    """A window query started at 32 state partitions and restarted on
    the same checkpoint under the session default (one per core) keeps
    its 32 state stores — Spark pins the count in the offset log — and
    the windows emitted across the two runs (counts and medians) equal
    one uninterrupted run's."""
    from denormalized_spark.session import state_partition_scope

    def first(*args):
        with state_partition_scope(spark, 32):
            return _start(spark, *args, keys=["v"])

    (_, q1), (_, q2), (_, q) = _restart_vs_whole(spark, tmp_path, "parts", first)
    assert spark.conf.get(SHUFFLE_PARTITIONS) != "32"
    assert _state_partitions(q1) == {32}
    assert _state_partitions(q2) == {32}
    assert _state_partitions(q) == {spark.sparkContext.defaultParallelism}


CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_CONTEXT_MANAGER = CHECKPOINTING + "FileContextBasedCheckpointFileManager"


def _manager(spark, path) -> str:
    """The class Spark's ``CheckpointFileManager.create`` picks for a
    checkpoint at ``path`` under this session's Hadoop conf, as the
    offset/commit logs and state stores of a query started now do."""
    jvm = spark._jvm
    create = getattr(getattr(jvm, CHECKPOINTING + "CheckpointFileManager$"), "MODULE$")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return create.create(jvm.org.apache.hadoop.fs.Path(str(path)), hadoop_conf) \
        .getClass().getName()


def test_local_default_fs_derives_filesystem_manager(spark, tmp_path):
    """On the local default filesystem both session surfaces — get_spark
    (the session fixture) and the driver contract's _configure — commit
    checkpoints through the FileSystem-API manager; without the derived
    conf Spark would pick its FileContext manager."""
    import __spark_entry__

    assert _manager(spark, tmp_path) == FILESYSTEM_CHECKPOINT_MANAGER
    spark.conf.unset(CHECKPOINT_FILE_MANAGER)
    try:
        assert _manager(spark, tmp_path) == FILE_CONTEXT_MANAGER
        __spark_entry__._configure(spark)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER
        assert _manager(spark, tmp_path) == FILESYSTEM_CHECKPOINT_MANAGER
    finally:
        apply_session_defaults(spark)


def test_other_default_fs_keeps_spark_manager(spark):
    """A non-local default filesystem (here only a conf value; nothing
    connects to it) leaves the manager key unset, so Spark's default
    applies, while the partition count is still derived."""
    spark.conf.unset(CHECKPOINT_FILE_MANAGER)
    spark.conf.set(SHUFFLE_PARTITIONS, "13")
    spark.conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        apply_session_defaults(spark)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER, None) is None
        assert spark.conf.get(SHUFFLE_PARTITIONS) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.unset("fs.defaultFS")
        apply_session_defaults(spark)
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER


def test_extra_conf_checkpoint_manager_wins(spark, tmp_path):
    try:
        s = get_spark("tests", extra_conf={CHECKPOINT_FILE_MANAGER: FILE_CONTEXT_MANAGER})
        assert _manager(s, tmp_path) == FILE_CONTEXT_MANAGER
    finally:
        apply_session_defaults(spark)
    assert _manager(spark, tmp_path) == FILESYSTEM_CHECKPOINT_MANAGER


def test_filecontext_checkpoint_resumes_under_derived_manager(spark, tmp_path):
    """A checkpoint written through Spark's FileContext manager resumes
    under the derived FileSystem-API one: both write the same files."""

    def first(*args):
        spark.conf.set(CHECKPOINT_FILE_MANAGER, FILE_CONTEXT_MANAGER)
        try:
            assert _manager(spark, tmp_path) == FILE_CONTEXT_MANAGER
            return _start(spark, *args, keys=["v"])
        finally:
            apply_session_defaults(spark)

    def second(*args):
        assert _manager(spark, tmp_path) == FILESYSTEM_CHECKPOINT_MANAGER
        return _start(spark, *args, keys=["v"])

    _restart_vs_whole(spark, tmp_path, "managers", first, second)


def _guarded_median(x):
    """The median's earlier result form: the same ``collect_list``
    buffer, with the middle values under a ``size > 0`` guard."""
    a = F.sort_array(F.collect_list(F.col(x).cast("double")))
    n = F.size(a)
    lo = F.element_at(a, F.floor((n - 1) / 2).cast("int") + 1)
    hi = F.element_at(a, F.ceil((n - 1) / 2).cast("int") + 1)
    return F.when(n > 0, F.when(lo == hi, lo).otherwise(lo * 0.5 + hi * 0.5))


def test_guarded_median_checkpoint_resumes_with_current_form(spark, tmp_path):
    """Only the median's result expression changed, not its buffer, so
    a checkpoint written with the guarded form resumes with f.median."""
    _restart_vs_whole(
        spark, tmp_path, "medform",
        lambda *args: _start(spark, *args, keys=["v"], median=_guarded_median),
    )


_RECORDED_DRAIN = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, "tests")
    from denormalized_spark import Context
    from denormalized_spark.session import get_spark
    from denormalized_spark.sources.kafka import infer_schema_from_json
    from test_state_partitions import SAMPLE, _readme_pipeline

    directory, ckpt, recording = sys.argv[1:]
    spark = get_spark("recorded_drain", master="local[2]", extra_conf={
        "spark.driver.extraJavaOptions": "-XX:StartFlightRecording"})
    source = Context(spark).from_stream_json(
        directory, infer_schema_from_json(json.dumps(SAMPLE)), max_files_per_trigger=1)
    rows = []
    q = _readme_pipeline(source).sink(lambda df: rows.extend(df.collect()), checkpoint=ckpt)
    q.awaitTermination(300)
    jvm = spark._jvm
    jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings().get(0).dump(
        jvm.java.io.File(recording).toPath())
    spark.stop()
    print(len(rows))
    """
)


@pytest.mark.slow  # integration tier: subprocess boots its own JVM under a flight recording
def test_checkpoint_commits_start_no_readlink(tmp_path):
    """Drain three small JSON files, one per micro-batch, through the
    README window pipeline in a fresh ``local[2]`` JVM started with
    ``-XX:StartFlightRecording``, and count the child processes it
    starts (``jdk.ProcessStart``). Under Spark's FileContext manager
    Hadoop started one ``readlink`` per checkpoint-file rename, 240 in
    this drain; the derived FileSystem-API manager starts none. What
    remains is one ``chmod`` per created checkpoint file or directory
    (Hadoop has no native IO here): 71 in this drain under either
    manager."""
    from test_state_partitions import _sensor_files, _write_json_files

    directory, recording = tmp_path / "events", tmp_path / "drain.jfr"
    _write_json_files(str(directory), _sensor_files()[:3])
    out = subprocess.run(
        [sys.executable, "-c", _RECORDED_DRAIN, str(directory), str(tmp_path / "ckpt"),
         str(recording)],
        cwd=Path(__file__).resolve().parents[1], capture_output=True, text=True,
        timeout=600, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert out.returncode == 0 and int(out.stdout.split()[-1]) > 0, out.stderr[-2000:]

    java_bin = (Path(os.environ["JAVA_HOME"], "bin") if "JAVA_HOME" in os.environ
                else Path(shutil.which("java")).resolve().parent)
    events = subprocess.run(
        [str(java_bin / "jfr"), "print", "--events", "jdk.ProcessStart", str(recording)],
        capture_output=True, text=True, check=True, timeout=120,
    ).stdout
    commands = [line.split('"')[1].split()[0] for line in events.splitlines()
                if line.strip().startswith("command = ")]
    assert commands.count("chmod") > 0, events[-2000:]  # the recording saw the drain
    assert commands.count("readlink") == 0, sorted(set(commands))


def test_context_with_checkpointing_builder(spark, tmp_path, sf_dir):
    """Reference README.md:100-111 builder parity: one call enables
    the RocksDB state backend and a default checkpoint root; a sink
    started WITHOUT checkpoint= lands its state under that root."""
    import os

    from denormalized_spark.context import Context
    from denormalized_spark.streaming.checkpoint import ROCKSDB_PROVIDER

    root = str(tmp_path / "ckroot")
    ctx = Context(spark).with_checkpointing(root)
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass") == ROCKSDB_PROVIDER
    assert spark.conf.get("spark.sql.streaming.checkpointLocation") == root

    from pyspark.sql import functions as F

    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = []
    q = sds.window([], [F.count("*").alias("n")], 3600_000).sink(
        lambda df: rows.extend(df.collect())
    )
    q.awaitTermination(120)
    assert rows and os.listdir(root)  # state landed under the root


def test_quality_monitor_restart_no_reemission(spark, tmp_path):
    """The windowed corpus-quality monitor (curation_quality_monitor's
    plan) across a kill/restart: hour-0 quality stats emit once in run
    1; run 2 from the same checkpoint emits the restored hour-1 window
    exactly once, with the same mean_quality the batch plan computes —
    windowed-agg state restore for a TEXT pipeline, not just counts."""
    from denormalized_spark.operators.text import quality_score, token_count

    stream_dir = tmp_path / "qm_stream"
    stream_dir.mkdir()
    ckpt = checkpoint_dir(str(tmp_path), "qmon")

    good = ("the quick brown fox jumps over the lazy dog and then runs into "
            "the woods while it is still light outside today")

    def doc_rows(specs):
        return [Row(ts_str=t, v=txt) for t, txt in specs]

    _write_file(
        spark, tmp_path, stream_dir,
        doc_rows([
            (BASE + "00:05:00", good),
            (BASE + "00:25:00", "x"),
            (BASE + "01:10:00", good),
            (BASE + "01:30:00", good),
        ]),
        "a.parquet", age_s=100,
    )
    schema = spark.read.parquet(str(stream_dir)).schema

    def run(timeout=180):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir))
        )
        m = sdf.withWatermark("ts", "0 seconds").select(
            F.window("ts", "1 hour").alias("w"),
            token_count("v").alias("nt"),
            quality_score("v").alias("q"),
        )
        agg = (
            m.groupBy("w")
            .agg(F.count("*").alias("n_docs"), F.round(F.avg("q"), 6).alias("mq"))
            .select(F.col("w.start").alias("ws"), "n_docs", "mq")
        )
        rows = []
        q = (
            agg.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout)
        return rows

    rows1 = run()
    got1 = {r["ws"].hour: (r["n_docs"], r["mq"]) for r in rows1}
    assert set(got1) == {0} and got1[0][0] == 2

    _write_file(
        spark, tmp_path, stream_dir,
        doc_rows([(BASE + "02:20:00", "y")]),
        "b.parquet", age_s=0,
    )
    rows2 = run()
    got2 = {r["ws"].hour: (r["n_docs"], r["mq"]) for r in rows2}
    # hour-1 from restored state exactly once, never hour-0 again
    assert set(got2) == {1}, rows2
    assert got2[1][0] == 2
    # restored-state quality equals the batch computation on hour-1 docs
    batch = spark.createDataFrame([(good,), (good,)], ["v"]).agg(
        F.round(F.avg(quality_score("v")), 6)
    ).collect()[0][0]
    assert got2[1][1] == batch
