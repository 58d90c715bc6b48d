"""The shuffle/state partition count: derived from the session's cores
(``session.apply_session_defaults``), applied by both
``get_spark`` and the driver contract's ``_configure``, overridable per
session (``extra_conf``) and per query (``state_partition_scope``) —
and results that do not depend on it.

Spark runs stateful streams without AQE, so the count is the number of
state-store instances a windowed query keeps for the life of its
checkpoint; the progress metrics report it as ``numShufflePartitions``.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
from contextlib import nullcontext

from denormalized_spark.context import Context
from denormalized_spark.datafusion import col, lit
from denormalized_spark.datafusion import functions as f
from denormalized_spark.datastream import DataStream
from denormalized_spark.eventtime import with_event_time
from denormalized_spark.operators.windows import window_aggregate
from denormalized_spark.session import (
    RUNTIME_CONF,
    SHUFFLE_PARTITIONS,
    apply_session_defaults,
    get_spark,
    state_partition_scope,
)
from denormalized_spark.sources.kafka import infer_schema_from_json

SAMPLE = {"occurred_at_ms": 100, "sensor_name": "foo", "reading": 0.0}
THRESHOLD = 10.0
# Far past every window of the data files, with a reading under the
# filter threshold: its batch moves the watermark past every real
# window, and its own (never closed) window is filtered out of the
# batch result too.
FLUSH = {"occurred_at_ms": 1_000_000, "sensor_name": "sensor_0", "reading": 0.0}


def _cores(spark) -> str:
    return str(spark.sparkContext.defaultParallelism)


def test_get_spark_derives_partitions_from_cores(spark):
    s = get_spark("tests")
    assert s.conf.get(SHUFFLE_PARTITIONS) == _cores(s)
    assert SHUFFLE_PARTITIONS not in RUNTIME_CONF


def test_extra_conf_partitions_win_over_default(spark):
    try:
        s = get_spark("tests", extra_conf={SHUFFLE_PARTITIONS: "7"})
        assert s.conf.get(SHUFFLE_PARTITIONS) == "7"
    finally:
        apply_session_defaults(spark)
    assert spark.conf.get(SHUFFLE_PARTITIONS) == _cores(spark)


def test_driver_configure_applies_derived_partitions(spark):
    import __spark_entry__

    spark.conf.set(SHUFFLE_PARTITIONS, "13")
    try:
        __spark_entry__._configure(spark)
        assert spark.conf.get(SHUFFLE_PARTITIONS) == _cores(spark)
    finally:
        apply_session_defaults(spark)


def _write_json_files(directory, files):
    """One newline-delimited JSON file per list of events, with
    increasing mtimes (the file source orders new files by mtime)."""
    os.makedirs(directory, exist_ok=True)
    for i, events in enumerate(files):
        path = os.path.join(directory, f"part{i:02d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in events)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _sensor_files():
    """Three files of strictly later events than the one before (no
    row is late), 6 sensors, several 1 s windows per file, plus the
    flush event as a last file."""
    files = []
    for i in range(3):
        events = []
        for j in range(60):
            t = i * 3000 + j * 50
            events.append({
                "occurred_at_ms": t,
                "sensor_name": f"sensor_{(i * 7 + j) % 6}",
                "reading": float((i * 31 + j * 17) % 48) / 4,
            })
        files.append(events[::-1])  # out of order inside the file
    return files + [[FLUSH]]


def _readme_pipeline(ds: DataStream) -> DataStream:
    return (
        ds.with_timestamp("occurred_at_ms", "ms")
        .window([col("sensor_name")], _aggregates(), 1000)
        .filter(col("max") > lit(THRESHOLD))
    )


def _aggregates():
    return [
        f.count(col("reading")).alias("count"),
        f.min(col("reading")).alias("min"),
        f.max(col("reading")).alias("max"),
        f.avg(col("reading")).alias("average"),
        f.median(col("reading")).alias("median"),
        f.stddev(col("reading")).alias("stddev"),
    ]


def _drain(ctx, directory, partitions=None, compiled_classes=lambda: 0):
    """Drain the JSON directory through the README pipeline, one file
    per micro-batch; returns (windows, state operators of the first
    stateful progress, classes compiled by the micro-batches after the
    first as counted by ``compiled_classes``)."""
    schema = infer_schema_from_json(json.dumps(SAMPLE))
    batches, compiled = [], []
    ds = _readme_pipeline(
        ctx.from_stream_json(directory, schema, max_files_per_trigger=1)
    )

    def collect(df):
        batches.append(df.collect())
        compiled.append(compiled_classes())

    scope = (
        nullcontext() if partitions is None
        else state_partition_scope(ctx.spark, partitions)
    )
    with scope:
        q = ds.sink(collect, checkpoint=tempfile.mkdtemp(prefix="ck_parts_"))
        q.awaitTermination(180)
    ops = next(p["stateOperators"] for p in q.recentProgress if p["stateOperators"])
    windows = _windows(r for rows in batches for r in rows)
    return windows, ops, compiled[-1] - compiled[0]


def _windows(rows) -> dict:
    out = {}
    for r in rows:
        d = r.asDict()
        key = (d.pop("sensor_name"), d.pop("window_start_time"), d.pop("window_end_time"))
        assert key not in out, f"duplicate emission for {key}"
        out[key] = d
    return out


def _assert_same_windows(got: dict, want: dict):
    assert got.keys() == want.keys()
    for key, stats in want.items():
        for name, value in stats.items():
            assert math.isclose(got[key][name], value, rel_tol=1e-9, abs_tol=1e-12), (
                key, name, got[key][name], value,
            )


def test_stream_window_state_partitions_default_to_cores(spark, tmp_path):
    directory = str(tmp_path / "events")
    _write_json_files(directory, _sensor_files()[:1])
    windows, ops, _ = _drain(Context(spark), directory)
    assert windows
    assert ops[0]["numShufflePartitions"] == spark.sparkContext.defaultParallelism


def test_stream_windows_invariant_to_state_partitions(spark, tmp_path, compiled_classes):
    """The README window pipeline emits the same windows at 1, 4 and
    32 state partitions, and they equal the batch window_aggregate
    over the same rows. Once the JVM has run the pipeline, a drain's
    micro-batches after its first compile nothing: they reuse the
    generated classes. (In the JVM's first drain, the batches that
    first close windows still compile the emission path's classes.)"""
    directory = str(tmp_path / "events")
    _write_json_files(directory, _sensor_files())
    ctx = Context(spark)

    by_count, later_compiles = {}, {}
    for n in (1, 4, 32):
        windows, ops, later_compiles[n] = _drain(ctx, directory, n, compiled_classes)
        assert ops[0]["numShufflePartitions"] == n
        by_count[n] = windows
    assert {n: later_compiles[n] for n in (4, 32)} == {4: 0, 32: 0}

    schema = infer_schema_from_json(json.dumps(SAMPLE))
    batch = with_event_time(
        spark.read.schema(schema).json(directory), "occurred_at_ms", "ms", "_event_time"
    )
    want = _windows(
        window_aggregate(batch, "_event_time", ["sensor_name"], _aggregates(), 1000)
        .filter(col("max") > lit(THRESHOLD))
        .collect()
    )
    assert len(want) > 10
    for windows in by_count.values():
        _assert_same_windows(windows, want)
