"""Real streaming execution of the §2.4 window operators.

Each test runs the SAME pipeline twice: once as a batch DataFrame and
once as a genuine Structured Streaming query (file stream source +
``foreachBatch`` sink, ``availableNow`` trigger), then asserts the
streamed emissions equal the batch result restricted to the windows
the final watermark closed. This executes the façade's
``sink()``/``writeStream`` path for real — the reference semantics
being verified are the streaming-window emission/watermark contract
(crates/core/src/physical_plan/continuous/streaming_window.rs:703-744)
and late-data drop (streaming_window.rs:982-991).

Streaming append mode holds back windows the watermark has not passed
(the reference does the same — a window only emits when
``watermark >= window_end``), so the comparison filter is
``window_end_time <= final_watermark`` (boundary checked both ways —
Spark's strictness at exact equality is an implementation detail).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from denormalized_spark.context import Context

GAP_FLOAT_COLS = ("total", "avg_value", "min_value", "max_value")


def run_stream_to_rows(windowed_ds, timeout: int = 180):
    """Drive a windowed DataStream through foreachBatch and collect
    every appended row."""
    rows = []
    q = windowed_ds.sink(
        lambda df: rows.extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="ck_stream_"),
    )
    q.awaitTermination(timeout)
    return rows


def rows_to_map(rows, float_cols=GAP_FLOAT_COLS):
    """Rows → {non-float key tuple: {float col: value}} for
    order-insensitive comparison with float tolerance (partial-agg
    order differs between stream and batch)."""
    out = {}
    for r in rows:
        d = r.asDict()
        key = tuple((k, d[k]) for k in sorted(d) if k not in float_cols)
        assert key not in out, f"duplicate emission for {key}"
        out[key] = {k: d[k] for k in d if k in float_cols}
    return out


def assert_stream_equals_closed_batch(stream_rows, batch_df, watermark, end_col="window_end_time"):
    batch_rows = batch_df.collect()
    smap = rows_to_map(stream_rows)
    for boundary in ("le", "lt"):
        closed = [
            r
            for r in batch_rows
            if (r[end_col] <= watermark if boundary == "le" else r[end_col] < watermark)
        ]
        bmap = rows_to_map(closed)
        if set(smap) == set(bmap):
            for k in smap:
                for col, v in smap[k].items():
                    assert v == pytest.approx(bmap[k][col], abs=1e-6), (k, col)
            return
    raise AssertionError(
        f"stream emissions ({len(smap)}) do not match closed batch windows "
        f"({len(batch_rows)} total batch rows, watermark={watermark})"
    )


@pytest.fixture(scope="module")
def ctx(spark):
    return Context(spark)


@pytest.fixture(scope="module")
def final_watermark(events):
    return events.agg(F.max("ts")).collect()[0][0]


def _aggs():
    return [
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    ]


def test_tumbling_stream_equals_batch(ctx, sf_dir, events, final_watermark):
    batch = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .window(["event_type"], _aggs(), 3600_000)
        .df
    )
    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = run_stream_to_rows(sds.window(["event_type"], _aggs(), 3600_000))
    assert rows, "stream emitted nothing"
    assert_stream_equals_closed_batch(rows, batch, final_watermark)


def test_sliding_stream_equals_batch(ctx, sf_dir, events, final_watermark):
    batch = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .window(["event_type"], _aggs(), 3600_000, 1800_000)
        .df
    )
    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = run_stream_to_rows(sds.window(["event_type"], _aggs(), 3600_000, 1800_000))
    assert_stream_equals_closed_batch(rows, batch, final_watermark)


def test_global_window_stream_equals_batch(ctx, sf_dir, events, final_watermark):
    """No-key window — the reference's Partial+Final global path
    (planner/streaming_window.rs:133-165)."""
    batch = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .window([], _aggs(), 21600_000)
        .df
    )
    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = run_stream_to_rows(sds.window([], _aggs(), 21600_000))
    assert_stream_equals_closed_batch(rows, batch, final_watermark)


def test_session_window_stream_equals_batch(ctx, sf_dir, events, final_watermark):
    """Session windows — ``todo!()`` in the reference
    (planner/streaming_window.rs:130), native in Spark, including as
    a real stream."""
    batch = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .session_window(["user_id"], _aggs(), 1800_000)
        .df
    )
    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = run_stream_to_rows(sds.session_window(["user_id"], _aggs(), 1800_000))
    assert_stream_equals_closed_batch(rows, batch, final_watermark)


def test_late_data_dropped(spark, tmp_path):
    """Watermark semantics end-to-end: an event for an already-closed
    and already-emitted window must be dropped, not re-emitted
    (reference late-data drop, streaming_window.rs:982-991).

    Spark filters late rows with the watermark as of the PREVIOUS
    micro-batch (eviction uses the current one), so the late event
    arrives two batches after the watermark-advancing event:
    file A (3 events hour 0 + one at 02:00) advances wm to 02:00 and
    hour-0 emits during file B's batch; file C then carries a LATE
    hour-0 event — by then the filter watermark (02:00) is past
    hour-0's end, so it must be dropped. A re-opened window would
    re-emit hour 0 with n=1 at the final flush.
    """
    import os
    import time

    from pyspark.sql import Row

    base = "2024-01-01 "
    files = {
        "a.parquet": [
            Row(ts_str=base + "00:10:00", v=1),
            Row(ts_str=base + "00:20:00", v=1),
            Row(ts_str=base + "00:50:00", v=1),
            Row(ts_str=base + "02:00:00", v=1),
        ],
        "b.parquet": [Row(ts_str=base + "02:10:00", v=1)],
        "c.parquet": [
            Row(ts_str=base + "00:30:00", v=1),  # late: hour-0 emitted already
            Row(ts_str=base + "02:30:00", v=1),
        ],
    }
    stream_dir = tmp_path / "late_stream"
    stream_dir.mkdir()
    now = time.time()
    for i, (name, rows) in enumerate(files.items()):
        df = spark.createDataFrame(rows).select(
            F.to_timestamp("ts_str").alias("ts"), "v"
        )
        tmp_out = str(tmp_path / f"_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / name)
        os.rename(os.path.join(tmp_out, part), dest)
        t = now - 300 + i * 100  # a < b < c by mtime → micro-batch order
        os.utime(dest, (t, t))

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    from denormalized_spark.datastream import DataStream

    ds = DataStream(sdf, event_time="ts")
    rows = run_stream_to_rows(ds.window([], [F.count("*").alias("n")], 3600_000))
    hour0 = [r for r in rows if r["window_start_time"].hour == 0]
    # exactly one emission for hour 0, with the on-time count only —
    # the late event neither re-opened the window nor re-emitted it
    assert len(hour0) == 1 and hour0[0]["n"] == 3, rows


def test_declared_watermark_is_kept(spark, tmp_path):
    """A stream whose event-time column already carries a watermark
    keeps it: ``window`` neither redeclares it (Spark rejects that with
    "Redefining watermark is disallowed") nor overrides the delay with
    the DataStream's 0-second default. The 10:12 row is inside the
    declared 10-minute allowance (watermark 10:10 after file 1), so it
    is counted and no row is dropped."""
    import datetime
    import os

    from denormalized_spark.datastream import DataStream

    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    files = [[0, 20], [12, 30]]  # minutes past 10:00, one file per batch
    stream_dir = tmp_path / "declared_wm"
    for i, minutes in enumerate(files):
        out = str(stream_dir / f"f{i}")
        spark.createDataFrame(
            [("a", t0 + datetime.timedelta(minutes=m)) for m in minutes],
            "k string, ts timestamp",
        ).coalesce(1).write.parquet(out)
        for f in os.listdir(out):
            os.utime(os.path.join(out, f), (1_000_000 + i, 1_000_000 + i))
    sdf = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "f*"))
        .withWatermark("ts", "10 minutes")
    )
    ds = DataStream(sdf, event_time="ts").window([], [F.count("*").alias("n")], 300_000)
    rows = []
    q = ds.sink(
        lambda df: rows.extend(df.collect()),
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    got = {r["window_start_time"].strftime("%H:%M"): r["n"] for r in rows}
    assert got == {"10:00": 1, "10:10": 1}, got
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 0


def test_stream_sink_batch_degenerate(spark, events):
    """Batch DataFrames run the sink callback once, immediately —
    shared sink code between backfills and live streams."""
    from denormalized_spark.datastream import DataStream

    seen = []
    out = DataStream(events.limit(5)).sink(lambda df: seen.append(df.count()))
    assert seen == [5]


def test_stream_stream_windowed_join(ctx, sf_dir, events, final_watermark):
    """The reference's idiomatic stream⋈stream pattern
    (examples/examples/stream_join.rs:61-80) executed as a REAL
    stream: two file streams, windowed aggregation on each, equi-join
    on the window bound — Spark 4 chains the two stateful operators
    (agg → join) natively."""
    def window_counts(ds, etype, alias_n):
        return (
            ds.filter(F.col("event_type") == etype)
            .window([], [F.count("*").alias(alias_n)], 3600_000)
            .df
        )

    a = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    b = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    clicks = window_counts(a, "click", "cn")
    buys = window_counts(b, "purchase", "bn").withColumnRenamed(
        "window_start_time", "ws2"
    ).withColumnRenamed("window_end_time", "we2")
    joined = clicks.join(buys, clicks.window_start_time == F.col("ws2")).drop(
        "ws2", "we2"
    )

    import tempfile

    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ssj_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert rows, "stream-stream windowed join emitted nothing"

    # batch truth, restricted to watermark-closed windows
    batch_c = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .filter(F.col("event_type") == "click")
        .window([], [F.count("*").alias("cn")], 3600_000)
        .df
    )
    batch_b = (
        Context(ctx.spark)
        .from_batch(events, event_time="ts")
        .filter(F.col("event_type") == "purchase")
        .window([], [F.count("*").alias("bn")], 3600_000)
        .df.withColumnRenamed("window_start_time", "ws2")
        .withColumnRenamed("window_end_time", "we2")
    )
    batch = batch_c.join(batch_b, batch_c.window_start_time == F.col("ws2")).drop(
        "ws2", "we2"
    )
    got = {(r["window_start_time"], r["cn"], r["bn"]) for r in rows}
    want_all = {(r["window_start_time"], r["cn"], r["bn"]) for r in batch.collect()}
    assert got <= want_all
    # every window closed by the final watermark must be present
    closed = {w for w in want_all if w[0] is not None}
    missing = {
        w
        for w in want_all - got
        # the join holds back windows the SLOWER side's watermark has
        # not passed; allow only tail windows to be absent
    }
    assert len(got) >= len(closed) - 4, (len(got), len(closed))


def test_stream_stream_interval_join(ctx, sf_dir, events):
    """Raw stream⋈stream equi-join with watermarks + event-time bound
    (purchases within 30 min after a click by the same user). The
    reference's joins carry unbounded state (SURVEY §2.3); Spark's
    time-interval constraint is what makes the state bounded — the
    scale-correct form."""
    a = (
        ctx.from_stream_parquet(sf_dir, "events")
        .df.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("ua"), F.col("ts").alias("ts_a"))
    )
    b = (
        ctx.from_stream_parquet(sf_dir, "events")
        .df.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("ub"), F.col("ts").alias("ts_b"))
    )
    joined = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
    )

    import tempfile

    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ivj_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # batch truth (inner interval join has no watermark holdback for
    # fully-arrived data)
    ab = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("ua"), F.col("ts").alias("ts_a")
    )
    bb = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("ub"), F.col("ts").alias("ts_b")
    )
    want = {
        (r["ua"], r["ts_a"], r["ts_b"])
        for r in ab.join(
            bb,
            (F.col("ua") == F.col("ub"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    got = {(r["ua"], r["ts_a"], r["ts_b"]) for r in rows}
    assert got == want


def test_stream_stream_join_watermark_state_eviction(ctx):
    """The upgrade SURVEY §2.3 names over the reference's
    unbounded-state joins (crates/core/src/datastream.rs:149-175):
    Spark's native stream-stream INNER join with withWatermark on BOTH
    sides + an event-time bound keeps join state BOUNDED — rows older
    than watermark − bound are evicted between micro-batches. Staged
    time-ordered files (one per trigger) advance the watermark across
    4 batches; asserts (a) exact parity with the batch inner join and
    (b) eviction observed in the query's stateOperators progress
    metrics: numRowsRemoved > 0 and final state smaller than total
    ingested rows."""
    import datetime
    import os

    spark = ctx.spark
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return base + datetime.timedelta(hours=h, minutes=m)

    # batch i = hour i: 3 clicks + 3 purchases per hour, matches are
    # same-user purchases within 5 minutes after the click
    adir = tempfile.mkdtemp(prefix="ssje_a_")
    bdir = tempfile.mkdtemp(prefix="ssje_b_")
    aschema = "ua long, ts_a timestamp"
    bschema = "ub long, ts_b timestamp"
    arows_all, brows_all = [], []
    for i in range(4):
        arows = [(u, at(i, u)) for u in (1, 2, 3)]
        brows = [(1, at(i, 3)), (2, at(i, 4)), (3, at(i, 30))]
        arows_all += arows
        brows_all += brows
        for d, chunk, schema in ((adir, arows, aschema), (bdir, brows, bschema)):
            path = os.path.join(d, f"part{i}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for fn in os.listdir(path):
                os.utime(os.path.join(path, fn), (1_000_000 + i, 1_000_000 + i))

    def stream(d, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "part*"))
        )

    cond = (
        (F.col("ua") == F.col("ub"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
    )
    joined = (
        stream(adir, aschema)
        .withWatermark("ts_a", "10 minutes")
        .join(stream(bdir, bschema).withWatermark("ts_b", "10 minutes"), cond)
    )
    rows, progresses = [], []
    q = (
        joined.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ssje_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]

    # (a) parity with the batch inner join
    a = spark.createDataFrame(arows_all, aschema)
    b = spark.createDataFrame(brows_all, bschema)
    want = {(r["ua"], r["ts_a"], r["ts_b"]) for r in a.join(b, cond).collect()}
    got = {(r["ua"], r["ts_a"], r["ts_b"]) for r in rows}
    assert got == want and len(want) == 8  # users 1,2 match every hour

    # (b) watermark actually evicted join state between batches
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in p["stateOperators"]
    )
    assert removed > 0, "no join-state eviction observed in progress metrics"
    final_state = sum(
        op.get("numRowsTotal", 0) for op in progresses[-1]["stateOperators"]
    )
    assert final_state < len(arows_all) + len(brows_all), (
        f"state {final_state} not bounded below ingested "
        f"{len(arows_all) + len(brows_all)} rows"
    )


def test_stream_stream_range_join_parity_and_eviction(ctx):
    """Stream-stream interval join (range_join_stream): the batch bin
    trick supplies the symmetric hash join's equi key and the
    point<=start+max bound lets the watermark evict state. Staged
    hourly triggers; asserts exact parity with the batch range_join at
    the same bin width, keyed matching, non-matching points dropped,
    and join-state eviction in the progress metrics."""
    import datetime
    import os

    spark = ctx.spark
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return base + datetime.timedelta(hours=h, minutes=m)

    pdir = tempfile.mkdtemp(prefix="ssrj_p_")
    idir = tempfile.mkdtemp(prefix="ssrj_i_")
    pschema = "uid long, pt timestamp, amt long"
    ischema = "uid long, start_ts timestamp, end_ts timestamp, camp string"
    prows_all, irows_all = [], []
    for i in range(4):
        # user 1's point lands in its interval; user 2's in its own;
        # the :45 point is outside every interval; user 3's interval
        # never sees a point (exercises the exploded right side)
        prows = [(1, at(i, 5), 10 + i), (2, at(i, 25), 20 + i), (1, at(i, 45), 99)]
        irows = [
            (1, at(i, 0), at(i, 10), f"c1h{i}"),
            (2, at(i, 20), at(i, 30), f"c2h{i}"),
            (3, at(i, 0), at(i, 10), f"c3h{i}"),
        ]
        prows_all += prows
        irows_all += irows
        for d, chunk, schema in ((pdir, prows, pschema), (idir, irows, ischema)):
            path = os.path.join(d, f"part{i}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for fn in os.listdir(path):
                os.utime(os.path.join(path, fn), (1_000_000 + i, 1_000_000 + i))

    def stream(d, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "part*"))
        )

    from denormalized_spark.datastream import DataStream

    ds = DataStream(
        stream(pdir, pschema), event_time="pt", watermark="10 minutes"
    ).join_range(
        DataStream(stream(idir, ischema), event_time="start_ts"),
        "pt", "start_ts", "end_ts", on=["uid"], bin_width_s=600,
    )
    rows = []
    q = ds.sink(
        lambda df: rows.extend(df.collect()),
        checkpoint=tempfile.mkdtemp(prefix="ck_ssrj_"),
    )
    q.awaitTermination(240)
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]

    # parity with the batch range_join at the same bin width
    from denormalized_spark.operators.temporal import range_join

    p = spark.createDataFrame(prows_all, pschema)
    iv = spark.createDataFrame(irows_all, ischema)
    want = {
        (r.uid, r.pt, r.camp)
        for r in range_join(
            p, iv, "pt", "start_ts", "end_ts", on=["uid"], bin_width_s=600
        ).collect()
    }
    got = {(r.uid, r.pt, r.camp) for r in rows}
    assert got == want and len(want) == 8  # users 1,2 match every hour
    assert not any(r.amt == 99 for r in rows)  # out-of-interval point dropped

    removed = sum(
        op.get("numRowsRemoved", 0)
        for pr in progresses
        for op in pr["stateOperators"]
    )
    assert removed > 0, "no join-state eviction observed in progress metrics"


def test_stream_stream_range_join_rejects_right_outer(ctx):
    from denormalized_spark.operators.temporal import range_join_stream

    spark = ctx.spark
    left = spark.createDataFrame([], "uid long, pt timestamp")
    right = spark.createDataFrame([], "uid long, s timestamp, e timestamp")
    with pytest.raises(ValueError, match="inner.*leftOuter"):
        range_join_stream(
            left, right, "pt", "s", "e", on=["uid"], how="fullOuter"
        )


def test_stream_range_join_malformed_interval_emits_nothing(ctx):
    """r10 ADVICE: an interval with end < start used to make the bin
    sequence() DESCEND (Spark emits a reversed range, not an empty
    one), fabricating spurious bins. The clamped stop gives such rows
    exactly one bin and the end-bound predicate drops them. The plan
    is batch-executable (withWatermark is a no-op on batch), so the
    bin arithmetic is tested without a streaming run."""
    import datetime

    from denormalized_spark.operators.temporal import range_join_stream

    spark = ctx.spark
    base = datetime.datetime(2024, 1, 1)
    at = lambda m: base + datetime.timedelta(minutes=m)
    left = spark.createDataFrame(
        [(1, at(5)), (1, at(25))], "uid long, pt timestamp"
    )
    right = spark.createDataFrame(
        [(1, at(0), at(10), "good"), (1, at(30), at(20), "bad")],
        "uid long, s timestamp, e timestamp, camp string",
    )
    rows = range_join_stream(
        left, right, "pt", "s", "e", on=["uid"], max_interval_s=1200
    ).collect()
    assert [(r.uid, r.camp) for r in rows] == [(1, "good")]


def test_streaming_text_quality_pipeline(ctx, sf_dir):
    """The LLM-pipeline text operators (stateless projections) run
    unchanged on the streaming path: stream the documents table,
    score with the hashed-linear quality classifier + repetition
    heuristics, filter, and assert the union of micro-batch outputs
    equals the batch run exactly (stateless ops -> no watermark
    holdback)."""
    from denormalized_spark.operators.text import (
        duplicate_line_fraction,
        hashed_linear_score,
        token_count,
    )

    def pipeline(df):
        return (
            df.select(
                "doc_id",
                hashed_linear_score("text").alias("score"),
                token_count("text").alias("n_tokens"),
                duplicate_line_fraction("text").alias("dup_line_frac"),
            )
            .filter(F.col("score") > 0.5)
        )

    sds = ctx.from_stream_parquet(sf_dir, "documents")
    rows = []
    q = (
        pipeline(sds.df)
        .writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_txt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = {r.doc_id: r for r in pipeline(ctx.from_parquet(f"{sf_dir}/documents.parquet").df).collect()}
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(batch) and len(got) > 0
    for k in got:
        assert abs(got[k].score - batch[k].score) < 1e-12
        assert got[k].n_tokens == batch[k].n_tokens


def test_sink_parquet_exactly_once(ctx, sf_dir, tmp_path):
    """Native streaming parquet sink: all rows land once; re-running
    the drained stream against the same checkpoint writes nothing new
    (the _spark_metadata commit log makes replays no-ops)."""
    out = str(tmp_path / "landed")
    ck = str(tmp_path / "ck")

    def run():
        sds = ctx.from_stream_parquet(sf_dir, "events")
        q = sds.sink_parquet(out, checkpoint=ck)
        q.awaitTermination(120)

    run()
    n_in = ctx.from_parquet(f"{sf_dir}/events.parquet").count()
    first = ctx.spark.read.parquet(out)
    assert first.count() == n_in
    assert first.select(F.sum(F.hash("event_id"))).collect() == (
        ctx.from_parquet(f"{sf_dir}/events.parquet")
        .df.select(F.sum(F.hash("event_id")))
        .collect()
    )
    run()  # drained source + same checkpoint -> no re-emission
    assert ctx.spark.read.parquet(out).count() == n_in


def test_sink_parquet_batch_degenerate(ctx, spark, tmp_path):
    out = str(tmp_path / "b")
    from denormalized_spark.datastream import DataStream

    DataStream(spark.range(5)).sink_parquet(out, checkpoint=str(tmp_path / "ckb"))
    assert spark.read.parquet(out).count() == 5


def test_sink_csv_json_streaming(ctx, sf_dir, tmp_path):
    n_in = ctx.from_parquet(f"{sf_dir}/events.parquet").count()
    sds = ctx.from_stream_parquet(sf_dir, "events")
    q = sds.select("event_id", "event_type").sink_json(
        str(tmp_path / "j"), checkpoint=str(tmp_path / "ckj")
    )
    q.awaitTermination(120)
    assert ctx.spark.read.json(str(tmp_path / "j")).count() == n_in

    sds2 = ctx.from_stream_parquet(sf_dir, "events")
    q2 = sds2.select("event_id", "value").sink_csv(
        str(tmp_path / "c"), checkpoint=str(tmp_path / "ckc")
    )
    q2.awaitTermination(120)
    back = ctx.spark.read.option("header", True).csv(str(tmp_path / "c"))
    assert back.count() == n_in and back.columns == ["event_id", "value"]


def test_session_window_dynamic_gap_boundaries(spark):
    """Dynamic per-event gaps + pinned merge semantics: an event AT
    the running session end merges (inclusive); beyond it starts a
    new session; each event contributes its own gap to the end."""
    import datetime

    from denormalized_spark.datastream import DataStream

    T0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def at(s):
        return T0 + datetime.timedelta(seconds=s)

    rows = [
        # k=1: gaps 10s; event exactly at end(=10) merges; end = 10+10
        (1, at(0), "s10"), (1, at(10), "s10"),
        # k=2: first gap 5s, second at +9 > end(+5) -> new session
        (2, at(0), "s5"), (2, at(9), "s10"),
        # k=3: long gap (60s) first event keeps +50 in session even
        # though the +50 event's own gap is short
        (3, at(0), "long"), (3, at(50), "s10"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, kind string")
    gap = (
        F.when(F.col("kind") == "s5", F.lit(5_000))
        .when(F.col("kind") == "s10", F.lit(10_000))
        .otherwise(F.lit(60_000))
    )
    out = (
        DataStream(df, event_time="ts")
        .session_window(["k"], [F.count("*").alias("n")], gap)
        .df
    )
    got = {
        (r.k, r.window_start_time, r.window_end_time): r.n for r in out.collect()
    }
    assert got == {
        (1, at(0), at(20)): 2,
        (2, at(0), at(5)): 1,
        (2, at(9), at(19)): 1,
        (3, at(0), at(60)): 2,
    }


def test_streaming_quality_monitor_equals_batch(ctx, sf_dir):
    """The curation_quality_monitor pipeline (windowed corpus-quality
    dashboard) through real writeStream: synthetic per-minute doc
    timeline, 1h tumbling windows, quality/gate aggregates. Append
    mode emits only watermark-closed windows; they must match the
    batch run on those windows exactly."""
    from denormalized_spark.operators.text import quality_score, token_count

    def monitor(df):
        m = df.select(
            F.timestamp_millis(F.col("doc_id") * 60_000).alias("ts"),
            "text",
        ).withWatermark("ts", "0 seconds")
        return (
            m.select(
                F.window("ts", "1 hour").alias("w"),
                token_count("text").alias("nt"),
                quality_score("text").alias("q"),
            )
            .groupBy("w")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("nt").cast("long").alias("n_tokens"),
                F.round(F.avg("q"), 6).alias("mean_quality"),
            )
            .select(
                F.col("w.start").alias("window_start_time"),
                F.col("w.end").alias("window_end_time"),
                "n_docs",
                "n_tokens",
                "mean_quality",
            )
        )

    sds = ctx.from_stream_parquet(sf_dir, "documents")
    rows = []
    q = (
        monitor(sds.df)
        .writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_qmon_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch_df = monitor(ctx.from_parquet(f"{sf_dir}/documents.parquet").df)
    wm = (
        ctx.from_parquet(f"{sf_dir}/documents.parquet")
        .df.agg(F.max(F.timestamp_millis(F.col("doc_id") * 60_000)))
        .collect()[0][0]
    )
    assert len(rows) > 0
    assert_stream_equals_closed_batch(
        rows, batch_df, wm, end_col="window_end_time"
    )


def test_streaming_ohlc_equals_batch(ctx, sf_dir, events, final_watermark):
    """OHLC candles (min_by/max_by positional aggregates) through real
    writeStream: closed windows must match the batch plan exactly —
    positional aggs restore correctly from window state."""
    def ohlc(df):
        ord_ = F.struct(F.col("ts"), F.col("event_id"))
        return (
            df.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.round(F.min_by("value", ord_), 2).alias("open"),
                F.round(F.max("value"), 2).alias("high"),
                F.round(F.min("value"), 2).alias("low"),
                F.round(F.max_by("value", ord_), 2).alias("close"),
                F.count("*").alias("n_events"),
            )
            .select(
                F.col("w.start").alias("window_start_time"),
                F.col("w.end").alias("window_end_time"),
                "event_type", "open", "high", "low", "close", "n_events",
            )
        )

    sds = ctx.from_stream_parquet(sf_dir, "events", event_time="ts")
    rows = []
    q = (
        ohlc(sds.df)
        .writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ohlc_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(rows) > 0
    batch_df = ohlc(ctx.from_parquet(f"{sf_dir}/events.parquet", event_time="ts").df)
    assert_stream_equals_closed_batch(
        rows, batch_df, final_watermark, end_col="window_end_time"
    )


def test_streaming_sketch_maintenance_equals_batch(spark, tmp_path):
    """Live sketch maintenance (streaming/sketches.SketchMaintainer):
    three staged micro-batches drain through foreachBatch, each batch
    contributing a PARTIAL CM/HLL/decayed sketch that folds into the
    accumulated state by the merge laws. The accumulated state must
    equal the batch operators run once over the union — exactly for
    the integer sketches (cell sum / register max), to float ulps for
    the decayed counters (incremental rescaling reorders the float
    ops). This is the mergeable-summaries property deployed in its
    production shape (r9 verdict item 5)."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.operators import sketches as sk
    from denormalized_spark.operators.analytics import decayed_counts
    from denormalized_spark.streaming.sketches import SketchMaintainer

    base = "2024-01-01 "
    batches = [
        [(f"u{i % 7}", base + f"0{i % 4}:1{i % 6}:00") for i in range(30)],
        [(f"u{(i * 3) % 11}", base + f"0{(i + 1) % 5}:2{i % 6}:00") for i in range(40)],
        [(f"u{(i * 5) % 13}", base + f"0{(i + 2) % 6}:3{i % 6}:00") for i in range(50)],
    ]
    stream_dir = tmp_path / "sk_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "k string, ts_str string").select(
            "k", F.to_timestamp("ts_str").alias("ts")
        )
        tmp_out = str(tmp_path / f"_sk{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    schema = spark.read.parquet(str(stream_dir)).schema
    m = SketchMaintainer(
        "k", depth=4, width=32, p=6, half_life_ms=3600_000, ts_col="ts",
        bloom_m_bits=256, bloom_hashes=3,
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_sk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    assert m.n_batches >= 3 and m.n_rows == len(all_rows)
    whole = spark.createDataFrame(all_rows, "k string, ts_str string").select(
        "k", F.to_timestamp("ts_str").alias("ts")
    )
    # CM: exact cell equality
    want_cm = {
        (r["cm_row"], r["cm_col"]): r["cnt"]
        for r in sk.count_min(whole, "k", depth=4, width=32).collect()
    }
    assert m.cm_cells == want_cm
    # HLL: exact register equality
    want_hll = {
        r["reg"]: r["rho"] for r in sk.hll_registers(whole, "k", p=6).collect()
    }
    assert m.hll_regs == want_hll
    # Bloom: exact set-bit equality (union merge), and probing the
    # accumulated filter with every streamed key returns member=True
    # for all of them (no false negatives by construction)
    want_bloom = {
        r["bit"] for r in sk.bloom_bits(whole, "k", m_bits=256, n_hashes=3).collect()
    }
    assert m.bloom_bits == want_bloom
    probed = sk.bloom_probe(
        m.bloom_bits_df(spark), whole.select("k").distinct(), "k",
        m_bits=256, n_hashes=3,
    ).collect()
    assert all(r["bloom_member"] for r in probed)
    # decayed: same keys, same exact n_events, counts equal to ulps
    want_dec = {
        r["k"]: (r["n_events"], r["decayed_count"])
        for r in decayed_counts(
            whole, 3600_000, ["k"], round_digits=12
        ).collect()
    }
    got_dec = {
        r["k"]: (r["n_events"], r["decayed_count"])
        for r in m.decayed_df(spark, round_digits=12).collect()
    }
    assert set(got_dec) == set(want_dec)
    for k in want_dec:
        assert got_dec[k][0] == want_dec[k][0], k
        assert abs(got_dec[k][1] - want_dec[k][1]) <= 1e-9 * max(
            1.0, want_dec[k][1]
        ), k


@pytest.mark.slow  # stress tier: outer-mode variant; inner/range/windowed joins stay fast
def test_stream_stream_left_outer_join_null_padding(ctx):
    """LEFT OUTER stream-stream join: unmatched left rows must emit
    null-padded ONCE the watermark passes their join bound (Spark
    holds them in state until no future right row could match). Same
    staged 4-trigger layout as the inner-join eviction test; user 3's
    purchases arrive 30 min after the click — outside the 5-minute
    bound — so its clicks are the unmatched set. Asserts: matched
    rows exactly equal the batch inner join; every null-padded
    emission is a genuinely unmatched click; and the clicks whose
    bound expired at least one watermark advance before end-of-stream
    (hours 0..2) all emitted."""
    import datetime
    import os

    spark = ctx.spark
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return base + datetime.timedelta(hours=h, minutes=m)

    adir = tempfile.mkdtemp(prefix="ssjo_a_")
    bdir = tempfile.mkdtemp(prefix="ssjo_b_")
    aschema = "ua long, ts_a timestamp"
    bschema = "ub long, ts_b timestamp"
    arows_all, brows_all = [], []
    for i in range(4):
        arows = [(u, at(i, u)) for u in (1, 2, 3)]
        brows = [(1, at(i, 3)), (2, at(i, 4)), (3, at(i, 30))]
        arows_all += arows
        brows_all += brows
        for d, chunk, schema in ((adir, arows, aschema), (bdir, brows, bschema)):
            path = os.path.join(d, f"part{i}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for fn in os.listdir(path):
                os.utime(os.path.join(path, fn), (1_000_000 + i, 1_000_000 + i))

    def stream(d, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "part*"))
        )

    cond = (
        (F.col("ua") == F.col("ub"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
    )
    joined = (
        stream(adir, aschema)
        .withWatermark("ts_a", "10 minutes")
        .join(
            stream(bdir, bschema).withWatermark("ts_b", "10 minutes"),
            cond,
            "left_outer",
        )
    )
    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ssjo_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    a = spark.createDataFrame(arows_all, aschema)
    b = spark.createDataFrame(brows_all, bschema)
    want_inner = {(r["ua"], r["ts_a"], r["ts_b"]) for r in a.join(b, cond).collect()}
    got_matched = {(r["ua"], r["ts_a"], r["ts_b"]) for r in rows if r["ts_b"] is not None}
    assert got_matched == want_inner

    want_unmatched = {
        (r["ua"], r["ts_a"])
        for r in a.join(b, cond, "left_anti").collect()
    }
    got_null = {(r["ua"], r["ts_a"]) for r in rows if r["ts_b"] is None}
    assert got_null <= want_unmatched  # never a false null-pad
    # clicks from hours 0..2 expired strictly before end-of-stream:
    # they MUST have emitted null-padded
    must = {(u, t_) for (u, t_) in want_unmatched if t_ < at(3)}
    assert must <= got_null, (sorted(must - got_null), sorted(got_null))


def test_streaming_tdigest_maintenance_quantile_parity(spark, tmp_path):
    """t-digest lane of the SketchMaintainer: each micro-batch builds
    a partial digest with the batch operator and folds it in by the
    merging-digest compression. The merge law is APPROXIMATE by
    design (Dunning's bound: one extra compression step), so parity
    is asserted on quantile ESTIMATES against the one-shot batch
    digest — within a few centroid spans — plus exact total weight
    and min/max conservation."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.operators import sketches as sk
    from denormalized_spark.streaming.sketches import SketchMaintainer

    batches = [
        [(i, float(((i * 37) % 500) + 1)) for i in range(400)],
        [(i, float(((i * 53) % 500) + 1)) for i in range(400, 900)],
        [(i, float(((i * 71) % 500) + 1)) for i in range(900, 1500)],
    ]
    stream_dir = tmp_path / "td_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "id long, v double")
        tmp_out = str(tmp_path / f"_td{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    schema = spark.read.parquet(str(stream_dir)).schema
    m = SketchMaintainer("id", tdigest_col="v", tdigest_delta=32)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_td_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    assert m.n_batches >= 3
    assert sum(int(w) for w, *_ in m.td_centroids) == len(all_rows)
    assert min(v for v, *_ in [(r[2],) for r in m.td_centroids]) == 1.0
    whole = spark.createDataFrame(all_rows, "id long, v double")
    batch_cent = sk.tdigest_centroids(whole, "v", order_extra=["id"], delta=32)
    qb = sk.tdigest_quantiles(
        batch_cent.localCheckpoint(), [0.1, 0.5, 0.9]
    ).collect()[0]
    qs = sk.tdigest_quantiles(
        m.tdigest_df(spark).localCheckpoint(), [0.1, 0.5, 0.9]
    ).collect()[0]
    # values span 1..500; a centroid span is ~500/32*2 ~ 31 at the
    # middle — allow a few spans of drift from the extra compression
    for name in ("q0_1", "q0_5", "q0_9"):
        assert abs(qb[name] - qs[name]) < 60, (name, qb[name], qs[name])


def test_streaming_reservoir_sample_exactly_equals_batch(spark, tmp_path):
    """Bottom-k reservoir lane: the k smallest md5-ticket keys of a
    union ARE the merge of per-batch bottom-ks, so the streamed
    sample must equal the batch bottom-k over the union EXACTLY
    (integer tickets — no tolerance)."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.streaming.sketches import SketchMaintainer

    batches = [
        [(f"u{i}",) for i in range(0, 40)],
        [(f"u{i}",) for i in range(30, 90)],   # overlap: distinct-safe
        [(f"u{i}",) for i in range(90, 160)],
    ]
    stream_dir = tmp_path / "rs_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "k string")
        tmp_out = str(tmp_path / f"_rs{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    schema = spark.read.parquet(str(stream_dir)).schema
    m = SketchMaintainer("k", sample_k=16)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_rs_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    whole = spark.createDataFrame(all_rows, "k string").distinct()
    want = [
        (r.ticket, r.key)
        for r in whole.select(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("rs0:"), F.col("k"))), 1, 15),
                16, 10,
            ).cast("long").alias("ticket"),
            F.col("k").alias("key"),
        ).orderBy("ticket").limit(16).collect()
    ]
    got = [(r.ticket, r.key) for r in m.sample_df(spark).orderBy("ticket").collect()]
    assert got == want
    assert len(got) == 16


def test_streaming_grouped_tdigest_quantile_parity(spark, tmp_path):
    """Per-GROUP t-digest lane (r12): each micro-batch reduces to
    <= delta centroid rows PER GROUP via the group-partitioned batch
    operator, and each group's partial folds into its own digest by
    the same merging-digest compression as the global lane. Parity
    per group: quantile estimates vs the one-shot batch grouped
    digest within a few centroid spans; weight/min/max conservation
    exact."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.operators import sketches as sk
    from denormalized_spark.streaming.sketches import SketchMaintainer

    def val(i, g):
        return float(((i * (37 + g * 16)) % 500) + 1 + g * 1000)

    batches = []
    n = 0
    for b in range(3):
        rows = []
        for i in range(400 + 100 * b):
            g = i % 3
            rows.append((n + i, f"g{g}", val(n + i, g)))
        n += len(rows)
        batches.append(rows)

    stream_dir = tmp_path / "tdg_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "id long, g string, v double")
        tmp_out = str(tmp_path / f"_tdg{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    schema = spark.read.parquet(str(stream_dir)).schema
    m = SketchMaintainer(
        "id", tdigest_col="v", tdigest_delta=32, tdigest_group_col="g"
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_tdg_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    assert m.n_batches >= 3
    assert set(m.td_group_centroids) == {"g0", "g1", "g2"}
    whole = spark.createDataFrame(all_rows, "id long, g string, v double")
    per_group_rows = {}
    for r in all_rows:
        per_group_rows.setdefault(r[1], []).append(r)
    groups_df = m.tdigest_groups_df(spark).localCheckpoint()
    for g, rows in per_group_rows.items():
        cents = m.td_group_centroids[g]
        # exact conservation per group
        assert sum(int(w) for w, *_ in cents) == len(rows)
        assert min(c[2] for c in cents) == min(r[2] for r in rows)
        assert max(c[3] for c in cents) == max(r[2] for r in rows)
        batch_cent = sk.tdigest_centroids_grouped(
            whole.filter(F.col("g") == g), "g", "v", delta=32
        ).drop("g").localCheckpoint()
        qb = sk.tdigest_quantiles(batch_cent, [0.1, 0.5, 0.9]).collect()[0]
        stream_cent = (
            groups_df.filter(F.col("group") == g)
            .drop("group")
            .localCheckpoint()
        )
        qs = sk.tdigest_quantiles(stream_cent, [0.1, 0.5, 0.9]).collect()[0]
        for name in ("q0_1", "q0_5", "q0_9"):
            assert abs(qb[name] - qs[name]) < 60, (g, name, qb[name], qs[name])


def test_sketch_maintainer_grouped_tdigest_requires_value_col(spark):
    import pytest

    from denormalized_spark.streaming.sketches import SketchMaintainer

    with pytest.raises(ValueError):
        SketchMaintainer("id", tdigest_group_col="g")


def test_streaming_ivf_maintenance_matches_batch_fit(spark, tmp_path):
    """Live IVF maintenance (streaming/ivf.IVFMaintainer): three
    staged vector micro-batches drain through foreachBatch; in the
    well-separated regime (every vector stays on its init-centroid
    side) the accumulated state must equal the one-shot batch fit —
    counts EXACTLY under any batch split, centroids to the per-batch
    6-digit re-rounding — and the drift signal must fire for the
    cluster that moved and stay 0 for the one that didn't."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.streaming.ivf import IVFMaintainer

    # cluster 0 along +x, cluster 1 along +y; batch 3 nudges cluster 0
    batches = [
        [([1.0, 0.0],), ([0.9, 0.1],), ([0.0, 1.0],)],
        [([1.0, 0.2],), ([0.1, 0.9],)],
        [([0.8, 0.0],), ([0.0, 0.8],), ([0.05, 1.0],)],
    ]
    stream_dir = tmp_path / "ivf_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "embedding array<double>")
        tmp_out = str(tmp_path / f"_ivf{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    init = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    m = IVFMaintainer(init)
    schema = spark.read.parquet(str(stream_dir)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ivf_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    assert m.n_batches == 3 and m.n_rows == len(all_rows)
    # batch reference: assign all rows to the INIT centroids (the
    # well-separated regime keeps every assignment on its init side)
    xs = [r[0] for r in all_rows]
    c0 = [v for v in xs if v[0] >= v[1]]
    c1 = [v for v in xs if v[0] < v[1]]
    assert m.counts[0] == len(c0) and m.counts[1] == len(c1)
    for k, ref in ((0, c0), (1, c1)):
        mean = [sum(v[j] for v in ref) / len(ref) for j in range(2)]
        for j in range(2):
            assert abs(m.centroids[k][j] - mean[j]) < 2e-2, (k, j)
    # drift fired for both (all batches move both means a little)
    assert m.last_drift_micro[0] > 0
    # and the maintained quantizer still serves: centroids_df round-trips
    got = {r.cluster: list(r.centroid) for r in m.centroids_df(spark).collect()}
    assert set(got) == {0, 1}


def test_streaming_mg_heavy_hitters_sandwich(spark, tmp_path):
    """Live Misra-Gries maintenance (SketchMaintainer mg_k): three
    staged micro-batches fold per-batch MG summaries by the Agarwal
    et al. mergeable-summaries law. The MG guarantees must hold
    against exact truth over the union: every surviving counter
    UNDERcounts, every key's true count is within the certified
    error bound, and every true heavy hitter whose count exceeds the
    bound survives."""
    import os
    import tempfile
    import time as _time

    from denormalized_spark.streaming.sketches import SketchMaintainer

    # skewed stream: u0 dominates, u1 medium, long tail
    batches = [
        [(f"u{0 if i % 2 == 0 else i % 9}",) for i in range(60)],
        [(f"u{0 if i % 3 == 0 else (i % 11) + 1}",) for i in range(50)],
        [(f"u{1 if i % 2 == 0 else (i % 7) + 3}",) for i in range(40)],
    ]
    stream_dir = tmp_path / "mg_stream"
    stream_dir.mkdir()
    now = _time.time()
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        df = spark.createDataFrame(rows, "k string")
        tmp_out = str(tmp_path / f"_mg{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    m = SketchMaintainer("k", mg_k=4)
    schema = spark.read.parquet(str(stream_dir)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(lambda df, e: m.update(df, e))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_mg_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    assert m.n_batches == 3 and len(m.mg_counters) <= 4
    truth: dict[str, int] = {}
    for (k,) in all_rows:
        truth[k] = truth.get(k, 0) + 1
    # sandwich: undercount, bounded
    for key, c in m.mg_counters.items():
        assert c <= truth[key] <= c + m.mg_error, (key, c, truth[key], m.mg_error)
    # every heavy hitter above the certified bound survives
    for key, n in truth.items():
        if n > m.mg_error:
            assert key in m.mg_counters, (key, n, m.mg_error)
    # the dominant key is ranked first
    top = max(m.mg_counters.items(), key=lambda kv: kv[1])[0]
    assert top == max(truth.items(), key=lambda kv: kv[1])[0]


def test_lsh_dedup_maintainer_direct_updates(spark, tmp_path):
    """Durable-index streaming near-dup (streaming/lsh.
    LSHDedupMaintainer): within a batch the min-id doc owns each new
    bucket and survives; identical content in a LATER batch hits the
    persisted index and is flagged; the index parquet grows only by
    new buckets."""
    _check_maintainer_direct_updates(spark, str(tmp_path / "idx"))


def test_lsh_dedup_maintainer_direct_updates_file_uri(spark, tmp_path):
    """The same contract with a ``file://`` URI index path: the index
    is found through the path's FileSystem, so batch 2 sees the
    buckets batch 1 appended (a local-path-only existence check read
    an empty index every batch and let doc 4 survive)."""
    _check_maintainer_direct_updates(spark, (tmp_path / "idx").as_uri())


def _check_maintainer_direct_updates(spark, index_path: str) -> None:
    from denormalized_spark.streaming.lsh import LSHDedupMaintainer

    ta = "the quick brown fox jumps over the lazy dog again and again"
    tc = "completely different content about spark structured streaming"
    te = "a third unrelated document mentioning parquet columnar files"
    m = LSHDedupMaintainer(index_path)
    b1 = spark.createDataFrame(
        [(1, ta), (2, ta), (3, tc)], "doc_id long, text string"
    )
    s1 = sorted(r.doc_id for r in m.update(b1).collect())
    assert s1 == [1, 3]           # 2 loses every bucket to 1
    assert m.n_seen == 3 and m.n_survived == 2 and m.n_flagged == 1
    n_buckets_after_b1 = m.n_buckets_added
    assert n_buckets_after_b1 == 8  # 4 bands x 2 distinct contents

    b2 = spark.createDataFrame([(4, ta), (5, te)], "doc_id long, text string")
    s2 = sorted(r.doc_id for r in m.update(b2).collect())
    assert s2 == [5]              # 4 replays batch-1 content -> flagged
    assert m.n_flagged == 2 and m.n_survived == 3
    assert m.n_buckets_added == n_buckets_after_b1 + 4  # only te's bands


def test_lsh_dedup_maintainer_stream_parity_with_sequential_replay(
    spark, tmp_path
):
    """Real writeStream drain: maintained survivors equal a Python
    replay of sequential bucket ownership over the same (batch, id)
    order — the maintainer's determinism contract."""
    import os
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from denormalized_spark.operators.dedup import (
        band_structs,
        minhash_signature,
    )
    from denormalized_spark.streaming.lsh import LSHDedupMaintainer

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        3: "one two three four five six seven eight nine ten eleven",
        4: "totally novel content in the second micro batch here now",
        5: "one two three four five six seven eight nine ten eleven",
        6: "yet another fresh document arriving in the third batch",
    }
    batches = [[1, 2, 3], [4, 5], [6]]
    stream_dir = tmp_path / "lsh_stream"
    stream_dir.mkdir()
    now = _time.time()
    for i, ids in enumerate(batches):
        df = spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        )
        tmp_out = str(tmp_path / f"_b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dest = str(stream_dir / f"b{i}.parquet")
        os.rename(os.path.join(tmp_out, part), dest)
        os.utime(dest, (now - 300 + i * 100,) * 2)

    m = LSHDedupMaintainer(str(tmp_path / "idx2"))
    survivors: list[int] = []
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(
            lambda df, e: survivors.extend(
                r.doc_id for r in m.update(df, e).collect()
            )
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_lsh_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    # python replay: sequential bucket ownership in (batch, id) order
    all_df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rows = (
        all_df.select(
            "doc_id",
            F.explode(
                band_structs(minhash_signature("text", 8, 3), 8, 4)
            ).alias("_bk"),
        )
        .select("doc_id", "_bk.band", "_bk.band_key")
        .collect()
    )
    doc_bands = {}
    for r in rows:
        doc_bands.setdefault(r.doc_id, []).append((r.band, r.band_key))
    owned: set = set()
    want = []
    for ids in batches:
        batch_new = {}
        for d in sorted(ids):
            keys = doc_bands[d]
            if all(
                k not in owned and batch_new.get(k, d) == d for k in keys
            ):
                want.append(d)
            for k in keys:
                batch_new.setdefault(k, d)
        owned.update(batch_new)
    assert sorted(survivors) == sorted(want)
    assert m.n_batches == 3 and m.n_seen == 6
