"""Benchmark of denormalized_spark: end-to-end metrics with tracing off,
per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload window_drain --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Inputs, checkpoints, spans, progress records and the
event log go under ``.perfbench-out/<run>/`` in the checkout; inputs
and checkpoints are deleted when the run ends. DESIGN.md explains the
workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench-out"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import reference  # noqa: E402
import trace  # noqa: E402

# Headline registry lanes, one per operator family (DESIGN.md says why
# the pass is not all 22 headline lanes).
LANES = (
    "agg_pricing_summary",
    "join_region_volume",
    "over_rank_per_customer",
    "window_session_30m",
    "dedup_lsh_candidates",
    "sim_topk_query0",
    "join_asof_purchase_click",
    "curation_pipeline",
)
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_rows_per_s": "rows/s",
    "ok_ratio": "ratio",
}
DRAIN_FILE_S = 2.5  # nominal warm drain time of one 500k-event file
WARM_PASSES = 2  # untimed passes after the oracle pass (JIT warm-up)


def per_layer_names() -> list[str]:
    names = [
        "session.context_s", "session.warmup_s",
        "sources.latest_offset_ms", "sources.get_batch_ms", "sources.rows_per_batch",
        "datastream.build_ms", "stream.query_planning_ms",
        "stream.trigger_ms", "stream.add_batch_ms", "sink.callback_ms", "stream.batches",
        "state.partitions", "state.rows_total", "state.memory_bytes", "state.commit_ms",
        "state.updates_ms", "state.rows_dropped_by_watermark", "check.drop_count_delta",
        "checkpoint.wal_commit_ms", "checkpoint.commit_offsets_ms",
    ]
    for lane in LANES:
        names += [f"batch.{lane}.{m}" for m in ("build_ms", "exec_ms", "job_ms", "tasks")]
    return names + [
        "batch.driver_s", "batch.gc_ms", "proc.jvm_cpu_s", "proc.python_cpu_s",
        "drain.local1_rows_per_s", "trace.accounted_share",
        "trace.latency_p50_ms", "trace.throughput_rows_per_s",
    ]


def unit_of(name: str) -> str:
    for suffix, unit in (("_rows_per_s", "rows/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_bytes", "bytes"), ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# -- process and Spark plumbing -------------------------------------------


def seconds_since_process_start() -> float:
    """Wall time since this process was created (kernel start time)."""
    ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def scratch_env(tmp: Path) -> None:
    """Keep the temp files of Python, Spark and the JVM inside the
    checkout."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def master() -> str:
    return f"local[{len(os.sched_getaffinity(0))}]"


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Cpu:
    """CPU seconds of the JVM and of this Python process over a phase."""

    def __init__(self):
        from pyspark import SparkContext

        self.pid = SparkContext._gateway.proc.pid
        self.start = self._now()

    def _now(self) -> tuple[float, float]:
        r = resource.getrusage(resource.RUSAGE_SELF)
        return trace.proc_cpu_s(self.pid), r.ru_utime + r.ru_stime

    def read(self) -> dict[str, float]:
        now = self._now()
        return {"proc.jvm_cpu_s": now[0] - self.start[0],
                "proc.python_cpu_s": now[1] - self.start[1]}


# -- window_drain -------------------------------------------------------------


def build_pipeline(ctx, spans, path: Path):
    """The README pipeline on a JSON directory, one file per trigger:
    ``from_stream_json → with_timestamp → window → filter``."""
    from denormalized_spark.datafusion import col, lit
    from denormalized_spark.datafusion import functions as f
    from denormalized_spark.sources.kafka import infer_schema_from_json

    schema = infer_schema_from_json(json.dumps(gen.SAMPLE_EVENT))
    with spans.span("from_stream_json"):
        ds = ctx.from_stream_json(str(path), schema, max_files_per_trigger=1)
    with spans.span("with_timestamp"):
        ds = ds.with_timestamp("occurred_at_ms", "ms")
    with spans.span("window"):
        ds = ds.window(
            [col("sensor_name")],
            [
                f.count(col("reading")).alias("count"),
                f.min(col("reading")).alias("min"),
                f.max(col("reading")).alias("max"),
                f.avg(col("reading")).alias("average"),
                f.median(col("reading")).alias("median"),
                f.stddev(col("reading")).alias("stddev"),
            ],
            reference.WINDOW_MS,
        )
    with spans.span("filter"):
        ds = ds.filter(col("max") > lit(reference.THRESHOLD))
    return ds


class Collector:
    """foreachBatch sink: collects each micro-batch's windows."""

    def __init__(self, spans, parent):
        self.spans, self.parent = spans, parent
        self.batches: list[tuple[int, float, list]] = []  # (batch id, perf_counter, rows)

    def __call__(self, batch_df, batch_id):
        with self.spans.span("sink.callback", parent=self.parent):
            rows = batch_df.collect()
        self.batches.append((batch_id, time.perf_counter(), rows))

    def windows(self) -> list[dict]:
        out = []
        for *_, rows in self.batches:
            for r in rows:
                d = r.asDict()
                d["sensor"] = int(d.pop("sensor_name").rsplit("_", 1)[1])
                d["start_ms"] = round(d.pop("window_start_time").timestamp() * 1000)
                out.append(d)
        return out


def drain(ctx, spans, path: Path, ck: Path) -> dict:
    """Drain ``path`` one file per micro-batch (availableNow trigger)."""
    with spans.span("drain") as sid:
        sink = Collector(spans, sid)
        with spans.span("datastream.build"):
            ds = build_pipeline(ctx, spans, path)
        cpu = Cpu()
        t0 = time.perf_counter()
        with spans.span("sink"):
            query = ds.sink(sink, checkpoint=str(ck))
        query.awaitTermination()
        wall = time.perf_counter() - t0
        used = cpu.read()
    if query.exception() is not None:
        raise RuntimeError(f"drain failed: {query.exception()}")
    records = trace.progress_records(query)
    data = {r["batchId"] for r in records if r["numInputRows"] > 0}
    ends = [t0] + [t for b, t, _ in sink.batches if b in data]
    return {"wall_s": wall, "batch_s": [b - a for a, b in zip(ends, ends[1:])],
            "sink": sink, "records": records, "cpu": used}


def window_drain(ctx, spans, args, run_dir: Path) -> dict:
    files = max(3, round(args.seconds / DRAIN_FILE_S))
    events = gen.write_backlog(run_dir / "backlog", args.seed, files)

    # The discarded first drain reads the same backlog with its own
    # checkpoint; batches settle only after ~1.5M warm rows.
    t = time.perf_counter()
    warm = drain(ctx, spans, run_dir / "backlog", run_dir / "ck-warm")
    warmup_s = time.perf_counter() - t
    res = drain(ctx, spans, run_dir / "backlog", run_dir / "ck")

    stats, expected, dropped = reference.drain_reference(events)
    attempted = failed = 0
    notes = []
    for run in (warm, res):
        a, f_, n = reference.check_windows(run["sink"].windows(), stats, expected)
        attempted, failed, notes = attempted + a, failed + f_, notes + n
    layers = trace.progress_layers(res["records"])
    if layers["state.rows_dropped_by_watermark"] != dropped:
        notes.append(f"numRowsDroppedByWatermark {layers['state.rows_dropped_by_watermark']:.0f}"
                     f" vs reference drops {dropped}")

    rows = files * gen.FILE_EVENTS
    layers.update(res["cpu"])
    layers.update({
        "session.warmup_s": warmup_s,
        "sink.callback_ms": trace.median(spans.durations("sink.callback")[-len(res["sink"].batches):]) * 1000,
        "check.drop_count_delta": layers["state.rows_dropped_by_watermark"] - dropped,
    })
    if args.trace:
        layers["datastream.build_ms"] = spans.durations("datastream.build")[-1] * 1000
        # Trigger phases plus the sink call, against the drain's wall.
        layers["trace.accounted_share"] = (
            layers["_phases_ms"] / 1000 + spans.durations("sink")[-1]) / res["wall_s"]
        layers["drain.local1_rows_per_s"] = local1_baseline(ctx, spans, run_dir, rows)
    return {
        "latency_p50_ms": statistics.median(res["batch_s"]) * 1000,
        "throughput_rows_per_s": rows / res["wall_s"],
        "attempted": attempted, "failed": failed, "notes": notes, "layers": layers,
        "records": res["records"], "samples_s": res["batch_s"],
    }


def local1_baseline(ctx, spans, run_dir: Path, rows: int) -> float:
    """Drain the same backlog on one core: a fresh ``local[1]`` session
    in the same, already warm, JVM."""
    from denormalized_spark import Context

    ctx.spark.stop()
    ctx.spark = Context(master="local[1]", extra_conf=event_log_conf(run_dir)).spark
    return rows / drain(ctx, spans, run_dir / "backlog", run_dir / "ck-local1")["wall_s"]


# -- batch_queries ------------------------------------------------------------


def batch_queries(ctx, spans, args, run_dir: Path) -> dict:
    import duckdb
    import numpy as np

    import __spark_entry__ as entry
    import tables

    tdir = run_dir / "tables"
    table_rows = tables.write_tables(tdir)
    queries, oracles = entry.queries(), entry.oracle_sql()
    spark = ctx.spark

    # The oracle check, once per run, is the first discarded warm-up pass.
    attempted = failed = 0
    notes = []
    rows_read = 0
    con = duckdb.connect()
    for name in table_rows:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tdir / name}.parquet'")
    t = time.perf_counter()
    for lane in LANES:
        attempted += 1
        try:
            df = queries[lane](spark, str(tdir))
            got = df.toPandas()
            rows_read += sum(table_rows.get(Path(p).stem, 0) for p in df.inputFiles())
            diff = reference.lane_matches(got, con.execute(oracles[lane]).df())
        except Exception as e:  # a lane that raises is a counted failure
            diff = f"error: {str(e).splitlines()[0][:200]}"
        if diff:
            failed += 1
            notes.append(f"{lane}: {diff}")
    con.close()

    rng = np.random.default_rng(args.seed)

    def one_pass(p, spans) -> float:
        t = time.perf_counter()
        with spans.span("pass"):
            for lane in rng.permutation(LANES):
                if spans.enabled:
                    spark.sparkContext.setJobGroup(f"{lane}:build:{p}", lane)
                with spans.span(f"batch.{lane}.build"):
                    df = queries[lane](spark, str(tdir))
                if spans.enabled:
                    spark.sparkContext.setJobGroup(f"{lane}:exec:{p}", lane)
                with spans.span(f"batch.{lane}.exec"):
                    df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    untraced = trace.Spans(spans.run_id, False)
    for p in range(WARM_PASSES):
        one_pass(f"warm{p}", untraced)
    warmup_s = time.perf_counter() - t
    walls = []
    cpu = Cpu()
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(walls) < 3:
        walls.append(one_pass(len(walls), spans))
    layers = cpu.read()
    layers["session.warmup_s"] = warmup_s
    if args.trace:
        lane_s = sum(spans.total(f"batch.{lane}.{k}") for lane in LANES for k in ("build", "exec"))
        layers["trace.accounted_share"] = lane_s / spans.total("pass")
        for lane in LANES:
            for k in ("build", "exec"):
                layers[f"batch.{lane}.{k}_ms"] = trace.median(spans.durations(f"batch.{lane}.{k}")) * 1000
    return {
        "latency_p50_ms": statistics.median(walls) * 1000,
        "throughput_rows_per_s": rows_read / statistics.median(walls),
        "attempted": attempted, "failed": failed, "notes": notes, "layers": layers,
        "passes": len(walls), "samples_s": walls,
    }


def batch_event_layers(jobs: list[dict], passes: int, layers: dict) -> None:
    """Per lane and measured pass: wall covered by the noop write's
    Spark jobs, their task count and GC time, from the event log."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    job_ms = gc_ms = 0.0
    for lane in LANES:
        walls, tasks = [], []
        for p in range(passes):
            js = by_group.get(f"{lane}:exec:{p}", [])
            walls.append(_union_ms([(j["start"], j["end"]) for j in js]))
            tasks.append(sum(j["tasks"] for j in js))
            gc_ms += sum(j["gc_ms"] for j in js + by_group.get(f"{lane}:build:{p}", []))
        job_ms += sum(walls)
        layers[f"batch.{lane}.job_ms"] = trace.median(walls)
        layers[f"batch.{lane}.tasks"] = trace.median(tasks)
    exec_ms = sum(layers[f"batch.{lane}.exec_ms"] for lane in LANES) * passes
    layers["batch.driver_s"] = (exec_ms - job_ms) / passes / 1000
    layers["batch.gc_ms"] = gc_ms / passes


def _union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def event_log_conf(run_dir: Path) -> dict[str, str]:
    logs = run_dir / "eventlog"
    logs.mkdir(exist_ok=True)
    # Uncompressed: Spark 4 defaults to zstd, and Python's zstd module
    # is not a dependency here.
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": str(logs),
            "spark.eventLog.compress": "false"}


RUNNERS = {"window_drain": window_drain, "batch_queries": batch_queries}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=RUNNERS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "denormalized_spark" / "__init__.py").is_file():
        print(f"denormalized_spark not found beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = OUT / run_id
    run_dir.mkdir(parents=True)
    scratch_env(run_dir / "tmp")
    os.chdir(run_dir)  # spark-warehouse and friends land here
    spans = trace.Spans(run_id, bool(args.trace))
    try:
        summary = run(args, run_dir, spans)
    finally:
        for scratch in ("backlog", "tables", "tmp", "ck", "ck-warm", "ck-local1"):
            shutil.rmtree(run_dir / scratch, ignore_errors=True)
    print(json.dumps(summary))
    return 0


def run(args, run_dir: Path, spans) -> dict:
    from denormalized_spark import Context

    with spans.span("Context"):
        ctx = Context(master=master(),
                      **({"extra_conf": event_log_conf(run_dir)} if args.trace else {}))
    setup_s = seconds_since_process_start()
    try:
        res = RUNNERS[args.workload](ctx, spans, args, run_dir)
    finally:
        shutdown(ctx.spark)

    layers = dict.fromkeys(per_layer_names(), 0.0)
    layers.update({k: v for k, v in res["layers"].items() if not k.startswith("_")})
    layers["session.context_s"] = spans.total("Context")
    if args.trace:
        if args.workload == "batch_queries":
            jobs = trace.read_event_log(run_dir / "eventlog")
            batch_event_layers(jobs, res["passes"], layers)
        layers["trace.latency_p50_ms"] = res["latency_p50_ms"]
        layers["trace.throughput_rows_per_s"] = res["throughput_rows_per_s"]
        spans.write(run_dir / "spans.json")
        (run_dir / "progress.json").write_text(json.dumps(res.get("records", [])))

    attempted, failed = res["attempted"], res["failed"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": res["latency_p50_ms"],
        "throughput_rows_per_s": res["throughput_rows_per_s"],
        "ok_ratio": (attempted - failed) / attempted,
    }
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for note in res["notes"]:
        print(f"note: {note}", file=sys.stderr)
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    (run_dir / "result.json").write_text(json.dumps(
        {**summary, "end_to_end": e2e, "samples_s": res["samples_s"],
         "notes": res["notes"]}, indent=1))
    return summary


if __name__ == "__main__":
    sys.exit(main())
