"""Plan build without Spark jobs: the cached parquet schema path
(``sources.files.parquet_schema``), memoized pure expression builders
(``operators._memo.memo_column``) and the registry's eager marks."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from denormalized_spark.sources import files
from denormalized_spark.sources.files import TPCH_TABLES, load_table, parquet_schema

ROOT = Path(__file__).resolve().parents[1]
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _perfbench_lanes() -> tuple[str, ...]:
    spec = importlib.util.spec_from_file_location("perfbench_run", ROOT / "perfbench" / "run.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.LANES


def _build_jobs(spark, build, group: str) -> list[int]:
    """Spark job ids started while ``build()`` runs under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _uncached_read(spark, path: str):
    """The read every load did before the schema cache: inference per
    call, then ns-long columns converted."""
    df = spark.read.parquet(path)
    longs = {f.name for f in df.schema.fields if isinstance(f.dataType, T.LongType)}
    for c in sorted(files._nanos_timestamp_columns(path) & longs):
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def _bump_mtime(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


# ---- schema cache -----------------------------------------------------------


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_load_table_schema_matches_inference(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    assert load_table(spark, sf_dir, name).schema == _uncached_read(spark, path).schema


def test_int96_file_stays_timestamp(spark, tmp_path):
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.sql("SELECT 1 AS id, TIMESTAMP'2024-01-02 03:04:05.123456' AS ts").coalesce(
            1
        ).write.parquet(str(tmp_path / "t.parquet"))
    finally:
        spark.conf.set(key, prev)
    path = str(tmp_path / "t.parquet")
    # the footer says ns, Spark reads INT96 as a timestamp: no conversion
    assert files._nanos_timestamp_columns(path) == {"ts"}
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema["ts"].dataType == T.TimestampType()
    assert df.collect() == spark.read.parquet(path).collect()


def test_pyarrow_nanos_file_converted(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "n.parquet",
    )
    path = str(tmp_path / "n.parquet")
    assert parquet_schema(spark, path)["ts"].dataType == T.LongType()
    df = load_table(spark, str(tmp_path), "n")
    assert df.schema == _uncached_read(spark, path).schema
    assert df.schema["ts"].dataType == T.TimestampType()
    got = df.select("id", F.unix_micros("ts").alias("us")).orderBy("id").collect()
    assert [r.us for r in got] == [v // 1000 for v in ns]


def test_directory_dataset(spark, tmp_path):
    d = tmp_path / "ds.parquet"
    d.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"id": [i], "ts": pa.array([i * 1_000_000_000], pa.timestamp("ns"))}),
            d / f"part-{i}.parquet",
        )
    path = str(d)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    df = load_table(spark, str(tmp_path), "ds")
    assert df.schema == _uncached_read(spark, path).schema
    assert df.count() == 3
    # a new data file in the directory changes the key
    pq.write_table(
        pa.table({"id": [9], "ts": pa.array([0], pa.timestamp("ns"))}), d / "part-9.parquet"
    )
    assert load_table(spark, str(tmp_path), "ds").count() == 4


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "r").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    _bump_mtime(path)
    df = load_table(spark, str(tmp_path), "r")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
    # one entry per path: the rewrite replaced the old entry
    assert sum(p == os.path.abspath(path) for p in files._SCHEMAS[spark]) == 1


def test_inference_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000], pa.timestamp("us"))}), path)
    prev = spark.conf.get(NTZ)
    try:
        spark.conf.set(NTZ, "false")
        assert parquet_schema(spark, path)["ts"].dataType == T.TimestampType()
        spark.conf.set(NTZ, "true")
        assert parquet_schema(spark, path)["ts"].dataType == T.TimestampNTZType()
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    finally:
        spark.conf.set(NTZ, prev)
    assert parquet_schema(spark, path)["ts"].dataType == T.TimestampType()


def test_warm_load_runs_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    assert _build_jobs(spark, lambda: load_table(spark, sf_dir, "lineitem"), "warm-load") == []


# ---- memoized builders ------------------------------------------------------


def test_memoized_builder_matches_fresh_build(spark, documents):
    from denormalized_spark.operators import dedup

    sig = dedup.minhash_signature("text", 8)
    assert dedup.minhash_signature("text", 8) is sig
    # defaults applied before keying: positional and keyword calls share
    assert dedup.minhash_signature(text="text", num_hashes=8, shingle_unit="word") is sig
    assert dedup.minhash_signature("text", 16) is not sig
    fresh = dedup.minhash_signature.__wrapped__("text", 8)
    got = documents.select("doc_id", sig.alias("m")).orderBy("doc_id").collect()
    want = documents.select("doc_id", fresh.alias("m")).orderBy("doc_id").collect()
    assert got == want and len(got) > 0


def test_column_arguments_bypass_memo(spark, documents):
    from denormalized_spark.operators import dedup

    a = dedup.shingle_hashes(F.col("text"))
    assert dedup.shingle_hashes(F.col("text")) is not a
    by_name = dedup.shingle_hashes("text")
    got = documents.select(a.alias("h")).collect()
    assert got == documents.select(by_name.alias("h")).collect()


def test_memo_keys_are_type_exact_and_gateway_bound(spark, monkeypatch):
    from pyspark import SparkContext

    from denormalized_spark.operators._memo import memo_column

    calls = []

    @memo_column
    def build(x, tag=("a", None)):
        calls.append(x)
        return F.lit(x)

    c = build(1)
    assert build(1) is c and build(1, ("a", None)) is c
    assert build(1.0) is not c and build(True) is not c
    assert build([1]) is not build([1])  # a list is not a plain value
    n = len(calls)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build(1) is not c  # another gateway: the entries are dropped
    assert len(calls) == n + 1


def test_memo_survives_session_restart_in_same_jvm():
    """A memoized Column built under one session works in a new
    ``local[1]`` session of the same JVM (the benchmark's one-core
    baseline restarts the session this way)."""
    code = textwrap.dedent(
        """
        from denormalized_spark import Context
        from denormalized_spark.operators import dedup

        def rows(spark):
            df = spark.createDataFrame(
                [(1, "a b c d e"), (2, "x y"), (3, "a b c d f")], "id int, text string"
            )
            return df.select("id", dedup.minhash_signature("text", 8)).orderBy("id").collect()

        ctx = Context(master="local[1]")
        sig = dedup.minhash_signature("text", 8)
        first = rows(ctx.spark)
        ctx.spark.stop()
        ctx = Context(master="local[1]")
        assert dedup.minhash_signature("text", 8) is sig
        assert rows(ctx.spark) == first
        ctx.spark.stop()
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-2000:]


# ---- builds without jobs ----------------------------------------------------


def test_perfbench_lanes_build_without_jobs(spark, sf_dir):
    from denormalized_spark.queries import EAGER, QUERIES

    lanes = _perfbench_lanes()
    for lane in lanes:
        assert lane not in EAGER
        QUERIES[lane](spark, sf_dir)  # warm-up build
    ran = {
        lane: _build_jobs(spark, lambda lane=lane: QUERIES[lane](spark, sf_dir), f"build:{lane}")
        for lane in lanes
    }
    assert {k: v for k, v in ran.items() if v} == {}


def test_perfbench_lanes_rerun_without_compiling(spark, sf_dir, compiled_classes):
    """A second round of the 8 perfbench lanes finds every generated
    class in Spark's codegen cache: the cache holds the lanes' ~130
    classes (at Spark's default of 100 the second round recompiled
    121)."""
    from denormalized_spark.queries import QUERIES

    def one_round() -> int:
        before = compiled_classes()
        for lane in _perfbench_lanes():
            QUERIES[lane](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiled_classes() - before

    one_round()
    assert one_round() == 0


@pytest.mark.slow
def test_registry_builds_match_eager_marks(spark, sf_dir):
    """Every non-eager registry query builds without a Spark job once
    warm; every eager-marked query does run one, so the marks stay
    true."""
    from denormalized_spark.queries import EAGER, QUERIES

    for fn in QUERIES.values():
        fn(spark, sf_dir)
    ran = {
        name: bool(_build_jobs(spark, lambda fn=fn: fn(spark, sf_dir), f"registry:{name}"))
        for name, fn in QUERIES.items()
    }
    assert sorted(n for n, r in ran.items() if r and n not in EAGER) == []
    assert sorted(n for n in EAGER if not ran[n]) == []
