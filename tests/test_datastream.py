"""DataStream façade: joins (all six types + theta), set ops,
event-time normalization units, introspection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from denormalized_spark.context import Context
from denormalized_spark.datastream import DataStream


@pytest.fixture(scope="module")
def left(spark):
    return DataStream(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "lv"]))


@pytest.fixture(scope="module")
def right(spark):
    return DataStream(spark.createDataFrame([(2, "x"), (3, "y"), (4, "z")], ["rk", "rv"]))


def _pairs(ds, lcol="lv", rcol="rv"):
    return sorted(
        ((r[lcol], r[rcol]) for r in ds.df.collect()),
        key=lambda t: tuple((v is None, v or "") for v in t),
    )


def test_join_types(left, right):
    inner = left.join(right, "inner", ["k"], ["rk"])
    assert _pairs(inner) == [("b", "x"), ("c", "y")]

    lj = left.join(right, "left", ["k"], ["rk"])
    assert _pairs(lj) == [("a", None), ("b", "x"), ("c", "y")]

    rj = left.join(right, "right", ["k"], ["rk"])
    assert _pairs(rj) == [("b", "x"), ("c", "y"), (None, "z")]

    fj = left.join(right, "full", ["k"], ["rk"])
    assert _pairs(fj) == [("a", None), ("b", "x"), ("c", "y"), (None, "z")]

    semi = left.join(right, "semi", ["k"], ["rk"])
    assert sorted(r["lv"] for r in semi.df.collect()) == ["b", "c"]

    anti = left.join(right, "anti", ["k"], ["rk"])
    assert [r["lv"] for r in anti.df.collect()] == ["a"]


def test_join_residual_filter(left, right):
    j = left.join(right, "inner", ["k"], ["rk"], filter=F.col("rv") != "x")
    assert _pairs(j) == [("c", "y")]


def test_theta_join(left, right):
    j = left.join_on(right, "inner", on=F.col("k") > F.col("rk"))
    assert _pairs(j) == [("c", "x")]


def test_broadcast_right_plan(left, right):
    j = left.join(right, "inner", ["k"], ["rk"], broadcast_right=True)
    plan = j.df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_set_ops(spark):
    a = DataStream(spark.createDataFrame([(1,), (2,), (2,), (3,)], ["x"]))
    b = DataStream(spark.createDataFrame([(2,), (3,), (4,)], ["x"]))
    assert sorted(r["x"] for r in a.union(b).df.collect()) == [1, 2, 2, 2, 3, 3, 4]
    assert sorted(r["x"] for r in a.union(b, distinct=True).df.collect()) == [1, 2, 3, 4]
    assert sorted(r["x"] for r in a.intersect(b).df.collect()) == [2, 3]
    assert sorted(r["x"] for r in a.except_all(b).df.collect()) == [1, 2]
    assert sorted(r["x"] for r in a.distinct().df.collect()) == [1, 2, 3]


def test_limit_offset_sort(spark):
    ds = DataStream(spark.createDataFrame([(i,) for i in range(10)], ["x"]))
    got = [r["x"] for r in ds.sort(F.desc("x")).limit(3, offset=2).df.collect()]
    assert got == [7, 6, 5]


def test_with_timestamp_units(spark):
    df = spark.createDataFrame(
        [(1_700_000_000_000, 1_700_000_000, "2023-11-14T22:13:20")],
        ["ms", "s", "iso"],
    )
    ds = DataStream(df)
    for col, unit in [("ms", "ms"), ("s", "s"), ("iso", "iso8601")]:
        out = ds.with_timestamp(col, unit=unit, target="et")
        assert out.event_time == "et"
        got = out.df.select(F.unix_timestamp("et").alias("u")).collect()[0]["u"]
        assert got == 1_700_000_000, (col, unit)


def test_window_requires_event_time(spark):
    ds = DataStream(spark.createDataFrame([(1,)], ["x"]))
    with pytest.raises(ValueError, match="event-time"):
        ds.window([], [F.count("*").alias("n")], 1000)


def test_select_filter_with_column(events):
    ds = DataStream(events)
    out = (
        ds.select("event_id", "value", "event_type")
        .filter(F.col("value") > 0)
        .with_column("v2", F.col("value") * 2)
        .drop_columns("event_type")
    )
    row = out.df.first()
    assert set(out.df.columns) == {"event_id", "value", "v2"}
    assert row["v2"] == pytest.approx(row["value"] * 2)


def test_filter_accepts_sql_string(events):
    ds = DataStream(events)
    n = ds.filter("value > 0 AND event_type = 'click'").count()
    m = ds.df.filter((F.col("value") > 0) & (F.col("event_type") == "click")).count()
    assert n == m


def test_schema_and_introspection(events, capsys):
    ds = DataStream(events)
    assert ds.schema() == events.schema
    ds.print_schema()
    ds.print_plan()
    out = capsys.readouterr().out
    assert "root" in out


def test_context_sql(spark, sf_dir):
    from denormalized_spark.sources.files import register_tables

    register_tables(spark, sf_dir, tables=("events",))
    ctx = Context(spark)
    n = ctx.sql("SELECT count(*) AS n FROM events").df.collect()[0]["n"]
    assert n == 1000


def test_rollup_cube_grouping_sets(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], ["g1", "g2", "v"]
    )
    ds = DataStream(df)
    aggs = [F.grouping_id().alias("gid"), F.sum("v").alias("s")]

    ru = ds.rollup_agg(["g1", "g2"], aggs).df.collect()
    assert len(ru) == 6  # 3 leaves + 2 g1 subtotals + 1 total
    assert {(r.g1, r.g2, r.gid, r.s) for r in ru} >= {
        ("a", None, 1, 3), (None, None, 3, 6)
    }

    cu = ds.cube_agg(["g1", "g2"], aggs).df.collect()
    assert len(cu) == 8  # rollup's 6 + the two g2 marginals

    gs = ds.grouping_sets_agg([["g1"], []], ["g1", "g2"], aggs).df.collect()
    assert {(r.g1, r.g2, r.gid, r.s) for r in gs} == {
        ("a", None, 1, 3), ("b", None, 1, 3), (None, None, 3, 6)
    }


def test_unpivot_melt(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "a", "b"])
    out = DataStream(df).unpivot(["id"], ["a", "b"]).df.collect()
    assert {(r.id, r.metric, r.value) for r in out} == {(1, "a", 10.0), (1, "b", 20.0)}


def test_facade_near_dedup_incremental(spark):
    """Facade form of the incremental gate: same flags as the
    operator, streaming input rejected."""
    from denormalized_spark.datastream import DataStream
    from denormalized_spark.operators.dedup import band_index

    import pytest as _pt

    hist = spark.createDataFrame(
        [(0, "shared history sentence appearing again in the increment")],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame(
        [(5, "shared history sentence appearing again in the increment"),
         (6, "completely novel text in this increment only")],
        ["doc_id", "text"],
    )
    flags, updated = DataStream(inc).near_dedup_incremental(band_index(hist))
    got = {r["doc_id"]: r["kept"] for r in flags.df.collect()}
    assert got == {5: False, 6: True}
    assert updated.df.count() >= 4


def test_facade_funnel_and_anomaly(spark):
    """DataStream.funnel / .anomaly_scores batch paths delegate to the
    analytics operators."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view"),
        (2, base + datetime.timedelta(minutes=1), 1, "click"),
        (3, base, 2, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    ds = DataStream(df, event_time="ts")
    got = {r["step"]: r["n_users"] for r in ds.funnel(["view", "click"]).df.collect()}
    assert got == {1: 2, 2: 1}
    sess = {
        r["step"]: r["n_sessions"]
        for r in ds.funnel(["view", "click"], session_gap_ms=1_800_000).df.collect()
    }
    assert sess == {1: 2, 2: 1}
    anom = ds.anomaly_scores(["event_type"]).df
    assert {f.name for f in anom.schema} >= {"window_start_time", "n", "zscore", "is_anomaly"}
    assert anom.count() == 2  # (view, h0), (click, h0)


def test_watermark_declared_once():
    """Every watermark in the package is declared through
    eventtime.declare_watermark, which keeps a watermark the event-time
    column already carries — so no operator can redeclare one."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "denormalized_spark"
    sites = [
        f"{path.relative_to(pkg).as_posix()}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".withWatermark(" in line
    ]
    assert [s.split(":")[0] for s in sites] == ["eventtime.py"], sites
