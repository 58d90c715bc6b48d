"""As-of / range join semantics and plan-shape tests
(operators/temporal.py)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from denormalized_spark.operators.temporal import asof_join, range_join


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:03"), 100),
            ("A", _ts("2024-01-01 10:00:07"), 200),
            ("B", _ts("2024-01-01 10:00:01"), 300),
            ("C", _ts("2024-01-01 10:00:05"), 400),  # no quotes at all
        ],
        "sym string, t timestamp, qty int",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:01"), 10.0),
            ("A", _ts("2024-01-01 10:00:03"), 11.0),  # simultaneous w/ trade 1
            ("A", _ts("2024-01-01 10:00:06"), 12.0),
            ("B", _ts("2024-01-01 10:00:02"), 20.0),  # after B's only trade
        ],
        "sym string, qt timestamp, px double",
    )
    return quotes, trades


def test_asof_backward_basic(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"],
    )
    got = {(r.sym, r.qty): (r.px, r.matched_time) for r in out.collect()}
    assert len(got) == 4
    # simultaneous quote matches (inclusive, l.t >= r.t)
    assert got[("A", 100)] == (11.0, _ts("2024-01-01 10:00:03"))
    assert got[("A", 200)] == (12.0, _ts("2024-01-01 10:00:06"))
    # B's quote is in the future -> no backward match
    assert got[("B", 300)] == (None, None)
    assert got[("C", 400)] == (None, None)


def test_asof_forward(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"], direction="forward",
    )
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got[("A", 100)] == 11.0  # simultaneous still matches
    assert got[("A", 200)] is None  # no quote at/after 10:00:07
    assert got[("B", 300)] == 20.0


def test_asof_nearest(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"], direction="nearest",
    )
    got = {(r.sym, r.qty): (r.px, r.matched_time) for r in out.collect()}
    # A@03: simultaneous quote (delta 0) beats the 06 quote
    assert got[("A", 100)] == (11.0, _ts("2024-01-01 10:00:03"))
    # A@07: only a backward candidate (06) exists
    assert got[("A", 200)] == (12.0, _ts("2024-01-01 10:00:06"))
    # B@01: only a forward candidate (02) exists
    assert got[("B", 300)] == (20.0, _ts("2024-01-01 10:00:02"))
    # C: no quotes at all
    assert got[("C", 400)] == (None, None)


def test_asof_nearest_tie_breaks_backward(spark):
    """Equidistant candidates resolve backward — pandas merge_asof
    parity (its nearest picks backward when bdiff <= fdiff)."""
    trades = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00:03"), 1)],
        "sym string, t timestamp, qty int",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:01"), 10.0),
            ("A", _ts("2024-01-01 10:00:05"), 50.0),
        ],
        "sym string, qt timestamp, px double",
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"], direction="nearest",
    )
    row = out.collect()[0]
    assert (row.px, row.matched_time) == (10.0, _ts("2024-01-01 10:00:01"))


def test_asof_nearest_tolerance_and_plan(quotes_trades):
    """nearest respects tolerance_ms and still costs ONE keyed
    exchange (both window directions share the partitioning)."""
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"], direction="nearest", tolerance_ms=500,
    )
    # capture the plan BEFORE collect: a finalized AdaptiveSparkPlan
    # prints Final + Initial sections, double-counting exchanges
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got[("A", 100)] == 11.0   # 0ms gap
    assert got[("A", 200)] is None   # nearest is 1s away > 500ms
    assert got[("B", 300)] is None   # 1s away > 500ms


def test_asof_tolerance_nulls_far_matches(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"], tolerance_ms=500,
    )
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got[("A", 100)] == 11.0  # 0ms gap
    assert got[("A", 200)] is None  # 1s gap > 500ms tolerance


def test_asof_plan_has_no_join_operator(quotes_trades):
    """The scale claim: as-of is ONE shuffle + window, zero joins."""
    quotes, trades = quotes_trades
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_cols=["px"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


class TestInterpolateLinear:
    def _grid(self, spark, vals, dtype="long"):
        rows = [
            ("a", _ts("2024-01-01 00:00:00") + datetime.timedelta(seconds=i), v)
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(rows, f"g string, t timestamp, v {dtype}")

    def test_integer_truncating_interpolation(self, spark):
        from denormalized_spark.operators.temporal import interpolate_linear

        df = self._grid(spark, [None, 10, None, None, None, 40, None])
        out = interpolate_linear(df, ["g"], "t", ["v"])
        got = [r.v for r in out.orderBy("t").collect()]
        # inside gap: 10 + 30*k div 4 for k=1..3 → 17, 25, 32
        # (truncating div, same as DuckDB //); edges stay NULL
        assert got == [None, 10, 17, 25, 32, 40, None]

    def test_double_interpolation_exact(self, spark):
        from denormalized_spark.operators.temporal import interpolate_linear

        df = self._grid(
            spark, [10.0, None, None, None, 40.0], dtype="double"
        )
        out = interpolate_linear(df, ["g"], "t", ["v"])
        got = [r.v for r in out.orderBy("t").collect()]
        assert got == [10.0, 17.5, 25.0, 32.5, 40.0]

    def test_one_exchange(self, spark):
        from denormalized_spark.operators.temporal import interpolate_linear

        df = self._grid(spark, [10, None, 40])
        out = interpolate_linear(df, ["g"], "t", ["v"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_binned_not_bnlj(spark):
    left = spark.range(0, 1000).select(
        F.col("id").alias("pid"), (F.col("id") * 10).cast("double").alias("pt")
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("iv"),
        (F.col("id") * 200).cast("double").alias("s"),
        (F.col("id") * 200 + 100).cast("double").alias("e"),
    )
    out = range_join(left, right, "pt", "s", "e", bin_width_s=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # each interval [s, s+100) holds pts s/10..s/10+9 -> 10 per interval
    assert out.count() == 500
    row = out.filter(F.col("iv") == 3).agg(
        F.min("pt").alias("lo"), F.max("pt").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    assert (row.lo, row.hi, row.n) == (600.0, 690.0, 10)


def test_range_join_end_inclusive_and_keys(spark):
    left = spark.createDataFrame(
        [(1, 5.0), (1, 10.0), (2, 5.0)], "k int, pt double"
    )
    right = spark.createDataFrame([(1, 0.0, 10.0)], "k int, s double, e double")
    excl = range_join(left, right, "pt", "s", "e", on=["k"], bin_width_s=10)
    assert {r.pt for r in excl.collect()} == {5.0}
    incl = range_join(
        left, right, "pt", "s", "e", on=["k"], bin_width_s=10, end_inclusive=True
    )
    assert {r.pt for r in incl.collect()} == {5.0, 10.0}


class TestResample:
    def test_dense_grid_and_forward_fill(self, spark):
        from pyspark.sql import functions as F

        from denormalized_spark.operators.temporal import resample

        rows = [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 02:20:00", 5.0),  # hour 1 is a gap
            ("b", "2024-01-01 00:30:00", 7.0),
        ]
        df = spark.createDataFrame(rows, ["k", "ts_str", "v"]).select(
            "k", F.to_timestamp("ts_str").alias("ts"), "v"
        )
        out = resample(
            df, "ts", 3600_000, ["k"], [F.avg("v").alias("av")], fill_forward=["av"]
        )
        got = {
            (r.k, r.bin_start.hour): r.av
            for r in out.collect()
        }
        # dense: every (k, hour 0..2) present
        assert set(got) == {("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1), ("b", 2)}
        assert got[("a", 0)] == 1.0
        assert got[("a", 1)] == 1.0  # gap forward-filled
        assert got[("a", 2)] == 5.0
        assert got[("b", 1)] == 7.0 and got[("b", 2)] == 7.0

    def test_resample_on_timestamp_ntz(self, spark, tmp_path):
        """Regression: a session that reads naive parquet timestamps
        as TIMESTAMP_NTZ made resample's unix_millis(ts) crash with
        DATATYPE_MISMATCH. Reproduce that exact environment — naive
        parquet + inferTimestampNTZ=true — and assert resample works
        on the NTZ column."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampNTZType

        from denormalized_spark.operators.temporal import resample

        src = spark.createDataFrame(
            [("a", "2024-01-01 00:10:00", 1.0), ("a", "2024-01-01 02:20:00", 5.0)],
            ["k", "ts_str", "v"],
        ).select("k", F.to_timestamp("ts_str").cast("timestamp_ntz").alias("ts"), "v")
        path = str(tmp_path / "ntz.parquet")
        src.write.parquet(path)

        conf_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        prev = spark.conf.get(conf_key)
        try:
            spark.conf.set(conf_key, "true")
            df = spark.read.parquet(path)
            assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
            out = resample(
                df, "ts", 3600_000, ["k"], [F.avg("v").alias("av")],
                fill_forward=["av"],
            )
            got = {r.bin_start.hour: r.av for r in out.collect()}
            assert got == {0: 1.0, 1: 1.0, 2: 5.0}
        finally:
            spark.conf.set(conf_key, prev)

    def test_driver_configure_restores_timestamp_conf(self, spark):
        """The r3 failure mode: session.py had the timestamp conf but
        __spark_entry__._configure (the driver path) did not. Simulate
        a driver session that infers NTZ and assert _configure fixes it
        — the two surfaces now share session.RUNTIME_CONF."""
        import __spark_entry__
        from denormalized_spark.session import RUNTIME_CONF, _DEFAULTS

        conf_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        assert RUNTIME_CONF[conf_key] == "false"
        assert set(RUNTIME_CONF) <= set(_DEFAULTS)
        spark.conf.set(conf_key, "true")
        try:
            __spark_entry__._configure(spark)
            assert spark.conf.get(conf_key) == "false"
        finally:
            spark.conf.set(conf_key, "false")

    def test_no_fill_leaves_nulls(self, spark):
        from pyspark.sql import functions as F

        from denormalized_spark.operators.temporal import resample

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 02:00:00", 2.0)],
            ["k", "ts_str", "v"],
        ).select("k", F.to_timestamp("ts_str").alias("ts"), "v")
        out = resample(df, "ts", 3600_000, ["k"], [F.avg("v").alias("av")])
        gap = [r for r in out.collect() if r.bin_start.hour == 1]
        assert len(gap) == 1 and gap[0].av is None


def test_temporal_parameter_guards(spark):
    from denormalized_spark.operators.temporal import asof_join, range_join

    left = spark.createDataFrame([], "k long, t timestamp, a long")
    right = spark.createDataFrame([], "k long, rt timestamp, p double")
    with pytest.raises(ValueError, match="tolerance_ms"):
        asof_join(
            left, right, on=["k"], left_time="t", right_time="rt",
            right_cols=["p"], tolerance_ms=-1,
        )
    with pytest.raises(ValueError, match="bin_width_s"):
        range_join(left, right, "t", "rt", "rt", bin_width_s=0)


class TestScd2Intervals:
    def _log(self, spark):
        import datetime

        at = lambda d: datetime.datetime(2024, 1, d)
        return spark.createDataFrame(
            [(1, at(1), "A", 1), (1, at(2), "A", 2), (1, at(3), "B", 3),
             (1, at(5), "A", 4),
             (2, at(1), "X", 5), (2, at(4), None, 6), (2, at(6), None, 7)],
            "k long, ts timestamp, st string, eid long",
        )

    def test_runs_collapse_and_versions(self, spark):
        from denormalized_spark.operators.temporal import scd2_intervals
        import datetime

        at = lambda d: datetime.datetime(2024, 1, d)
        out = scd2_intervals(
            self._log(spark), ["k"], "ts", ["st"], tiebreak_col="eid"
        )
        rows = {(r.k, r.version): r for r in out.collect()}
        # key 1: A (days 1-2 collapse), B, A again = NEW version
        assert [(rows[(1, v)].st) for v in (1, 2, 3)] == ["A", "B", "A"]
        assert rows[(1, 1)].valid_from == at(1)
        assert rows[(1, 1)].valid_to == at(3)
        assert rows[(1, 3)].valid_to is None and rows[(1, 3)].is_current
        # key 2: NULL->NULL collapses (null-safe compare), 2 versions
        assert {v for (k, v) in rows if k == 2} == {1, 2}
        assert rows[(2, 2)].st is None and rows[(2, 2)].is_current

    def test_partitioning_invariant(self, spark):
        from denormalized_spark.operators.temporal import scd2_intervals

        log = self._log(spark)
        key = lambda df: sorted(
            (r.k, r.version, r.st, r.valid_from, r.valid_to) for r in df.collect()
        )
        a = scd2_intervals(log, ["k"], "ts", ["st"], tiebreak_col="eid")
        b = scd2_intervals(
            log.repartition(7), ["k"], "ts", ["st"], tiebreak_col="eid"
        )
        assert key(a) == key(b)

    def test_rejects_empty_attrs(self, spark):
        import pytest

        from denormalized_spark.operators.temporal import scd2_intervals

        with pytest.raises(ValueError, match="attr_cols"):
            scd2_intervals(self._log(spark), ["k"], "ts", [])

    def test_asof_probe_of_built_intervals(self, spark):
        """The SCD2 output is point-in-time probe-able: an as-of join
        against valid_from returns the state in force at each probe
        time (the two operators compose)."""
        import datetime

        from denormalized_spark.operators.temporal import asof_join, scd2_intervals

        at = lambda d: datetime.datetime(2024, 1, d)
        # probe by version (never NULL): asof_join's running
        # last(ignorenulls) fill cannot distinguish a NULL attribute
        # value from no-match, so point-in-time probes should carry
        # the version key and join attributes back from the intervals
        iv = scd2_intervals(
            self._log(spark), ["k"], "ts", ["st"], tiebreak_col="eid"
        ).select("k", F.col("valid_from"), F.col("version").alias("ver"))
        probes = spark.createDataFrame(
            [(1, at(2)), (1, at(4)), (1, at(6)), (2, at(5))],
            "k long, pt timestamp",
        )
        got = {
            (r.k, r.pt): r.ver
            for r in asof_join(
                probes, iv, ["k"], "pt", "valid_from", ["ver"]
            ).collect()
        }
        assert got == {(1, at(2)): 1, (1, at(4)): 2, (1, at(6)): 3,
                       (2, at(5)): 2}
