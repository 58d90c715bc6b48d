"""Event-analytics operators: strict funnel ordering, cohort
retention arithmetic, window anomaly z-scores."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from denormalized_spark.operators import analytics

T0 = datetime.datetime(2024, 3, 4)  # a Monday (cohort weeks align)


def _ev(eid, minutes, user, typ):
    return (eid, T0 + datetime.timedelta(minutes=minutes), user, typ)


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


class TestFunnel:
    def test_strict_ordering(self, spark):
        """User 1 converts in order; user 2 purchased BEFORE viewing
        (no conversion past step 1); user 3 stops at click."""
        rows = [
            _ev(1, 0, 1, "view"), _ev(2, 5, 1, "click"), _ev(3, 9, 1, "purchase"),
            _ev(4, 0, 2, "purchase"), _ev(5, 5, 2, "view"),
            _ev(6, 0, 3, "view"), _ev(7, 2, 3, "click"),
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            r["step"]: r
            for r in analytics.funnel_counts(
                df, ["view", "click", "purchase"]
            ).collect()
        }
        assert got[1]["n_users"] == 3
        assert got[2]["n_users"] == 2  # users 1 and 3
        assert got[3]["n_users"] == 1  # only user 1
        assert got[3]["conversion_rate"] == round(1 / 3, 6)

    def test_same_timestamp_tiebreak_by_event_id(self, spark):
        """Two events at the SAME ts order by event_id — view(id 1)
        then click(id 2) converts; the reverse ids do not."""
        conv = spark.createDataFrame(
            [_ev(1, 0, 1, "view"), _ev(2, 0, 1, "click")], SCHEMA
        )
        nonconv = spark.createDataFrame(
            [_ev(2, 0, 1, "view"), _ev(1, 0, 1, "click")], SCHEMA
        )
        g1 = {r["step"]: r["n_users"] for r in analytics.funnel_counts(conv, ["view", "click"]).collect()}
        g2 = {r["step"]: r["n_users"] for r in analytics.funnel_counts(nonconv, ["view", "click"]).collect()}
        assert g1.get(2) == 1
        assert g2.get(2) == 0

    def test_repeated_steps(self, spark):
        """A funnel can repeat a step name: view → view needs two
        distinct views."""
        one = spark.createDataFrame([_ev(1, 0, 1, "view")], SCHEMA)
        two = spark.createDataFrame(
            [_ev(1, 0, 1, "view"), _ev(2, 1, 1, "view")], SCHEMA
        )
        g1 = {r["step"]: r["n_users"] for r in analytics.funnel_counts(one, ["view", "view"]).collect()}
        g2 = {r["step"]: r["n_users"] for r in analytics.funnel_counts(two, ["view", "view"]).collect()}
        assert g1.get(2) == 0 and g2.get(2) == 1


class TestCohortRetention:
    def test_triangle(self, spark):
        """Two cohorts: users 1,2 start week 0 (user 2 returns week 1);
        user 3 starts week 1 and returns week 2."""
        wk = 7 * 24 * 60
        rows = [
            _ev(1, 0, 1, "p"), _ev(2, 10, 2, "p"),
            _ev(3, wk, 2, "p"),
            _ev(4, wk, 3, "p"), _ev(5, 2 * wk, 3, "p"),
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            (r["cohort"], r["offset"]): (r["n_active"], r["retention_rate"])
            for r in analytics.cohort_retention(df).collect()
        }
        c0 = T0
        c1 = T0 + datetime.timedelta(weeks=1)
        assert got[(c0, 0)] == (2, 1.0)
        assert got[(c0, 1)] == (1, 0.5)
        assert got[(c1, 0)] == (1, 1.0)
        assert got[(c1, 1)] == (1, 1.0)


class TestAnomalyWindows:
    def test_planted_spike_flagged(self, spark):
        """Steady 2 events/hour for 24h, then one 50-event hour: only
        that window crosses |z| >= 3."""
        rows = []
        eid = 0
        for h in range(24):
            for k in range(2):
                rows.append(_ev(eid, h * 60 + k, 1, "click")); eid += 1
        for k in range(50):
            rows.append(_ev(eid, 24 * 60 + k, 1, "click")); eid += 1
        df = spark.createDataFrame(rows, SCHEMA)
        out = analytics.window_anomaly_scores(df, window_ms=3600_000)
        flagged = [r for r in out.collect() if r["is_anomaly"]]
        assert len(flagged) == 1
        assert flagged[0]["n"] == 50
        assert flagged[0]["window_start_time"] == T0 + datetime.timedelta(hours=24)

    def test_constant_series_scores_zero(self, spark):
        rows = [_ev(i, i * 60, 1, "click") for i in range(6)]
        df = spark.createDataFrame(rows, SCHEMA)
        out = analytics.window_anomaly_scores(df, window_ms=3600_000).collect()
        assert all(r["zscore"] == 0.0 and not r["is_anomaly"] for r in out)


class TestSessionFunnel:
    def test_within_session_only(self, spark):
        """User 1 converts inside one session; user 2 has the same
        steps split across a 2-hour gap — no in-session conversion."""
        rows = [
            _ev(1, 0, 1, "view"), _ev(2, 5, 1, "click"),
            _ev(3, 0, 2, "view"), _ev(4, 120, 2, "click"),
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            r["step"]: r
            for r in analytics.session_funnel(
                df, ["view", "click"], gap_ms=1_800_000
            ).collect()
        }
        # sessions reaching step 1: user1's one session + user2's two
        # sessions contribute — only sessions CONTAINING a view count
        assert got[1]["n_sessions"] == 2  # u1 s1, u2 s1 (u2 s2 has no view)
        assert got[2]["n_sessions"] == 1  # only u1 converts in-session
        assert got[2]["conversion_rate"] == 0.5

    def test_gap_boundary_splits_sessions(self, spark):
        rows = [_ev(1, 0, 1, "view"), _ev(2, 31, 1, "click")]
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            r["step"]: r["n_sessions"]
            for r in analytics.session_funnel(
                df, ["view", "click"], gap_ms=1_800_000
            ).collect()
        }
        assert got[2] == 0  # 31-min gap crosses the 30-min session


class TestEventTransitions:
    def test_counts_and_probabilities(self, spark):
        rows = [
            _ev(1, 0, 1, "view"), _ev(2, 1, 1, "click"), _ev(3, 2, 1, "view"),
            _ev(4, 3, 1, "click"), _ev(5, 0, 2, "view"), _ev(6, 1, 2, "buy"),
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        got = {
            (r["from_type"], r["to_type"]): (r["n"], r["p"])
            for r in analytics.event_transitions(df).collect()
        }
        # view -> click x2, view -> buy x1, click -> view x1
        assert got[("view", "click")] == (2, round(2 / 3, 6))
        assert got[("view", "buy")] == (1, round(1 / 3, 6))
        assert got[("click", "view")] == (1, 1.0)

    def test_gap_breaks_transition(self, spark):
        rows = [_ev(1, 0, 1, "view"), _ev(2, 200, 1, "click")]
        df = spark.createDataFrame(rows, SCHEMA)
        out = analytics.event_transitions(df, gap_ms=60_000).collect()
        assert out == []  # 200-minute gap exceeds the 1-minute bound


class TestSnapshotDiff:
    def test_statuses(self, spark):
        from denormalized_spark.operators.curation import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: r["status"]
            for r in snapshot_diff(old, new, "doc_id").collect()
        }
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    def test_null_safe_compare(self, spark):
        from denormalized_spark.operators.curation import snapshot_diff

        old = spark.createDataFrame([(1, None)], "doc_id long, text string")
        new = spark.createDataFrame([(1, None)], "doc_id long, text string")
        got = snapshot_diff(old, new, "doc_id").collect()[0]
        assert got["status"] == "unchanged"

    def test_separator_injection_detected(self, spark):
        """A value containing separator bytes can't shift a column
        boundary: ('x\\x1f', 'y') vs ('x', '\\x1fy') concatenate
        identically under a naive concat_ws fingerprint but are a
        genuine change; a literal NUL value is likewise distinct from
        NULL."""
        from denormalized_spark.operators.curation import snapshot_diff

        schema = "doc_id long, a string, b string"
        old = spark.createDataFrame([(1, "x\x1f", "y"), (2, "\x00", "z")], schema)
        new = spark.createDataFrame([(1, "x", "\x1fy"), (2, None, "z")], schema)
        got = {
            r["doc_id"]: r["status"]
            for r in snapshot_diff(old, new, "doc_id").collect()
        }
        assert got == {1: "changed", 2: "changed"}


def test_empty_inputs_are_graceful(spark):
    """Every analytics operator returns a well-typed empty (or
    all-zero) result on an empty frame — no null-division crashes,
    no empty-aggregate errors."""
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    funnel = analytics.funnel_counts(empty, ["a", "b"]).collect()
    assert [(r["step"], r["n_users"], r["conversion_rate"]) for r in funnel] == [
        (1, 0, 0.0),
        (2, 0, 0.0),
    ]
    assert analytics.cohort_retention(empty).collect() == []
    assert analytics.window_anomaly_scores(empty).collect() == []
    assert analytics.anomaly_online_batch(empty).collect() == []
    assert analytics.event_transitions(empty).collect() == []


def test_key_skew_report(spark):
    """Planted hot key dominates; ranks, shares, and cumulative share
    are exact."""
    rows = [
        (i, T0, 999 if i < 60 else i, "x") for i in range(100)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = analytics.key_skew_report(df, "user_id", top_k=3).collect()
    assert out[0]["rank"] == 1 and out[0]["key"] == 999 and out[0]["n"] == 60
    assert out[0]["share"] == 0.6 and out[0]["cum_share"] == 0.6
    assert out[0]["total_rows"] == 100 and out[0]["distinct_keys"] == 41
    assert out[1]["n"] == 1 and out[1]["cum_share"] == 0.61


class TestDecayedCounts:
    def test_known_values_and_merge_property(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import decayed_counts
        from pyspark.sql import functions as F

        base = datetime.datetime(2024, 1, 1)
        h = 3_600_000  # 1h half-life
        rows = [
            ("a", base),                                  # 2 half-lives old: 0.25
            ("a", base + datetime.timedelta(hours=1)),    # 1 half-life:     0.5
            ("a", base + datetime.timedelta(hours=2)),    # as-of:           1.0
            ("b", base + datetime.timedelta(hours=2)),    # as-of:           1.0
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {
            r["event_type"]: (r["n_events"], r["decayed_count"])
            for r in decayed_counts(df, half_life_ms=h).collect()
        }
        assert got == {"a": (3, 1.75), "b": (1, 1.0)}

        # decay commutes with addition: counter at T1 decayed to T2
        # + fresh events == counter computed at T2 directly
        t1 = base + datetime.timedelta(hours=1)
        early = df.filter(F.col("ts") <= t1)
        c_t1 = {
            r["event_type"]: r["decayed_count"]
            for r in decayed_counts(early, h, as_of=F.lit(t1)).collect()
        }
        t2 = base + datetime.timedelta(hours=2)
        fresh = df.filter(F.col("ts") > t1)
        c_fresh = {
            r["event_type"]: r["decayed_count"]
            for r in decayed_counts(fresh, h, as_of=F.lit(t2)).collect()
        }
        import pytest as _pytest

        merged_a = c_t1["a"] * 2 ** (-1.0) + c_fresh["a"]
        full = {
            r["event_type"]: r["decayed_count"]
            for r in decayed_counts(df, h, as_of=F.lit(t2)).collect()
        }
        assert full["a"] == _pytest.approx(merged_a, abs=1e-6)

    def test_partitioning_invariant(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import decayed_counts

        base = datetime.datetime(2024, 1, 1)
        rows = [
            (f"t{i % 3}", base + datetime.timedelta(minutes=i * 7)) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        a = decayed_counts(df, 3_600_000).collect()
        b = decayed_counts(df.repartition(11), 3_600_000).collect()
        key = lambda rs: sorted((r["event_type"], r["decayed_count"]) for r in rs)
        assert key(a) == key(b)

    def test_future_events_clamp_to_fresh_weight(self, spark):
        # ADVICE r9: an as_of OLDER than some events must not grow
        # weights past 1 — Δt is clamped to ≤ 0, so a "future" event
        # counts exactly as fresh.
        import datetime

        from denormalized_spark.operators.analytics import decayed_counts

        base = datetime.datetime(2024, 1, 1)
        rows = [
            ("a", base),                                # at as_of: 1.0
            ("a", base + datetime.timedelta(hours=5)),  # future:   clamps to 1.0
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = decayed_counts(df, 3_600_000, as_of=F.lit(base)).collect()
        assert got[0]["decayed_count"] == 2.0


class TestCusum:
    def _df(self, spark):
        import datetime

        base = datetime.datetime(2024, 3, 1)
        rows = []
        eid = 0
        for h in range(30):
            n_a = 20 if h < 20 else 50  # step shift up at hour 20
            for i in range(n_a):
                rows.append(("a", base + datetime.timedelta(hours=h, seconds=i)))
                eid += 1
            for i in range(20):  # control: exactly constant
                rows.append(("b", base + datetime.timedelta(hours=h, seconds=i)))
        return spark.createDataFrame(rows, "event_type string, ts timestamp")

    def test_shift_alarms_control_does_not(self, spark):
        from denormalized_spark.operators.analytics import cusum_changepoints

        out = cusum_changepoints(self._df(spark), 3600_000, ["event_type"])
        a = sorted(
            out.filter("event_type = 'a'").collect(),
            key=lambda r: r["window_start_time"],
        )
        b = out.filter("event_type = 'b'").collect()
        # constant series: sigma = 0, S = 0, never alarms
        assert all(not r["alarm"] and r["cusum_pos_micro"] == 0 for r in b)
        # the upward shift drives S+ monotonically after hour 20 and
        # the final windows alarm; pre-shift windows do not
        assert not any(r["alarm"] for r in a[:20])
        post = [r["cusum_pos_micro"] for r in a[20:]]
        assert post == sorted(post) and post[-1] > post[0]
        assert a[-1]["alarm"]

    def test_partitioning_invariant(self, spark):
        from denormalized_spark.operators.analytics import cusum_changepoints

        df = self._df(spark)
        key = lambda rs: sorted(
            (r["event_type"], r["window_start_time"], r["cusum_pos_micro"],
             r["cusum_neg_micro"], r["alarm"])
            for r in rs
        )
        a = cusum_changepoints(df, 3600_000, ["event_type"]).collect()
        b = cusum_changepoints(df.repartition(13), 3600_000, ["event_type"]).collect()
        assert key(a) == key(b)


class TestSeasonalResiduals:
    def test_seasonal_profile_and_anomaly(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import seasonal_residuals

        base = datetime.datetime(2024, 3, 4)  # a Monday
        rows = []
        # 5 days: hour 9 always busy (50), other hours quiet (10),
        # except day 4 hour 2: a genuine 4am-style burst (50)
        for d in range(5):
            for h in (2, 9, 15):
                n = 50 if h == 9 or (d == 4 and h == 2) else 10
                for i in range(n):
                    rows.append(
                        ("a", base + datetime.timedelta(days=d, hours=h, seconds=i))
                    )
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        out = seasonal_residuals(df, 3600_000, ["event_type"]).collect()
        by = {(r["window_start_time"].day, r["window_start_time"].hour): r for r in out}
        # the daily hour-9 peak is SEASONAL: residual ~ 0 every day
        for d in range(4, 9):
            assert by[(d, 9)]["residual_micro"] == 0
        # the day-5 hour-2 burst is the top |z| anomaly
        top = max(out, key=lambda r: abs(r["resid_z_milli"]))
        assert (top["window_start_time"].day, top["window_start_time"].hour) == (8, 2)
        assert top["residual_micro"] > 0

    def test_partitioning_invariant(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import seasonal_residuals

        base = datetime.datetime(2024, 3, 4)
        rows = [
            (f"t{i % 2}", base + datetime.timedelta(hours=i % 30, minutes=i % 50))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        key = lambda rs: sorted(map(tuple, rs))
        a = seasonal_residuals(df, 3600_000).collect()
        b = seasonal_residuals(df.repartition(11), 3600_000).collect()
        assert key(a) == key(b)


class TestTopEventPaths:
    def test_paths_counts_and_tiebreak(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import top_event_paths

        base = datetime.datetime(2024, 1, 1, 10, 0, 0)

        def at(mins):
            return base + datetime.timedelta(minutes=mins)

        rows = [
            # user 1, session A: v c v p -> "v>c>v", "c>v>p"
            (1, at(0), 1, "v"), (1, at(1), 2, "c"),
            (1, at(2), 3, "v"), (1, at(3), 4, "p"),
            # user 1, session B (2h later): too short for a trigram
            (1, at(125), 5, "v"), (1, at(126), 6, "c"),
            # user 2: v c v -> "v>c>v" again
            (2, at(0), 7, "v"), (2, at(1), 8, "c"), (2, at(2), 9, "v"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        got = [(r.path, r.cnt) for r in top_event_paths(df, n=3, k=10).collect()]
        # v>c>v twice; then the singletons tie-break by path ascending
        assert got == [("v>c>v", 2), ("c>v>p", 1)]

    def test_one_user_keyed_exchange_before_paths(self, spark):
        from denormalized_spark.operators.analytics import top_event_paths

        df = spark.createDataFrame(
            [(1, None, 1, "v")],
            "user_id long, ts timestamp, event_id long, event_type string",
        ).filter("ts is not null")
        out = top_event_paths(df, n=3, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # sessionize windows + per-session collect all reuse the ONE
        # hashpartitioning(user_id) exchange; the only other exchange
        # is the path-count aggregate
        assert plan.count("Exchange hashpartitioning(user_id") == 1


class TestMadOutliers:
    def test_robust_to_the_outlier_itself(self, spark):
        from denormalized_spark.operators.analytics import mad_outliers

        # 9 values tightly around 10 plus one wild point: med=10, MAD=1;
        # Mz(1000) = 0.6745*990*1000 ≈ 667,755 — flagged; the cluster
        # points score |Mz| <= 675 — clean. A mean/std z would have
        # been dragged to ~3 by the outlier and borderline-missed it.
        rows = [(i, "a", float(v)) for i, v in enumerate(
            [9, 9, 9, 10, 10, 10, 11, 11, 11, 1000]
        )]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        got = mad_outliers(
            df, "value", ["event_type"], threshold_milli=3500,
            id_cols=["event_id"],
        ).collect()
        assert [(r.event_id, r.value) for r in got] == [(9, 1000.0)]
        assert got[0].mz_milli == int(0.6745 * 990 * 1000 + 0.5)

    def test_constant_group_emits_nothing(self, spark):
        from denormalized_spark.operators.analytics import mad_outliers

        df = spark.createDataFrame(
            [(1, "c", 5.0), (2, "c", 5.0), (3, "c", 5.0)],
            "event_id long, event_type string, value double",
        )
        assert mad_outliers(df, "value", ["event_type"]).count() == 0


class TestBenfordDigits:
    def test_perfect_benford_sample_scores_near_zero(self, spark):
        from denormalized_spark.operators.analytics import (
            BENFORD_P,
            benford_digit_test,
        )

        # counts exactly proportional to Benford probabilities (×10000)
        rows = []
        i = 0
        for d, p in zip(range(1, 10), BENFORD_P):
            for _ in range(int(round(p * 10000))):
                rows.append((i, "a", float(d)))  # value d.00 → digit d
                i += 1
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = {r.digit: r for r in benford_digit_test(df, "value", ["event_type"]).collect()}
        assert set(out) == set(range(1, 10))
        # rounding the per-digit targets leaves only a tiny residual
        assert all(r.chi2_milli < 10 for r in out.values())
        assert out[1].n_obs == int(round(BENFORD_P[0] * 10000))

    def test_uniform_digits_fail_the_test(self, spark):
        from denormalized_spark.operators.analytics import benford_digit_test

        rows = [(i, "u", float(1 + i % 9)) for i in range(9000)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        out = benford_digit_test(df, "value", ["event_type"]).collect()
        # χ²(8 df) critical value at 0.001 is 26.12 — uniform digits
        # blow far past it
        assert out[0].chi2_milli > 26_125

    def test_sub_cent_values_excluded(self, spark):
        from denormalized_spark.operators.analytics import benford_digit_test

        df = spark.createDataFrame(
            [(1, "a", 0.005), (2, "a", 3.0)],
            "event_id long, event_type string, value double",
        )
        out = benford_digit_test(df, "value", ["event_type"]).collect()
        assert sum(r.n_obs for r in out) == 1  # only the 3.0 row counts


class TestMultiTouchAttribution:
    def test_u_curve_and_window(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import multi_touch_attribution

        base = datetime.datetime(2024, 1, 1, 12, 0, 0)

        def at(mins):
            return base + datetime.timedelta(minutes=mins)

        touches = spark.createDataFrame(
            # 4 in-window touches + 1 outside the 60-min window
            [(1, at(-90)), (1, at(-50)), (1, at(-30)), (1, at(-20)), (1, at(-10)),
             (2, at(-5))],
            "user_id long, ts timestamp",
        )
        convs = spark.createDataFrame(
            [(100, 1, at(0)), (200, 2, at(0)), (300, 3, at(0))],
            "event_id long, user_id long, ts timestamp",
        )
        out = multi_touch_attribution(
            touches, convs, "user_id", "ts", "ts", "event_id",
            window_ms=3_600_000, bin_width_s=3600,
        ).collect()
        by_conv = {}
        for r in out:
            by_conv.setdefault(r.event_id, []).append(r)
        # conv 100: k=4 -> 4000 / 2000 div 2 / 2000 div 2 / 4000
        c100 = sorted(by_conv[100], key=lambda r: r.position)
        assert [r.credit_bp for r in c100] == [4000, 1000, 1000, 4000]
        assert all(r.n_touches == 4 for r in c100)
        assert sum(r.credit_bp for r in c100) == 10_000
        # conv 200: single touch takes everything
        assert [(r.position, r.credit_bp) for r in by_conv[200]] == [(1, 10_000)]
        # conv 300: user with no touches emits nothing (inner pairing)
        assert 300 not in by_conv

    def test_two_touch_split(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import multi_touch_attribution

        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        touches = spark.createDataFrame(
            [(1, base - datetime.timedelta(minutes=9)),
             (1, base - datetime.timedelta(minutes=3))],
            "user_id long, ts timestamp",
        )
        convs = spark.createDataFrame(
            [(7, 1, base)], "event_id long, user_id long, ts timestamp"
        )
        out = multi_touch_attribution(
            touches, convs, "user_id", "ts", "ts", "event_id",
            window_ms=600_000, bin_width_s=600,
        ).collect()
        assert sorted(r.credit_bp for r in out) == [5000, 5000]

    def test_duplicate_timestamp_tiebreak_by_touch_id(self, spark):
        """r10 ADVICE: two touches at the same instant made the
        first/last 4000 bp assignment nondeterministic; the touch_id
        parameter pins the total order."""
        import datetime

        from denormalized_spark.operators.analytics import multi_touch_attribution

        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        t = base - datetime.timedelta(minutes=5)
        touches = spark.createDataFrame(
            [(1, t, 30), (1, t, 10), (1, t, 20)],
            "user_id long, ts timestamp, touch_id long",
        )
        convs = spark.createDataFrame(
            [(7, 1, base)], "event_id long, user_id long, ts timestamp"
        )
        for _ in range(3):  # stable across plan re-executions
            out = multi_touch_attribution(
                touches.repartition(5), convs, "user_id", "ts", "ts",
                "event_id", window_ms=600_000, bin_width_s=600,
                touch_id="touch_id",
            ).collect()
            by_tid = {r.touch_id: (r.position, r.credit_bp) for r in out}
            assert by_tid == {10: (1, 4000), 20: (2, 2000), 30: (3, 4000)}


class TestGiniConcentration:
    def test_closed_forms(self, spark):
        from denormalized_spark.operators.analytics import gini_concentration

        rows = (
            # perfectly equal group: G = 0
            [(i, "eq", 100) for i in range(5)]
            # maximal concentration among 4: one member owns all
            # G = 2*(4*100)/(4*100) - 5/4 = 0.75
            + [(10, "one", 0), (11, "one", 0), (12, "one", 0), (13, "one", 100)]
        )
        df = spark.createDataFrame(rows, "uid long, g string, cents long")
        got = {r.g: r for r in gini_concentration(df, "cents", ["g"], "uid").collect()}
        assert got["eq"].gini_micro == 0
        assert got["one"].gini_micro == 750_000
        assert got["one"].n == 4 and got["one"].total == 100

    def test_all_zero_group_dropped(self, spark):
        from denormalized_spark.operators.analytics import gini_concentration

        df = spark.createDataFrame(
            [(1, "z", 0), (2, "z", 0)], "uid long, g string, cents long"
        )
        assert gini_concentration(df, "cents", ["g"], "uid").count() == 0


class TestBasketLift:
    def test_lift_and_min_support(self, spark):
        from denormalized_spark.operators.analytics import basket_lift

        # 4 baskets: A+B together twice (out of A:3, B:2 appearances),
        # A+C once (below min support)
        rows = [
            (1, "A"), (1, "B"),
            (2, "A"), (2, "B"),
            (3, "A"), (3, "C"),
            (4, "D"),
        ]
        df = spark.createDataFrame(rows, "b long, item string")
        out = basket_lift(df, "b", "item", min_pair_count=2, k=10).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.item_a, r.item_b, r.n_ab, r.n_a, r.n_b) == ("A", "B", 2, 3, 2)
        # lift = N*n_ab/(n_a*n_b) = 4*2/(3*2) = 1.333333...
        assert r.lift_micro == 1_333_333

    def test_duplicate_lines_count_once(self, spark):
        from denormalized_spark.operators.analytics import basket_lift

        rows = [(1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B")]
        df = spark.createDataFrame(rows, "b long, item string")
        out = basket_lift(df, "b", "item", min_pair_count=2, k=10).collect()
        assert [(r.n_ab, r.n_a, r.n_b) for r in out] == [(2, 2, 2)]


class TestRfmScores:
    def test_closed_form_quintiles(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import rfm_scores

        base = datetime.datetime(2024, 1, 1)
        # 10 entities; entity i has last activity day i, i+1 events,
        # (i+1)*100 cents — all three orderings coincide, so with
        # ntile(5) over 10 rows each pair of adjacent-best entities
        # shares a score; entity 9 is best (score 1) on every axis
        rows = []
        for i in range(10):
            for j in range(i + 1):
                rows.append((i, base + datetime.timedelta(days=i, hours=j), 100))
        df = spark.createDataFrame(rows, "uid long, ts timestamp, cents long")
        from pyspark.sql import functions as F
        out = {r.uid: r for r in rfm_scores(df, "uid", "ts", F.col("cents")).collect()}
        assert out[9].rfm == 111 and out[8].rfm == 111
        assert out[0].rfm == 555 and out[1].rfm == 555
        assert out[5].r_score == out[5].f_score == out[5].m_score == 3

    def test_scale_safe_ntile_matches_plain_ntile(self, spark):
        """The formula + global-rn reproduction is bit-identical to
        ntile() OVER a single-partition sort, including the remainder
        allocation when N mod tiles != 0."""
        import datetime

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from denormalized_spark.operators.analytics import rfm_scores

        base = datetime.datetime(2024, 1, 1)
        rows = [(i, base + datetime.timedelta(minutes=(i * 37) % 1009), 100 + (i * 91) % 503)
                for i in range(1009)]  # prime N -> remainder buckets
        df = spark.createDataFrame(rows, "uid long, ts timestamp, cents long")
        got = rfm_scores(df, "uid", "ts", F.col("cents"))
        s = df.groupBy("uid").agg(
            F.max("ts").alias("last_ts"), F.count("*").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        ref = s.select(
            "uid",
            F.ntile(5).over(Window.orderBy(F.desc("last_ts"), "uid")).alias("r2"),
            F.ntile(5).over(Window.orderBy(F.desc("n_events"), "uid")).alias("f2"),
            F.ntile(5).over(Window.orderBy(F.desc("cents"), "uid")).alias("m2"),
        )
        j = got.join(ref, "uid")
        bad = j.filter(
            (F.col("r_score") != F.col("r2"))
            | (F.col("f_score") != F.col("f2"))
            | (F.col("m_score") != F.col("m2"))
        )
        assert bad.count() == 0


class TestAbTestProportions:
    def test_closed_form_z(self, spark):
        import math

        from denormalized_spark.operators.analytics import ab_test_proportions

        # arm 0: 100 users, 20 convert; arm 1: 100 users, 40 convert
        rows = [(u, u % 2, 1 if (u % 2 == 0 and u < 40) or (u % 2 == 1 and u < 80) else 0)
                for u in range(200)]
        df = spark.createDataFrame(rows, "user_id long, v int, c int")
        out = ab_test_proportions(
            df, "user_id", F.col("v"), F.col("c")
        ).collect()[0]
        assert (out.n_a, out.conv_a, out.n_b, out.conv_b) == (100, 20, 100, 40)
        p, z = 0.3, (0.2 - 0.4) / math.sqrt(0.3 * 0.7 * (1 / 100 + 1 / 100))
        assert out.z_micro == math.floor(z * 1_000_000 + 0.5)
        assert out.significant  # |z| ≈ 3.09 > 1.96

    def test_duplicate_events_collapse_per_unit(self, spark):
        from denormalized_spark.operators.analytics import ab_test_proportions

        # one user generates many events; converted-ever counts once
        rows = [(1, 0, 0), (1, 0, 1), (1, 0, 1), (2, 1, 0)]
        df = spark.createDataFrame(rows, "user_id long, v int, c int")
        out = ab_test_proportions(df, "user_id", F.col("v"), F.col("c")).collect()[0]
        assert (out.n_a, out.conv_a, out.n_b, out.conv_b) == (1, 1, 1, 0)


class TestTwap:
    def test_closed_form_duration_weighting(self, spark):
        import datetime

        from denormalized_spark.operators.analytics import twap

        base = datetime.datetime(2024, 1, 1, 10, 0, 0)
        rows = [
            # 10.00 held for 10s, 20.00 held for 30s, 30.00 ends the day
            (1, "a", base, 10.00),
            (2, "a", base + datetime.timedelta(seconds=10), 20.00),
            (3, "a", base + datetime.timedelta(seconds=40), 30.00),
            # a single-sample group: no interval, drops entirely
            (4, "b", base, 99.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, g string, ts timestamp, value double")
        out = twap(
            df, ["g"], "ts", F.round(F.col("value") * 100).cast("long"),
            "event_id",
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.g, r.n_intervals, r.total_ms) == ("a", 2, 40_000)
        # (1000*10000 + 2000*30000) * 100 div 40000 = 175000 -> 17.50
        assert r.twap_e4 == 175_000


def test_parameter_guards_raise(spark):
    """Boundary guards across the round-10 analytics operators."""
    import pytest

    from denormalized_spark.operators.analytics import (
        basket_lift,
        multi_touch_attribution,
        rfm_scores,
        top_event_paths,
    )

    df = spark.createDataFrame([(1, "a")], "b long, item string")
    ev = spark.createDataFrame(
        [(1, None, 1, "v")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    with pytest.raises(ValueError, match="n and k"):
        top_event_paths(ev, n=0)
    with pytest.raises(ValueError, match="min_pair_count"):
        basket_lift(df, "b", "item", min_pair_count=0)
    with pytest.raises(ValueError, match="n_tiles"):
        rfm_scores(ev, "user_id", "ts", F.lit(1), n_tiles=0)
    with pytest.raises(ValueError, match="window_ms"):
        multi_touch_attribution(
            ev, ev, "user_id", "ts", "ts", "event_id", window_ms=0
        )


class TestAutocorrelation:
    def test_alternating_series_closed_form(self, spark):
        """Perfect period-2 alternation: deviations are ±c, so
        r_ell = (n-ell)/n with sign (-1)^ell — exact on the micro grid."""
        from denormalized_spark.operators.analytics import autocorrelation

        n = 20
        ser = spark.createDataFrame(
            [(i, 100 if i % 2 == 0 else 200) for i in range(n)], "p long, x long"
        )
        got = {r.lag: (r.n_pairs, r.acf_micro)
               for r in autocorrelation(ser, "p", "x", max_lag=3).collect()}
        assert got == {1: (19, -950_000), 2: (18, 900_000), 3: (17, -850_000)}

    def test_constant_series_emits_zero(self, spark):
        from denormalized_spark.operators.analytics import autocorrelation

        ser = spark.createDataFrame([(i, 7) for i in range(10)], "p long, x long")
        rows = autocorrelation(ser, "p", "x", max_lag=2).collect()
        assert [r.acf_micro for r in rows] == [0, 0]

    def test_partitioning_invariant(self, spark):
        from denormalized_spark.operators.analytics import autocorrelation

        ser = spark.createDataFrame(
            [(i, (i * 37) % 101) for i in range(50)], "p long, x long"
        )
        key = lambda df: sorted((r.lag, r.n_pairs, r.acf_micro) for r in df.collect())
        assert key(autocorrelation(ser, "p", "x", 5)) == key(
            autocorrelation(ser.repartition(9), "p", "x", 5)
        )

    def test_rejects_bad_lag(self, spark):
        import pytest

        from denormalized_spark.operators.analytics import autocorrelation

        ser = spark.createDataFrame([(1, 1)], "p long, x long")
        with pytest.raises(ValueError, match="max_lag"):
            autocorrelation(ser, "p", "x", max_lag=0)


class TestKsTwoSample:
    def test_shifted_uniform_closed_form(self, spark):
        """Uniform{0..99} vs the same shifted +50: D = 0.5 exactly,
        attained (first, by the min-value tiebreak) at value 49."""
        from denormalized_spark.operators.analytics import ks_two_sample

        rows = [(float(i % 100), True) for i in range(500)] + [
            (float(i % 100 + 50), False) for i in range(500)
        ]
        df = spark.createDataFrame(rows, "v double, a boolean")
        r = ks_two_sample(df, "v", F.col("a")).collect()[0]
        assert (r.n_a, r.n_b, r.ks_d_micro, r.ks_at_value) == (500, 500, 500_000, 49.0)

    def test_identical_samples_zero(self, spark):
        from denormalized_spark.operators.analytics import ks_two_sample

        # (i // 10) % 2 decouples the split from the value, so both
        # samples hold the identical multiset {0..9} x 10
        rows = [(float(i % 10), (i // 10) % 2 == 0) for i in range(200)]
        df = spark.createDataFrame(rows, "v double, a boolean")
        r = ks_two_sample(df, "v", F.col("a")).collect()[0]
        assert r.ks_d_micro == 0

    def test_partitioning_invariant(self, spark):
        from denormalized_spark.operators.analytics import ks_two_sample

        rows = [(float((i * 37) % 101), i % 3 == 0) for i in range(400)]
        df = spark.createDataFrame(rows, "v double, a boolean")
        key = lambda d: [tuple(r) for r in d.collect()]
        assert key(ks_two_sample(df, "v", F.col("a"))) == key(
            ks_two_sample(df.repartition(11), "v", F.col("a"))
        )


class TestChi2Independence:
    def test_independent_table_is_zero(self, spark):
        from denormalized_spark.operators.analytics import chi2_independence

        rows = [(x, y) for x in ("p", "q") for y in ("r", "s") for _ in range(25)]
        df = spark.createDataFrame(rows, "x string, y string")
        out = chi2_independence(df, "x", "y").collect()
        assert len(out) == 4
        assert all(r.chi2_micro == 0 and r.contrib_micro == 0 and r.dof == 1
                   for r in out)
        assert all(r.expected_milli == 25_000 for r in out)

    def test_perfect_association_closed_form(self, spark):
        """Diagonal 2x2 (50/0/0/50): chi2 = N = 100 exactly."""
        from denormalized_spark.operators.analytics import chi2_independence

        rows = [("a", "x")] * 50 + [("b", "y")] * 50
        df = spark.createDataFrame(rows, "x string, y string")
        out = chi2_independence(df, "x", "y").collect()
        # only the two observed cells appear (zero cells absent from
        # the observed table); each contributes N/2 * ... -> total of
        # the OBSERVED cells is 50 micro-chi2 units: (50*100-50*50)^2
        # /(100*50*50) = 25/2... closed form per cell = 25.0
        assert all(r.contrib_micro == 25_000_000 for r in out)
        assert all(r.chi2_micro == 50_000_000 for r in out)

    def test_partitioning_invariant(self, spark):
        from denormalized_spark.operators.analytics import chi2_independence

        rows = [(f"x{i % 3}", f"y{(i * 7) % 4}") for i in range(300)]
        df = spark.createDataFrame(rows, "x string, y string")
        key = lambda d: sorted(tuple(r) for r in d.collect())
        assert key(chi2_independence(df, "x", "y")) == key(
            chi2_independence(df.repartition(13), "x", "y")
        )


class TestPsiBinned:
    def test_identical_distributions_near_zero(self, spark):
        from denormalized_spark.operators.analytics import psi_binned

        rows = [(float(i % 100), (i // 100) % 2 == 0) for i in range(1000)]
        df = spark.createDataFrame(rows, "v double, r boolean")
        r = psi_binned(df, "v", F.col("r"), 0.0, 100.0, 10).collect()
        assert all(x.psi_term_micro == 0 for x in r)  # identical counts
        assert r[0].psi_micro == 0

    def test_shifted_distribution_alarms(self, spark):
        from denormalized_spark.operators.analytics import psi_binned

        rows = [(float(i % 50), True) for i in range(500)] + [
            (float(i % 50 + 50), False) for i in range(500)
        ]
        df = spark.createDataFrame(rows, "v double, r boolean")
        r = psi_binned(df, "v", F.col("r"), 0.0, 100.0, 10).collect()
        assert len(r) == 10  # empty bins emitted
        assert r[0].psi_micro > 250_000  # way past the 0.25 alarm

    def test_out_of_range_clamps_and_grid_complete(self, spark):
        from denormalized_spark.operators.analytics import psi_binned

        rows = [(-5.0, True), (500.0, True), (5.0, False)]
        df = spark.createDataFrame(rows, "v double, r boolean")
        got = {x.bin: (x.n_ref, x.n_cur)
               for x in psi_binned(df, "v", F.col("r"), 0.0, 100.0, 5).collect()}
        assert got[0] == (1, 1) and got[4] == (1, 0)
        assert set(got) == {0, 1, 2, 3, 4}

    def test_rejects_bad_params(self, spark):
        import pytest

        from denormalized_spark.operators.analytics import psi_binned

        df = spark.createDataFrame([(1.0, True)], "v double, r boolean")
        with pytest.raises(ValueError, match="bins"):
            psi_binned(df, "v", F.col("r"), 0.0, 1.0, 1)
        with pytest.raises(ValueError, match="hi > lo"):
            psi_binned(df, "v", F.col("r"), 1.0, 1.0, 4)


# ---------------------------------------------------------------------------
# Mann-Kendall / Kaplan-Meier / EWMA control (r11)
# ---------------------------------------------------------------------------


def test_mann_kendall_monotone_and_constant(spark):
    """A strictly increasing series has S = T(T-1)/2, an 'increasing'
    verdict, and Sen's slope equal to the exact step; a constant
    series is all ties (var18 = 0) and must report z = 0 / 'none'."""
    rows = [("up", i, 10 * i) for i in range(1, 11)] + [
        ("flat", i, 7) for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "g string, t int, v long")
    got = {
        r.g: r for r in analytics.mann_kendall(df, "g", "t", "v").collect()
    }
    up = got["up"]
    assert up.s_stat == 45  # 10*9/2
    assert up.trend == "increasing"
    assert up.sen_slope_micro == 10_000_000  # slope exactly 10/period
    flat = got["flat"]
    assert flat.s_stat == 0 and flat.var18 == 0
    assert flat.z_micro == 0 and flat.trend == "none"


def test_kaplan_meier_hand_example(spark):
    """Classic textbook curve: events at t=1 (1 of 5) and t=3 (2 of
    3), censoring at t=2 and t=4 — S(1)=0.8, S(2)=0.8 (censoring
    alone never drops the curve), S(3)=0.8*(1/3), S(4) unchanged."""
    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0)], "dur long, ev int"
    )
    got = {
        r.t: r for r in analytics.kaplan_meier(df, "dur", "ev").collect()
    }
    assert got[1].n_risk == 5 and got[1].n_events == 1
    assert got[1].survival_micro == 800000
    assert got[2].n_censored == 1 and got[2].survival_micro == 800000
    assert got[3].n_risk == 3 and got[3].n_events == 2
    assert got[3].survival_micro == 266667  # 0.8/3 micro-floored
    assert got[4].n_risk == 1 and got[4].survival_micro == 266667


def test_ewma_control_constant_and_step(spark):
    """A constant series never breaches (EWMA sits on the mean, limit
    positive is vacuous at sigma=0 -> limit 0 and dev ~0); a step
    change breaches after the shift once the pooled statistic crosses
    the finite-t limit."""
    const = [("c", i, 100) for i in range(1, 21)]
    step = [("s", i, 100) for i in range(1, 11)] + [
        ("s", i, 200) for i in range(11, 21)
    ]
    df = spark.createDataFrame(const + step, "g string, t int, v long")
    out = analytics.ewma_control(
        df, "g", "t", "v", baseline=F.col("t") <= 10
    ).collect()
    c_rows = sorted((r for r in out if r.g == "c"), key=lambda r: r.t)
    assert len(c_rows) == 20
    for r in c_rows:
        # quantized EWMA of a constant stays within rounding of x*1e6
        assert abs(r.ewma_micro - 100_000_000) < 100 * 66  # <=1 micro/term
        assert not r.breach
    s_rows = sorted((r for r in out if r.g == "s"), key=lambda r: r.t)
    assert any(r.breach for r in s_rows if r.t > 10)
    assert not any(r.breach for r in s_rows if r.t <= 10)


def test_seasonal_naive_mase_perfect_and_noisy(spark):
    """A perfectly weekly-periodic series has zero test error -> MASE
    0 (or -1 sentinel when train error is also 0); breaking the test
    week pushes MASE above 1000 milli."""
    periodic = [("p", i, 100 + (i % 7) * 10) for i in range(1, 29)]
    broken = [("b", i, 100 + (i % 7) * 10) for i in range(1, 22)] + [
        ("b", i, 500) for i in range(22, 29)
    ]
    df = spark.createDataFrame(periodic + broken, "g string, t int, v long")
    got = {
        r.g: r
        for r in analytics.seasonal_naive_mase(df, "g", "t", "v").collect()
    }
    # periodic: both train and test seasonal error are 0 -> sentinel
    assert got["p"].sae_test == 0 and got["p"].mase_milli == -1
    assert got["b"].sae_test > 0
    assert got["b"].mase_milli > 1000 or got["b"].mase_milli == -1


def test_score_gains_separation_and_totals(spark):
    """A score that perfectly ranks positives first captures all
    positives in the top bins (cum_gain hits 1000 early); bin sizes
    follow SQL ntile (first N mod k bins get the extra row)."""
    rows = [(i, 1000 - i, 1 if i <= 20 else 0) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, s long, y long")
    got = sorted(
        analytics.score_gains(df, "s", "y", "id", n_bins=10).collect(),
        key=lambda r: r.bin,
    )
    assert [r.n for r in got] == [10] * 10
    assert got[0].pos == 10 and got[1].pos == 10
    assert got[1].cum_gain_milli == 1000       # all positives by bin 2
    assert got[0].lift_milli == 5000           # 100% vs 20% base rate
    assert sum(r.pos for r in got) == 20


def test_cross_correlation_shifted_copy_peaks_at_lag(spark):
    """y_t = x_{t-2}: then y_{t+2} = x_t, so the CCF peaks at lag +2
    under the r_l = corr(x_t, y_{t+l}) convention — a POSITIVE peak
    lag reads "y lags x" (x leads). Edge truncation and full-series
    denominators keep the peak below 1."""
    import random

    xs = [((i * 37) % 19) + ((i * 11) % 7) for i in range(40)]
    rows = [(i, xs[i], xs[i - 2] if i >= 2 else 0) for i in range(2, 40)]
    df = spark.createDataFrame(rows, "t int, x long, y long")
    got = {r.lag: r.ccf_micro for r in analytics.cross_correlation(
        df, "t", "x", "y", max_lag=3).collect()}
    assert got[2] == max(got.values())
    assert got[2] > 800_000


def test_changepoint_effect_hand_shift(spark):
    """A clean level shift at t=11 (100 -> 200, sd 0 within sides
    except one wiggle to keep variance positive) yields shift_micro
    ~ +100e6 and a large positive Cohen's d; a group with <2 periods
    on a side is flagged undefined."""
    rows = (
        [("s", i, 100) for i in range(1, 11)]
        + [("s", 11, 101)]
        + [("s", i, 200) for i in range(12, 21)]
        + [("t", i, 50) for i in range(1, 4)]
    )
    series = spark.createDataFrame(rows, "g string, t int, v long")
    splits = spark.createDataFrame([("s", 12), ("t", 3)], "g string, split_order int")
    got = {
        r.g: r
        for r in analytics.changepoint_effect(series, splits, "g", "t", "v").collect()
    }
    s_ = got["s"]
    assert s_.n_before == 11 and s_.n_after == 9
    assert abs(s_.shift_micro - 99_909_091) < 10  # 200 - mean(100x10,101)
    assert s_.cohens_d_milli > 5000 and s_.effect_defined
    t_ = got["t"]
    assert not t_.effect_defined and t_.cohens_d_milli == 0


def test_eb_shrunk_rates_pulls_small_samples_to_prior(spark):
    """A 2/2 key must NOT outrank a 480/1000 key after shrinkage
    (the motivating example), small-n keys move furthest toward the
    prior mean, and a single-key population emits raw rates
    unshrunk."""
    # a CLUSTERED rate population (many keys near 30%) -> small
    # variance -> strong prior; one lucky 2/2 key and one solid
    # 480/1000 key
    rows = [("tiny", 1)] * 2 + [("big", 1)] * 480 + [("big", 0)] * 520
    for i in range(10):
        p_i = 25 + i  # 25%..34%
        rows += [(f"k{i}", 1)] * p_i + [(f"k{i}", 0)] * (100 - p_i)
    df = spark.createDataFrame(rows, "k string, s int")
    got = {
        r.key: r
        for r in analytics.eb_shrunk_rates(df, "k", F.col("s") == 1).collect()
    }
    assert got["tiny"].raw_rate_micro == 1_000_000
    assert all(r.shrunk for r in got.values())
    # prior mean sits inside the population; every key moves TOWARD it
    a, b = got["big"].alpha_micro, got["big"].beta_micro
    prior_mean = a * 1_000_000 // (a + b)
    for r in got.values():
        if r.raw_rate_micro > prior_mean:
            assert prior_mean <= r.shrunk_rate_micro <= r.raw_rate_micro, r
        else:
            assert r.raw_rate_micro <= r.shrunk_rate_micro <= prior_mean, r
    # the 2-observation key moves far; the 1000-observation key barely
    assert got["tiny"].raw_rate_micro - got["tiny"].shrunk_rate_micro > 300_000
    assert abs(got["big"].raw_rate_micro - got["big"].shrunk_rate_micro) < 5_000
    one = spark.createDataFrame([("only", 1), ("only", 0)], "k string, s int")
    r1 = analytics.eb_shrunk_rates(one, "k", F.col("s") == 1).collect()[0]
    assert not r1.shrunk and r1.shrunk_rate_micro == r1.raw_rate_micro


class TestHoltLinear:
    def _mirror(self, xs):
        """Exact integer dot product against the micro weight table —
        the same arithmetic both engines run."""
        from denormalized_spark.operators.analytics import holt_weight_table

        wt = {k: (wl, wb, ul, ub) for k, wl, wb, ul, ub in holt_weight_table()}
        out = []
        for t_i in range(1, len(xs) + 1):
            lvl = trend = 0
            for i in range(1, t_i + 1):
                k = t_i - i
                if k not in wt:
                    continue
                wl, wb, ul, ub = wt[k]
                lvl += xs[i - 1] * (ul if i == 1 else wl)
                trend += xs[i - 1] * (ub if i == 1 else wb)
            out.append((lvl, trend))
        return out

    def test_constant_series_flat_trend(self, spark):
        from denormalized_spark.operators.analytics import holt_linear

        xs = [10] * 8
        rows = [("a", i + 1, x) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "g string, o int, x long")
        got = {
            r.o: (r.level_micro, r.trend_micro, r.forecast_next_micro)
            for r in holt_linear(df, "g", "o", "x").collect()
        }
        exp = self._mirror(xs)
        for i, (lvl, b) in enumerate(exp):
            assert got[i + 1] == (lvl, b, lvl + b)
        # level tracks the constant to quantization; trend ~ 0. Each
        # weight literal is <= 0.5 micro off, so the exact bound is
        # sum|x|/2 micro.
        slack = sum(abs(x) for x in xs) // 2 + 1
        assert abs(got[8][0] - 10_000_000) <= slack
        assert abs(got[8][1]) <= slack

    def test_linear_ramp_learns_slope(self, spark):
        from denormalized_spark.operators.analytics import holt_linear

        xs = [100 + 7 * i for i in range(30)]
        rows = [("a", i + 1, x) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "g string, o int, x long")
        last = (
            holt_linear(df, "g", "o", "x")
            .filter(F.col("o") == 30)
            .collect()[0]
        )
        exp = self._mirror(xs)[-1]
        assert (last.level_micro, last.trend_micro) == exp
        # trend converges toward the true slope 7 (micro units)
        assert abs(last.trend_micro - 7_000_000) < 500_000
        # one-step forecast ~ next ramp value 100 + 7*30
        assert abs(last.forecast_next_micro - 310_000_000) < 2_000_000


class TestCalibration:
    ROWS = [
        # (score_milli, label): bin 0 gets 3 rows 1 pos; bin 9 gets 2 rows 2 pos
        (50, 0), (80, 1), (20, 0),
        (950, 1), (1000, 1),
        (550, 0), (520, 1),
    ]

    def test_bins_exact(self, spark):
        from denormalized_spark.operators.analytics import calibration_bins

        df = spark.createDataFrame(self.ROWS, "s long, y long")
        got = {r.bin: r for r in calibration_bins(df, "s", "y").collect()}
        assert set(got) == {0, 5, 9}
        b0 = got[0]
        # n=3 pos=1 ssum=150 -> conf=50, acc=333, gap=|1000-150|*1000/3
        assert (b0.n, b0.pos, b0.conf_milli, b0.acc_milli) == (3, 1, 50, 333)
        assert b0.gap_micro == round(850 * 1000 / 3)
        b9 = got[9]
        assert (b9.n, b9.pos, b9.conf_milli, b9.acc_milli) == (2, 2, 975, 1000)
        assert b9.gap_micro == round(abs(2000 - 1950) * 1000 / 2)

    def test_summary_telescopes(self, spark):
        from denormalized_spark.operators.analytics import calibration_summary

        df = spark.createDataFrame(self.ROWS, "s long, y long")
        r = calibration_summary(df, "s", "y").collect()[0]
        assert (r.n, r.pos) == (7, 4)
        assert r.base_rate_milli == round(4000 / 7)
        # per-bin |1000*pos - ssum|: bin0 |1000-150|=850, bin5 |1000-1070|=70,
        # bin9 |2000-1950|=50 -> ece = (850+70+50)*1000/7
        assert r.ece_micro == round(970 * 1000 / 7)
        assert r.mce_micro == round(850 * 1000 / 3)
        sq = sum((s - 1000 * y) ** 2 for s, y in self.ROWS)
        assert r.brier_micro == round(sq / 7)

    def test_apply_broadcasts_map(self, spark):
        from denormalized_spark.operators.analytics import calibration_apply

        df = spark.createDataFrame(self.ROWS, "s long, y long")
        out = calibration_apply(df, "s", "y").collect()
        by_bin = {}
        for r in out:
            by_bin.setdefault(r.bin, set()).add(r.calibrated_milli)
        # every row in a bin maps to the bin's single accuracy value
        assert by_bin[0] == {333} and by_bin[9] == {1000} and by_bin[5] == {500}


class TestPoissonBootstrap:
    def test_constant_series_degenerate_ci(self, spark):
        """Constant values: every replicate mean equals the constant
        exactly (weights scale numerator and denominator identically),
        so the CI collapses to the point estimate."""
        from denormalized_spark.operators.analytics import poisson_bootstrap_ci

        df = spark.createDataFrame(
            [(i, 70) for i in range(100)], "id long, v long"
        )
        r = poisson_bootstrap_ci(df, "v", "id").collect()[0]
        assert (r.n, r.mean_milli) == (100, 70_000)
        assert r.boot_lo_milli == r.boot_hi_milli == 70_000

    @pytest.mark.slow  # stress tier: 32-replicate wide agg; fast cover = the other bootstrap tests
    def test_ci_brackets_mean_and_is_deterministic(self, spark):
        from denormalized_spark.operators.analytics import poisson_bootstrap_ci

        df = spark.createDataFrame(
            [(i, (i * 37) % 200) for i in range(500)], "id long, v long"
        )
        r1 = poisson_bootstrap_ci(df, "v", "id").collect()[0]
        r2 = poisson_bootstrap_ci(df, "v", "id").collect()[0]
        assert r1 == r2  # md5 weights: rerun- and partition-stable
        assert r1.boot_lo_milli <= r1.mean_milli <= r1.boot_hi_milli
        assert r1.boot_lo_milli < r1.boot_hi_milli

    def test_weights_match_python_mirror(self, spark):
        """Spot-check the inverse-CDF weight draw against hashlib."""
        import hashlib

        from denormalized_spark.operators.analytics import (
            poisson_bootstrap_ci,
            poisson_cdf_literals,
        )

        cum = poisson_cdf_literals()
        rows = [(i, 10 + i) for i in range(50)]

        def w(b, i):
            u = int(hashlib.md5(f"boot:{b}:{i}".encode()).hexdigest()[:8], 16) / 2**32
            for k, c in enumerate(cum):
                if u < c:
                    return k
            return len(cum)

        means = []
        for b in range(32):
            swx = sum(w(b, i) * v for i, v in rows)
            sw = sum(w(b, i) for i, v in rows)
            means.append(int((swx * 1000) / sw + 0.5))
        means.sort()
        df = spark.createDataFrame(rows, "id long, v long")
        r = poisson_bootstrap_ci(df, "v", "id").collect()[0]
        assert r.boot_lo_milli == means[1]
        assert r.boot_hi_milli == means[30]

    def test_empty_replicate_pins_to_point_mean(self, spark):
        """ADVICE_r12: a replicate whose Poisson weights are ALL zero
        (near-certain somewhere in 32 replicates of a 1-row input,
        P(w=0) ≈ 1/e each) must pin to the point mean instead of
        0/0 → Inf. With one row of value v every replicate mean is
        either exactly v·1000 (w > 0) or the fallback v·1000 — so
        the CI must collapse to the point mean."""
        from denormalized_spark.operators.analytics import (
            poisson_bootstrap_ci,
        )

        df = spark.createDataFrame([(1, 7)], "id long, v long")
        r = poisson_bootstrap_ci(df, "v", "id").collect()[0]
        assert r.mean_milli == 7000
        assert r.boot_lo_milli == 7000
        assert r.boot_hi_milli == 7000


class TestStreaksAndSprt:
    def test_streaks_hand_islands(self, spark):
        import datetime as dt

        from denormalized_spark.operators.analytics import activity_streaks

        d0 = dt.datetime(2024, 1, 1)
        days = [0, 1, 2, 4, 9, 10]
        rows = [(i, d0 + dt.timedelta(days=d), 7) for i, d in enumerate(days)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        r = activity_streaks(df).collect()[0]
        assert (r.n_active_days, r.n_streaks, r.longest_streak) == (6, 3, 3)
        assert r.longest_streak_end == dt.date(2024, 1, 3)
        # duplicate events in a day don't inflate the streak
        df2 = df.union(df)
        r2 = activity_streaks(df2).collect()[0]
        assert (r2.n_active_days, r2.longest_streak) == (6, 3)

    def test_sprt_crosses_upper_on_pure_successes(self, spark):
        import datetime as dt

        from denormalized_spark.operators.analytics import (
            sprt_literals,
            sprt_monitor,
        )

        a, b, hi, lo = sprt_literals(0.18, 0.22)
        d0 = dt.datetime(2024, 1, 1)
        # 20 successes/day: LLR grows by 20a/day; crosses hi on day
        # ceil(hi / (20a))
        rows = []
        eid = 0
        for day in range(10):
            for k in range(20):
                rows.append((eid, d0 + dt.timedelta(days=day, minutes=k), "purchase"))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
        out = sprt_monitor(df, F.col("event_type") == "purchase").orderBy("day").collect()
        first_h1 = next(r for r in out if r.decision == "accept_h1")
        import math
        expected_day = math.ceil(hi / (20 * a))
        assert out.index(first_h1) + 1 == expected_day
        assert first_h1.llr_micro == 20 * a * expected_day


def test_nelson_aalen_hand_curve(spark):
    """5 subjects: events at t=1 (d=1, n=5), t=2 (d=2, n=4), censor
    at t=3 (n=2), event t=4 (d=1, n=1): H = 1/5, +2/4, +0, +1/1."""
    from denormalized_spark.operators.analytics import nelson_aalen

    rows = [(1, 1), (2, 1), (2, 1), (3, 0), (4, 1)]
    df = spark.createDataFrame(rows, "dur long, ev long")
    got = {r.t: r for r in nelson_aalen(df, "dur", "ev").collect()}
    assert got[1].hazard_micro == 200_000
    assert got[2].hazard_micro == 700_000
    assert got[3].hazard_micro == 700_000  # censoring adds nothing
    assert got[4].hazard_micro == 1_700_000
    assert (got[1].n_risk, got[2].n_risk, got[3].n_risk, got[4].n_risk) == (5, 4, 2, 1)
    # variance terms: 1/25, 2/16, 0, 1/1 in micro^2 (1e-12) steps
    assert got[4].hazard_var_micro2 == (
        40_000_000_000 + 125_000_000_000 + 0 + 1_000_000_000_000
    )


def test_diff_in_diff_hand_2x2(spark):
    """T: 10→18 (+8); C: 5→9 (+4) -> DiD = +4 (in milli: 4000)."""
    from denormalized_spark.operators.analytics import diff_in_diff

    rows = (
        [(1, 0, 10), (1, 0, 10), (1, 1, 18), (1, 1, 18)]
        + [(0, 0, 5), (0, 1, 9)]
    )
    df = spark.createDataFrame(rows, "t int, p int, v long")
    r = diff_in_diff(df, F.col("t") == 1, F.col("p") == 1, "v").collect()[0]
    assert (r.mean_tpre_milli, r.mean_tpost_milli) == (10_000, 18_000)
    assert (r.mean_cpre_milli, r.mean_cpost_milli) == (5_000, 9_000)
    assert r.did_milli == 4_000
    assert (r.n_tpre, r.n_tpost, r.n_cpre, r.n_cpost) == (2, 2, 1, 1)


def test_abc_classification_hand_cuts(spark):
    """Values 80, 15, 4, 1 (total 100): cum 80/95/99/100 -> A,B,C,C."""
    from denormalized_spark.operators.analytics import abc_classification

    rows = [(1, 80), (2, 15), (3, 4), (4, 1)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.key: (r.cum_value, r.abc_class)
           for r in abc_classification(df, "k", "v").collect()}
    assert got == {1: (80, "A"), 2: (95, "B"), 3: (99, "C"), 4: (100, "C")}


def test_power_analysis_formula_mirror(spark):
    """p=0.2 exactly: n = ceil(2*2.801585^2*0.2*0.8/0.0004)."""
    import math

    from denormalized_spark.operators.analytics import (
        power_analysis_proportions,
    )

    import datetime as dt
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(10):
        for k in range(10):
            rows.append((len(rows), d0 + dt.timedelta(days=day, minutes=k),
                         "purchase" if k < 2 else "view"))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = power_analysis_proportions(df, F.col("event_type") == "purchase").collect()[0]
    assert (r.n_events, r.n_days, r.p_base_milli) == (100, 10, 200)
    z = 2.801585
    exp_n = math.ceil(2 * z * z * 0.2 * 0.8 / (0.02 * 0.02))
    assert r.n_required_per_arm == exp_n
    assert r.days_required_both_arms == math.ceil(exp_n * 2 / 10.0)


def test_cohort_ltv_hand_triangle(spark):
    """Cohort of 2 users starting week 0 (rev 100+50), one returns
    week 1 (rev 30): cum 150 -> 180; LTV/user 75000 -> 90000 milli."""
    import datetime as dt

    from denormalized_spark.operators.analytics import cohort_ltv

    d0 = dt.datetime(2024, 3, 4)  # a Monday
    rows = [
        (1, d0, 1, 100), (2, d0 + dt.timedelta(days=1), 2, 50),
        (3, d0 + dt.timedelta(days=8), 2, 30),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, cents long")
    got = {(str(r.cohort), r.offset): r
           for r in cohort_ltv(df, value_col="cents").collect()}
    c = str(dt.date(2024, 3, 4))
    assert got[(c, 0)].revenue_cents == 150
    assert got[(c, 0)].ltv_per_user_milli == 75_000
    assert got[(c, 1)].n_active == 1
    assert got[(c, 1)].cum_revenue_cents == 180
    assert got[(c, 1)].ltv_per_user_milli == 90_000


class TestIpwAndSeasonalStrength:
    def test_ipw_ate_hand_computed(self, spark):
        """One confounded stratum fixture: stratum A is 75% treated
        with high outcomes, B 25% treated with low outcomes — the
        stratified IPW terms match the hand calculation, and the ALL
        row is the exact sum of the floored terms."""
        from denormalized_spark.operators.analytics import ipw_ate_stratified

        rows = (
            [("A", 1, 10), ("A", 1, 12), ("A", 1, 14), ("A", 0, 8)]
            + [("B", 1, 4), ("B", 0, 2), ("B", 0, 2), ("B", 0, 4)]
        )
        df = spark.createDataFrame(rows, "s string, t int, y long")
        out = {r.stratum: r for r in ipw_ate_stratified(df, "t", "y", "s").collect()}
        import math

        n = 8
        # A: n=4, nt=3, sy_t=36, sy_c=8 -> (36*4/3 - 8*4/1)/8 = (48-32)/8 = 2.0
        t_a = math.floor((36 * 4 / 3 - 8 * 4 / 1) / n * 1000 + 0.5)
        # B: n=4, nt=1, sy_t=4, sy_c=8 -> (16 - 8*4/3)/8
        t_b = math.floor((4 * 4 / 1 - 8 * 4 / 3) / n * 1000 + 0.5)
        assert out["A"].ate_term_milli == t_a == 2000
        assert out["B"].ate_term_milli == t_b
        assert out["ALL"].ate_term_milli == t_a + t_b
        assert out["A"].propensity_milli == 750
        assert out["ALL"].n == 8 and out["ALL"].n_treat == 4

    def test_ipw_one_armed_stratum_contributes_zero(self, spark):
        from denormalized_spark.operators.analytics import ipw_ate_stratified

        df = spark.createDataFrame(
            [("A", 1, 5), ("A", 1, 7), ("B", 1, 3), ("B", 0, 1)],
            "s string, t int, y long",
        )
        out = {r.stratum: r for r in ipw_ate_stratified(df, "t", "y", "s").collect()}
        assert out["A"].ate_term_milli == 0  # no control arm -> positivity guard

    def test_seasonal_strength_bounds(self, spark):
        """A perfectly periodic hourly series has strength 1000; a
        constant series is degenerate (VarX = 0 -> pinned 0)."""
        import datetime

        from denormalized_spark.operators.analytics import seasonal_strength

        base = datetime.datetime(2024, 1, 1)
        rows = []
        # periodic: hour h of every day gets h+1 events (exact hod means)
        for day in range(4):
            for h in range(0, 24, 6):
                for i in range(h + 1):
                    rows.append(("p", base + datetime.timedelta(days=day, hours=h, minutes=i % 50)))
        # constant: every occupied hour gets exactly 2 events
        for day in range(4):
            for h in range(0, 24, 6):
                for i in range(2):
                    rows.append(("c", base + datetime.timedelta(days=day, hours=h, minutes=i)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        out = {r.event_type: r for r in seasonal_strength(df).collect()}
        assert out["p"].strength_milli == 1000  # residuals identically 0
        assert out["c"].strength_milli == 0     # VarX = 0 -> pinned


class TestTheilAndAssortativity:
    def test_theil_zero_at_equality_and_positive_when_skewed(self, spark):
        import math

        from denormalized_spark.operators.analytics import theil_index

        df = spark.createDataFrame(
            [("eq", 5), ("eq", 5), ("eq", 5), ("sk", 1), ("sk", 1), ("sk", 8)],
            "g string, x long",
        )
        out = {r.grp: r for r in theil_index(df, "g", "x").collect()}
        assert out["eq"].theil_micro == 0
        # hand: T = sum(x ln x)/sx + ln n - ln sx with per-row micro floors
        sxlnx = sum(math.floor(x * math.log(x) * 1e6 + 0.5) for x in (1, 1, 8))
        want = math.floor(
            (sxlnx / 1e6 / 10 + math.log(3) - math.log(10)) * 1e6 + 0.5
        )
        assert out["sk"].theil_micro == want > 0

    def test_theil_excludes_nonpositive(self, spark):
        from denormalized_spark.operators.analytics import theil_index

        df = spark.createDataFrame(
            [("g", 0), ("g", -3), ("g", 4), ("g", 4)], "g string, x long"
        )
        r = theil_index(df, "g", "x").collect()[0]
        assert (r.n, r.n_excluded) == (2, 2)
        assert r.theil_micro == 0  # the two kept values are equal

    def test_assortativity_signs(self, spark):
        """A star graph is maximally disassortative (r = −1); adding
        the full triangle among leaves of K4 makes it regular
        (variance 0 → pinned 0)."""
        from denormalized_spark.operators.graph import degree_assortativity

        star = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "u long, v long"
        )
        r = degree_assortativity(star).collect()[0]
        assert r.assortativity_micro == -1_000_000
        assert (r.n_nodes, r.n_edges) == (4, 3)
        k4 = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], "u long, v long"
        )
        r4 = degree_assortativity(k4).collect()[0]
        assert r4.assortativity_micro == 0  # regular graph, den = 0 -> pinned


class TestMarkovAndHHI:
    def test_markov_stationary_two_state_chain(self, spark):
        """A deterministic A<->B alternator has stationary (1/2, 1/2);
        the quantized power iteration lands exactly on 500000 each."""
        import datetime

        from denormalized_spark.operators.analytics import markov_stationary

        base = datetime.datetime(2024, 1, 1)
        rows = []
        for u in range(3):
            for i in range(20):
                rows.append(
                    (u, i, base + datetime.timedelta(minutes=i), "A" if i % 2 == 0 else "B")
                )
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, event_type string"
        )
        out = {r.state: r for r in markov_stationary(df).collect()}
        assert out["A"].pi_micro == 500_000 and out["B"].pi_micro == 500_000
        assert out["A"].p_self_micro == 0  # strict alternation

    def test_hhi_monopoly_and_uniform(self, spark):
        from denormalized_spark.operators.analytics import hhi_concentration

        rows = [("mono", 1, 100)] + [("unif", i, 25) for i in range(4)]
        df = spark.createDataFrame(rows, "g string, m long, x long")
        out = {r.grp: r for r in hhi_concentration(df, "g", "m", "x").collect()}
        assert out["mono"].hhi_micro == 1_000_000
        assert out["unif"].hhi_micro == 250_000  # 4 * (1/4)^2


def test_qini_uplift_hand_computed(spark):
    """Two buckets, uplift concentrated in the top bucket: Qini values
    match the cumulative formula by hand; empty-control edge pins to
    treated conversions."""
    import math

    from denormalized_spark.operators.analytics import qini_uplift

    rows = (
        # top bucket (score >= .5): 3 treated (2 convert), 2 ctrl (0)
        [(0.9, 1, 1), (0.8, 1, 1), (0.7, 1, 0), (0.9, 0, 0), (0.6, 0, 0)]
        # bottom: 2 treated (1), 2 ctrl (1)
        + [(0.3, 1, 1), (0.2, 1, 0), (0.4, 0, 1), (0.1, 0, 0)]
    )
    df = spark.createDataFrame(rows, "score double, t int, y int")
    out = {r.bucket: r for r in qini_uplift(df, "score", "t", "y", 2).collect()}
    # bucket 0: cum ct=2, cc=0, nt=3, nc=2 -> 2 - 0*3/2 = 2.0
    assert out[0].qini_milli == 2000
    # bucket 1: cum ct=3, cc=1, nt=5, nc=4 -> 3 - 1*5/4 = 1.75
    assert out[1].qini_milli == math.floor(1.75 * 1000 + 0.5)


def test_markov_entropy_rate_deterministic_and_uniform(spark):
    import datetime
    import math

    from denormalized_spark.operators.analytics import markov_entropy_rate

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 0: strict alternation A,B,A,B -> both conditionals 0
    for i in range(20):
        rows.append((0, i, base + datetime.timedelta(minutes=i),
                     "A" if i % 2 == 0 else "B"))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r.state: r for r in markov_entropy_rate(df).collect()}
    assert out["A"].h_cond_micro == 0 and out["B"].h_cond_micro == 0
    assert out["RATE"].h_cond_micro == 0
    # uniform 2-state chain: A->A/B and B->A/B equally -> H = ln 2
    rows2 = []
    seq = ["A", "A", "B", "B"] * 10  # transitions: A->A,A->B,B->B,B->A equally
    for i, s in enumerate(seq):
        rows2.append((0, i, base + datetime.timedelta(minutes=i), s))
    df2 = spark.createDataFrame(
        rows2, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out2 = {r.state: r for r in markov_entropy_rate(df2).collect()}
    ln2_micro_terms = 2 * math.floor(-0.5 * math.log(0.5) * 1e6 + 0.5)
    # boundary effects make counts near-equal, not exact — allow 2% slack
    assert abs(out2["RATE"].h_cond_micro - ln2_micro_terms) < 0.02 * ln2_micro_terms


@pytest.mark.parametrize("op", ["markov_stationary", "markov_entropy_rate"])
def test_markov_collect_bound_guard(spark, monkeypatch, op):
    """The build-time collect of transition cells is bounded: a chain
    with more cells than MARKOV_MAX_CELLS raises ValueError instead of
    pulling |types|² rows to the driver; exactly at the bound it runs."""
    import datetime

    from denormalized_spark.operators import analytics

    base = datetime.datetime(2024, 1, 1)
    seq = ["A", "A", "B", "B", "A"]  # cells A->A, A->B, B->B, B->A
    df = spark.createDataFrame(
        [(0, i, base + datetime.timedelta(minutes=i), s) for i, s in enumerate(seq)],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    monkeypatch.setattr(analytics, "MARKOV_MAX_CELLS", 3)
    with pytest.raises(ValueError, match="more than 3 rows"):
        getattr(analytics, op)(df)
    monkeypatch.setattr(analytics, "MARKOV_MAX_CELLS", 4)
    assert {"A", "B"} <= {r.state for r in getattr(analytics, op)(df).collect()}


def test_qini_uplift_clamps_out_of_range_scores(spark):
    """Uncalibrated scores outside [0,1] land in the edge buckets
    instead of minting negative bucket ids (r13 advisor edge)."""
    from denormalized_spark.operators.analytics import qini_uplift

    rows = [(1.5, 1, 1), (-0.3, 0, 0), (0.5, 1, 0), (0.5, 0, 1)]
    df = spark.createDataFrame(rows, "score double, t int, y int")
    out = qini_uplift(df, "score", "t", "y", 2).collect()
    assert all(0 <= r.bucket <= 1 for r in out)
    # score 1.5 -> bucket 0 (top); score -0.3 -> bucket 1 (bottom)
    by_bucket = {r.bucket: r for r in out}
    assert by_bucket[0].n_treat == 1 and by_bucket[0].conv_treat == 1
    assert by_bucket[1].n_ctrl == 2


def test_ipw_ate_integer_stratum_column(spark):
    """A non-string stratum column unions cleanly with the 'ALL'
    rollup row (r13 advisor edge): output stratum is string."""
    from denormalized_spark.operators.analytics import ipw_ate_stratified

    rows = [(1, 1, 100), (1, 0, 50), (2, 1, 200), (2, 0, 100)]
    df = spark.createDataFrame(rows, "grp int, t int, cents long")
    out = {r.stratum: r for r in ipw_ate_stratified(df, "t", "cents", "grp").collect()}
    assert set(out) == {"1", "2", "ALL"}
    # stratum 1: (100*2/1 - 50*2/1)/4 = 25.0 -> 25000 milli
    assert out["1"].ate_term_milli == 25_000
    assert out["ALL"].n == 4


def test_markov_stationary_keeps_dangling_states(spark):
    """States with no outgoing transitions (chain-terminal) and
    states nothing transitions into keep a row (mass may decay to 0)
    instead of vanishing from the output (r13 advisor edge)."""
    import datetime

    from denormalized_spark.operators.analytics import markov_stationary

    base = datetime.datetime(2024, 1, 1)
    # one user: B, A, A, A -> transitions B->A, A->A, A->A.
    # B has no incoming edge: before the full-state re-anchor it
    # dropped out of pi after round 1.
    rows = [
        (0, i, base + datetime.timedelta(minutes=i), s)
        for i, s in enumerate(["B", "A", "A", "A"])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r.state: r for r in markov_stationary(df).collect()}
    assert set(out) == {"A", "B"}
    assert out["B"].pi_micro == 0
    assert out["A"].pi_micro == 1_000_000


def test_markov_null_state_matches_duckdb_oracle(spark):
    """A NULL event type is a state that receives no mass: the oracle
    re-anchors pi with a join on state, which never matches NULL, and
    the driver-side iteration must agree row for row."""
    import datetime

    import duckdb
    import pandas as pd

    from denormalized_spark.operators.analytics import (
        markov_entropy_rate,
        markov_stationary,
    )
    from denormalized_spark.queries import ORACLES

    base = datetime.datetime(2024, 1, 1)
    seqs = {0: ["A", "B", None, "A", "B", "A"], 1: ["B", "A", None], 2: ["A", "A", "B"]}
    rows = [
        (u, 10 * u + i, base + datetime.timedelta(minutes=i), s)
        for u, seq in seqs.items()
        for i, s in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    con = duckdb.connect()
    con.register(
        "events", pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    )
    for op, query in (
        (markov_stationary, "events_markov_stationary"),
        (markov_entropy_rate, "events_markov_entropy_rate"),
    ):
        got = sorted(map(tuple, op(df).collect()), key=repr)
        want = sorted(con.execute(ORACLES[query]).fetchall(), key=repr)
        assert got == want, query
    pi = {r.state: r.pi_micro for r in markov_stationary(df).collect()}
    assert None in pi and pi[None] == 0


def test_markov_stationary_int_coded_states(spark):
    """The state column keeps the type column's type: int codes in,
    int states out."""
    import datetime

    from pyspark.sql.types import IntegerType

    from denormalized_spark.operators.analytics import markov_stationary

    base = datetime.datetime(2024, 1, 1)
    rows = [(0, i, base + datetime.timedelta(minutes=i), 1 + i % 2) for i in range(20)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type int"
    )
    out = markov_stationary(df)
    assert out.schema["state"].dataType == IntegerType()
    assert [(r.state, r.pi_micro) for r in out.collect()] == [(1, 500_000), (2, 500_000)]


def test_holt_winters_additive_matches_python_replay(spark):
    """The quantized HW trajectory equals an integer Python replay
    (trunc-div semantics), and on a perfectly periodic series the
    learned seasonal state converges toward the period offsets."""
    from denormalized_spark.operators.analytics import holt_winters_additive

    xs = [10, 20, 30, 12, 22, 32, 14, 24, 34]
    rows = [("g", i, x) for i, x in enumerate(xs, start=1)]
    df = spark.createDataFrame(rows, "g string, o int, x long")
    out = holt_winters_additive(df, "g", "o", "x", season_length=3).orderBy(
        "o"
    ).collect()

    def idiv(a, d):
        q = abs(a) // d
        return q if a >= 0 else -q

    an, ad, bn, bd, gn, gd, m = 1, 4, 1, 4, 1, 2, 3
    l = b = 0
    s = [0] * m
    exp = []
    for t_, (_, _, x) in enumerate(rows, start=1):
        ph = (t_ - 1) % m
        xm = x * 1_000_000
        smp = s[ph]
        if t_ == 1:
            ln, bnn = xm, 0
        else:
            ln = idiv(an * (xm - smp) + (ad - an) * (l + b), ad)
            bnn = idiv(bn * (ln - l) + (bd - bn) * b, bd)
        su = idiv(gn * (xm - ln) + (gd - gn) * smp, gd)
        s[ph] = su
        exp.append((ln, bnn, su, ln + bnn + s[t_ % m]))
        l, b = ln, bnn
    got = [
        (r.level_micro, r.trend_micro, r.season_micro, r.forecast_next_micro)
        for r in out
    ]
    assert got == exp
    # periodic series with +2/period drift: phase-2 seasonal state
    # (the +20 offset) should be clearly positive by cycle 3
    assert out[-1].season_micro > 5_000_000


def test_holt_winters_single_period_group(spark):
    """One-point series: level = x, trend 0, season 0, forecast = x."""
    from denormalized_spark.operators.analytics import holt_winters_additive

    df = spark.createDataFrame([("g", 1, 42)], "g string, o int, x long")
    r = holt_winters_additive(df, "g", "o", "x", season_length=7).collect()[0]
    assert r.level_micro == 42_000_000
    assert r.trend_micro == 0 and r.season_micro == 0
    assert r.forecast_next_micro == 42_000_000


def test_roc_auc_hand_computed_with_ties(spark):
    """Midrank AUC on a 6-row set with a tied score pair:
    scores/labels -> AUC = (U statistic)/(n+ * n-) by hand."""
    from denormalized_spark.operators.analytics import roc_auc

    # scores: pos {10, 8, 5}, neg {8, 3, 1}
    # pairs: (10>8,3,1)=3, (8 vs 8 tie=0.5, >3,>1)=2.5, (5<8, >3,>1)=2
    # U = 7.5, AUC = 7.5/9 = 0.8333...
    rows = [(10, 1), (8, 1), (5, 1), (8, 0), (3, 0), (1, 0)]
    df = spark.createDataFrame(rows, "s long, y int")
    r = roc_auc(df, "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg) == (3, 3)
    assert r.auc_micro == (15 * 1_000_000) // 18  # 833333
    assert r.gini_micro == 2 * r.auc_micro - 1_000_000


def test_roc_auc_perfect_and_degenerate(spark):
    from denormalized_spark.operators.analytics import roc_auc

    perfect = spark.createDataFrame(
        [(5, 1), (4, 1), (2, 0), (1, 0)], "s long, y int"
    )
    assert roc_auc(perfect, "s", "y").collect()[0].auc_micro == 1_000_000
    one_class = spark.createDataFrame([(5, 1), (4, 1)], "s long, y int")
    r = roc_auc(one_class, "s", "y").collect()[0]
    assert r.auc_micro == 500_000 and r.gini_micro == 0


def test_changepoint_binseg_finds_planted_shift(spark):
    """Series 10,10,10,10,50,50,50: the split lands at the first
    period of the right segment; means are exact; a constant series
    still returns a (meaningless) best split with equal means."""
    from denormalized_spark.operators.analytics import changepoint_binseg

    rows = [("g", i, 10 if i <= 4 else 50) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "g string, o int, x long")
    r = changepoint_binseg(df, "g", "o", "x").collect()[0]
    assert r.split_order == 5
    assert (r.n_left, r.n_right) == (4, 3)
    assert r.mean_left_milli == 10_000 and r.mean_right_milli == 50_000
    flat = spark.createDataFrame(
        [("g", i, 7) for i in range(1, 5)], "g string, o int, x long"
    )
    fr = changepoint_binseg(flat, "g", "o", "x").collect()[0]
    assert fr.mean_left_milli == fr.mean_right_milli == 7_000
    # tiebreak: all splits of a constant series score equally -> earliest
    assert fr.split_order == 2


def test_changepoint_binseg_single_point_group_omitted(spark):
    from denormalized_spark.operators.analytics import changepoint_binseg

    df = spark.createDataFrame(
        [("a", 1, 5), ("b", 1, 3), ("b", 2, 9)], "g string, o int, x long"
    )
    out = {r.g: r for r in changepoint_binseg(df, "g", "o", "x").collect()}
    assert set(out) == {"b"}
    assert out["b"].split_order == 2
