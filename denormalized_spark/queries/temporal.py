"""Temporal-join coverage: as-of and range joins
(operators/temporal.py). Not in the reference (equi/theta joins only,
crates/core/src/datastream.rs:126-175) — added because point-in-time
feature lookup and event-to-interval attribution are core operations
for the training-data pipelines this engine targets.

Both oracles use DuckDB's native forms (ASOF LEFT JOIN, non-equi
interval join) — a genuinely independent implementation of the same
semantics, not a restatement of our plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.queries._util import q, t


@q(
    "join_asof_purchase_click",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, ts, round(max(value), 2) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
           r.click_value, r.ts AS click_ts
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def join_asof_purchase_click(spark: SparkSession, sf: str) -> DataFrame:
    """For every purchase, the user's most recent click at-or-before
    it (point-in-time-correct attribution). Union+running-window plan:
    ONE shuffle on user_id, no join operator at all — vs the
    BroadcastNestedLoopJoin a naive `l.ts >= r.ts` non-equi join
    produces. The right side is pre-aggregated to unique
    (user_id, ts) so both engines match deterministically."""
    from denormalized_spark.operators.temporal import asof_join

    ev = t(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("click_value"))
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["click_value"],
        matched_time_col="click_ts",
    )


@q(
    "join_asof_nearest_click",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, ts, round(max(value), 2) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT event_id, user_id, ts, purchase_value, click_value, click_ts
    FROM (
      SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
             r.click_value, r.ts AS click_ts,
             abs(date_diff('millisecond', r.ts, l.ts)) AS adt,
             CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS fwd
      FROM l LEFT JOIN r ON l.user_id = r.user_id
    )
    QUALIFY row_number() OVER (PARTITION BY event_id
                               ORDER BY adt, fwd) = 1
    """,
)
def join_asof_nearest_click(spark: SparkSession, sf: str) -> DataFrame:
    """As-of with direction='nearest' (pandas merge_asof parity): each
    purchase attaches the click with the smallest |Δt| either side,
    ties backward. Spark plan: the SAME single keyed exchange as
    backward — both window directions (asc + desc running last) chain
    over one hashpartitioning, then a per-row |Δt| pick; still zero
    join operators (tests/test_temporal.py pins the plan). The oracle
    is an independent pairwise formulation: LEFT JOIN all candidate
    clicks per user, then QUALIFY row_number ORDER BY |Δt|, backward
    — O(n·m) per user is fine at oracle scale, never the plan we run."""
    from denormalized_spark.operators.temporal import asof_join

    ev = t(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("click_value"))
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["click_value"],
        direction="nearest",
        matched_time_col="click_ts",
    )


@q(
    "join_asof_forward_conversion",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, round(value, 2) AS click_value
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, ts, round(max(value), 2) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    best AS (
      SELECT event_id, user_id, ts, click_value, purchase_value,
             purchase_ts,
             purchase_ts IS NOT NULL
               AND date_diff('millisecond', ts, purchase_ts) <= 86400000
               AS ok
      FROM (
        SELECT l.event_id, l.user_id, l.ts, l.click_value,
               r.purchase_value, r.ts AS purchase_ts
        FROM l LEFT JOIN r
          ON l.user_id = r.user_id AND r.ts >= l.ts
      )
      QUALIFY row_number() OVER (PARTITION BY event_id
                                 ORDER BY purchase_ts ASC) = 1
    )
    SELECT event_id, user_id, ts, click_value,
           CASE WHEN ok THEN purchase_value END AS purchase_value,
           CASE WHEN ok THEN purchase_ts END AS purchase_ts
    FROM best
    """,
)
def join_asof_forward_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of WITH tolerance: each click attaches the user's
    NEXT purchase at-or-after it, nulled when it lands more than 24 h
    out — click→conversion attribution with an attribution window.
    Exercises direction='forward' (descending-time running window over
    the same single keyed exchange) and tolerance_ms (post-pick null-
    out) together, neither previously oracled. The oracle is the
    independent pairwise form: all at-or-after purchases per click,
    QUALIFY earliest, then the same 24 h null-out. DuckDB sorts NULLS
    LAST under ASC, so no-candidate clicks survive the QUALIFY with
    NULL payload — left-join semantics preserved."""
    from denormalized_spark.operators.temporal import asof_join

    ev = t(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("click_value")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("purchase_value"))
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["purchase_value"],
        direction="forward",
        tolerance_ms=86_400_000,
        matched_time_col="purchase_ts",
    )


@q(
    "sessionize_users",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sid GROUP BY user_id, s
    """,
)
def sessionize_users(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) — custom per-key state as a
    first-class operator. Batch plan: lag → running-sum session id →
    aggregate; ONE shuffle on user_id shared by both window passes and
    the final partial+final agg. The streaming twin
    (applyInPandasWithState, same emitted rows) is exercised by
    tests/test_stateful.py."""
    from denormalized_spark.context import Context

    ds = Context(spark).from_parquet(
        f"{sf}/events.parquet", event_time="ts"
    )
    return ds.sessionize(["user_id"], 1_800_000).df


@q(
    "join_range_order_bursts",
    """
    WITH iv AS (
      SELECT o_orderkey AS iv_id, o_orderdate AS start_ts,
             o_orderdate + INTERVAL 7 DAY AS end_ts
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT iv.iv_id,
           count(*) AS n_orders,
           round(sum(pt.o_totalprice), 2) AS revenue
    FROM iv JOIN orders pt
      ON pt.o_orderdate >= iv.start_ts AND pt.o_orderdate < iv.end_ts
    GROUP BY iv.iv_id
    """,
)
def join_range_order_bursts(spark: SparkSession, sf: str) -> DataFrame:
    """Orders placed (by anyone) within 7 days of each sampled
    order — a keyless interval join. Binned to 7-day buckets the
    plan is an equi-join on the bin (SortMergeJoin; fan-out <= 2 bins
    per interval) + residual containment filter — never a cartesian
    product. tests/test_plans.py asserts no BNLJ in the plan."""
    from denormalized_spark.operators.temporal import range_join

    o = t(spark, sf, "orders")
    iv = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("iv_id"),
        F.col("o_orderdate").alias("start_ts"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("end_ts"),
    )
    pt = o.select("o_orderkey", "o_orderdate", "o_totalprice")
    joined = range_join(
        pt, iv, "o_orderdate", "start_ts", "end_ts", bin_width_s=604_800
    )
    return joined.groupBy("iv_id").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
