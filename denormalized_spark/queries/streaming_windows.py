"""Windowed-aggregation semantics (SURVEY §2.4 — the reference's core
custom operator) verified against SQL oracles.

``F.window`` works identically in batch and streaming (same
epoch-aligned assignment), so the oracle runs the batch plan while
tests/test_streaming.py re-runs the same pipelines as real streams
and asserts stream == batch. DuckDB's ``time_bucket`` uses the same
epoch alignment as Spark's ``window``.

Output schema parity: flattened ``window_start_time`` /
``window_end_time`` columns (reference logical_plan/streaming_window.rs:83-107).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.datastream import DataStream
from denormalized_spark.queries._util import q, t


@q(
    "window_rollup_cascade",
    """
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             count(*) AS n, sum(value) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL '1 day', h) AS day_start, event_type,
           sum(n)::BIGINT AS n,
           round(sum(total), 2) AS total,
           floor(round(sum(total), 2) / sum(n) * 10000 + 0.5) / 10000 AS avg_value
    FROM hourly GROUP BY 1, 2
    """,
)
def window_rollup_cascade(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical window rollup (the hypertable continuous-aggregate
    pattern): daily aggregates computed FROM the hourly aggregates,
    not from raw events. The day level re-shuffles ~n_hours×keys rows
    instead of the raw table — at 100 TB the cascade is the difference
    between re-scanning the corpus per resolution and a metadata-sized
    re-aggregation. Requires algebraic aggs (sum/count compose; avg is
    derived sum/count at the final level)."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    hourly = ds.window(
        ["event_type"],
        [F.count("*").alias("n"), F.sum("value").alias("total")],
        3600_000,
    )
    return (
        hourly.df.groupBy(
            F.date_trunc("day", "window_start_time").alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("total"), 2).alias("total"),
            # divide the ROUNDED total: both engines then divide
            # bit-identical inputs. The final rounding is an explicit
            # binary HALF_UP (floor(x·10^4 + 0.5)/10^4) because a
            # 2-decimal numerator over a small integer count lands
            # EXACTLY on 4-decimal halfway points (307.03/8 =
            # 38.37875 at sf0.001), where Spark's round() rounds the
            # DECIMAL REPR up while DuckDB rounds the BINARY value
            # down — the floor form computes the identical IEEE ops
            # in both engines, so the boundary cannot flip.
            (
                F.floor(
                    F.round(F.sum("total"), 2) / F.sum("n") * 10000 + 0.5
                )
                / 10000
            ).alias("avg_value"),
        )
    )


@q(
    "window_tumbling_1h",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts)                    AS window_start_time,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end_time,
           event_type,
           count(*)                    AS n,
           round(sum(value), 2)        AS total,
           floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value,
           round(min(value), 2)        AS min_value,
           round(max(value), 2)        AS max_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def window_tumbling_1h(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling window, grouped — the reference's
    GroupedWindowAggStream path (grouped_window_agg_stream.rs:63-441).

    avg_value uses the explicit binary HALF_UP (floor(x·10⁴+0.5)/10⁴)
    on BOTH sides, not round(): at sf0.1 three (window, type) groups'
    averages land EXACTLY on a half-way 4th decimal, where Spark's
    shortest-decimal-repr rounding and DuckDB's binary rounding
    diverge by one final digit — the triple-SF sweep's catch this
    round (same class as window_rollup_cascade's r6 find)."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    return ds.window(
        ["event_type"],
        [
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            (F.floor(F.avg("value") * 10000 + F.lit(0.5)) / 10000).alias(
                "avg_value"
            ),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        ],
        3600_000,
    ).df


@q(
    "window_sliding_1h_30m",
    """
    WITH raw AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - i.i * INTERVAL '30 minutes' AS ws,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) i(i)
    )
    SELECT ws                          AS window_start_time,
           ws + INTERVAL '1 hour'      AS window_end_time,
           event_type,
           count(*)                    AS n,
           round(sum(value), 2)        AS total
    FROM raw GROUP BY 1, 2, 3
    """,
)
def window_sliding_1h_30m(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (length 1h, slide 30m): each row lands in 2
    windows (reference get_windows_for_watermark,
    streaming_window.rs:1053-1086)."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    return ds.window(
        ["event_type"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
        3600_000,
        1800_000,
    ).df


@q(
    "window_global_tumbling_6h",
    """
    SELECT time_bucket(INTERVAL '6 hours', ts)                      AS window_start_time,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end_time,
           count(*)             AS n,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def window_global_tumbling_6h(spark: SparkSession, sf: str) -> DataFrame:
    """Global (no group keys) window — the reference's Partial+Final
    two-stage path (planner/streaming_window.rs:133-165). Spark's
    partial/final split is automatic and the final stage is
    per-window-key parallel, not single-partition like the reference
    (streaming_window.rs:484-489) — strictly better at scale."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    return ds.window(
        [], [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")], 21600_000
    ).df


@q(
    "window_session_30m",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts)                           AS window_start_time,
           max(ts) + INTERVAL '30 minutes'   AS window_end_time,
           count(*)                          AS n,
           round(sum(value), 2)              AS total
    FROM sessions GROUP BY user_id, session_id
    """,
)
def window_session_30m(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30m gap) per user — declared but ``todo!()``
    in the reference (planner/streaming_window.rs:130); native in
    Spark. Oracle = gaps-and-islands SQL."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    return ds.session_window(
        ["user_id"], [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
        1800_000,
    ).df


@q(
    "window_then_join",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)  AS window_start_time,
             event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT a.window_start_time, a.n AS click_n, a.total AS click_total,
           b.n AS purchase_n, b.total AS purchase_total
    FROM w a JOIN w b ON a.window_start_time = b.window_start_time
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def window_then_join(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's idiomatic stream⋈stream pattern
    (examples/examples/stream_join.rs:61-80): align two event streams
    on window bounds. Expressed as ONE windowed aggregate + an
    explicit-values pivot — the naive two-branch self-join re-executes
    the scan+shuffle+agg per branch (2× the work); the pivot computes
    the aggregate once and the 'join' is a zero-shuffle projection of
    the already-grouped row."""
    ds = DataStream(
        t(spark, sf, "events").filter(F.col("event_type").isin("click", "purchase")),
        event_time="ts",
    )
    win = ds.window(
        ["event_type"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
        3600_000,
    ).df
    pivoted = (
        win.groupBy("window_start_time")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("n").alias("n"), F.first("total").alias("total"))
    )
    return pivoted.filter(
        F.col("click_n").isNotNull() & F.col("purchase_n").isNotNull()
    ).select(
        "window_start_time",
        "click_n",
        "click_total",
        F.col("purchase_n"),
        F.col("purchase_total"),
    )


@q(
    "window_event_time_normalization",
    """
    SELECT to_timestamp(CAST(epoch_ms(ts) // 1000 AS BIGINT))::TIMESTAMP AS ts_sec,
           count(*) AS n
    FROM events
    WHERE event_id < 100
    GROUP BY 1
    """,
)
def window_event_time_normalization(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time unit conversion (reference TimestampUnit,
    physical_plan/utils/time.rs:14-19): ms-int → TimestampType via
    the with_timestamp path."""
    e = t(spark, sf, "events").filter(F.col("event_id") < 100)
    # simulate an int64-seconds source column, then normalize
    e = e.withColumn("epoch_s", (F.unix_timestamp("ts")).cast("long"))
    ds = DataStream(e).with_timestamp("epoch_s", unit="s", target="ts_sec")
    return ds.df.groupBy("ts_sec").agg(F.count("*").alias("n"))


@q(
    "window_resample_ffill",
    """
    WITH b AS (
      SELECT event_type,
             make_timestamp(((epoch_ms(ts) // 21600000) * 21600000) * 1000) AS bin,
             value
      FROM events
    ),
    a AS (SELECT event_type, bin, count(*) AS cnt, count(*) AS cnt_f,
                 sum(CAST(round(value * 100) AS BIGINT)) AS cs
          FROM b GROUP BY event_type, bin),
    bounds AS (SELECT min(bin) AS lo, max(bin) AS hi FROM b),
    grid AS (
      SELECT g.event_type, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS bin
      FROM (SELECT DISTINCT event_type FROM events) g CROSS JOIN bounds
    ),
    j AS (SELECT grid.event_type, grid.bin, a.cnt, a.cnt_f, a.cs
          FROM grid LEFT JOIN a USING (event_type, bin))
    SELECT event_type, bin AS bin_start,
           CAST(coalesce(cnt, 0) AS BIGINT) AS n,
           CAST((last_value(cs IGNORE NULLS) OVER w) * 100
                // (last_value(cnt_f IGNORE NULLS) OVER w) AS BIGINT) AS avg_e4
    FROM j
    WINDOW w AS (PARTITION BY event_type ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_resample_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resampling with gap filling: 6-hour bins per event
    type, DENSE over the full time span (empty intervals appear with
    n=0), the average forward-filled from the last populated bin.
    Grid = distinct-groups x bin sequence from a 1-row min/max
    broadcast; fill = per-group ordered window - no global stage."""
    from denormalized_spark.operators.temporal import resample

    e = t(spark, sf, "events")
    # integer cent-sums + integer division: order-independent AND
    # rounding-free (a double avg hit an exact .00005 midpoint, where
    # Spark's shortest-string HALF_UP and DuckDB's true-double round
    # disagree)
    cents = F.round(F.col("value") * 100).cast("long")
    out = resample(
        e,
        "ts",
        6 * 3600_000,
        ["event_type"],
        [
            F.count("*").alias("cnt"),
            F.count("*").alias("cnt_f"),
            F.sum(cents).alias("cs"),
        ],
        fill_forward=["cs", "cnt_f"],
    )
    # exact integer average (x10^4): cents*100 div count — no float
    # rounding, so no half-even vs half-up divergence at midpoints
    return out.select(
        "event_type",
        "bin_start",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("n"),
        F.expr("(cs * 100) div cnt_f").alias("avg_e4"),
    )


@q(
    "window_resample_interp",
    """
    WITH b AS (
      SELECT event_type,
             make_timestamp(((epoch_ms(ts) // 21600000) * 21600000) * 1000) AS bin,
             value
      FROM events
    ),
    a AS (SELECT event_type, bin, count(*) AS cnt,
                 sum(CAST(round(value * 100) AS BIGINT)) AS cs
          FROM b GROUP BY event_type, bin),
    bounds AS (SELECT min(bin) AS lo, max(bin) AS hi FROM b),
    grid AS (
      SELECT g.event_type, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS bin
      FROM (SELECT DISTINCT event_type FROM events) g CROSS JOIN bounds
    ),
    v AS (SELECT grid.event_type, grid.bin,
                 coalesce(a.cnt, 0) AS n,
                 CASE WHEN a.cnt IS NOT NULL THEN (a.cs * 100) // a.cnt END AS av
          FROM grid LEFT JOIN a USING (event_type, bin)),
    w2 AS (
      SELECT event_type, bin, n, av,
             last_value(av IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN av IS NOT NULL THEN epoch_ms(bin) END
                        IGNORE NULLS) OVER wp AS pt,
             first_value(av IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN av IS NOT NULL THEN epoch_ms(bin) END
                         IGNORE NULLS) OVER wf AS nt
      FROM v
      WINDOW wp AS (PARTITION BY event_type ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY bin
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bin AS bin_start, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN av IS NOT NULL THEN av
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + ((nv - pv) * (epoch_ms(bin) - pt)) // (nt - pt)
                END AS BIGINT) AS avg_e4
    FROM w2
    """,
)
def window_resample_interp(spark: SparkSession, sf: str) -> DataFrame:
    """Resampling with LINEAR interpolation across empty bins
    (operators/temporal.interpolate_linear) — the line-to-next-value
    complement of window_resample_ffill's hold-last. All-integer: the
    per-bin average is an exact e4 integer, the slope term uses
    truncating integer division (Spark div ≡ DuckDB //, both toward
    zero — verified on negatives), so no float boundary exists.
    Leading/trailing gaps stay NULL (pandas limit_area='inside').
    Plan: the resample agg + grid, then two window passes over ONE
    per-group ordered exchange."""
    from denormalized_spark.operators.temporal import interpolate_linear, resample

    e = t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = resample(
        e,
        "ts",
        6 * 3600_000,
        ["event_type"],
        [F.count("*").alias("cnt"), F.sum(cents).alias("cs")],
    )
    binned = out.select(
        "event_type",
        "bin_start",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("n"),
        F.expr("(cs * 100) div cnt").alias("avg_e4"),
    )
    return interpolate_linear(binned, ["event_type"], "bin_start", ["avg_e4"])


@q(
    "window_session_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, ts, value,
             ts + to_milliseconds(CASE WHEN event_type = 'click'
                                       THEN 600000 ELSE 1800000 END) AS iend
      FROM events
    ),
    m AS (
      SELECT user_id, ts, value, iend,
             max(iend) OVER (PARTITION BY user_id ORDER BY ts, iend
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM e
    ),
    s AS (
      SELECT user_id, ts, value, iend,
             CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END AS ns
      FROM m
    ),
    sid AS (
      SELECT user_id, ts, value, iend,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, iend
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM s
    )
    SELECT user_id,
           min(ts)   AS window_start_time,
           max(iend) AS window_end_time,
           count(*)  AS n,
           round(sum(value), 2) AS total
    FROM sid GROUP BY user_id, sid
    """,
)
def window_session_dynamic_gap(spark: SparkSession, sf: str) -> DataFrame:
    """DYNAMIC-gap session windows: each event carries its own
    timeout (10 min for clicks, 30 min otherwise) — the
    activity-aware sessionization Spark's session_window supports via
    a gap expression and the reference cannot express at all. Oracle =
    interval-merge (running max of event_time + gap; a new island
    starts when the event time exceeds the running max — the pinned
    boundary semantics, inclusive merge at equality)."""
    ds = DataStream(t(spark, sf, "events"), event_time="ts")
    gap = F.when(F.col("event_type") == "click", F.lit(600_000)).otherwise(
        F.lit(1_800_000)
    )
    return ds.session_window(
        ["user_id"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")],
        gap,
    ).df


@q(
    "text_trending_tokens",
    r"""
    WITH d AS (
      SELECT make_timestamp(doc_id * 60000000) AS ts, text FROM documents
    ),
    tok AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start_time,
             unnest(regexp_split_to_array(text, '\s+')) AS token
      FROM d
    ),
    cnt AS (
      SELECT window_start_time, token, count(*) AS n
      FROM tok WHERE token != '' GROUP BY 1, 2
    )
    SELECT window_start_time, token, n, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start_time
                                   ORDER BY n DESC, token) AS rk
      FROM cnt
    ) WHERE rk <= 5
    """,
)
def text_trending_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Trending tokens per hour window — token analytics with the
    time dimension (trend/topic monitoring over a document stream):
    explode → windowed count → per-window rank, one plan. Documents
    get a synthetic 1-per-minute timeline from doc_id so the window
    grouping is deterministic; explicit (count desc, token) tiebreak
    makes the top-5 engine-stable."""
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents").select(
        F.timestamp_millis(F.col("doc_id") * 60_000).alias("ts"), "text"
    )
    tok = d.select(
        F.window("ts", "1 hour").start.alias("window_start_time"),
        F.explode(F.split("text", r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("window_start_time", "token").agg(F.count("*").alias("n"))
    w = W.partitionBy("window_start_time").orderBy(F.desc("n"), F.asc("token"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("window_start_time", "token", "n", "rk")
    )


@q(
    "curation_quality_monitor",
    r"""
    WITH d AS (
      SELECT make_timestamp(doc_id * 60000000) AS ts, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks
      FROM documents
    ),
    m AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start_time,
             len(toks) AS nt,
             (
               (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                          / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN len(list_filter(toks, x -> list_contains(
                          ['the','a','an','and','or','of','to','in','is','it'], lower(x))))::DOUBLE
                          / greatest(len(toks), 1) > 0.01
                      AND len(list_filter(toks, x -> list_contains(
                          ['the','a','an','and','or','of','to','in','is','it'], lower(x))))::DOUBLE
                          / greatest(len(toks), 1) < 0.6 THEN 1.0 ELSE 0.0 END)
             ) / 3.0 AS q
      FROM d
    )
    SELECT window_start_time,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           round(avg(q), 6) AS mean_quality,
           CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM m GROUP BY window_start_time
    """,
)
def curation_quality_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window corpus-quality monitor — the live dashboard a
    streaming ingest pipeline runs over arriving documents: doc/token
    volume, mean quality score, and the count passing the gate, per
    event-time hour. Identical plan batch or streaming (F.window):
    per-row quality projection + ONE (window)-keyed partial-agged
    shuffle; tests/test_streaming.py drives the same pipeline through
    writeStream and asserts stream == batch. Documents get the
    deterministic 1-per-minute timeline of text_trending_tokens."""
    from denormalized_spark.operators.text import quality_score, token_count

    d = t(spark, sf, "documents").select(
        F.timestamp_millis(F.col("doc_id") * 60_000).alias("ts"),
        "text",
    )
    m = d.select(
        F.window("ts", "1 hour").start.alias("window_start_time"),
        token_count("text").alias("nt"),
        quality_score("text").alias("q"),
    )
    return m.groupBy("window_start_time").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.round(F.avg("q"), 6).alias("mean_quality"),
        F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0)).cast("long").alias("n_pass"),
    )


@q(
    "window_ohlc",
    r"""
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start_time,
           round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')), 2) AS close,
           count(*) AS n_events,
           round(sum(value), 2) AS volume
    FROM events GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    """,
)
def window_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC candlesticks per (event_type, hour): open/close via
    min_by/max_by over the (event-time, id) struct — deterministic
    first/last under a total order, no sort, no window function; one
    (window, key)-shuffled partial-agged pass, identical plan batch or
    streaming (the reference's emit_measurements aggregation family,
    upgraded with positional aggregates)."""
    e = t(spark, sf, "events").select("event_type", "ts", "event_id", "value")
    g = e.groupBy(
        "event_type", F.window("ts", "1 hour").start.alias("window_start_time")
    )
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return g.agg(
        F.round(F.min_by("value", ord_), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max_by("value", ord_), 2).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("volume"),
    )


@q(
    "window_salted_1h",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts)                    AS window_start_time,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end_time,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def window_salted_1h(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-stage salted window aggregation
    (:func:`~denormalized_spark.operators.windows.salted_window_agg`):
    stage 1 aggregates on (window, key, salt) spreading a hot key over
    64 reducers, stage 2 combines the algebraic partials without the
    salt — so the oracle is the PLAIN one-stage SQL window agg (the
    salt is algebra-invisible by construction). Rounding happens
    after the final combine, never on partials. Cross-engine evidence
    for the skew path: a parity test against the plain form alone
    would pass if both forms drifted from SQL together."""
    from denormalized_spark.operators.windows import salted_window_agg

    out = salted_window_agg(
        t(spark, sf, "events"),
        "ts",
        ["event_type"],
        {
            "n": F.count("*"),
            "total": F.sum("value"),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
        },
        3600_000,
        salt_buckets=64,
    )
    return out.select(
        "window_start_time",
        "window_end_time",
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )
