"""Event-analytics queries (funnel / cohort retention / anomaly
windows) over the events table, each with a DuckDB oracle. Spark
implementations live in operators/analytics.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.operators import analytics, curation
from denormalized_spark.operators._hashing import md5_unit_sql
from denormalized_spark.queries._util import q, t


#: funnel over the first 2 days only: over a full month every user
#: completes every step (degenerate 100% funnel); a 2-day horizon
#: leaves real drop-off at each stage
_FUNNEL_CUTOFF = "2024-01-03 00:00:00"
_FUNNEL_STEPS = ["view", "click", "purchase"]


@q(
    "events_funnel",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE ts < TIMESTAMP '{_FUNNEL_CUTOFF}'
    ),
    s1 AS (SELECT user_id, min(ROW(ts, event_id)) AS r
           FROM e WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(ROW(ts, event_id)) AS r
           FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ROW(ts, event_id) > s1.r
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(ROW(ts, event_id)) AS r
           FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ROW(ts, event_id) > s2.r
           GROUP BY e.user_id),
    counts AS (
      SELECT 1 AS step, 'view' AS step_name, count(*) AS n FROM s1
      UNION ALL SELECT 2, 'click', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    ),
    base AS (SELECT n AS b FROM counts WHERE step = 1)
    SELECT CAST(step AS INT) AS step, step_name,
           CAST(n AS BIGINT) AS n_users,
           CASE WHEN b > 0 THEN round(n / CAST(b AS DOUBLE), 6)
                ELSE 0.0 END AS conversion_rate
    FROM counts, base
    ORDER BY step
    """,
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (operators/analytics.funnel_counts):
    view → click → purchase with STRICT sequencing (a purchase before
    the user's first view doesn't convert), over a 2-day horizon so
    the funnel has real drop-off. One user-keyed shuffle + a per-user
    fold over the sorted event array; the oracle unrolls the
    equivalent min-event-after-previous-step chain."""
    e = t(spark, sf, "events").filter(F.col("ts") < _FUNNEL_CUTOFF)
    return analytics.funnel_counts(e, _FUNNEL_STEPS)


@q(
    "events_cohort_retention",
    """
    WITH p AS (
      SELECT user_id, date_trunc('week', ts) AS period FROM events
      WHERE event_type = 'purchase'
    ),
    firsts AS (SELECT user_id, min(period) AS cohort FROM p GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, period FROM p),
    joined AS (
      SELECT a.user_id, f.cohort,
             CAST(floor(date_diff('day', f.cohort, a.period) / 7) AS INT) AS "offset"
      FROM active a JOIN firsts f USING (user_id)
    ),
    counts AS (
      SELECT cohort, "offset", count(DISTINCT user_id) AS n_active
      FROM joined GROUP BY cohort, "offset"
    ),
    size AS (SELECT cohort, n_active AS s FROM counts WHERE "offset" = 0)
    SELECT c.cohort, c."offset" AS offset,
           CAST(c.n_active AS BIGINT) AS n_active,
           round(c.n_active / CAST(size.s AS DOUBLE), 6) AS retention_rate
    FROM counts c JOIN size USING (cohort)
    ORDER BY cohort, "offset"
    """,
)
def events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention (operators/analytics.cohort_retention)
    over purchase events: cohort = first purchase week, offset = weeks
    since, rate vs cohort size — the growth triangle. Two user-keyed
    shuffles + a cohorts×offsets metadata aggregate."""
    e = t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    return analytics.cohort_retention(e)


@q(
    "events_anomaly_windows",
    """
    WITH counts AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, round(avg(n), 6) AS mean_n,
             round(stddev_pop(n), 6) AS std_n
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type, c.window_start_time, CAST(c.n AS BIGINT) AS n,
           s.mean_n, s.std_n,
           CASE WHEN s.std_n > 0
                THEN round((c.n - s.mean_n) / s.std_n, 6) ELSE 0.0 END AS zscore,
           abs(CASE WHEN s.std_n > 0
                    THEN round((c.n - s.mean_n) / s.std_n, 6) ELSE 0.0 END) >= 3.0
             AS is_anomaly
    FROM counts c JOIN stats s USING (event_type)
    """,
)
def events_anomaly_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Volume-anomaly screen (operators/analytics.window_anomaly_
    scores): hourly per-type window counts z-scored against that
    type's own window-count distribution — the "did errors spike"
    alarm. One (type, window) partial-agged shuffle + a broadcast of
    the types-sized stats table."""
    e = t(spark, sf, "events")
    return analytics.window_anomaly_scores(e)


@q(
    "events_props_breakdown",
    """
    WITH p AS (
      -- floor(), not //: DuckDB intdiv truncates toward zero while
      -- Spark's floor(k/10) floors, diverging for negative k
      SELECT event_type,
             CAST(floor(CAST(json_extract(props, '$.k') AS INT) / 10) AS INT)
               AS k_decile,
             value
      FROM events
    )
    SELECT event_type, k_decile,
           count(*) AS n,
           round(avg(value), 6) AS avg_value
    FROM p GROUP BY event_type, k_decile
    """,
)
def events_props_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured payload analytics: the events table's ``props``
    JSON column parsed in-plan (get_json_object — JVM-side, no
    Python) and aggregated by (event_type, k-decile). The common
    clickstream shape where dimensions hide inside a JSON blob; at
    100 TB the parse is scan-speed and the aggregate is one
    partial-agged shuffle."""
    e = t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(
            "event_type",
            F.floor(k / 10).cast("int").alias("k_decile"),
            "value",
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@q(
    "events_latency_percentiles",
    """
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS window_start_time,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1, 2
    """,
)
def events_latency_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(type, day-window) EXACT p50/p95/p99 of the value column —
    the latency-dashboard aggregate every event pipeline ships. Exact
    interpolated percentiles so the oracle matches bit-for-bit; at
    100 TB swap in approx_percentile (same plan shape, sketch
    mergeable) — the approximate twin is already oracled by
    agg_percentiles."""
    e = t(spark, sf, "events")
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "1 day")["start"].alias("window_start_time"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )


@q(
    "events_session_funnel",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM flagged
    ),
    s1 AS (SELECT user_id, s, min(ROW(ts, event_id)) AS r
           FROM sid WHERE event_type = 'view' GROUP BY user_id, s),
    s2 AS (SELECT sid.user_id, sid.s, min(ROW(ts, event_id)) AS r
           FROM sid JOIN s1 USING (user_id, s)
           WHERE event_type = 'click' AND ROW(ts, event_id) > s1.r
           GROUP BY sid.user_id, sid.s),
    s3 AS (SELECT sid.user_id, sid.s, min(ROW(ts, event_id)) AS r
           FROM sid JOIN s2 USING (user_id, s)
           WHERE event_type = 'purchase' AND ROW(ts, event_id) > s2.r
           GROUP BY sid.user_id, sid.s),
    counts AS (
      SELECT 1 AS step, 'view' AS step_name, count(*) AS n FROM s1
      UNION ALL SELECT 2, 'click', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    ),
    base AS (SELECT n AS b FROM counts WHERE step = 1)
    SELECT CAST(step AS INT) AS step, step_name,
           CAST(n AS BIGINT) AS n_sessions,
           CASE WHEN b > 0 THEN round(n / CAST(b AS DOUBLE), 6)
                ELSE 0.0 END AS conversion_rate
    FROM counts, base
    ORDER BY step
    """,
)
def events_session_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """SESSION-scoped funnel (operators/analytics.session_funnel):
    view → click → purchase completed within one 30-minute-gap
    session — "of sessions that viewed, how many purchased in the
    same sitting". One user-keyed exchange serves the gap flag, the
    running session id, and the per-session event collection; the
    oracle replays gap sessionization (lag + running sum) and the
    per-session min-event-after-previous-step chain."""
    e = t(spark, sf, "events")
    return analytics.session_funnel(
        e, ["view", "click", "purchase"], gap_ms=1_800_000
    )


@q(
    "events_anomaly_online",
    """
    WITH counts AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start_time,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, window_start_time, n,
             count(n) OVER w AS n_prior,
             round(avg(n) OVER w, 6) AS mean_p,
             round(stddev_pop(n) OVER w, 6) AS std_p
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY window_start_time
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, window_start_time, CAST(n AS BIGINT) AS n,
           CAST(coalesce(n_prior, 0) AS BIGINT) AS n_prior_windows,
           CASE WHEN n_prior >= 3 AND std_p > 0
                THEN round((n - mean_p) / std_p, 6) ELSE 0.0 END AS zscore,
           abs(CASE WHEN n_prior >= 3 AND std_p > 0
                    THEN round((n - mean_p) / std_p, 6) ELSE 0.0 END) >= 3.0
             AS is_anomaly
    FROM scored
    """,
)
def events_anomaly_online(spark: SparkSession, sf: str) -> DataFrame:
    """CAUSAL (online) anomaly scoring (operators/analytics.
    anomaly_online_batch): each hourly window z-scored against only
    its PREDECESSORS — what a live alerting pipeline can actually
    compute at window close, unlike the retrospective
    events_anomaly_windows. The streaming twin maintains the same
    running moments in per-group state (tests pin stream == batch)."""
    e = t(spark, sf, "events")
    return analytics.anomaly_online_batch(e)


@q(
    "events_transitions",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS from_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
      SELECT from_type, event_type AS to_type FROM o
      WHERE from_type IS NOT NULL
        AND date_diff('millisecond', prev_ts, ts) <= 7200000
    ),
    counts AS (
      SELECT from_type, to_type, count(*) AS n FROM pairs GROUP BY 1, 2
    ),
    totals AS (SELECT from_type, sum(n) AS tot FROM counts GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(t.tot AS DOUBLE), 6) AS p
    FROM counts c JOIN totals t USING (from_type)
    """,
)
def events_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type transition matrix (operators/analytics.
    event_transitions): consecutive-pair counts and per-source
    transition probabilities within a 2-hour continuation gap — the
    Markov "user journey" view. One user-keyed exchange for the
    ordering window; the (from, to) aggregate is a |types|² metadata
    table."""
    e = t(spark, sf, "events")
    return analytics.event_transitions(e, gap_ms=7_200_000)


@q(
    "curation_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id,
             md5(concat(
                 coalesce(md5(CASE WHEN doc_id % 11 = 3
                               THEN text || ' edited' ELSE text END), '-'),
                 coalesce(md5(lang), '-'))) AS ho
      FROM documents WHERE doc_id % 7 != 0
    ),
    new AS (
      SELECT doc_id,
             md5(concat(coalesce(md5(text), '-'),
                        coalesce(md5(lang), '-'))) AS hn
      FROM documents WHERE doc_id % 5 != 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN ho IS NULL THEN 'added'
                WHEN hn IS NULL THEN 'removed'
                WHEN ho != hn THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL JOIN new USING (doc_id)
    """,
)
def curation_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level snapshot CDC (operators/curation.snapshot_diff): two
    synthetic snapshot views of documents (different id filters plus
    an edit planted on every 11th old row) diffed into added / removed
    / changed / unchanged — one key-keyed full-outer join over
    scan-speed row hashes; the companion content-level scalar is
    dedup_corpus_overlap."""
    d = t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 3, F.concat("text", F.lit(" edited"))
        ).otherwise(F.col("text")),
    )
    new = d.filter(F.col("doc_id") % 5 != 0)
    out = curation.snapshot_diff(old, new, "doc_id", ["text", "lang"])
    return out


@q(
    "events_key_skew",
    """
    WITH counts AS (
      SELECT user_id AS key, count(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS dk FROM counts),
    top AS (
      SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank
      FROM counts ORDER BY n DESC, key ASC LIMIT 20
    )
    SELECT CAST(rank AS INT) AS rank, CAST(key AS VARCHAR) AS key,
           CAST(n AS BIGINT) AS n,
           CAST(tot.total AS BIGINT) AS total_rows,
           CAST(tot.dk AS BIGINT) AS distinct_keys,
           round(n / CAST(tot.total AS DOUBLE), 6) AS share,
           round(sum(n) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
                 / CAST(tot.total AS DOUBLE), 6) AS cum_share
    FROM top, tot
    """,
)
def events_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-skew pre-flight (operators/analytics.key_skew_report)
    over the events user key: top-20 heaviest keys with shares and
    cumulative share — the diagnostic that predicts reducer
    straggling before a 100 TB join pays for it. One map-side-
    combined count shuffle + a top-k of metadata."""
    e = t(spark, sf, "events")
    out = analytics.key_skew_report(e, "user_id", top_k=20)
    return out.withColumn("key", F.col("key").cast("string"))


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration: contributions, dangling mass,
    rank update — float ops ordered exactly as operators/graph.py."""
    p, r = i - 1, i
    return f"""c{r} AS (SELECT e.dst, sum(r.rank / od.outdeg) AS s
           FROM e JOIN od USING (src) JOIN r{p} r ON e.src = r.node
           GROUP BY e.dst),
    d{r} AS (SELECT coalesce(sum(r.rank), 0.0) AS dang
             FROM r{p} r LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL),
    r{r} AS (SELECT n.node,
                    round(0.15 / (SELECT n FROM nn)
                          + 0.85 * (coalesce(c.s, 0.0)
                                    + (SELECT dang FROM d{r}) / (SELECT n FROM nn)),
                          9) AS rank
             FROM nodes n LEFT JOIN c{r} c ON n.node = c.dst)"""


@q(
    "graph_pagerank_events",
    f"""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS from_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (
      SELECT DISTINCT from_type AS src, event_type AS dst FROM o
      WHERE from_type IS NOT NULL
        AND date_diff('millisecond', prev_ts, ts) <= 7200000
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    {_pr_iter_sql(1)},
    {_pr_iter_sql(2)}
    SELECT node, rank FROM r2
    """,
    eager=True,
)
def graph_pagerank_events(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (Page et al. 1999) over the event-type transition
    graph — the canonical iterative joins-in-a-loop algorithm, run as
    plain Catalyst shuffles (operators/graph.pagerank): per iteration
    one src-keyed join of the rank table against the edge list, one
    dst-keyed contribution aggregate, a 1-row dangling-mass
    broadcast. Per-iteration rounding makes the float trajectory
    engine-portable, so both unrolled iterations are value-checked
    against the DuckDB CTE replay — same contract as kmeans_clusters
    and dedup_connected_components. The demo graph is |event_types|
    nodes; the operator itself is the web-graph plan (edge exchange
    reused across iterations, rank table n rows)."""
    from denormalized_spark.operators import graph

    e = t(spark, sf, "events")
    edges = analytics.event_transitions(e, gap_ms=7_200_000).select(
        F.col("from_type").alias("src"), F.col("to_type").alias("dst")
    )
    return graph.pagerank(edges, iterations=2, damping=0.85)


def _prw_iter_sql(i: int) -> str:
    """One unrolled WEIGHTED PageRank iteration: contributions are
    rank·w/Σw (float ops ordered exactly as operators/graph.py with
    weight_col set)."""
    p, r = i - 1, i
    return f"""wc{r} AS (SELECT e.dst, sum(r.rank * e.n / od.outdeg) AS s
           FROM e JOIN od USING (src) JOIN wr{p} r ON e.src = r.node
           GROUP BY e.dst),
    wd{r} AS (SELECT coalesce(sum(r.rank), 0.0) AS dang
             FROM wr{p} r LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL),
    wr{r} AS (SELECT n.node,
                    round(0.15 / (SELECT n FROM nn)
                          + 0.85 * (coalesce(c.s, 0.0)
                                    + (SELECT dang FROM wd{r}) / (SELECT n FROM nn)),
                          9) AS rank
             FROM nodes n LEFT JOIN wc{r} c ON n.node = c.dst)"""


@q(
    "graph_pagerank_weighted",
    f"""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS from_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (
      SELECT from_type AS src, event_type AS dst, count(*) AS n FROM o
      WHERE from_type IS NOT NULL
        AND date_diff('millisecond', prev_ts, ts) <= 7200000
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    od AS (SELECT src, sum(n)::DOUBLE AS outdeg FROM e GROUP BY src),
    wr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    {_prw_iter_sql(1)},
    {_prw_iter_sql(2)}
    SELECT node, rank FROM wr2
    """,
    eager=True,
)
def graph_pagerank_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED PageRank over the event-type transition graph: each
    source divides its rank proportionally to observed transition
    COUNTS (the Markov-chain stationary view of user journeys, damped)
    instead of uniformly — operators/graph.pagerank with weight_col=.
    Same engine-portable per-iteration rounding; both unrolled
    iterations value-checked against the weighted CTE replay."""
    from denormalized_spark.operators import graph

    e = t(spark, sf, "events")
    edges = analytics.event_transitions(e, gap_ms=7_200_000).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n"),
    )
    return graph.pagerank(edges, iterations=2, damping=0.85, weight_col="n")


@q(
    "graph_hits_events",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS from_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (
      SELECT DISTINCT from_type AS src, event_type AS dst FROM o
      WHERE from_type IS NOT NULL
        AND date_diff('millisecond', prev_ts, ts) <= 7200000
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS (SELECT node, 1.0 AS hub FROM nodes),
    a1r AS (SELECT e.dst AS k, sum(p.hub) AS raw FROM e JOIN h0 p ON e.src = p.node GROUP BY e.dst),
    a1n AS (SELECT sum(raw) AS nm FROM a1r),
    a1 AS (SELECT n.node, round(coalesce(r.raw, 0.0) / (SELECT nm FROM a1n), 9) AS auth
           FROM nodes n LEFT JOIN a1r r ON n.node = r.k),
    h1r AS (SELECT e.src AS k, sum(p.auth) AS raw FROM e JOIN a1 p ON e.dst = p.node GROUP BY e.src),
    h1n AS (SELECT sum(raw) AS nm FROM h1r),
    h1 AS (SELECT n.node, round(coalesce(r.raw, 0.0) / (SELECT nm FROM h1n), 9) AS hub
           FROM nodes n LEFT JOIN h1r r ON n.node = r.k),
    a2r AS (SELECT e.dst AS k, sum(p.hub) AS raw FROM e JOIN h1 p ON e.src = p.node GROUP BY e.dst),
    a2n AS (SELECT sum(raw) AS nm FROM a2r),
    a2 AS (SELECT n.node, round(coalesce(r.raw, 0.0) / (SELECT nm FROM a2n), 9) AS auth
           FROM nodes n LEFT JOIN a2r r ON n.node = r.k),
    h2r AS (SELECT e.src AS k, sum(p.auth) AS raw FROM e JOIN a2 p ON e.dst = p.node GROUP BY e.src),
    h2n AS (SELECT sum(raw) AS nm FROM h2r),
    h2 AS (SELECT n.node, round(coalesce(r.raw, 0.0) / (SELECT nm FROM h2n), 9) AS hub
           FROM nodes n LEFT JOIN h2r r ON n.node = r.k)
    SELECT h2.node, h2.hub, a2.auth FROM h2 JOIN a2 USING (node)
    """,
    eager=True,
)
def graph_hits_events(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the event-type
    transition graph: hubs = types that lead everywhere, authorities =
    types everything leads to. Each half-step is one edge-keyed join +
    one keyed partial agg + a 1-row L1-norm broadcast
    (operators/graph.hits); per-iteration rounding makes both unrolled
    iterations value-checkable against the CTE replay — the third
    member of the iterative-trajectory oracle family (kmeans,
    PageRank)."""
    from denormalized_spark.operators import graph

    e = t(spark, sf, "events")
    edges = analytics.event_transitions(e, gap_ms=7_200_000).select(
        F.col("from_type").alias("src"), F.col("to_type").alias("dst")
    )
    return graph.hits(edges, iterations=2)


@q(
    "events_decayed_counts",
    """
    WITH m AS (SELECT max(ts) AS mt FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(pow(2.0, date_diff('millisecond', mt, ts) / 21600000.0)), 6)
             AS decayed_count
    FROM events CROSS JOIN m
    GROUP BY event_type
    """,
)
def events_decayed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-decayed per-type event counters (half-life 6h,
    referenced to the corpus max timestamp) — the trending statistic a
    streaming detector keeps in per-key state; decay commutes with
    addition so the counter is mergeable and incrementally
    maintainable (operators/analytics.decayed_counts). One scan +
    grouped partial agg + a 1-row as-of broadcast; per-row pow stays
    in codegen."""
    e = t(spark, sf, "events")
    return analytics.decayed_counts(e, half_life_ms=21_600_000)


@q(
    "events_cusum_alarms",
    """
    WITH c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(floor(avg(n) * 1000000 + 0.5) AS BIGINT) AS mu,
             CAST(floor(stddev_samp(n) * 1000000 + 0.5) AS BIGINT) AS sig
      FROM c GROUP BY 1
    ),
    d AS (
      SELECT c.event_type, ws, n, mu, sig, sig // 2 AS kap
      FROM c JOIN st USING (event_type)
    ),
    p AS (
      SELECT event_type, ws, n, sig,
             sum(n * 1000000 - mu - kap) OVER w AS pp,
             sum(n * 1000000 - mu + kap) OVER w AS pn
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY ws ROWS UNBOUNDED PRECEDING)
    ),
    s AS (
      SELECT event_type, ws AS window_start_time, n, sig,
             pp - least(0, min(pp) OVER w) AS sp,
             greatest(0, max(pn) OVER w) - pn AS sn
      FROM p
      WINDOW w AS (PARTITION BY event_type ORDER BY ws ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, window_start_time, n,
           CAST(sp AS BIGINT) AS cusum_pos_micro,
           CAST(sn AS BIGINT) AS cusum_neg_micro,
           (sp > sig * 4 OR sn > sig * 4) AS alarm
    FROM s
    """,
)
def events_cusum_alarms(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) over hourly
    per-type event counts. The S⁺/S⁻ recursions are rewritten as
    prefix-sum − running-extremum window functions (the closed form
    of max(0, S+d) unrolling), all in integer micro-units — so the
    whole trajectory, not just the alarms, is hash-checked against
    the oracle. κ = σ/2, h = 4σ from each key's own series. See
    operators/analytics.cusum_changepoints; the series length scales
    with TIME × keys, not corpus size."""
    from denormalized_spark.operators.analytics import cusum_changepoints

    return cusum_changepoints(
        t(spark, sf, "events"), 3600_000, ["event_type"]
    )


@q(
    "events_seasonal_residuals",
    """
    WITH c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    h AS (SELECT event_type, ws, n, extract(hour FROM ws) AS hod FROM c),
    seas AS (
      SELECT event_type, hod,
             CAST(floor(avg(n) * 1000000 + 0.5) AS BIGINT) AS seasonal_micro
      FROM h GROUP BY 1, 2
    ),
    r AS (
      SELECT h.event_type, h.ws AS window_start_time, h.n, s.seasonal_micro,
             h.n * 1000000 - s.seasonal_micro AS residual_micro
      FROM h JOIN seas s ON s.event_type = h.event_type AND s.hod = h.hod
    ),
    sg AS (
      SELECT event_type,
             CAST(floor(stddev_samp(residual_micro) + 0.5) AS BIGINT) AS sig
      FROM r GROUP BY 1
    )
    SELECT r.event_type, window_start_time, n, seasonal_micro,
           CAST(residual_micro AS BIGINT) AS residual_micro,
           CASE WHEN sig > 0
                THEN CAST(floor(residual_micro::DOUBLE / sig * 1000 + 0.5) AS BIGINT)
                ELSE 0 END AS resid_z_milli
    FROM r JOIN sg ON sg.event_type = r.event_type
    """,
)
def events_seasonal_residuals(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive seasonal decomposition of hourly event
    counts: per-(type, hour-of-day) seasonal means, exact integer
    residuals, per-type residual z on the milli grid — the
    dayparting-aware anomaly signal (a daily peak is not an anomaly;
    the same volume at 4am is). Complements events_cusum_alarms
    (level shifts) — see operators/analytics.seasonal_residuals."""
    from denormalized_spark.operators.analytics import seasonal_residuals

    return seasonal_residuals(t(spark, sf, "events"), 3600_000, ["event_type"])


_Z_TERMS = " + ".join(
    f"(((sx >> {i}) & 1) << {2 * i + 1}) + (((sy >> {i}) & 1) << {2 * i})"
    for i in range(8)
)


@q(
    "layout_zorder_events",
    f"""
    WITH b AS (
      SELECT min(user_id) AS umin, max(user_id) AS umax,
             min(value) AS vmin, max(value) AS vmax
      FROM events
    ),
    s AS (
      SELECT event_id,
             least(CAST(floor(CASE WHEN umax > umin
                    THEN (user_id - umin)::DOUBLE / (umax - umin)::DOUBLE
                    ELSE 0.0 END * 256.0) AS BIGINT), 255) AS sx,
             least(CAST(floor(CASE WHEN vmax > vmin
                    THEN (value - vmin) / (vmax - vmin)
                    ELSE 0.0 END * 256.0) AS BIGINT), 255) AS sy
      FROM events CROSS JOIN b
    )
    SELECT event_id, {_Z_TERMS} AS zval FROM s
    """,
)
def layout_zorder_events(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) value over (user_id, value) per event — the
    multi-column data-skipping layout key (operators/layout.py; the
    Delta OPTIMIZE ZORDER BY layout). One 1-row min/max broadcast, all
    shift/mask terms in whole-stage codegen; the write path
    (zorder_repartition) range-partitions on this value and
    tests/test_layout.py measures the row-group skip-rate win on real
    parquet footers. Oracle replays the identical scale+interleave
    arithmetic (pure IEEE doubles in the same op order, integer
    shifts)."""
    from denormalized_spark.operators.layout import zorder_values

    e = t(spark, sf, "events").select("event_id", "user_id", "value")
    return zorder_values(e, ["user_id", "value"], bits=8).select(
        "event_id", "zval"
    )


@q(
    "events_top_paths",
    """
    WITH w1 AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM w1
    ),
    seqs AS (
      SELECT user_id, s, array_agg(event_type ORDER BY ts, event_id) AS tseq
      FROM sid GROUP BY user_id, s
    ),
    grams AS (
      SELECT unnest([array_to_string(tseq[i:i+2], '>')
                     for i in range(1, len(tseq) - 1)]) AS path
      FROM seqs WHERE len(tseq) >= 3
    )
    SELECT path, count(*) AS cnt
    FROM grams GROUP BY path
    ORDER BY cnt DESC, path LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 3-step event-type paths within a 30-min session
    (operators/analytics.top_event_paths) — product-analytics path
    mining. One user-keyed exchange for sessionize + ordered collect
    (array_sort over structs — total (ts, event_id) order in both
    engines), linear n-gram fan-out, partial-agged count +
    TakeOrdered with a deterministic (cnt desc, path asc) tiebreak."""
    from denormalized_spark.operators.analytics import top_event_paths

    return top_event_paths(t(spark, sf, "events"), n=3, k=20)


@q(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, min(m.med) AS med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CAST(floor(0.6745::DOUBLE * (e.value - mad.med) / mad.mad * 1000
                      + 0.5) AS BIGINT) AS mz_milli
    FROM events e JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND abs(CAST(floor(0.6745::DOUBLE * (e.value - mad.med) / mad.mad * 1000
                         + 0.5) AS BIGINT)) > 3500
    """,
)
def events_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-type value outliers via the MAD modified z-score
    (operators/analytics.mad_outliers; Iglewicz & Hoaglin 1993) — the
    50%-breakdown-point screen beside the mean/std anomaly entries.
    Exact interpolated medians match DuckDB's quantile_cont bit-for-
    bit; Mz on the milli grid with identical op order (the 0.6745
    literal is ::DOUBLE in the oracle — DuckDB decimal-literal trap).
    Plan: two tiny per-type aggregates broadcast back — zero
    data-sized shuffles."""
    from denormalized_spark.operators.analytics import mad_outliers

    return mad_outliers(
        t(spark, sf, "events"), "value", ["event_type"],
        threshold_milli=3500, id_cols=["event_id"],
    )

@q(
    "events_benford_digits",
    """
    WITH src AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    obs AS (
      SELECT event_type,
             CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             count(*) AS n_obs
      FROM src WHERE cents >= 1 GROUP BY 1, 2
    ),
    grid AS (
      SELECT g.event_type, b.digit, b.p
      FROM (SELECT DISTINCT event_type FROM events) g
      CROSS JOIN (VALUES (1, 0.3010299957::DOUBLE), (2, 0.1760912591::DOUBLE), (3, 0.1249387366::DOUBLE), (4, 0.096910013::DOUBLE), (5, 0.079181246::DOUBLE), (6, 0.0669467896::DOUBLE), (7, 0.057991947::DOUBLE), (8, 0.0511525224::DOUBLE), (9, 0.0457574906::DOUBLE)) b(digit, p)
    ),
    dense AS (
      SELECT grid.event_type, grid.digit, grid.p,
             CAST(coalesce(obs.n_obs, 0) AS BIGINT) AS n_obs
      FROM grid LEFT JOIN obs USING (event_type, digit)
    ),
    scored AS (
      SELECT event_type, digit, n_obs,
             (sum(n_obs) OVER w)::DOUBLE * p AS exp_c
      FROM dense
      WINDOW w AS (PARTITION BY event_type)
      QUALIFY sum(n_obs) OVER w > 0
    )
    SELECT event_type, digit, n_obs,
           CAST(floor(exp_c * 1000 + 0.5) AS BIGINT) AS exp_milli,
           CAST(floor((sum((n_obs::DOUBLE - exp_c) * (n_obs::DOUBLE - exp_c)
                           / exp_c) OVER (PARTITION BY event_type)) * 1000
                      + 0.5) AS BIGINT) AS chi2_milli
    FROM scored
    """,
)
def events_benford_digits(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit conformity per event type
    (operators/analytics.benford_digit_test) — the forensic/data-
    quality screen for fabricated or truncated numerics. Leading
    digit from the CENT-INTEGER string (no cross-libm log10 near
    powers of ten); Benford probabilities injected as 10-digit
    pre-rounded literals in BOTH engines; expected counts and chi^2 on
    the milli grid; all-sub-cent groups drop in BOTH engines. One (type, digit) count shuffle; grid/windows over
    <=9-row partitions."""
    from denormalized_spark.operators.analytics import benford_digit_test

    return benford_digit_test(t(spark, sf, "events"), "value", ["event_type"])


@q(
    "events_attribution_u",
    """
    WITH conv AS (
      SELECT event_id AS cid, user_id, ts AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    pair AS (
      SELECT c.cid, c.user_id, t.ts
      FROM conv c JOIN tch t ON t.user_id = c.user_id
        AND t.ts >= c.cts - INTERVAL 1 DAY AND t.ts <= c.cts
    ),
    ranked AS (
      SELECT cid, user_id, ts,
             row_number() OVER (PARTITION BY cid ORDER BY ts) AS position,
             count(*) OVER (PARTITION BY cid) AS n_touches
      FROM pair
    )
    SELECT cid AS event_id, user_id, ts, position,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(CASE WHEN n_touches = 1 THEN 10000
                     WHEN n_touches = 2 THEN 5000
                     WHEN position = 1 OR position = n_touches THEN 4000
                     ELSE 2000 // (n_touches - 2) END AS BIGINT) AS credit_bp
    FROM ranked
    """,
)
def events_attribution_u(spark: SparkSession, sf: str) -> DataFrame:
    """U-shaped multi-touch attribution (operators/analytics.
    multi_touch_attribution): each purchase distributes 10,000 bp of
    credit over the user's clicks in the preceding 24h — 40/20/40
    position curve, all-integer (middles 2000 div (k-2), truncating
    div parity). The pairing is the binned range join on
    (user, [conv-24h, conv]) — an equi-join, never BNLJ; position/
    count are per-conversion windows. The oracle replays pairwise."""
    from denormalized_spark.operators.analytics import multi_touch_attribution

    e = t(spark, sf, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    tch = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .distinct()
    )
    out = multi_touch_attribution(
        tch, conv, "user_id", "ts", "ts", "event_id",
        window_ms=86_400_000, bin_width_s=86_400,
    )
    return out.select(
        "event_id", "user_id", "ts", "position",
        F.col("n_touches").cast("long").alias("n_touches"), "credit_bp",
    )


@q(
    "agg_gini_spend",
    """
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nationkey, cents,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY cents, o_custkey) AS i
      FROM spend
    ),
    agg AS (
      SELECT nationkey, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS total,
             CAST(sum(i * cents) AS BIGINT) AS r
      FROM ranked GROUP BY nationkey
    )
    SELECT nationkey, n, total,
           CAST(floor((2.0::DOUBLE * r::DOUBLE / (n::DOUBLE * total::DOUBLE)
                       - (n + 1)::DOUBLE / n::DOUBLE) * 1000000
                      + 0.5) AS BIGINT) AS gini_micro
    FROM agg WHERE total > 0
    """,
)
def agg_gini_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation Gini of customer spend (operators/analytics.
    gini_concentration; rank-sum identity) — the concentration
    dashboard number. Exact integer cents for the rank sum and total;
    the only floats are the final fixed-order divisions on the micro
    grid. One custkey-keyed spend agg (+ broadcast customer dim), one
    nation-keyed exchange shared by the rank window and the final
    aggregate."""
    from denormalized_spark.operators.analytics import gini_concentration

    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    return gini_concentration(spend, "cents", ["nationkey"], "o_custkey")


@q(
    "agg_basket_lift",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem),
    nb AS (SELECT count(DISTINCT b) AS n FROM bi),
    fr AS (SELECT item, count(*) AS n_item FROM bi GROUP BY item),
    pr AS (
      SELECT a.item AS item_a, c.item AS item_b, count(*) AS n_ab
      FROM bi a JOIN bi c ON a.b = c.b AND a.item < c.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_ab, fa.n_item AS n_a, fb.n_item AS n_b,
           CAST(floor(nb.n::DOUBLE * n_ab::DOUBLE
                      / (fa.n_item::DOUBLE * fb.n_item::DOUBLE) * 1000000
                      + 0.5) AS BIGINT) AS lift_micro
    FROM pr JOIN fr fa ON fa.item = pr.item_a
            JOIN fr fb ON fb.item = pr.item_b
            CROSS JOIN nb
    ORDER BY lift_micro DESC, item_a, item_b LIMIT 20
    """,
    eager=True,
)
def agg_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket pair lift over orders (operators/analytics.
    basket_lift; Agrawal & Srikant 1994 lineage): parts co-bought in
    >=2 orders, top-20 by lift with a full deterministic tiebreak.
    Pair generation is a WITHIN-basket self-join (fan-out bounded by
    order size, <=7 in TPC-H), one basket-keyed + one pair-keyed
    shuffle; frequencies join back broadcast. Counts exact integers;
    lift's one division on the micro grid."""
    from denormalized_spark.operators.analytics import basket_lift

    li = t(spark, sf, "lineitem")
    return basket_lift(li, "l_orderkey", "l_partkey", min_pair_count=2, k=20)


@q(
    "agg_rfm_customers",
    """
    WITH s AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_ts,
             count(*) AS n_events,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_ts, n_events, cents,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm
    FROM (
      SELECT *,
             ntile(5) OVER (ORDER BY last_ts DESC, o_custkey)  AS r_score,
             ntile(5) OVER (ORDER BY n_events DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY cents DESC, o_custkey)    AS m_score
      FROM s
    )
    """,
)
def agg_rfm_customers(spark: SparkSession, sf: str) -> DataFrame:
    """RFM quintile segmentation of customers over their orders
    (operators/analytics.rfm_scores; Hughes 1994) — score 1 = most
    recent / most frequent / highest spend, pinned total orders so
    ties are deterministic. The Spark side reproduces SQL ntile
    EXACTLY from scale-safe global row numbers (range partition +
    broadcast prefix sums — no single-partition sort over the
    customer summary), which this oracle's plain ntile() verifies
    bucket-for-bucket."""
    from denormalized_spark.operators.analytics import rfm_scores

    o = t(spark, sf, "orders")
    out = rfm_scores(
        o, "o_custkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )
    return out.select(
        "o_custkey", "last_ts", "n_events", "cents",
        "r_score", "f_score", "m_score", "rfm",
    )


@q(
    "events_ab_test",
    """
    WITH pu AS (
      SELECT user_id,
             max(user_id % 2) AS v,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY user_id
    ),
    arms AS (SELECT v, count(*) AS n, CAST(sum(c) AS BIGINT) AS conv
             FROM pu GROUP BY v),
    j AS (
      SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
      FROM (SELECT n, conv FROM arms WHERE v = 0) a
      CROSS JOIN (SELECT n, conv FROM arms WHERE v = 1) b
    ),
    s AS (
      SELECT *,
             (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp
      FROM j
    ),
    zc AS (
      SELECT n_a, conv_a, n_b, conv_b,
             CASE WHEN pp * (1.0::DOUBLE - pp)
                       * (1.0::DOUBLE / n_a::DOUBLE + 1.0::DOUBLE / n_b::DOUBLE) > 0
                  THEN (conv_a::DOUBLE / n_a::DOUBLE - conv_b::DOUBLE / n_b::DOUBLE)
                       / sqrt(pp * (1.0::DOUBLE - pp)
                              * (1.0::DOUBLE / n_a::DOUBLE + 1.0::DOUBLE / n_b::DOUBLE))
                  ELSE 0.0::DOUBLE END AS z
      FROM s
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(floor(z * 1000000 + 0.5) AS BIGINT) AS z_micro,
           abs(CAST(floor(z * 1000000 + 0.5) AS BIGINT)) > 1960000 AS significant
    FROM zc
    """,
)
def events_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test (operators/analytics.ab_test_proportions)
    over a synthetic-but-documented assignment (variant = user_id
    parity; the testdata has no experiment column) with
    converted-ever = any purchase. Exact integer arm counts; z's float
    chain is fixed-order with one correctly-rounded IEEE sqrt, floored
    to micro. One user-keyed agg, then metadata-sized arms + 1-row
    pivot (sanctioned crossJoin shape)."""
    from denormalized_spark.operators.analytics import ab_test_proportions

    e = t(spark, sf, "events")
    return ab_test_proportions(
        e, "user_id",
        (F.col("user_id") % 2).cast("int"),
        (F.col("event_type") == "purchase").cast("int"),
    )


@q(
    "events_twap",
    """
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT event_type, day, cents,
             date_diff('millisecond', ts,
                       lead(ts) OVER (PARTITION BY event_type, day
                                      ORDER BY ts, event_id)) AS dur
      FROM e
    )
    SELECT event_type, day,
           CAST(count(dur) AS BIGINT) AS n_intervals,
           CAST(sum(dur) AS BIGINT) AS total_ms,
           CAST((sum(cents * dur) * 100) // sum(dur) AS BIGINT) AS twap_e4
    FROM d WHERE dur IS NOT NULL
    GROUP BY event_type, day
    HAVING sum(dur) > 0
    """,
)
def events_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average price per (type, day) — each sample
    weighted by how long it was the latest observation (lead-duration
    weighting; the last sample of a day carries no interval and is
    excluded, documented) — operators/analytics.twap, the
    finance-standard TWAP beside window_ohlc. All-integer: cent x
    millisecond products sum exactly, final exact e4 via integer
    division (div ≡ //). One (type, day) keyed exchange shared by the
    lead window and the aggregate."""
    from denormalized_spark.operators.analytics import twap

    e = t(spark, sf, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    return twap(
        e, ["event_type", "day"], "ts",
        F.round(F.col("value") * 100).cast("long"), "event_id",
    )


@q(
    "events_drawdown",
    """
    WITH c AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, ts, cents,
             max(cents) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM c
    )
    SELECT event_type,
           CAST(max(peak - cents) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS max_peak_cents
    FROM r GROUP BY event_type
    """,
)
def events_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown per event type: the largest peak-to-trough
    drop of the value series in (ts, event_id) order — the quant
    risk classic, expressed as running-max window minus current,
    then a per-group max. All integer cents, total order pinned.
    ONE keyed exchange shared by the running-max window and the
    final aggregate."""
    from pyspark.sql import Window

    e = t(spark, sf, "events").select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = e.withColumn("peak", F.max("cents").over(w))
    return r.groupBy("event_type").agg(
        F.max(F.col("peak") - F.col("cents")).alias("max_drawdown_cents"),
        F.max("peak").alias("max_peak_cents"),
    )


@q(
    "agg_backlog_ledger",
    """
    WITH placed AS (
      SELECT l.l_partkey AS partkey, o.o_orderdate AS ts,
             0 AS is_ship, l.l_orderkey AS ok, l.l_linenumber AS ln,
             CAST(l.l_quantity AS BIGINT) AS delta
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    shipped AS (
      SELECT l_partkey AS partkey, l_shipdate AS ts,
             1 AS is_ship, l_orderkey AS ok, l_linenumber AS ln,
             -CAST(l_quantity AS BIGINT) AS delta
      FROM lineitem
    ),
    ledger AS (SELECT * FROM placed UNION ALL SELECT * FROM shipped),
    run AS (
      SELECT partkey, delta,
             sum(delta) OVER (PARTITION BY partkey
                              ORDER BY ts, is_ship, ok, ln
                              ROWS UNBOUNDED PRECEDING) AS bal
      FROM ledger
    )
    SELECT partkey,
           CAST(count(*) AS BIGINT) AS n_moves,
           CAST(max(bal) AS BIGINT) AS peak_backlog,
           CAST(sum(delta) AS BIGINT) AS end_balance
    FROM run GROUP BY partkey
    """,
)
def agg_backlog_ledger(spark: SparkSession, sf: str) -> DataFrame:
    """Event-sourced running ledger: per part, +quantity when an order
    places it, -quantity when the line ships; the running balance
    under a pinned total order (ts, leg, orderkey, linenumber) gives
    the OUTSTANDING BACKLOG curve — emitted as its peak, the move
    count, and the end balance (exactly 0 for every part in TPC-H:
    every placed unit ships — a built-in conservation check the hash
    verifies). The account-balance/event-sourcing projection shape:
    UNION ALL the signed legs, ONE part-keyed exchange shared by the
    running-sum window and the final aggregate; all-integer."""
    from pyspark.sql import Window

    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    placed = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_partkey").alias("partkey"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("is_ship"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("delta"),
    )
    shipped = li.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_shipdate").alias("ts"),
        F.lit(1).alias("is_ship"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        (-F.col("l_quantity")).cast("long").alias("delta"),
    )
    ledger = placed.unionByName(shipped)
    w = (
        Window.partitionBy("partkey")
        .orderBy("ts", "is_ship", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ledger.withColumn("bal", F.sum("delta").over(w))
    return run.groupBy("partkey").agg(
        F.count("*").alias("n_moves"),
        F.max("bal").alias("peak_backlog"),
        F.sum("delta").alias("end_balance"),
    )


@q(
    "scd2_user_state",
    """
    WITH flg AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    runs AS (
      SELECT user_id, ts, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flg
    ),
    iv AS (
      SELECT user_id, event_type, version, min(ts) AS valid_from
      FROM runs GROUP BY user_id, event_type, version
    )
    SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
           valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL) AS is_current
    FROM iv
    """,
)
def scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension build (Kimball type-2 history) from the events
    change-log: each user's event_type runs folded into validity
    intervals with version numbers and a current flag — the
    warehouse-maintenance operator the as-of join then probes
    point-in-time. One user-keyed shuffle serves the change flag, the
    run counter, the interval agg and the lead() close-out (same
    exchange: partitioning + sort agree); (ts, event_id) pins the
    total order per the repo's tiebreak standard."""
    from denormalized_spark.operators.temporal import scd2_intervals

    e = t(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    return scd2_intervals(
        e, ["user_id"], "ts", ["event_type"], tiebreak_col="event_id"
    )


@q(
    "events_acf_daily",
    """
    WITH ser AS (
      SELECT o_orderdate::DATE AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    rn AS (SELECT row_number() OVER (ORDER BY d) AS rn, x FROM ser),
    st AS (SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS s FROM rn),
    dv AS (SELECT rn, (st.n::HUGEINT * x::HUGEINT - st.s) AS dev FROM rn, st),
    den AS (SELECT sum(dev * dev) AS den FROM dv),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pr AS (
      SELECT l.lag, count(*)::BIGINT AS n_pairs, sum(a.dev * b.dev) AS num
      FROM dv a JOIN lags l ON true JOIN dv b ON b.rn = a.rn + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(pr.lag AS BIGINT) AS lag, n_pairs,
           CAST(floor(num::DOUBLE / den.den::DOUBLE * 1000000 + 0.5) AS BIGINT)
             AS acf_micro
    FROM pr, den ORDER BY lag
    """,
)
def events_acf_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags 1-7
    (Box-Jenkins ACF — the seasonality/memory probe in front of any
    forecasting or anomaly model; a weekly cycle spikes lag 7). The
    data-sized pass is the one groupBy(order date); the ACF itself
    runs on the period-level series (metadata: ~2.4k days at any
    corpus size). Integer-exact n²-scaled deviations in decimal(38,0)
    ↔ HUGEINT; the single num/den division micro-floors on both
    engines — see operators/analytics.autocorrelation."""
    from denormalized_spark.operators.analytics import autocorrelation

    o = t(spark, sf, "orders")
    ser = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    return autocorrelation(ser, "d", "x", max_lag=7)


_COVIS_CAP = 16


@q(
    "graph_covisit_triangles",
    f"""
    WITH iu AS (
      SELECT DISTINCT (props->>'k') || '|' || (date_trunc('day', ts)::DATE)::VARCHAR AS it,
             user_id AS u
      FROM events
    ),
    ok AS (SELECT it FROM iu GROUP BY it
           HAVING count(*) BETWEEN 2 AND {_COVIS_CAP}),
    e AS (SELECT DISTINCT a.u AS u, b.u AS v
          FROM iu a JOIN iu b ON a.it = b.it AND a.u < b.u
          JOIN ok ON ok.it = a.it),
    deg AS (SELECT n, count(*)::BIGINT AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
    ed AS (SELECT e.u, e.v, du.d AS du, dv.d AS dv FROM e
           JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
    o AS (SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
                 CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
                 CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dd
          FROM ed),
    w AS (SELECT a.src, a.dst AS b, c.dst AS c FROM o a JOIN o c ON a.src = c.src
          WHERE (a.dd, a.dst) < (c.dd, c.dst)),
    tri AS (SELECT count(*)::BIGINT AS t FROM w
            WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.b AND o.dst = w.c))
    SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
           (SELECT count(*)::BIGINT FROM e) AS n_edges,
           (SELECT sum(d * (d - 1) // 2)::BIGINT FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
                THEN CAST(floor(3::DOUBLE * (SELECT t FROM tri)::DOUBLE
                                / (SELECT sum(d * (d - 1) // 2) FROM deg)::DOUBLE
                                * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS clustering_micro
    """,
)
def graph_covisit_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the user co-visitation graph: users edge
    when they touch the same (item, day) — the interaction-graph
    projection under the repo bucket-cap contract (degenerate items
    drop WHOLE, HAVING-mirrored) — then degree-ordered triangle
    counting (Suri & Vassilvitskii 2011: every triangle counted once
    from its lowest-degree corner, oriented out-degree O(√m) even on
    power-law graphs). Emits the 1-row cohesion summary incl. the
    global clustering coefficient. All equi-joins; integer-exact to
    the final micro-floored ratio."""
    from denormalized_spark.operators.graph import (
        covisitation_edges,
        triangle_stats,
    )

    e = t(spark, sf, "events").select(
        "user_id",
        F.concat_ws(
            "|",
            F.get_json_object("props", "$.k"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string"),
        ).alias("item"),
    )
    edges = covisitation_edges(e, "user_id", "item", max_users_per_item=_COVIS_CAP)
    return triangle_stats(edges)


@q(
    "events_ks_drift",
    """
    WITH c AS (
      SELECT value AS v,
             sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS cb
      FROM events GROUP BY value
    ),
    r AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cca,
                 sum(cb) OVER (ORDER BY v) AS ccb FROM c),
    t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM c),
    d AS (SELECT v, abs(cca * t.nb - ccb * t.na) AS dnum FROM r, t),
    m AS (SELECT max(dnum) AS md FROM d),
    am AS (SELECT min(v) AS atv FROM d, m WHERE dnum = md)
    SELECT na AS n_a, nb AS n_b,
           CAST(floor(md::DOUBLE / (na::DOUBLE * nb::DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS ks_d_micro,
           atv AS ks_at_value
    FROM t, m, am
    """,
)
def events_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on the event value
    distribution between the parity-split snapshots (prev = even
    event ids, the curation_drift_report convention): the shape-
    sensitive companion of that report's rate deltas. Integer CDF
    comparison (|CA·n_b − CB·n_a|), one division at the end; the
    cumulative counts use the scale-safe range-partition running sum,
    never a single-reducer sort. See operators/analytics.ks_two_sample."""
    from denormalized_spark.operators.analytics import ks_two_sample

    e = t(spark, sf, "events")
    return ks_two_sample(e, "value", F.col("event_id") % 2 == 0)


@q(
    "events_chi2_weekday",
    """
    WITH obs AS (
      SELECT event_type, (isodow(ts) - 1)::BIGINT AS weekday,
             count(*)::BIGINT AS observed
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(observed)::BIGINT AS rt FROM obs GROUP BY 1),
    ct AS (SELECT weekday, sum(observed)::BIGINT AS ct FROM obs GROUP BY 1),
    nn AS (SELECT sum(observed)::BIGINT AS n,
                  count(DISTINCT event_type)::BIGINT AS r,
                  count(DISTINCT weekday)::BIGINT AS c FROM obs),
    pc AS (
      SELECT obs.event_type, obs.weekday, observed,
             CAST(floor((rt.rt * ct.ct)::DOUBLE / nn.n::DOUBLE * 1000 + 0.5)
                  AS BIGINT) AS expected_milli,
             CAST(floor(((observed * nn.n - rt.rt * ct.ct)::HUGEINT
                         * (observed * nn.n - rt.rt * ct.ct)::HUGEINT)::DOUBLE
                        / (nn.n::HUGEINT * rt.rt::HUGEINT * ct.ct::HUGEINT)::DOUBLE
                        * 1000000 + 0.5) AS BIGINT) AS contrib_micro,
             CAST((nn.r - 1) * (nn.c - 1) AS BIGINT) AS dof
      FROM obs JOIN rt USING (event_type) JOIN ct USING (weekday) CROSS JOIN nn
    ),
    tot AS (SELECT sum(contrib_micro)::BIGINT AS chi2_micro FROM pc),
    vv AS (
      SELECT chi2_micro,
             CAST(floor(sqrt(chi2_micro::DOUBLE / 1000000.0
                             / (nn.n * greatest(least(nn.r - 1, nn.c - 1), 1))::DOUBLE)
                        * 1000 + 0.5) AS BIGINT) AS cramers_v_milli
      FROM tot, nn
    )
    SELECT event_type, weekday, observed, expected_milli, contrib_micro,
           chi2_micro, cramers_v_milli, dof
    FROM pc, vv
    """,
)
def events_chi2_weekday(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-squared independence test: is event_type independent of
    weekday? Per-cell observed vs independence expectation plus the
    micro-floored contribution, with the table chi2 and dof repeated
    per row — the contingency companion of the Benford goodness-of-fit
    screen (data-quality: a synthetic corpus SHOULD accept
    independence; real traffic rarely does). Big products carried in
    decimal(38,0) ↔ HUGEINT (the ACF pattern). See
    operators/analytics.chi2_independence."""
    from denormalized_spark.operators.analytics import chi2_independence

    e = t(spark, sf, "events").select(
        "event_type", F.weekday(F.col("ts")).cast("long").alias("weekday")
    )
    return chi2_independence(e, "event_type", "weekday")


_PSI_LO, _PSI_HI, _PSI_B = 0.0, 200.0, 10


@q(
    "events_psi_drift",
    f"""
    WITH src AS (
      SELECT least(greatest(floor((value - {_PSI_LO}) / {(200.0 - 0.0) / 10}), 0),
                   {_PSI_B - 1})::BIGINT AS bin,
             event_id % 2 = 0 AS r
      FROM events
    ),
    cnt AS (SELECT bin,
                   sum(CASE WHEN r THEN 1 ELSE 0 END)::BIGINT AS cr,
                   sum(CASE WHEN r THEN 0 ELSE 1 END)::BIGINT AS cc
            FROM src GROUP BY bin),
    grid AS (SELECT unnest(range(0, {_PSI_B})) AS bin),
    full_ AS (SELECT grid.bin, coalesce(cr, 0) AS n_ref, coalesce(cc, 0) AS n_cur
              FROM grid LEFT JOIN cnt USING (bin)),
    tot AS (SELECT sum(n_ref)::BIGINT AS nr, sum(n_cur)::BIGINT AS nc FROM full_),
    pc AS (
      SELECT bin, n_ref, n_cur,
             CAST(floor(((n_ref::DOUBLE + 0.5) / (nr::DOUBLE + {_PSI_B / 2.0})
                         - (n_cur::DOUBLE + 0.5) / (nc::DOUBLE + {_PSI_B / 2.0}))
                        * ln(((n_ref::DOUBLE + 0.5) / (nr::DOUBLE + {_PSI_B / 2.0}))
                             / ((n_cur::DOUBLE + 0.5) / (nc::DOUBLE + {_PSI_B / 2.0})))
                        * 1000000 + 0.5) AS BIGINT) AS psi_term_micro
      FROM full_, tot
    ),
    s AS (SELECT sum(psi_term_micro)::BIGINT AS psi_micro FROM pc)
    SELECT bin, n_ref, n_cur, psi_term_micro, psi_micro FROM pc, s
    """,
)
def events_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of the event value distribution
    between the parity snapshots over 10 equi-width [0, 200) bins —
    the third leg of the drift family (rate deltas → KS → PSI):
    scorecard monitoring's integrated-shift metric with the standard
    0.1/0.25 alarm bands. Jeffreys +0.5 smoothing (empty bins emitted,
    never infinite); per-bin micro terms sum exactly. See
    operators/analytics.psi_binned."""
    from denormalized_spark.operators.analytics import psi_binned

    e = t(spark, sf, "events")
    return psi_binned(
        e, "value", F.col("event_id") % 2 == 0, _PSI_LO, _PSI_HI, _PSI_B
    )


@q(
    "events_mann_kendall",
    """
    WITH s AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, cents AS x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
          FROM s),
    p AS (
      SELECT a.event_type,
             CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg,
             (b.x - a.x)::DOUBLE / (b.rn - a.rn)::DOUBLE AS slope
      FROM r a JOIN r b ON a.event_type = b.event_type AND a.rn < b.rn
    ),
    pa AS (SELECT event_type, sum(sg)::BIGINT AS s_stat,
                  count(*)::BIGINT AS np, list_sort(list(slope)) AS sl
           FROM p GROUP BY 1),
    ti AS (SELECT event_type,
                  sum(t*(t-1)*(2*t+5))::BIGINT AS tie,
                  sum(t)::BIGINT AS n_periods
           FROM (SELECT event_type, x, count(*)::BIGINT AS t
                 FROM r GROUP BY 1, 2)
           GROUP BY 1),
    f AS (
      SELECT pa.event_type, n_periods, s_stat,
             (n_periods*(n_periods-1)*(2*n_periods+5) - tie)::BIGINT AS var18,
             np, sl,
             CASE WHEN np % 2 = 1 THEN sl[CAST((np+1)//2 AS INT)]
                  ELSE (sl[CAST(np//2 AS INT)] + sl[CAST(np//2+1 AS INT)]) / 2.0
             END AS med
      FROM pa JOIN ti USING (event_type)
    ),
    g AS (
      SELECT event_type, n_periods, s_stat, var18,
             CAST(floor(
               CASE WHEN var18 <= 0 THEN 0.0
                    WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE
                                         / sqrt(var18::DOUBLE / 18.0)
                    WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE
                                         / sqrt(var18::DOUBLE / 18.0)
                    ELSE 0.0 END * 1000000 + 0.5) AS BIGINT) AS z_micro,
             CAST(floor(med * 1000000 + 0.5) AS BIGINT) AS sen_slope_micro
      FROM f
    )
    SELECT event_type, n_periods, s_stat, var18, z_micro,
           CASE WHEN z_micro >= 1960000 THEN 'increasing'
                WHEN z_micro <= -1960000 THEN 'decreasing'
                ELSE 'none' END AS trend,
           sen_slope_micro
    FROM g ORDER BY event_type
    """,
)
def events_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope on daily revenue-cents
    per event type (operators/analytics.mann_kendall): the standard
    nonparametric drift monitor — S and the tie-corrected Var(S)·18
    are pure integers, z is one sqrt + one division micro-floored,
    Sen's slope is the exact median of ~T²/2 pairwise slopes. The
    data-sized pass is the daily groupBy; the quadratic pair join
    runs on the period-level series (≤ ~465 pairs per type for a
    31-day month), group-keyed."""
    from denormalized_spark.operators.analytics import mann_kendall

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("cents"))
    )
    return mann_kendall(series, "event_type", "day", "cents")


@q(
    "events_survival_km",
    """
    WITH t0 AS (SELECT user_id, min(ts) AS t0
                FROM events WHERE event_type = 'signup' GROUP BY 1),
    te AS (SELECT e.user_id, min(e.ts) AS te
           FROM events e JOIN t0 USING (user_id)
           WHERE e.event_type = 'error' AND e.ts > t0.t0
           GROUP BY e.user_id),
    mx AS (SELECT max(ts) AS m FROM events),
    subj AS (
      SELECT t0.user_id,
             CASE WHEN te.te IS NOT NULL
                  THEN date_diff('day', t0.t0::DATE, te.te::DATE)
                  ELSE date_diff('day', t0.t0::DATE, mx.m::DATE)
             END::BIGINT AS dur,
             CASE WHEN te.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 LEFT JOIN te USING (user_id) CROSS JOIN mx
    ),
    counts AS (SELECT dur AS t, sum(ev)::BIGINT AS n_events,
                      (count(*) - sum(ev))::BIGINT AS n_censored
               FROM subj GROUP BY 1),
    c AS (SELECT t, n_events, n_censored,
                 (sum(n_events + n_censored) OVER ()
                  - coalesce(sum(n_events + n_censored) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0))::BIGINT AS n_risk,
                 row_number() OVER (ORDER BY t) AS rk
          FROM counts),
    f AS (SELECT t, n_events, n_censored, n_risk, rk,
                 (n_risk - n_events)::DOUBLE / n_risk::DOUBLE AS fct FROM c),
    arr AS (SELECT list(fct ORDER BY t) AS fs FROM f)
    SELECT t, n_risk, n_events, n_censored,
           CAST(floor(list_reduce(list_prepend(1.0, fs[1:rk]),
                                  (a, b) -> a * b) * 1000000 + 0.5)
                AS BIGINT) AS survival_micro
    FROM f, arr ORDER BY t
    """,
)
def events_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival of signup→first-error time with right-
    censoring at the observation horizon
    (operators/analytics.kaplan_meier): users who never error are
    CENSORED, not dropped — the estimator averaging ignores, and the
    reason KM beats a plain mean time-to-failure. Subjects are built
    with two user-keyed aggs (signup epoch, first error strictly
    after it) + a broadcast 1-row horizon; the curve itself is
    day-binned metadata and the running product is the pinned fold
    the oracle replays with list_reduce."""
    from denormalized_spark.operators.analytics import kaplan_meier

    e = t(spark, sf, "events")
    t0 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t0"))
    )
    te = (
        e.join(t0, "user_id")
        .filter((F.col("event_type") == "error") & (F.col("ts") > F.col("_t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_te"))
    )
    mx = e.agg(F.max("ts").alias("_m"))
    subj = (
        t0.join(te, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.col("_te").cast("date"), F.col("_t0").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("_m").cast("date"), F.col("_t0").cast("date"))
            )
            .cast("long")
            .alias("dur"),
            F.when(F.col("_te").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    return kaplan_meier(subj, "dur", "ev")


def _ewma_values_cte() -> str:
    from denormalized_spark.operators.analytics import ewma_weight_table

    rows = ", ".join(f"({k}, {w}, {u}, {g})" for k, w, u, g in ewma_weight_table())
    kmax = ewma_weight_table()[-1][0]
    return rows, kmax


_EWMA_ROWS, _EWMA_KMAX = _ewma_values_cte()


@q(
    "events_ewma_daily",
    f"""
    WITH s AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, day, cents AS x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
          FROM s),
    wt(k, w, u, g) AS (VALUES {_EWMA_ROWS}),
    st AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sm,
                  sum(x*x)::BIGINT AS q
           FROM r WHERE day < DATE '2024-01-16' GROUP BY 1),
    p AS (SELECT b.event_type, b.day, b.rk, b.x,
                 sum(a.x * CASE WHEN a.rk = 1 THEN wt.u ELSE wt.w END)::BIGINT
                   AS ewma_micro,
                 CAST(floor((sum(abs(a.x)) + 1) / 2) AS BIGINT) AS slack
          FROM r b JOIN r a ON a.event_type = b.event_type AND a.rk <= b.rk
          JOIN wt ON wt.k = b.rk - a.rk
          GROUP BY 1, 2, 3, 4),
    f AS (SELECT p.event_type, p.day, p.x, p.ewma_micro, p.slack,
                 CAST(floor(abs(p.ewma_micro::DOUBLE
                     - st.sm::DOUBLE * 1000000.0 / st.n::DOUBLE) + 0.5)
                   AS BIGINT) AS dev_micro,
                 CAST(floor(3.0 * (sqrt((st.n * st.q - st.sm * st.sm)::DOUBLE)
                     / st.n::DOUBLE) * wt2.g::DOUBLE + 0.5)
                   AS BIGINT) AS limit_micro
          FROM p JOIN st USING (event_type)
          JOIN wt wt2 ON wt2.k + 1 = least(p.rk, {_EWMA_KMAX + 1}))
    SELECT event_type, day, x, ewma_micro, dev_micro, limit_micro,
           dev_micro > limit_micro + slack AS breach
    FROM f ORDER BY event_type, day
    """,
)
def events_ewma_daily(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA control chart on daily revenue-cents per event type
    (operators/analytics.ewma_control, λ=0.2, 3σ): the small-shift
    drift monitor beside the Shewhart-style MAD/z channels — z_t
    pools a geometrically-weighted history, with the exact finite-t
    limit width. Phase-I calibration on the first 15 days (mu, sigma
    from the in-control window), Phase-II monitoring over the whole
    month. Every EWMA weight and width factor is a precomputed
    micro-integer LITERAL baked into both the Spark plan and this
    oracle, so z_t·10⁶ is an integer dot product and neither engine
    evaluates a transcendental; the only floats are one sqrt + pinned
    divisions, micro-floored. The convolution is a group-keyed
    T×(≤66) metadata self-join after the data-sized daily groupBy."""
    from denormalized_spark.operators.analytics import ewma_control

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("cents"))
    )
    return ewma_control(
        series, "event_type", "day", "cents",
        baseline=F.col("day") < F.lit("2024-01-16").cast("date"),
    )


@q(
    "events_ab_cuped",
    """
    WITH u AS (
      SELECT user_id, max(user_id % 2) AS v,
             sum(CASE WHEN event_type = 'purchase' AND ts < DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase' AND ts >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
             sum(y)::HUGEINT AS sy, sum(x*y)::HUGEINT AS sxy,
             sum(x*x)::HUGEINT AS sxx, sum(y*y)::HUGEINT AS syy
      FROM u
    ),
    mo AS (
      SELECT n, sx, (n*sxy - sx*sy) AS cxy, (n*sxx - sx*sx) AS vx,
             (n*syy - sy*sy) AS vy
      FROM pooled
    ),
    arms AS (SELECT v, count(*)::BIGINT AS na, sum(x)::BIGINT AS ax,
                    sum(y)::BIGINT AS ay
             FROM u GROUP BY v),
    j AS (
      SELECT a.na AS n_a, a.ax AS xa, a.ay AS ya,
             b.na AS n_b, b.ax AS xb, b.ay AS yb, mo.*
      FROM (SELECT * FROM arms WHERE v = 0) a
      CROSS JOIN (SELECT * FROM arms WHERE v = 1) b
      CROSS JOIN mo
    ),
    calc AS (
      SELECT n_a, n_b,
             cxy::DOUBLE / vx::DOUBLE AS theta,
             sx::DOUBLE / n::DOUBLE AS mxall,
             ya::DOUBLE / n_a::DOUBLE AS mya, yb::DOUBLE / n_b::DOUBLE AS myb,
             xa::DOUBLE / n_a::DOUBLE AS mxa, xb::DOUBLE / n_b::DOUBLE AS mxb,
             cxy::DOUBLE * cxy::DOUBLE / (vx::DOUBLE * vy::DOUBLE) AS rho2,
             vx, vy
      FROM j
    )
    SELECT n_a, n_b,
           CAST(floor(CASE WHEN vx > 0 THEN theta ELSE 0.0 END
                * 1000000 + 0.5) AS BIGINT) AS theta_micro,
           CAST(floor((myb - mya) * 1000000 + 0.5) AS BIGINT)
             AS diff_raw_micro,
           CAST(floor(CASE WHEN vx > 0
                  THEN (myb - theta * (mxb - mxall))
                       - (mya - theta * (mxa - mxall))
                  ELSE myb - mya END * 1000000 + 0.5) AS BIGINT)
             AS diff_cuped_micro,
           CAST(floor(CASE WHEN vx > 0 AND vy > 0 THEN rho2 ELSE 0.0 END
                * 1000000 + 0.5) AS BIGINT) AS var_reduction_micro
    FROM calc
    """,
)
def events_ab_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance-reduced experiment readout
    (operators/analytics.cuped_adjustment, Deng et al. 2013): the
    pre-period purchase spend (days 1-15) is the covariate for the
    experiment-period spend (days 16-30), variant = user parity (the
    events_ab_test convention). θ and ρ² come from integer moments in
    decimal38/HUGEINT; the adjusted difference spends one ::double per
    operand, micro-floored. One user-keyed agg; everything after is
    2-row/1-row metadata."""
    from denormalized_spark.operators.analytics import cuped_adjustment

    e = t(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("date").cast("timestamp")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    is_p = F.col("event_type") == "purchase"
    u = e.groupBy("user_id").agg(
        F.max(F.col("user_id") % 2).alias("v"),
        F.sum(F.when(is_p & (F.col("ts") < cut), cents).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(is_p & (F.col("ts") >= cut), cents).otherwise(0))
        .cast("long").alias("y"),
    )
    return cuped_adjustment(u, "v", "x", "y")


_KCORE_K = 60
_KCORE_ROUNDS = 6
_KCORE_CAP = 8


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    d{i} AS MATERIALIZED (SELECT n, count(*)::BIGINT AS d
             FROM (SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
             GROUP BY n),
    r{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d < {_KCORE_K}),
    e{i} AS MATERIALIZED (SELECT u, v FROM {prev}
             WHERE NOT EXISTS (SELECT 1 FROM r{i} WHERE r{i}.n = {prev}.u)
               AND NOT EXISTS (SELECT 1 FROM r{i} WHERE r{i}.n = {prev}.v))""")
        prev = f"e{i}"
    return f"""
    WITH iu AS (SELECT DISTINCT l_orderkey AS it, l_partkey AS u FROM lineitem),
    ok AS (SELECT it FROM iu GROUP BY it
           HAVING count(*) BETWEEN 2 AND {_KCORE_CAP}),
    e0 AS MATERIALIZED (SELECT DISTINCT a.u AS u, b.u AS v
           FROM iu a JOIN iu b ON a.it = b.it AND a.u < b.u
           JOIN ok ON ok.it = a.it),{",".join(rounds)}
    SELECT n, d AS core_degree
    FROM (SELECT n, count(*)::BIGINT AS d
          FROM (SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
          GROUP BY n)
    WHERE d >= {_KCORE_K}
    ORDER BY n
    """


@q("graph_kcore_parts", _kcore_oracle(), eager=True)
def graph_kcore_parts(spark: SparkSession, sf: str) -> DataFrame:
    """{k}-core of the part co-purchase graph (parts edge when bought
    in the same order, the covisitation bucket-cap contract):
    operators/graph.kcore_peel — iterative peeling, every pass
    materialized (one degree agg + two anti-joins on the shrinking
    edge set). The entry runs {r} FIXED rounds so the DuckDB oracle
    can replay them as unrolled CTEs; convergence (round {r} ==
    fixpoint) was verified at all three SFs this round — the peel
    cascade is sharpest at sf0.001 (k=65 collapses 171→0 across 6
    rounds; k=60 settles at round 4). The cohesion filter a plain
    degree threshold gets wrong: removing a low-degree part exposes
    its neighbors, and the cascade is the algorithm.""".format(
        k=_KCORE_K, r=_KCORE_ROUNDS
    )
    from denormalized_spark.operators.graph import covisitation_edges, kcore_peel

    li = t(spark, sf, "lineitem")
    edges = covisitation_edges(
        li, "l_partkey", "l_orderkey", max_users_per_item=_KCORE_CAP
    )
    return kcore_peel(edges, _KCORE_K, rounds=_KCORE_ROUNDS).orderBy("n")


@q(
    "events_forecast_mase",
    """
    WITH s AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, cents AS x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS t
          FROM s),
    lagged AS (
      SELECT c.event_type, c.rk, c.t, abs(c.x - l.x)::BIGINT AS ae
      FROM r c JOIN r l ON c.event_type = l.event_type AND l.rk = c.rk - 7
    ),
    agg AS (
      SELECT event_type,
             coalesce(sum(CASE WHEN rk <= t - 7 THEN ae END), 0)::BIGINT AS sae_train,
             sum(CASE WHEN rk <= t - 7 THEN 1 ELSE 0 END)::BIGINT AS n_train,
             coalesce(sum(CASE WHEN rk > t - 7 THEN ae END), 0)::BIGINT AS sae_test,
             sum(CASE WHEN rk > t - 7 THEN 1 ELSE 0 END)::BIGINT AS n_test
      FROM lagged GROUP BY 1
    )
    SELECT event_type, n_train, n_test, sae_train, sae_test,
           CASE WHEN sae_train > 0 AND n_test > 0
                THEN CAST(floor((sae_test * n_train * 1000)::DOUBLE
                         / (n_test * sae_train)::DOUBLE + 0.5) AS BIGINT)
                ELSE -1 END AS mase_milli
    FROM agg ORDER BY event_type
    """,
)
def events_forecast_mase(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest on daily revenue-cents per
    event type (operators/analytics.seasonal_naive_mase): hold out the
    last week, forecast x̂_t = x_{t−7}, score with MASE — the
    scale-free Hyndman-Koehler metric gating whether any model beats
    the weekly naive. Integer |diff| sums; one cross-multiplied
    division, milli-floored. The lag join is group-keyed over the
    period-level series."""
    from denormalized_spark.operators.analytics import seasonal_naive_mase

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("cents"))
    )
    return seasonal_naive_mase(series, "event_type", "day", "cents")


@q(
    "events_ccf_click_purchase",
    """
    WITH s AS (
      SELECT ts::DATE AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
      FROM events GROUP BY 1
    ),
    r AS (SELECT row_number() OVER (ORDER BY day) AS rn, x, y FROM s),
    st AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                  sum(y)::BIGINT AS sy FROM r),
    b AS (SELECT rn, (st.n * x - st.sx)::HUGEINT AS dx,
                 (st.n * y - st.sy)::HUGEINT AS dy
          FROM r CROSS JOIN st),
    den AS (SELECT sum(dx * dx)::HUGEINT AS dxx, sum(dy * dy)::HUGEINT AS dyy
            FROM b),
    lg AS (SELECT b.rn, b.dx AS d1, l.lag
           FROM b CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) l),
    p AS (SELECT lg.lag, count(*)::BIGINT AS n_pairs,
                 sum(lg.d1 * b2.dy)::HUGEINT AS num
          FROM lg JOIN b b2 ON b2.rn = lg.rn + lg.lag
          GROUP BY lg.lag)
    SELECT p.lag::BIGINT AS lag, n_pairs,
           CASE WHEN dxx > 0 AND dyy > 0
                THEN CAST(floor(num::DOUBLE
                     / (sqrt(dxx::DOUBLE) * sqrt(dyy::DOUBLE))
                     * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS ccf_micro
    FROM p CROSS JOIN den ORDER BY lag
    """,
)
def events_ccf_click_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-correlation of daily click and purchase counts over lags
    −7..+7 (operators/analytics.cross_correlation): the lead/lag probe
    beside the ACF — a positive peak at lag ℓ>0 reads "clicks lead
    purchases by ℓ days". Deviations are integers (decimal38 ↔
    HUGEINT); the denominator is the factored √·√ form so nothing
    grazes the 38-digit ceiling; one division per lag, micro-floored.
    The series is period-level metadata after the one data-sized
    daily groupBy."""
    from denormalized_spark.operators.analytics import cross_correlation

    e = t(spark, sf, "events")
    s = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long").alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long").alias("y"),
        )
    )
    return cross_correlation(s, "day", "x", "y", max_lag=7)


@q(
    "events_changepoint_effect",
    """
    WITH c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(floor(avg(n) * 1000000 + 0.5) AS BIGINT) AS mu,
             CAST(floor(stddev_samp(n) * 1000000 + 0.5) AS BIGINT) AS sig
      FROM c GROUP BY 1
    ),
    d AS (
      SELECT c.event_type, ws, n, mu, sig, sig // 2 AS kap
      FROM c JOIN st USING (event_type)
    ),
    p AS (
      SELECT event_type, ws, n, sig,
             sum(n * 1000000 - mu - kap) OVER w AS pp,
             sum(n * 1000000 - mu + kap) OVER w AS pn
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY ws ROWS UNBOUNDED PRECEDING)
    ),
    s AS (
      SELECT event_type, ws, n, sig,
             pp - least(0, min(pp) OVER w) AS sp,
             greatest(0, max(pn) OVER w) - pn AS sn
      FROM p
      WINDOW w AS (PARTITION BY event_type ORDER BY ws ROWS UNBOUNDED PRECEDING)
    ),
    sp AS (
      SELECT event_type, min(ws) AS split_order
      FROM s WHERE sp > sig * 4 OR sn > sig * 4
      GROUP BY 1
    ),
    j AS (
      SELECT c.event_type, (c.ws < sp.split_order) AS bef, c.n AS x
      FROM c JOIN sp USING (event_type)
    ),
    agg AS (
      SELECT event_type,
             sum(CASE WHEN bef THEN 1 ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN bef THEN x ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN bef THEN x*x ELSE 0 END)::BIGINT AS q1,
             sum(CASE WHEN NOT bef THEN 1 ELSE 0 END)::BIGINT AS n2,
             sum(CASE WHEN NOT bef THEN x ELSE 0 END)::BIGINT AS s2,
             sum(CASE WHEN NOT bef THEN x*x ELSE 0 END)::BIGINT AS q2
      FROM j GROUP BY 1
    ),
    calc AS (
      SELECT event_type, n1, n2, s1, s2,
             s1::DOUBLE * 1000000.0 / n1::DOUBLE AS m1,
             s2::DOUBLE * 1000000.0 / n2::DOUBLE AS m2,
             ((n1 * q1 - s1 * s1)::DOUBLE / n1::DOUBLE
              + (n2 * q2 - s2 * s2)::DOUBLE / n2::DOUBLE)
             / (n1 + n2 - 2)::DOUBLE AS sp2,
             (n1 >= 2 AND n2 >= 2) AS defined
      FROM agg
    )
    SELECT event_type, n1 AS n_before, n2 AS n_after,
           CAST(floor(CASE WHEN n1 > 0 THEN m1 ELSE 0.0 END + 0.5) AS BIGINT)
             AS mean_before_micro,
           CAST(floor(CASE WHEN n2 > 0 THEN m2 ELSE 0.0 END + 0.5) AS BIGINT)
             AS mean_after_micro,
           CAST(floor(CASE WHEN n1 > 0 AND n2 > 0 THEN m2 - m1 ELSE 0.0 END
                + 0.5) AS BIGINT) AS shift_micro,
           CAST(floor(CASE WHEN defined AND sp2 > 0
                  THEN (s2::DOUBLE / n2::DOUBLE - s1::DOUBLE / n1::DOUBLE)
                       / sqrt(sp2)
                  ELSE 0.0 END * 1000 + 0.5) AS BIGINT) AS cohens_d_milli,
           defined AS effect_defined
    FROM calc ORDER BY event_type
    """,
)
def events_changepoint_effect(spark: SparkSession, sf: str) -> DataFrame:
    """Detection-to-effect-size composition: the first CUSUM alarm
    hour per event type becomes the split point, and
    operators/analytics.changepoint_effect quantifies the level shift
    there — before/after means, shift, pooled-σ Cohen's d. Detection
    says "something changed"; this ranks incidents by HOW MUCH (in
    σ). Types that never alarm drop (no changepoint to measure). The
    CUSUM trajectory is the oracle-proven integer recursion; the
    effect moments are integer sums with one pinned sqrt chain."""
    from denormalized_spark.operators.analytics import (
        changepoint_effect,
        cusum_changepoints,
    )

    e = t(spark, sf, "events")
    cu = cusum_changepoints(e, window_ms=3600_000)
    splits = (
        cu.filter("alarm")
        .groupBy("event_type")
        .agg(F.min("window_start_time").alias("split_order"))
    )
    series = cu.select("event_type", "window_start_time", "n")
    return changepoint_effect(
        series, splits, "event_type", "window_start_time", "n"
    ).orderBy("event_type")


@q(
    "events_eb_shrunk_rates",
    """
    WITH keyed AS (
      SELECT (props->>'k') AS key, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS x
      FROM events GROUP BY 1
    ),
    r AS (SELECT key, n, x,
                 CAST(floor((x * 1000000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
                   AS raw_rate_micro
          FROM keyed),
    mom AS (SELECT count(*)::BIGINT AS k, sum(raw_rate_micro)::BIGINT AS sr,
                   sum(raw_rate_micro * raw_rate_micro)::BIGINT AS qr
            FROM r),
    c AS (
      SELECT r.*, mom.k,
             sr::DOUBLE / k::DOUBLE AS m,
             (k * qr - sr * sr)::DOUBLE / (k * k)::DOUBLE AS v
      FROM r CROSS JOIN mom
    ),
    f AS (
      SELECT key, n, x, raw_rate_micro,
             m * (1000000.0 - m) AS mv, v, m, k
      FROM c
    ),
    g AS (
      SELECT key, n, x, raw_rate_micro,
             (k >= 2 AND v > 0 AND mv > v) AS ok,
             CASE WHEN (k >= 2 AND v > 0 AND mv > v)
                  THEN CAST(floor(m * (mv / v - 1.0) + 0.5) AS BIGINT)
                  ELSE 0 END AS alpha_micro,
             CASE WHEN (k >= 2 AND v > 0 AND mv > v)
                  THEN CAST(floor((1000000.0 - m) * (mv / v - 1.0) + 0.5)
                       AS BIGINT)
                  ELSE 0 END AS beta_micro
      FROM f
    )
    SELECT key, n, x, raw_rate_micro, alpha_micro, beta_micro,
           CASE WHEN ok
                THEN CAST(floor(((x * 1000000 + alpha_micro) * 1000000)::DOUBLE
                         / (n * 1000000 + alpha_micro + beta_micro)::DOUBLE
                         + 0.5) AS BIGINT)
                ELSE raw_rate_micro END AS shrunk_rate_micro,
           ok AS shrunk
    FROM g ORDER BY key
    """,
)
def events_eb_shrunk_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical-Bayes purchase-rate shrinkage per props-key
    (operators/analytics.eb_shrunk_rates): fit a beta prior to the
    population of per-key rates by method of moments, then rank on
    the posterior mean — the standard small-sample fix before any
    "top converting segments" list. Rates hit the micro grid as
    integers BEFORE the moment sums (no float summation order); α/β
    come from one pinned chain; each posterior is one integer
    cross-multiplied division. One key-keyed agg + a broadcast 1-row
    moment frame."""
    from denormalized_spark.operators.analytics import eb_shrunk_rates

    e = t(spark, sf, "events").select(
        F.get_json_object("props", "$.k").alias("k"),
        "event_type",
    )
    return eb_shrunk_rates(
        e, "k", F.col("event_type") == "purchase"
    ).orderBy("key")


@q(
    "graph_item_cf_parts",
    """
    WITH iu AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ok AS (SELECT u FROM iu GROUP BY u HAVING count(*) BETWEEN 2 AND 64),
    freqs AS (SELECT it, count(*)::BIGINT AS f FROM iu GROUP BY it),
    p AS (
      SELECT a.it AS item_a, b.it AS item_b, count(*)::BIGINT AS cocount
      FROM iu a JOIN iu b ON a.u = b.u AND a.it < b.it
      JOIN ok ON ok.u = a.u
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    s AS (
      SELECT p.item_a, p.item_b, p.cocount, fa.f AS n_a, fb.f AS n_b,
             CAST(floor(p.cocount::DOUBLE
                  / (sqrt(fa.f::DOUBLE) * sqrt(fb.f::DOUBLE)) * 1000 + 0.5)
                  AS BIGINT) AS cosine_milli
      FROM p JOIN freqs fa ON fa.it = p.item_a
             JOIN freqs fb ON fb.it = p.item_b
    )
    SELECT * FROM s
    ORDER BY cosine_milli DESC, item_a, item_b LIMIT 100
    """,
)
def graph_item_cf_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering over co-purchased parts
    (operators/graph.item_cf_similarity, Sarwar et al. 2001): cosine
    over binary customer vectors, top-100 "bought together" pairs —
    the recommender primitive, computed under the repo bucket-cap
    contract (per-customer capped collect, one pair-keyed count
    shuffle, min_cocount killing the singleton tail at the reducer;
    no user×item matrix anywhere). Deterministic TakeOrdered with
    full tiebreaks."""
    from denormalized_spark.operators.graph import item_cf_similarity

    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    ui = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
    sim = item_cf_similarity(ui, "cust", "part", max_items_per_user=64, min_cocount=2)
    return sim.orderBy(
        F.desc("cosine_milli"), F.asc("item_a"), F.asc("item_b")
    ).limit(100)


_LPA_ROUNDS = 4
_LPA_CAP = 8


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    v{i} AS MATERIALIZED (
      SELECT n, label, count(*)::BIGINT AS cnt FROM (
        SELECT eb.t AS n, l.label FROM eb JOIN {prev} l ON l.n = eb.s
        UNION ALL SELECT n, label FROM {prev}
      ) GROUP BY n, label),
    l{i} AS MATERIALIZED (
      SELECT n, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n ORDER BY cnt DESC, label) AS r
        FROM v{i}) WHERE r = 1)""")
        prev = f"l{i}"
    return f"""
    WITH iu AS (SELECT DISTINCT l_orderkey AS it, l_partkey AS u FROM lineitem),
    ok AS (SELECT it FROM iu GROUP BY it
           HAVING count(*) BETWEEN 2 AND {_LPA_CAP}),
    e0 AS MATERIALIZED (SELECT DISTINCT a.u AS u, b.u AS v
           FROM iu a JOIN iu b ON a.it = b.it AND a.u < b.u
           JOIN ok ON ok.it = a.it),
    eb AS MATERIALIZED (SELECT u AS s, v AS t FROM e0
                        UNION ALL SELECT v, u FROM e0),
    l0 AS MATERIALIZED (SELECT DISTINCT s AS n, s AS label FROM eb),{",".join(rounds)}
    SELECT n, label FROM {prev} ORDER BY n
    """


@q("graph_label_propagation", _lpa_oracle(), eager=True)
def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection on the part co-purchase graph by
    synchronous label propagation (operators/graph.label_propagation,
    Raghavan et al. 2007) — {r} FIXED rounds with the self-vote
    damping and min-label tie-break, so the whole trajectory is a
    pinned total order the DuckDB oracle replays as unrolled
    MATERIALIZED CTEs (the kcore_parts posture; each Spark round
    localCheckpoints — the measured ~3^rounds re-execution hazard).
    Same covisitation bucket-cap edge contract as graph_kcore_parts.
    Beyond the reference (its surface stops at joins/windows): this
    is the cheap first-pass community structure every interaction
    graph gets before heavier clustering.""".format(r=_LPA_ROUNDS)
    from denormalized_spark.operators.graph import (
        covisitation_edges,
        label_propagation,
    )

    li = t(spark, sf, "lineitem")
    edges = covisitation_edges(
        li, "l_partkey", "l_orderkey", max_users_per_item=_LPA_CAP
    )
    return label_propagation(edges, rounds=_LPA_ROUNDS).orderBy("n")


def _holt_values() -> tuple[str, int]:
    from denormalized_spark.operators.analytics import holt_weight_table

    rows = holt_weight_table()
    return (
        ", ".join(f"({k}, {wl}, {wb}, {ul}, {ub})" for k, wl, wb, ul, ub in rows),
        rows[-1][0],
    )


_HOLT_ROWS, _HOLT_KMAX = _holt_values()


@q(
    "events_holt_linear",
    f"""
    WITH s AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, day, cents AS x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
          FROM s),
    wt(k, wl, wb, ul, ub) AS (VALUES {_HOLT_ROWS}),
    p AS (SELECT b.event_type, b.day, b.x,
                 sum(a.x * CASE WHEN a.rk = 1 THEN wt.ul ELSE wt.wl END)::BIGINT
                   AS level_micro,
                 sum(a.x * CASE WHEN a.rk = 1 THEN wt.ub ELSE wt.wb END)::BIGINT
                   AS trend_micro
          FROM r b JOIN r a ON a.event_type = b.event_type AND a.rk <= b.rk
          JOIN wt ON wt.k = b.rk - a.rk
          GROUP BY 1, 2, 3)
    SELECT event_type, day, x, level_micro, trend_micro,
           (level_micro + trend_micro)::BIGINT AS forecast_next_micro
    FROM p ORDER BY event_type, day
    """,
)
def events_holt_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Holt linear-trend smoothing of daily revenue-cents per event
    type (operators/analytics.holt_linear, α=β=1/4): the level+trend
    state behind every "where is this metric heading" ops forecast,
    one step past the EWMA chart's level-only statistic; the entry
    emits per day the smoothed level, the trend, and the one-step
    forecast l+b the NEXT day should be compared to. Every impulse-
    response coefficient is a precomputed micro-integer LITERAL baked
    into both the Spark plan and this oracle (the ewma/fellegi
    damping-literal pattern), so level·10⁶/trend·10⁶ are integer dot
    products and neither engine runs the float recursion. The
    convolution is a group-keyed T×(≤99) metadata self-join after the
    data-sized daily groupBy."""
    from denormalized_spark.operators.analytics import holt_linear

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("cents"))
    )
    return holt_linear(series, "event_type", "day", "cents").orderBy(
        "event_type", "day"
    )


def _hw_oracle(m=7, an=1, ad=4, bn=1, bd=4, gn=1, gd=2) -> str:
    """Recursive-CTE replay of the quantized Holt-Winters additive
    recursion (the Viterbi/FastCDC state-carry pattern): each row
    carries (l, b, s-list); expressions are inlined since a CTE step
    can't name intermediates. DuckDB ``//`` and Spark ``DIV`` both
    truncate toward zero, so the integer trajectories are identical."""
    smp = f"p.s[((n.rk - 1) % {m}) + 1]"
    L = (f"(({an} * (n.x * 1000000 - {smp})"
         f" + {ad - an} * (p.l + p.b)) // {ad})")
    B = f"(({bn} * ({L} - p.l) + {bd - bn} * p.b) // {bd})"
    S = f"(({gn} * (n.x * 1000000 - {L}) + {gd - gn} * {smp}) // {gd})"
    SNEW = (f"list_transform(range(0, {m}), i -> CASE WHEN i = (n.rk - 1) %"
            f" {m} THEN {S} ELSE p.s[i + 1] END)")
    FM = (f"({L} + {B} + (CASE WHEN (n.rk % {m}) = ((n.rk - 1) % {m})"
          f" THEN {S} ELSE p.s[(n.rk % {m}) + 1] END))")
    return f"""
    WITH RECURSIVE s0 AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, day, x,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
          FROM s0),
    hw(event_type, rk, day, x, l, b, s, sm_out, fm) AS (
      SELECT event_type, rk, day, x,
             x * 1000000, 0::BIGINT,
             list_transform(range(0, {m}), i -> 0::BIGINT),
             0::BIGINT, x * 1000000
      FROM r WHERE rk = 1
      UNION ALL
      SELECT n.event_type, n.rk, n.day, n.x,
             {L}, {B}, {SNEW}, {S}, {FM}
      FROM hw p JOIN r n ON n.event_type = p.event_type AND n.rk = p.rk + 1
    )
    SELECT event_type, day, x, l AS level_micro, b AS trend_micro,
           sm_out AS season_micro, fm AS forecast_next_micro
    FROM hw ORDER BY event_type, day
    """


@q(
    "events_changepoint_binseg",
    """
    WITH s0 AS (
      SELECT event_type, ts::DATE AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day,
             row_number() OVER w AS rk,
             sum(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS sl,
             sum(x) OVER (PARTITION BY event_type)::BIGINT AS st,
             count(*) OVER (PARTITION BY event_type)::BIGINT AS nt,
             lead(day) OVER w AS next_o
      FROM s0
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    sc AS (
      SELECT *, CAST(floor(sl::DOUBLE * sl::DOUBLE / rk::DOUBLE
                           + (st - sl)::DOUBLE * (st - sl)::DOUBLE
                             / (nt - rk)::DOUBLE) AS BIGINT) AS q
      FROM r WHERE rk < nt
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY q DESC, rk ASC) AS bn
      FROM sc
    )
    SELECT event_type, next_o AS split_order,
           rk::BIGINT AS n_left, (nt - rk)::BIGINT AS n_right,
           (sl * 1000 // rk)::BIGINT AS mean_left_milli,
           ((st - sl) * 1000 // (nt - rk))::BIGINT AS mean_right_milli,
           q AS score_floor
    FROM best WHERE bn = 1 ORDER BY event_type
    """,
)
def events_changepoint_binseg(spark: SparkSession, sf: str) -> DataFrame:
    """Retrospective level-shift locator: single-changepoint binary
    segmentation (operators/analytics.changepoint_binseg; Scott &
    Knott 1974 / the binseg recursion of Killick et al. 2012) on
    daily revenue-cents per event type — WHERE the mean changed, the
    complement of the cusum/ewma sequential alarms. Prefix-sum
    identity ranks splits by S_L²/n_L + S_R²/n_R (exact longs in, one
    floored IEEE expression per split, earlier-split tiebreak). One
    data-sized daily agg; all windows group-keyed over ~30-row
    partitions."""
    from denormalized_spark.operators.analytics import changepoint_binseg

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("x"))
    )
    return changepoint_binseg(series, "event_type", "day", "x")


@q("events_holt_winters", _hw_oracle())
def events_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing of daily revenue-cents
    per event type (operators/analytics.holt_winters_additive; Winters
    1960, FPP §8.3; α=β=1/4, γ=1/2, m=7 weekly season) — holt_linear
    plus the seasonal state, for series with a weekly cycle. The
    seasonal lag makes the filter time-periodic, so the
    impulse-response-table trick no longer applies; instead the
    QUANTIZED recursion (all state micro-grid longs, one truncating
    integer division per smoothing step) runs as a per-group Catalyst
    aggregate fold over the collected 30-period series, and the
    oracle replays the identical trajectory as a recursive CTE
    carrying (l, b, s-list) — the Viterbi state-carry pattern. One
    data-sized daily groupBy; the fold is metadata (30 rows/group)."""
    from denormalized_spark.operators.analytics import holt_winters_additive

    e = t(spark, sf, "events")
    series = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_c").alias("x"))
    )
    return holt_winters_additive(
        series, "event_type", "day", "x", season_length=7
    ).orderBy("event_type", "day")


def _bootstrap_oracle(n_replicates: int = 32) -> str:
    from denormalized_spark.operators.analytics import poisson_cdf_literals

    cum = poisson_cdf_literals()

    def w(b: int) -> str:
        u = md5_unit_sql(f"'boot:{b}:' || CAST(event_id AS VARCHAR)", 8)
        cases = " ".join(
            f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(cum)
        )
        return f"(CASE {cases} ELSE {len(cum)} END)"

    sums = ", ".join(
        f"sum({w(b)} * x)::BIGINT AS swx{b}, sum({w(b)})::BIGINT AS sw{b}"
        for b in range(n_replicates)
    )
    # Empty-replicate guard mirrors the operator: an all-zero-weight
    # replicate pins to the point mean rather than dividing by zero.
    point = "CAST(floor((sx * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)"
    means = ", ".join(
        f"CASE WHEN sw{b} > 0 THEN "
        f"CAST(floor((swx{b} * 1000)::DOUBLE / sw{b}::DOUBLE + 0.5) AS BIGINT) "
        f"ELSE {point} END"
        for b in range(n_replicates)
    )
    return f"""
    WITH e AS (SELECT event_id,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
               FROM events),
    s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, {sums} FROM e),
    m AS (SELECT n, sx, list_sort([{means}]) AS ms FROM s)
    SELECT n,
           CAST(floor((sx * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
             AS mean_milli,
           ms[2]::BIGINT AS boot_lo_milli,
           ms[{n_replicates - 1}]::BIGINT AS boot_hi_milli,
           CAST({n_replicates} AS BIGINT) AS n_replicates
    FROM m
    """


@q("events_bootstrap_ci", _bootstrap_oracle())
def events_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap CI for mean event value-cents
    (operators/analytics.poisson_bootstrap_ci; Chamandy et al. 2012 —
    Google's estimating-uncertainty-for-massive-data bootstrap): all
    32 replicates' weighted sums are COLUMNS of one partial/final
    aggregation — the replicate fan-out lives in agg expressions, so
    the plan is one scan + one 1-row final regardless of B. Weights
    are inverse-CDF lookups of deterministic md5 uniforms against
    Poisson CDF double literals (both engines draw identical integer
    weights; replicate sums exact integers; means milli-floored); the
    CI is the (2nd, 31st) order statistic of the 32 sorted replicate
    means — ≈94% coverage, reported beside the point mean."""
    from denormalized_spark.operators.analytics import poisson_bootstrap_ci

    e = t(spark, sf, "events").select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return poisson_bootstrap_ci(e, "cents", "event_id")


@q(
    "events_active_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events),
    isl AS (SELECT u, d,
                   d - CAST(row_number() OVER (PARTITION BY u ORDER BY d)
                            AS INTEGER) AS island
            FROM days),
    st AS (SELECT u, island, count(*)::BIGINT AS len, max(d) AS e
           FROM isl GROUP BY 1, 2)
    SELECT u AS user_id,
           sum(len)::BIGINT AS n_active_days,
           count(*)::BIGINT AS n_streaks,
           max(len)::BIGINT AS longest_streak,
           arg_max(e, len * 1000000
                      + date_diff('day', DATE '1970-01-01', e))
             AS longest_streak_end
    FROM st GROUP BY 1
    """,
)
def events_active_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-day activity streak per user
    (operators/analytics.activity_streaks) — the canonical
    gaps-and-islands pattern: rank each user's distinct active days
    and subtract the rank; consecutive days collapse to one island
    key (pure date arithmetic, engine-exact). The argmax of the
    longest streak's end date uses a packed numeric key (length then
    recency) so ties resolve identically everywhere. Plan: distinct
    reduction → user-keyed rank window → two user-keyed rollups, all
    on the same key; per-user state is calendar-bounded."""
    from denormalized_spark.operators.analytics import activity_streaks

    e = t(spark, sf, "events")
    return activity_streaks(e)


def _sprt_oracle() -> str:
    from denormalized_spark.operators.analytics import sprt_literals

    a, b, hi, lo = sprt_literals(0.18, 0.22)
    return f"""
    WITH daily AS (
      SELECT ts::DATE AS day, count(*)::BIGINT AS n_day,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS s_day
      FROM events GROUP BY 1
    ),
    cum AS (SELECT day, n_day, s_day,
                   sum(n_day) OVER (ORDER BY day)::BIGINT AS n_cum,
                   sum(s_day) OVER (ORDER BY day)::BIGINT AS s_cum
            FROM daily)
    SELECT day, n_day, s_day, n_cum, s_cum,
           (s_cum * {a} + (n_cum - s_cum) * {b})::BIGINT AS llr_micro,
           CASE WHEN s_cum * {a} + (n_cum - s_cum) * {b} >= {hi}
                THEN 'accept_h1'
                WHEN s_cum * {a} + (n_cum - s_cum) * {b} <= {lo}
                THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum ORDER BY day
    """


@q("events_sprt_monitor", _sprt_oracle())
def events_sprt_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """Wald SPRT launch monitor (operators/analytics.sprt_monitor;
    Wald 1945) on the daily purchase share: H0 rate=0.18 vs H1
    rate=0.22, α=β=0.05 — the always-valid sequential test that stops
    the moment the cumulative evidence crosses either bound, instead
    of re-running a fixed-horizon z-test daily (which inflates false
    positives). The LLR is the pure integer dot product
    s·a + (n−s)·b over pinned micro literals (sprt_literals — the
    damping-literal pattern), so neither engine evaluates a log. The
    daily reduction is the only data-sized stage; the cumulative
    window runs over the ~30-row day series (metadata)."""
    from denormalized_spark.operators.analytics import sprt_monitor

    e = t(spark, sf, "events")
    return sprt_monitor(e, F.col("event_type") == "purchase").orderBy("day")


@q(
    "events_hazard_na",
    """
    WITH t0 AS (SELECT user_id, min(ts) AS t0
                FROM events WHERE event_type = 'signup' GROUP BY 1),
    te AS (SELECT e.user_id, min(e.ts) AS te
           FROM events e JOIN t0 USING (user_id)
           WHERE e.event_type = 'error' AND e.ts > t0.t0
           GROUP BY e.user_id),
    mx AS (SELECT max(ts) AS m FROM events),
    subj AS (
      SELECT t0.user_id,
             CASE WHEN te.te IS NOT NULL
                  THEN date_diff('day', t0.t0::DATE, te.te::DATE)
                  ELSE date_diff('day', t0.t0::DATE, mx.m::DATE)
             END::BIGINT AS dur,
             CASE WHEN te.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 LEFT JOIN te USING (user_id) CROSS JOIN mx
    ),
    counts AS (SELECT dur AS t, sum(ev)::BIGINT AS n_events,
                      (count(*) - sum(ev))::BIGINT AS n_censored
               FROM subj GROUP BY 1),
    c AS (SELECT t, n_events, n_censored,
                 (sum(n_events + n_censored) OVER ()
                  - coalesce(sum(n_events + n_censored) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0))::BIGINT AS n_risk
          FROM counts),
    terms AS (SELECT t, n_risk, n_events, n_censored,
                     CAST(floor((n_events * 1000000)::DOUBLE / n_risk::DOUBLE
                          + 0.5) AS BIGINT) AS h,
                     CAST(floor((n_events * 1000000000000)::DOUBLE
                          / (n_risk * n_risk)::DOUBLE + 0.5) AS BIGINT) AS v
              FROM c)
    SELECT t, n_risk, n_events, n_censored,
           sum(h) OVER (ORDER BY t)::BIGINT AS hazard_micro,
           sum(v) OVER (ORDER BY t)::BIGINT AS hazard_var_micro2
    FROM terms ORDER BY t
    """,
)
def events_hazard_na(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of signup→first-error time
    (operators/analytics.nelson_aalen) on the SAME censored subjects
    table as events_survival_km — the additive companion the
    rate-based reading wants (slope ≈ hazard rate; −ln S ≈ H), plus
    its variance. Per-time terms d/n and d/n² are floored ONCE each
    and the cumulative sums run over the floored integers — the
    quantized-estimator semantics both engines replay exactly. Same
    scale shape as KM: one groupBy(duration) partial agg, then
    metadata curve windows."""
    from denormalized_spark.operators.analytics import nelson_aalen

    e = t(spark, sf, "events")
    t0 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t0"))
    )
    te = (
        e.join(t0, "user_id")
        .filter((F.col("event_type") == "error") & (F.col("ts") > F.col("_t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_te"))
    )
    mx = e.agg(F.max("ts").alias("_m"))
    subj = (
        t0.join(te, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("_te").isNotNull(),
                F.datediff(F.col("_te").cast("date"), F.col("_t0").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("_m").cast("date"), F.col("_t0").cast("date"))
            )
            .cast("long")
            .alias("dur"),
            F.when(F.col("_te").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    return nelson_aalen(subj, "dur", "ev").orderBy("t")


@q(
    "events_did_estimate",
    """
    WITH e AS (SELECT CAST(user_id % 2 = 1 AS INT) AS t,
                      CAST(ts::DATE >= DATE '2024-01-16' AS INT) AS p,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
               FROM events),
    cells AS (SELECT t, p, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
              FROM e GROUP BY 1, 2),
    one AS (SELECT
      sum(CASE WHEN t = 1 AND p = 0 THEN n END)::BIGINT AS n_tpre,
      sum(CASE WHEN t = 1 AND p = 1 THEN n END)::BIGINT AS n_tpost,
      sum(CASE WHEN t = 0 AND p = 0 THEN n END)::BIGINT AS n_cpre,
      sum(CASE WHEN t = 0 AND p = 1 THEN n END)::BIGINT AS n_cpost,
      sum(CASE WHEN t = 1 AND p = 0 THEN s END)::BIGINT AS s_tpre,
      sum(CASE WHEN t = 1 AND p = 1 THEN s END)::BIGINT AS s_tpost,
      sum(CASE WHEN t = 0 AND p = 0 THEN s END)::BIGINT AS s_cpre,
      sum(CASE WHEN t = 0 AND p = 1 THEN s END)::BIGINT AS s_cpost
      FROM cells),
    mm AS (SELECT n_tpre, n_tpost, n_cpre, n_cpost,
      CAST(floor((s_tpre * 1000)::DOUBLE / n_tpre::DOUBLE + 0.5) AS BIGINT) AS mean_tpre_milli,
      CAST(floor((s_tpost * 1000)::DOUBLE / n_tpost::DOUBLE + 0.5) AS BIGINT) AS mean_tpost_milli,
      CAST(floor((s_cpre * 1000)::DOUBLE / n_cpre::DOUBLE + 0.5) AS BIGINT) AS mean_cpre_milli,
      CAST(floor((s_cpost * 1000)::DOUBLE / n_cpost::DOUBLE + 0.5) AS BIGINT) AS mean_cpost_milli
      FROM one)
    SELECT *, ((mean_tpost_milli - mean_tpre_milli)
               - (mean_cpost_milli - mean_cpre_milli))::BIGINT AS did_milli
    FROM mm
    """,
)
def events_did_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Two-period difference-in-differences
    (operators/analytics.diff_in_diff; the Card-Krueger 2×2 design)
    on event value-cents: treatment = odd user ids, post = the back
    half of the month — the parallel-trends-adjusted effect readout
    beside the CUPED and A/B entries (synthetic assignment, so the
    verified property is the deterministic 2×2 arithmetic contract;
    DiD ≈ 0 by construction). Four milli-floored cell means, integer
    estimator — engine-exact. Plan: one cell-keyed partial/final agg
    (4 rows) + a 1-row metadata pivot."""
    from denormalized_spark.operators.analytics import diff_in_diff

    e = t(spark, sf, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return diff_in_diff(
        e,
        (F.col("user_id") % 2) == 1,
        F.col("day") >= F.lit("2024-01-16").cast("date"),
        "cents",
    )


_LINKPRED_CAP = 8
_LINKPRED_MAXDEG = 32


@q(
    "graph_link_prediction",
    f"""
    WITH iu AS (SELECT DISTINCT l_orderkey AS it, l_partkey AS u FROM lineitem),
    ok AS (SELECT it FROM iu GROUP BY it
           HAVING count(*) BETWEEN 2 AND {_LINKPRED_CAP}),
    pe AS (SELECT a.u AS u, b.u AS v, count(*)::BIGINT AS w
           FROM iu a JOIN iu b ON a.it = b.it AND a.u < b.u
           JOIN ok ON ok.it = a.it GROUP BY 1, 2),
    e AS (SELECT u, v FROM pe WHERE w >= 2),
    deg AS (SELECT n, count(*)::BIGINT AS d FROM (
              SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
    keep AS (SELECT n, d FROM deg WHERE d <= {_LINKPRED_MAXDEG}),
    adj AS (SELECT s, t FROM (
              SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e) a
            WHERE EXISTS (SELECT 1 FROM keep WHERE keep.n = a.s)
              AND EXISTS (SELECT 1 FROM keep WHERE keep.n = a.t)),
    wedges AS (SELECT a.s AS u, b.s AS v, count(*)::BIGINT AS cn
               FROM adj a JOIN adj b ON a.t = b.t AND a.s < b.s
               GROUP BY 1, 2 HAVING count(*) >= 1),
    ne AS (SELECT w.* FROM wedges w
           WHERE NOT EXISTS (SELECT 1 FROM e
                             WHERE e.u = w.u AND e.v = w.v)),
    sc AS (SELECT ne.u, ne.v, ne.cn AS common_neighbors,
                  CAST(floor((ne.cn * 1000)::DOUBLE
                       / (du.d + dv.d - ne.cn)::DOUBLE) AS BIGINT)
                    AS jaccard_milli,
                  (du.d * dv.d)::BIGINT AS pref_attachment
           FROM ne JOIN keep du ON du.n = ne.u JOIN keep dv ON dv.n = ne.v)
    SELECT * FROM sc ORDER BY common_neighbors DESC, u, v LIMIT 50
    """,
)
def graph_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the SUPPORT-THRESHOLDED part co-purchase
    graph (operators/graph.link_prediction_scores; Liben-Nowell &
    Kleinberg 2003): an edge needs ≥2 distinct co-purchase orders
    (raw single-co-occurrence edges make this synthetic graph a
    quasi-random dense blob with no distance-2 structure — the
    support threshold is the standard association-rule sparsifier),
    then distance-2 non-edges score common-neighbors / Jaccard /
    preferential-attachment. Hub cap {d} drops over-degree nodes
    whole (the covisitation/LSH whole-bucket posture); fan-out is
    bounded by cap² per shared node. Integer scores except one
    milli-floored Jaccard division; top-50 on the pinned
    (cn, u, v) order.""".format(d=_LINKPRED_MAXDEG)
    from denormalized_spark.operators.graph import link_prediction_scores

    li = t(spark, sf, "lineitem")
    iu = li.select(
        F.col("l_orderkey").alias("it"), F.col("l_partkey").alias("u")
    ).distinct()
    ok = (
        iu.groupBy("it")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c").between(2, _LINKPRED_CAP))
        .select("it")
    )
    a = iu.join(ok, "it")
    b = a.select(F.col("it"), F.col("u").alias("v"))
    pe = (
        a.join(b, "it")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("_w"))
    )
    edges = pe.filter(F.col("_w") >= 2).select("u", "v")
    return link_prediction_scores(
        edges, max_degree=_LINKPRED_MAXDEG, min_common=1
    )


@q(
    "events_power_analysis",
    """
    WITH a AS (SELECT count(*)::BIGINT AS n_events,
                      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS s,
                      count(DISTINCT ts::DATE)::BIGINT AS n_days
               FROM events),
    b AS (SELECT n_events, n_days,
                 CAST(floor((s * 1000)::DOUBLE / n_events::DOUBLE + 0.5) AS BIGINT)
                   AS p_base_milli
          FROM a),
    c AS (SELECT *,
                 CAST(ceil(2.0 * 2.801585 * 2.801585
                      * (p_base_milli::DOUBLE / 1000.0)
                      * (1.0 - p_base_milli::DOUBLE / 1000.0)
                      / ((20.0 / 1000.0) * (20.0 / 1000.0))) AS BIGINT)
                   AS n_required_per_arm
          FROM b)
    SELECT n_events, n_days, p_base_milli, CAST(20 AS BIGINT) AS mde_milli,
           n_required_per_arm,
           CAST(ceil((n_required_per_arm * 2)::DOUBLE
                / (n_events::DOUBLE / n_days::DOUBLE)) AS BIGINT)
             AS days_required_both_arms
    FROM c
    """,
)
def events_power_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """A/B sample-size + runway calculator
    (operators/analytics.power_analysis_proportions; the standard
    two-proportion normal-approximation power formula) for detecting
    a 20-milli absolute lift on the purchase rate at α=0.05 /
    power 80%: the "how long must this experiment run at current
    traffic" readout beside the SPRT monitor. z quantiles are double
    LITERALS (1.959964 + 0.841621 = 2.801585 — no inverse normal is
    evaluated by either engine); the baseline rate is milli-floored
    before entering the identical double formula, ceil'd once. Plan:
    one global partial/final agg — 1 metadata row."""
    from denormalized_spark.operators.analytics import (
        power_analysis_proportions,
    )

    e = t(spark, sf, "events")
    return power_analysis_proportions(e, F.col("event_type") == "purchase")


@q(
    "agg_pareto_abc",
    """
    WITH pv AS (SELECT l_partkey AS key,
                       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
                         AS value
                FROM lineitem GROUP BY 1),
    r AS (SELECT key, value,
                 sum(value) OVER (ORDER BY value DESC, key)::BIGINT AS cum_value
          FROM pv),
    t AS (SELECT sum(value)::BIGINT AS tt FROM pv)
    SELECT key, value, cum_value,
           CASE WHEN cum_value * 100 <= 80 * tt THEN 'A'
                WHEN cum_value * 100 <= 95 * tt THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r CROSS JOIN t
    """,
)
def agg_pareto_abc(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto/ABC classification of parts by lineitem revenue
    (operators/analytics.abc_classification; Dickie 1951's ABC rule,
    80/95 cut points): the "20% of SKUs are 80% of revenue"
    segmentation. Class gates are cross-multiplied integer
    comparisons (cum·100 ≤ pct·total); the running share uses the
    scale-safe global running sum (range shuffle + broadcast prefix
    sums — never a single-reducer sort over parts); total is a 1-row
    broadcast."""
    from denormalized_spark.operators.analytics import abc_classification

    li = t(spark, sf, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return abc_classification(li, "l_partkey", "cents")


@q(
    "events_cohort_ltv",
    """
    WITH f AS (SELECT user_id, date_trunc('week', min(ts))::DATE AS cohort
               FROM events GROUP BY 1),
    sz AS (SELECT cohort, count(*)::BIGINT AS csize FROM f GROUP BY 1),
    ev AS (SELECT e.user_id, f.cohort,
                  CAST(floor(
                    date_diff('day', f.cohort,
                              date_trunc('week', e.ts)::DATE)::DOUBLE / 7)
                    AS BIGINT) AS "offset",
                  CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
           FROM events e JOIN f USING (user_id)),
    cells AS (SELECT cohort, "offset",
                     count(DISTINCT user_id)::BIGINT AS n_active,
                     sum(cents)::BIGINT AS revenue_cents
              FROM ev GROUP BY 1, 2),
    cum AS (SELECT *, sum(revenue_cents) OVER (
                        PARTITION BY cohort ORDER BY "offset")::BIGINT
                      AS cum_revenue_cents
            FROM cells)
    SELECT cohort, "offset", n_active, revenue_cents, cum_revenue_cents,
           CAST(floor((cum_revenue_cents * 1000)::DOUBLE / sz.csize::DOUBLE
                + 0.5) AS BIGINT) AS ltv_per_user_milli
    FROM cum JOIN sz USING (cohort)
    ORDER BY cohort, "offset"
    """,
)
def events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort LTV triangle (operators/analytics.cohort_ltv) on
    event value-cents — the revenue companion to
    events_cohort_retention: cumulative revenue and LTV-per-cohort-
    user at every week offset, integer cents with one milli-floored
    division per cell. Plan: user-keyed first-event min + join back
    (same key, exchange reused), a (cohort, offset) agg, and a
    cohort-partitioned cumulative window over the weeks² metadata
    triangle."""
    from denormalized_spark.operators.analytics import cohort_ltv

    e = t(spark, sf, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    return cohort_ltv(e, value_col="cents").orderBy("cohort", "offset")


@q(
    "events_ipw_ate",
    f"""
    WITH e AS (
      SELECT event_type,
             CASE WHEN {md5_unit_sql("'ipw:' || CAST(event_id AS VARCHAR)", 8)} < 0.5
                  THEN 1 ELSE 0 END AS t,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    per AS (
      SELECT event_type AS stratum,
             count(*)::BIGINT AS n,
             sum(t)::BIGINT AS n_treat,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS sy_t,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS sy_c
      FROM e GROUP BY event_type
    ),
    tot AS (SELECT sum(n)::BIGINT AS nn FROM per),
    strata AS (
      SELECT stratum, n, n_treat,
             CAST(floor((n_treat * 1000)::DOUBLE / n::DOUBLE + 0.5) AS BIGINT)
               AS propensity_milli,
             CASE WHEN n_treat > 0 AND n_treat < n THEN
               CAST(floor(
                 (sy_t::DOUBLE * n::DOUBLE / n_treat::DOUBLE
                  - sy_c::DOUBLE * n::DOUBLE / (n - n_treat)::DOUBLE)
                 / nn::DOUBLE * 1000.0 + 0.5) AS BIGINT)
             ELSE 0 END AS ate_term_milli
      FROM per CROSS JOIN tot
    )
    SELECT * FROM (
      SELECT * FROM strata
      UNION ALL
      SELECT 'ALL', sum(n)::BIGINT, sum(n_treat)::BIGINT,
             CAST(floor((sum(n_treat) * 1000)::DOUBLE / sum(n)::DOUBLE + 0.5)
                  AS BIGINT),
             sum(ate_term_milli)::BIGINT
      FROM strata
    ) ORDER BY stratum
    """,
)
def events_ipw_ate(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified inverse-propensity-weighted ATE (operators/
    analytics.ipw_ate_stratified; Rosenbaum & Rubin 1983): a
    deterministic md5 exposure bit (curation.sample_fraction's
    cross-engine RNG, seed 'ipw:') plays the non-randomized
    treatment, event value-cents the outcome, event_type the
    confounding stratum. One stratum-keyed aggregation + a metadata
    rollup; per-stratum contributions milli-floored, the ALL row the
    exact integer sum of the floors."""
    from denormalized_spark.operators.analytics import ipw_ate_stratified
    from denormalized_spark.operators.curation import sample_fraction

    e = t(spark, sf, "events").select(
        "event_type",
        (sample_fraction("event_id", "ipw:") < 0.5).cast("int").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return ipw_ate_stratified(e, "t", "cents", "event_type")


@q(
    "events_seasonal_strength",
    """
    WITH c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    h AS (SELECT event_type, ws, n, extract(hour FROM ws) AS hod FROM c),
    seas AS (
      SELECT event_type, hod,
             CAST(floor(avg(n) * 1000000 + 0.5) AS BIGINT) AS s_micro
      FROM h GROUP BY 1, 2
    ),
    b AS (
      SELECT h.event_type,
             (h.n * 1000000)::HUGEINT AS x,
             (h.n * 1000000 - s.s_micro)::HUGEINT AS r
      FROM h JOIN seas s ON s.event_type = h.event_type AND s.hod = h.hod
    ),
    mom AS (
      SELECT event_type, count(*)::BIGINT AS n_windows,
             sum(x)::HUGEINT AS sx, sum(x * x)::HUGEINT AS sx2,
             sum(r)::HUGEINT AS sr, sum(r * r)::HUGEINT AS sr2
      FROM b GROUP BY event_type
    )
    SELECT event_type, n_windows,
           CASE WHEN (n_windows::HUGEINT * sx2 - sx * sx)::DOUBLE > 0 THEN
             CAST(floor(greatest(0.0,
               1.0 - (n_windows::HUGEINT * sr2 - sr * sr)::DOUBLE
                     / (n_windows::HUGEINT * sx2 - sx * sx)::DOUBLE)
               * 1000.0 + 0.5) AS BIGINT)
           ELSE 0::BIGINT END AS strength_milli
    FROM mom ORDER BY event_type
    """,
)
def events_seasonal_strength(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-strength feature per event type (operators/analytics.
    seasonal_strength; Wang, Smith & Hyndman 2006 — FPP's "strength
    of seasonality" F_s = max(0, 1 − Var(R)/Var(S+R))) on the same
    quantized hourly decomposition as events_seasonal_residuals.
    Both variances share m, so the ratio is (m·ΣR² − (ΣR)²)/(m·ΣX² −
    (ΣX)²) over EXACT decimal38/HUGEINT sums — one IEEE division,
    milli-floored. One window-count agg, then metadata-sized
    moments."""
    from denormalized_spark.operators.analytics import seasonal_strength

    e = t(spark, sf, "events")
    return seasonal_strength(e)


@q(
    "graph_assortativity",
    f"""
    WITH iu AS (
      SELECT DISTINCT (props->>'k') || '|' || (date_trunc('day', ts)::DATE)::VARCHAR AS it,
             user_id AS u
      FROM events
    ),
    ok AS (SELECT it FROM iu GROUP BY it
           HAVING count(*) BETWEEN 2 AND {_COVIS_CAP}),
    e AS (SELECT DISTINCT a.u AS u, b.u AS v
          FROM iu a JOIN iu b ON a.it = b.it AND a.u < b.u
          JOIN ok ON ok.it = a.it),
    deg AS (SELECT n, count(*)::BIGINT AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
    ed AS (SELECT e.u, e.v, du.d AS du, dv.d AS dv FROM e
           JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
    mom AS (SELECT count(*)::BIGINT AS m,
                   sum(du * dv)::BIGINT AS sjk,
                   sum(du + dv)::BIGINT AS ssum,
                   sum(du * du + dv * dv)::BIGINT AS ssq
            FROM ed)
    SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
           m AS n_edges,
           CASE WHEN m > 0 AND
                     (ssq::DOUBLE / (2.0 * m::DOUBLE)
                      - (ssum::DOUBLE / (2.0 * m::DOUBLE))
                        * (ssum::DOUBLE / (2.0 * m::DOUBLE))) > 0 THEN
             CAST(floor(
               (sjk::DOUBLE / m::DOUBLE
                - (ssum::DOUBLE / (2.0 * m::DOUBLE))
                  * (ssum::DOUBLE / (2.0 * m::DOUBLE)))
               / (ssq::DOUBLE / (2.0 * m::DOUBLE)
                  - (ssum::DOUBLE / (2.0 * m::DOUBLE))
                    * (ssum::DOUBLE / (2.0 * m::DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT)
           ELSE 0::BIGINT END AS assortativity_micro
    FROM mom
    """,
)
def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the user co-visitation graph
    (operators/graph.degree_assortativity; Newman 2002): the Pearson
    correlation of end-degrees over edges — the one-number mixing
    summary beside graph_covisit_triangles' cohesion census, on the
    SAME capped covisitation edges. All five moments are exact
    integer sums; r is one fixed-order IEEE expression
    micro-floored."""
    from denormalized_spark.operators.graph import (
        covisitation_edges,
        degree_assortativity,
    )

    e = t(spark, sf, "events").select(
        "user_id",
        F.concat_ws(
            "|",
            F.get_json_object("props", "$.k"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string"),
        ).alias("item"),
    )
    edges = covisitation_edges(e, "user_id", "item", max_users_per_item=_COVIS_CAP)
    return degree_assortativity(edges)


def _markov_oracle(iterations: int = 8, tail: str | None = None) -> str:
    its = ""
    prev = "pi0"
    for r in range(1, iterations + 1):
        its += f""",
    nx{r} AS (
      SELECT p.to_type AS state,
             CAST(floor(sum(x.pi_micro * p.p_micro)::DOUBLE / 1000000.0 + 0.5)
                  AS BIGINT) AS pi_micro
      FROM {prev} x JOIN pmat p ON p.from_type = x.state
      GROUP BY p.to_type
    ),
    pi{r} AS (
      SELECT s.state, coalesce(n.pi_micro, 0)::BIGINT AS pi_micro
      FROM st s LEFT JOIN nx{r} n USING (state)
    )"""
        prev = f"pi{r}"
    if tail is not None:
        final = tail.replace("{prev}", prev)
    else:
        final = f"""
    SELECT f.state, f.pi_micro,
           coalesce(sp.p_micro, 0)::BIGINT AS p_self_micro
    FROM {prev} f
    LEFT JOIN (SELECT from_type AS state, p_micro FROM pmat
               WHERE from_type = to_type) sp USING (state)
    ORDER BY f.state
    """
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS from_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, event_type AS to_type, count(*)::BIGINT AS n
      FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    outs AS (SELECT from_type, sum(n)::BIGINT AS tot FROM pairs GROUP BY 1),
    pmat AS (
      SELECT p.from_type, p.to_type,
             CAST(floor((p.n * 1000000)::DOUBLE / o.tot::DOUBLE + 0.5) AS BIGINT)
               AS p_micro
      FROM pairs p JOIN outs o USING (from_type)
    ),
    st AS (SELECT DISTINCT from_type AS state FROM pmat
           UNION SELECT DISTINCT to_type FROM pmat),
    kk AS (SELECT count(*)::BIGINT AS k FROM st),
    pi0 AS (
      SELECT state,
             CAST(floor(1000000.0 / k::DOUBLE + 0.5) AS BIGINT) AS pi_micro
      FROM st CROSS JOIN kk
    ){its}{final}"""


@q("events_markov_stationary", _markov_oracle(), eager=True)
def events_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain
    (operators/analytics.markov_stationary) by quantized power
    iteration: 8 rounds of π' = πP with every probability and state
    mass re-floored to the micro grid each round — the kmeans-style
    per-round re-synchronization that makes an ITERATIVE fixed-point
    engine-checkable (the oracle unrolls all 8 rounds as CTEs). One
    user-keyed exchange builds the pairs; iterations run on the
    |types|² metadata matrix."""
    from denormalized_spark.operators.analytics import markov_stationary

    return markov_stationary(t(spark, sf, "events"))


@q(
    "events_qini_uplift",
    f"""
    WITH e AS (
      SELECT greatest(least(CAST(floor(
               (1.0 - {md5_unit_sql("'qs:' || CAST(event_id AS VARCHAR)", 8)}) * 10)
               AS INT), 9), 0)
               AS bucket,
             CASE WHEN {md5_unit_sql("'qt:' || CAST(event_id AS VARCHAR)", 8)} < 0.5
                  THEN 1 ELSE 0 END AS t,
             CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per AS (
      SELECT bucket,
             sum(t)::BIGINT AS n_treat,
             sum(1 - t)::BIGINT AS n_ctrl,
             sum(t * y)::BIGINT AS conv_treat,
             sum((1 - t) * y)::BIGINT AS conv_ctrl
      FROM e GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, n_treat, n_ctrl, conv_treat, conv_ctrl,
             sum(n_treat) OVER w AS cnt, sum(n_ctrl) OVER w AS cnc,
             sum(conv_treat) OVER w AS cct, sum(conv_ctrl) OVER w AS ccc
      FROM per
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT bucket, n_treat, n_ctrl, conv_treat, conv_ctrl,
           CASE WHEN cnc > 0 THEN
             CAST(floor((cct::DOUBLE - ccc::DOUBLE * cnt::DOUBLE / cnc::DOUBLE)
                  * 1000.0 + 0.5) AS BIGINT)
           ELSE (cct * 1000)::BIGINT END AS qini_milli
    FROM cum ORDER BY bucket
    """,
)
def events_qini_uplift(spark: SparkSession, sf: str) -> DataFrame:
    """Qini uplift curve (operators/analytics.qini_uplift; Radcliffe
    2007): cumulative incremental conversions over score deciles,
    with a deterministic md5 targeting score (seed 'qs:'), an md5
    exposure bit ('qt:'), and conversion = value >= 100. Since the
    synthetic score is independent of treatment, the curve should
    hug the random-targeting diagonal — the null-calibration check an
    uplift eval harness must pass. One bucket-keyed agg + metadata
    windows; bucket membership from the QUANTIZED score (no global
    ntile)."""
    from denormalized_spark.operators.analytics import qini_uplift
    from denormalized_spark.operators.curation import sample_fraction

    e = t(spark, sf, "events").select(
        sample_fraction("event_id", "qs:").alias("score"),
        (sample_fraction("event_id", "qt:") < 0.5).cast("int").alias("t"),
        (F.col("value") >= 100.0).cast("int").alias("y"),
    )
    return qini_uplift(e, "score", "t", "y", n_buckets=10)


@q(
    "events_markov_entropy_rate",
    _markov_oracle(tail="""
    , hc AS (
      SELECT from_type AS state,
             sum(CAST(floor(-(p_micro::DOUBLE / 1000000.0)
                            * ln(p_micro::DOUBLE / 1000000.0)
                            * 1000000.0 + 0.5) AS BIGINT))::BIGINT
               AS h_cond_micro
      FROM pmat WHERE p_micro > 0 GROUP BY from_type
    ),
    ps AS (
      SELECT f.state, f.pi_micro,
             coalesce(hc.h_cond_micro, 0)::BIGINT AS h_cond_micro
      FROM {prev} f LEFT JOIN hc USING (state)
    )
    SELECT * FROM (
      SELECT state, pi_micro, h_cond_micro FROM ps
      UNION ALL
      SELECT 'RATE', 1000000::BIGINT,
             CAST(floor(sum(pi_micro * h_cond_micro)::DOUBLE / 1000000.0 + 0.5)
                  AS BIGINT)
      FROM ps
    ) ORDER BY state
    """),
    eager=True,
)
def events_markov_entropy_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain (operators/
    analytics.markov_entropy_rate; Shannon 1948, Cover & Thomas ch.4):
    per-state conditional next-event entropy plus the π-weighted
    'RATE' rollup — the unpredictability number beside
    events_markov_stationary's long-run mix, on the same quantized
    chain (each −p·ln p cell micro-floored before integer sums; the
    oracle extends the 8-round unrolled-CTE replay)."""
    from denormalized_spark.operators.analytics import markov_entropy_rate

    return markov_entropy_rate(t(spark, sf, "events"))
