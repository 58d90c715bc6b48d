"""Relational operator coverage (SURVEY §2.2, §2.3, §2.5-2.8).

Each query exercises one operator family through the engine the way
the reference's API exposes it, and carries a DuckDB oracle. Spark
plans to check with .explain: dimension joins broadcast, filters and
projections reach the parquet scan, aggregates run partial+final.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from denormalized_spark.queries._util import q, t


# ---------------------------------------------------------------------------
# aggregation core
# ---------------------------------------------------------------------------

@q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: filter → 8-agg groupBy. Partial agg map-side,
    one shuffle on the 2-key group."""
    li = t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "filter_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def filter_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: predicate pushdown into the scan, single
    global agg (partial/final automatic)."""
    li = t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_discount").between(0.05, 0.07)) & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

@q(
    "join_top_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def join_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, group, deterministic top-k.
    customer is broadcast (small side); lineitem⋈orders shuffles on
    the order key."""
    c = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@q(
    "join_region_volume",
    """
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r JOIN nation n   ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o   ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                  JOIN supplier s ON s.s_suppkey = l.l_suppkey
                                 AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_region_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. All dimensions broadcast; only
    the lineitem⋈orders shuffle is on big data."""
    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf, "nation")
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@q(
    "join_semi_priority",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def join_semi_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: left-semi join (EXISTS) with a residual
    cross-table predicate."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@q(
    "join_anti_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_anti_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no URGENT order."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "join_left_order_counts",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_totalprice > 50000
    GROUP BY c.c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join preserving unmatched customers (null-aware agg)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return (
        c.join(o, (o.o_custkey == c.c_custkey) & (o.o_totalprice > 50000), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total_spent"),
        )
    )


@q(
    "join_theta_price",
    """
    SELECT c.c_custkey, count(*) AS n_big_orders
    FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 20 * c.c_acctbal
    GROUP BY c.c_custkey
    """,
)
def join_theta_price(spark: SparkSession, sf: str) -> DataFrame:
    """Theta join: equi key + arbitrary residual expression (the
    reference's join_on, datastream.rs:126-145)."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    return (
        o.join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey) & (o.o_totalprice > 20 * c.c_acctbal),
        )
        .groupBy("c_custkey")
        .agg(F.count("*").alias("n_big_orders"))
    )


# ---------------------------------------------------------------------------
# set ops / distinct / sort+limit
# ---------------------------------------------------------------------------

@q("setop_distinct", "SELECT DISTINCT user_id, event_type FROM events")
def setop_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "events").select("user_id", "event_type").distinct()


@q(
    "setop_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def setop_intersect(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@q(
    "setop_except",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def setop_except(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    viewers = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.exceptAll(buyers.distinct())


@q(
    "setop_union",
    """
    SELECT user_id, 'high_value' AS reason FROM events WHERE value > 95
    UNION
    SELECT user_id, 'error' AS reason FROM events WHERE event_type = 'error' AND value > 90
    """,
)
def setop_union(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    a = e.filter(F.col("value") > 95).select("user_id", F.lit("high_value").alias("reason"))
    b = e.filter((F.col("event_type") == "error") & (F.col("value") > 90)).select(
        "user_id", F.lit("error").alias("reason")
    )
    return a.union(b).distinct()


@q(
    "sort_topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Sort+limit → TakeOrderedAndProject (per-partition heaps, no
    global sort)."""
    return (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# aggregate function surface (§2.5)
# ---------------------------------------------------------------------------

@q(
    "agg_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)                 AS sd_qty,
           round(var_pop(l_quantity), 4)                     AS varp_qty,
           round(corr(l_extendedprice, l_quantity), 4)       AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty,
           round(median(l_quantity), 4)                      AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 4).alias("varp_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )


@q(
    "agg_regression",
    """
    SELECT l_linestatus,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_regression(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@q(
    "agg_filter_distinct",
    """
    SELECT l_linestatus,
           count(*) FILTER (WHERE l_returnflag = 'R')            AS n_returned,
           round(sum(l_quantity) FILTER (WHERE l_discount > 0.05), 2) AS qty_discounted,
           count(DISTINCT l_suppkey)                             AS n_suppliers,
           round(sum(DISTINCT l_quantity), 2)                    AS sum_distinct_qty
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_filter_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's agg-builder options filter=/distinct=
    (expr.py:489-544) → FILTER-clause rewrites."""
    from denormalized_spark import functions as dnf

    li = t(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        dnf.count("*", filter=F.col("l_returnflag") == "R").alias("n_returned"),
        F.round(dnf.sum("l_quantity", filter=F.col("l_discount") > 0.05), 2).alias(
            "qty_discounted"
        ),
        dnf.count("l_suppkey", distinct=True).alias("n_suppliers"),
        F.round(dnf.sum("l_quantity", distinct=True), 2).alias("sum_distinct_qty"),
    )


@q(
    "agg_minmax_by",
    """
    SELECT event_type,
           arg_min(user_id, event_id) AS first_user,
           arg_max(user_id, event_id) AS last_user,
           min(ts)                    AS first_ts,
           max(ts)                    AS last_ts
    FROM events GROUP BY event_type
    """,
)
def agg_minmax_by(spark: SparkSession, sf: str) -> DataFrame:
    """Positional aggregates: the reference's first_value/last_value
    with order_by (functions.py:2108-2172) → min_by/max_by on a
    unique ordering key."""
    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.min_by("user_id", "event_id").alias("first_user"),
        F.max_by("user_id", "event_id").alias("last_user"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@q(
    "agg_collect",
    """
    SELECT event_type,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
    FROM (SELECT e.event_type, d.lang
          FROM events e JOIN documents d ON e.user_id % 500 = d.doc_id) t
    GROUP BY event_type
    """,
)
def agg_collect(spark: SparkSession, sf: str) -> DataFrame:
    """Collection aggregates: array_agg(distinct) + string_agg
    (functions.py:1608, :2628) → collect_set + sorted array_join."""
    e = t(spark, sf, "events")
    d = t(spark, sf, "documents")
    joined = e.join(F.broadcast(d), (e.user_id % 500) == d.doc_id).select(
        "event_type", "lang"
    )
    return joined.groupBy("event_type").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs")
    )


@q(
    "agg_bitwise_bool",
    """
    SELECT l_returnflag,
           bit_and(l_linenumber)          AS band,
           bit_or(l_linenumber)           AS bor,
           bit_xor(l_linenumber)          AS bxor,
           bool_and(l_quantity > 1)       AS all_multi,
           bool_or(l_discount > 0.09)     AS any_big_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitwise_bool(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("band"),
        F.bit_or("l_linenumber").alias("bor"),
        F.bit_xor("l_linenumber").alias("bxor"),
        F.bool_and(F.col("l_quantity") > 1).alias("all_multi"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_disc"),
    )


@q(
    "agg_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (the reference exposes
    approx_percentile_cont; Spark's exact percentile matches DuckDB's
    quantile_cont definition — approx variants are also exposed but
    not oracle-checkable)."""
    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.25), 4).alias("p25"),
        F.round(F.percentile("value", 0.50), 4).alias("p50"),
        F.round(F.percentile("value", 0.95), 4).alias("p95"),
    )


@q(
    "agg_rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ROLLUP with grouping_id — hierarchical subtotals in
    one shuffle (Spark expands grouping sets map-side, then a single
    partial+final aggregate; NOT one pass per level)."""
    from denormalized_spark.datastream import DataStream

    li = DataStream(t(spark, sf, "lineitem"))
    return li.rollup_agg(
        ["l_returnflag", "l_linestatus"],
        [
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        ],
    ).df.select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


@q(
    "agg_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY CUBE — all 2^k key combinations, same single-shuffle
    expansion as rollup."""
    from denormalized_spark.datastream import DataStream

    o = DataStream(t(spark, sf, "orders"))
    return o.cube_agg(
        ["o_orderstatus", "o_orderpriority"],
        [
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ],
    ).df.select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")


@q(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS via the Spark 4 DataFrame API
    (df.groupingSets) — marginals without the full cube."""
    from denormalized_spark.datastream import DataStream

    li = DataStream(t(spark, sf, "lineitem"))
    return li.grouping_sets_agg(
        [["l_returnflag"], ["l_linestatus"], []],
        ["l_returnflag", "l_linestatus"],
        [
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        ],
    ).df.select("l_returnflag", "l_linestatus", "gid", "revenue")


@q(
    "unpivot_lineitem_metrics",
    """
    SELECT l_orderkey, l_linenumber, metric, round(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey < 500
    ) UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long melt (DataFrame.unpivot / DuckDB UNPIVOT). Pure
    projection with constant fan-out — no shuffle. NULL values are
    dropped by both engines' UNPIVOT semantics."""
    from denormalized_spark.datastream import DataStream

    li = DataStream(
        t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    )
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    return out.df.select(
        "l_orderkey", "l_linenumber", "metric", F.round("value", 2).alias("value")
    )


@q(
    "agg_approx_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_15pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL) — the reference's approx_distinct
    (functions.py:1508). The HLL estimate itself is engine-specific,
    so the oracle-checkable contract is its error bound: default
    rsd=0.05 ⇒ |approx − exact| ≤ 15% of exact (3σ) — asserted as a
    boolean column both engines must agree on."""
    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id") - F.count_distinct("user_id")
            )
            <= 0.15 * F.count_distinct("user_id")
        ).alias("approx_within_15pct"),
    )


@q(
    "agg_hll_rollup",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS rollup_within_10pct
    FROM events GROUP BY event_type
    """,
)
def agg_hll_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB pre-aggregation pattern:
    per-DAY DataSketches HLL sketches of user_id, merged with
    hll_union_agg into per-event-type distinct counts WITHOUT
    rescanning rows. At scale the daily sketch table is built once at
    ingest (bounded: days × types rows) and any date-range distinct
    query is a union over it. The estimate is engine-specific, so the
    oracle contract is the error bound vs the exact count (lgK=12 ⇒
    rsd ≈ 1.6%, 10% is ≳ 6σ)."""
    import denormalized_spark.functions as dnf

    e = t(spark, sf, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(dnf.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        dnf.hll_sketch_estimate(dnf.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(F.broadcast(rolled), "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("rollup_within_10pct"),
    )


# ---------------------------------------------------------------------------
# window (OVER) functions (§2.6)
# ---------------------------------------------------------------------------

@q(
    "over_rank_per_customer",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER w AS rn,
             rank()       OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def over_rank_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group via ranking window (partitioned — scales)."""
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@q(
    "over_running_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           lag(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
           lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order
    FROM orders
    """,
)
def over_running_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@q(
    "over_range_trailing_30d",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           count(*) OVER w AS n_30d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def over_range_trailing_30d(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame — the value-based frame the ROWS entries
    don't exercise (SURVEY §2.6 frames): per customer, order count and
    exact cent revenue over the TRAILING 30 DAYS of each order (all
    same-day orders enter together — RANGE, not ROWS, semantics; a
    rows-frame would split ties arbitrarily). Engine-exact: ordering
    key is integer epoch-days (unix_date(cast date) ≡ cast-date −
    1970-01-01 — o_orderdate is midnight TIMESTAMP in the parquet), the
    sum is integer cents. One keyed exchange; Spark evaluates the
    running range frame incrementally with two pointers, not by
    rescanning the frame per row."""
    o = t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-30, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count("*").over(w).alias("n_30d"),
        F.sum(cents).over(w).alias("cents_30d"),
    )


@q(
    "over_ntile_percentrank",
    """
    SELECT o_orderkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def over_ntile_percentrank(spark: SparkSession, sf: str) -> DataFrame:
    """Global-window ranking WITHOUT the single-reducer sort: an
    unpartitioned ``Window.orderBy`` cannot finish at 100 TB, so this
    runs operators.ranking.global_ranks — range-repartition + local
    row_number + broadcast prefix-sum offsets (same results, bounded
    parallelism; see ranking.py module docs)."""
    from denormalized_spark.operators.ranking import global_ranks

    o = t(spark, sf, "orders")
    ranked = global_ranks(
        o,
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        # the oracle's OVER (ORDER BY price DESC, orderkey) ranks on
        # the full (unique) key — rank == row_number, no tie groups
        rank_keys=["o_totalprice", "o_orderkey"],
        ntile=4,
    )
    return ranked.select(
        "o_orderkey",
        F.col("ntile_4").alias("quartile"),
        F.round("percent_rank", 6).alias("pct_rank"),
        F.round("cume_dist", 6).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# scalar function surface (§2.7)
# ---------------------------------------------------------------------------

@q(
    "scalar_math_checksums",
    """
    SELECT round(sum(sqrt(l_quantity)), 2)                 AS s_sqrt,
           round(sum(ln(l_extendedprice)), 2)              AS s_ln,
           round(sum(abs(l_discount - 0.05)), 4)           AS s_abs,
           round(sum(pow(l_tax, 2)), 4)                    AS s_pow,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT) + CAST(ceil(l_discount * 100) AS BIGINT)) AS BIGINT) AS s_floor_ceil,
           round(sum(exp(l_discount)), 4)                  AS s_exp,
           round(sum(log10(l_extendedprice)), 4)           AS s_log10
    FROM lineitem
    """,
)
def scalar_math_checksums(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.sum(F.sqrt("l_quantity")), 2).alias("s_sqrt"),
        F.round(F.sum(F.log(F.col("l_extendedprice"))), 2).alias("s_ln"),
        F.round(F.sum(F.abs(F.col("l_discount") - 0.05)), 4).alias("s_abs"),
        F.round(F.sum(F.pow("l_tax", F.lit(2))), 4).alias("s_pow"),
        F.sum(
            F.floor("l_quantity").cast("long") + F.ceil(F.col("l_discount") * 100).cast("long")
        ).alias("s_floor_ceil"),
        F.round(F.sum(F.exp("l_discount")), 4).alias("s_exp"),
        F.round(F.sum(F.log10("l_extendedprice")), 4).alias("s_log10"),
    )


@q(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           substr(p_name, 1, 5)                            AS name_prefix,
           length(p_name)                                  AS name_len,
           concat_ws('-', p_brand, p_type)                 AS brand_type,
           replace(p_type, 'A', '_')                       AS type_repl,
           lpad(CAST(p_size AS VARCHAR), 5, '0')           AS size_padded,
           levenshtein(p_brand, 'Brand#13')                AS brand_dist,
           reverse(p_name)                                 AS name_rev,
           split_part(p_name, ' ', 1)                      AS first_word
    FROM part WHERE p_partkey <= 200
    """,
)
def scalar_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    p = t(spark, sf, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("_")).alias("type_repl"),
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("size_padded"),
        F.levenshtein("p_brand", F.lit("Brand#13")).alias("brand_dist"),
        F.reverse("p_name").alias("name_rev"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
    )


@q(
    "scalar_datetime",
    """
    SELECT date_trunc('month', o_orderdate)          AS month,
           CAST(date_part('year', o_orderdate) AS INTEGER)  AS yr,
           count(*)                                  AS n,
           round(sum(o_totalprice), 2)               AS total
    FROM orders GROUP BY 1, 2
    """,
)
def scalar_datetime(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))


@q(
    "scalar_case_json",
    """
    SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 33 THEN 'low'
                WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 66 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
    FROM events GROUP BY 1
    """,
)
def scalar_case_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON extraction (Spark superset: the reference only decodes
    JSON at ingest) + CASE WHEN chains."""
    e = t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    bucket = F.when(k < 33, "low").when(k < 66, "mid").otherwise("high")
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"), F.sum(k).alias("k_sum")
    )


@q(
    "scalar_hash_funcs",
    """
    SELECT d.doc_id, md5(d.text) AS text_md5, sha256(d.text) AS text_sha256
    FROM documents d WHERE d.doc_id < 50
    """,
)
def scalar_hash_funcs(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.md5("text").alias("text_md5"), F.sha2(F.col("text"), 256).alias("text_sha256")
    )


@q(
    "array_funcs",
    """
    SELECT doc_id, n_unique, first_token, first3, has_spark,
           array_to_string(list_transform(
             list_filter(range(1, len(toks) + 1),
                         i -> NOT list_contains(rm_pos, i)),
             i -> toks[i]), '|')                                            AS removed2,
           array_to_string(list_transform(range(1, len(toks) + 1),
             i -> CASE WHEN list_contains(rp_pos, i) THEN '_X_'
                       ELSE toks[i] END), '|')                              AS replaced2
    FROM (
      SELECT doc_id, toks,
             len(list_distinct(toks))                                      AS n_unique,
             list_sort(list_distinct(toks))[1]                             AS first_token,
             array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), '|') AS first3,
             list_contains(toks, 'spark')                                  AS has_spark,
             list_slice(list_filter(range(1, len(toks) + 1), i -> toks[i] = 'filter'), 1, 2) AS rm_pos,
             list_slice(list_filter(range(1, len(toks) + 1), i -> toks[i] = 'scan'), 1, 2)   AS rp_pos
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
            FROM documents WHERE doc_id < 100)
    )
    """,
)
def array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Array function family (§2.7): distinct/sort/slice/join/contains
    plus the first-N positional variants array_remove_n /
    array_replace_n (reference functions.py:1323/1372) — the oracle
    replays them as position-list cuts."""
    import denormalized_spark.functions as dnf

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), r"\s+")
    uniq = F.array_sort(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.element_at(uniq, 1).alias("first_token"),
        F.array_join(F.slice(uniq, 1, 3), "|").alias("first3"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(
            dnf.array_remove_n(toks, F.lit("filter"), 2), "|"
        ).alias("removed2"),
        F.array_join(
            dnf.array_replace_n(toks, F.lit("scan"), "_X_", 2), "|"
        ).alias("replaced2"),
    )


@q(
    "pivot_event_counts",
    """
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (WHERE event_type = 'click')    AS click_n,
           count(*) FILTER (WHERE event_type = 'view')     AS view_n,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
           count(*) FILTER (WHERE event_type = 'error')    AS error_n,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup_n
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with explicit values (avoids the extra distinct-values
    job — required practice at scale)."""
    e = t(spark, sf, "events").withColumn("user_bucket", F.col("user_id") % 10)
    kinds = ["click", "view", "purchase", "error", "signup"]
    out = e.groupBy("user_bucket").pivot("event_type", kinds).count()
    for k in kinds:
        out = out.withColumnRenamed(k, f"{k}_n")
    # pivot yields null for empty cells; counts are 0 in the oracle
    return out.select(
        "user_bucket", *[F.coalesce(F.col(f"{k}_n"), F.lit(0)).alias(f"{k}_n") for k in kinds]
    )


@q(
    "explode_top_tokens",
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token FROM documents
    ) t GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def explode_top_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """explode/unnest (the reference's unnest_column, dataframe.py:337)."""
    d = t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# regex / encode / struct scalars, right+full joins, nth_value (§2.6-2.7)
# ---------------------------------------------------------------------------

@q(
    "scalar_regex",
    r"""
    SELECT doc_id,
           regexp_matches(text, '\b[A-Z][a-z]+\b')            AS has_capitalized,
           len(regexp_extract_all(text, '\b\w{7,}\b'))        AS n_long_words,
           length(regexp_replace(text, '[aeiou]', '', 'g'))   AS len_no_vowels
    FROM documents WHERE doc_id < 100
    """,
)
def scalar_regex(spark: SparkSession, sf: str) -> DataFrame:
    """Regex scalar family (reference regexp_like/match/replace,
    functions.py:725-762) — per-row projections, scan speed."""
    from denormalized_spark import functions as dnf

    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        dnf.regexp_like("text", r"\b[A-Z][a-z]+\b").alias("has_capitalized"),
        F.size(dnf.regexp_match("text", r"\b\w{7,}\b")).alias("n_long_words"),
        F.length(dnf.regexp_replace("text", "[aeiou]", "")).alias("len_no_vowels"),
    )


@q(
    "scalar_encode_digest",
    """
    SELECT c_custkey,
           base64(c_name::BLOB)                              AS name_b64,
           from_base64(base64(c_name::BLOB))::VARCHAR        AS name_roundtrip,
           lower(hex(c_name::BLOB))                          AS name_hex,
           sha256(c_name)                                    AS name_sha256,
           md5(c_name)                                       AS name_md5
    FROM customer WHERE c_custkey <= 50
    """,
)
def scalar_encode_digest(spark: SparkSession, sf: str) -> DataFrame:
    """encode/decode/digest family (reference functions.py:284-337)."""
    from denormalized_spark import functions as dnf

    c = t(spark, sf, "customer").filter(F.col("c_custkey") <= 50)
    name_bin = F.encode("c_name", "UTF-8")
    return c.select(
        "c_custkey",
        dnf.encode(name_bin, "base64").alias("name_b64"),
        dnf.decode(dnf.encode(name_bin, "base64"), "base64")
        .cast("string")
        .alias("name_roundtrip"),
        dnf.encode(name_bin, "hex").alias("name_hex"),
        dnf.digest("c_name", "sha256").alias("name_sha256"),
        dnf.digest("c_name", "md5").alias("name_md5"),
    )


@q(
    "scalar_struct_funcs",
    """
    SELECT o_orderkey,
           struct_pack(k := o_custkey, p := round(o_totalprice, 2)).k AS cust_from_struct,
           struct_pack(k := o_custkey, p := round(o_totalprice, 2)).p AS price_from_struct
    FROM orders WHERE o_orderkey <= 200
    """,
)
def scalar_struct_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """struct/named_struct + field access (reference
    functions.py:1053-1066; nested access kafka_rideshare.rs:73-74).
    Fields projected back out so the oracle compares primitives."""
    from denormalized_spark import functions as dnf

    o = t(spark, sf, "orders").filter(F.col("o_orderkey") <= 200)
    s = dnf.named_struct(
        "k", F.col("o_custkey"), "p", F.round("o_totalprice", 2)
    )
    return o.select(
        "o_orderkey",
        s.getField("k").alias("cust_from_struct"),
        s.getField("p").alias("price_from_struct"),
    )


@q(
    "join_right_customers",
    """
    SELECT c.c_mktsegment,
           count(*)            AS n_customers,
           count(o.o_orderkey) AS n_orders
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_right_customers(spark: SparkSession, sf: str) -> DataFrame:
    """RIGHT outer join through the façade (reference JoinType mapping
    py-denormalized/src/datastream.rs:117-130). count(*) counts every
    preserved customer row; count(o_orderkey) skips the null-extended
    ones."""
    from denormalized_spark.datastream import DataStream

    o = DataStream(t(spark, sf, "orders"))
    c = t(spark, sf, "customer")
    joined = o.join(c, "right", ["o_custkey"], ["c_custkey"])
    return joined.df.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count("o_orderkey").alias("n_orders"),
    )


@q(
    "join_full_user_activity",
    """
    WITH clicks AS (
      SELECT user_id, count(*) AS clicks FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), buys AS (
      SELECT user_id, count(*) AS buys FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, b.user_id) AS user_id,
           coalesce(c.clicks, 0)          AS clicks,
           coalesce(b.buys, 0)            AS buys
    FROM clicks c FULL JOIN buys b ON c.user_id = b.user_id
    """,
)
def join_full_user_activity(spark: SparkSession, sf: str) -> DataFrame:
    """FULL outer join through the façade: users who only click, only
    buy, or both."""
    from denormalized_spark.datastream import DataStream

    e = t(spark, sf, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("cu"))
        .agg(F.count("*").alias("clicks"))
    )
    buys = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("bu"))
        .agg(F.count("*").alias("buys"))
    )
    joined = DataStream(clicks).join(buys, "full", ["cu"], ["bu"]).df
    return joined.select(
        F.coalesce("cu", "bu").alias("user_id"),
        F.coalesce("clicks", F.lit(0)).alias("clicks"),
        F.coalesce("buys", F.lit(0)).alias("buys"),
    )


@q(
    "over_nth_value",
    """
    SELECT o_orderkey, o_custkey,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS second_order
    FROM orders WHERE o_custkey <= 100
    """,
)
def over_nth_value(spark: SparkSession, sf: str) -> DataFrame:
    """nth_value OVER a running frame (reference functions.py:2172 +
    WindowFrame expr.py:587-655)."""
    from denormalized_spark import functions as dnf

    o = t(spark, sf, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        dnf.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@q(
    "agg_weighted_percentile",
    """
    WITH c AS (
      SELECT l_returnflag, l_extendedprice,
             sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem WHERE l_quantity > 0
    )
    SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
    FROM c WHERE cw >= 0.5 * tw
    GROUP BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Exact weighted percentile (the reference's
    approx_percentile_cont_with_weight, functions.py:1582, exact):
    quantity-weighted median extended price per return flag.
    Integer-valued weights keep the cumulative sums exact, so the
    crossing point is engine-deterministic."""
    from denormalized_spark import functions as dnf

    li = t(spark, sf, "lineitem")
    return dnf.weighted_percentile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 0.5,
        out_col="weighted_median_price",
    )


@q(
    "agg_weighted_percentile_column",
    """
    WITH c AS (
      SELECT l_returnflag, l_extendedprice,
             sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem WHERE l_quantity > 0
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cw >= 0.25 * tw THEN l_extendedprice END), 2) AS wp25,
           round(min(CASE WHEN cw >= 0.50 * tw THEN l_extendedprice END), 2) AS wp50,
           round(min(CASE WHEN cw >= 0.90 * tw THEN l_extendedprice END), 2) AS wp90
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_percentile_column(spark: SparkSession, sf: str) -> DataFrame:
    """The aggregate-COLUMN form of weighted percentile — drop-in
    inside .agg() like the reference's Column API (functions.py:1582),
    three percentiles in one aggregation pass (one shared collect
    buffer; Catalyst dedups the semantically-equal collect_lists).
    Integer weights keep cumulative sums exact across engines."""
    from denormalized_spark import functions as dnf

    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                dnf.approx_percentile_cont_with_weight(
                    "l_extendedprice", "l_quantity", p
                ),
                2,
            ).alias(name)
            for p, name in [(0.25, "wp25"), (0.5, "wp50"), (0.9, "wp90")]
        ]
    )


@q(
    "join_small_order_revenue",
    """
    WITH q AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
               FROM lineitem),
    pa AS (SELECT l_partkey, count(*)::BIGINT AS n, sum(qty)::BIGINT AS sq
           FROM q GROUP BY 1),
    sel AS (SELECT q.cents FROM q JOIN pa USING (l_partkey)
            WHERE q.qty * 5 * pa.n < pa.sq)
    SELECT count(*)::BIGINT AS n_small_orders,
           coalesce(sum(cents), 0)::BIGINT AS revenue_cents,
           CAST(floor(coalesce(sum(cents), 0)::DOUBLE / 7.0) AS BIGINT)
             AS avg_yearly_cents
    FROM sel
    """,
)
def join_small_order_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from
    lineitems below 20% of their part's average quantity — the
    correlated-scalar-subquery pattern decorrelated into a per-part
    aggregate + join, which is exactly how Catalyst (and every MPP
    planner) executes it. The 20%-of-avg gate is the repo's
    cross-multiplied integer comparison (qty·5·n < Σqty — quantities
    are integral; no float avg crosses an engine boundary), and
    revenue is summed in integer cents. Plan: one part-keyed partial
    agg of lineitem + one part-keyed equi-join back (AQE picks
    broadcast when the agg side is small), then a 1-row global final.
    Reference parity: joins/aggregates (datastream.rs join/aggregate
    surface); the Q17 shape itself exceeds the reference's own
    examples."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pa = li.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n"), F.sum("qty").cast("long").alias("sq")
    )
    sel = li.join(pa, "l_partkey").filter(
        F.col("qty") * 5 * F.col("n") < F.col("sq")
    )
    return sel.agg(
        F.count("*").cast("long").alias("n_small_orders"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("revenue_cents"),
    ).select(
        "n_small_orders",
        "revenue_cents",
        F.floor(F.col("revenue_cents").cast("double") / 7.0)
        .cast("long")
        .alias("avg_yearly_cents"),
    )


@q(
    "join_large_volume_orders",
    """
    WITH tq AS (SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT))::BIGINT AS total_qty
                FROM lineitem GROUP BY 1
                HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           tq.total_qty
    FROM orders o JOIN tq ON tq.l_orderkey = o.o_orderkey
    ORDER BY tq.total_qty DESC, o.o_orderkey LIMIT 100
    """,
)
def join_large_volume_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose line
    items total > 150 units — the groupBy-HAVING-then-join pattern.
    Plan: one orderkey-keyed partial/final agg with the HAVING pushed
    into the agg (only qualifying keys survive to the join), one
    equi-join against orders, top-100 via TakeOrderedAndProject
    (never a global sort). Integer quantity sums; price in cents."""
    li = t(spark, sf, "lineitem")
    tq = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = t(spark, sf, "orders")
    return (
        o.join(tq, o.o_orderkey == tq.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


@q(
    "agg_value_concentration",
    """
    WITH pv AS (SELECT l_partkey,
                       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
                         AS value_cents
                FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(value_cents)::BIGINT AS t, count(*)::BIGINT AS n FROM pv)
    SELECT pv.l_partkey, pv.value_cents
    FROM pv CROSS JOIN tot
    WHERE pv.value_cents * tot.n * 5 > tot.t * 6
    ORDER BY pv.value_cents DESC, pv.l_partkey
    """,
)
def agg_value_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (value concentration): parts whose summed
    lineitem value exceeds 1.2× the mean part's value — the
    group-sum-vs-global-sum gate behind every "significant inventory"
    report, with a SCALE-FREE relative threshold (a fixed share gate
    degenerates as the part count grows; 1.2×-mean qualifies a stable
    ~15% tail at every SF). The global (total, count) is a 1-ROW
    broadcast crossJoin (the sanctioned metadata pattern) and the
    gate is the cross-multiplied integer comparison v·n·5 > t·6 — no
    float share is ever compared. Plan: one part-keyed partial/final
    agg, a 1-row broadcast, and the filter."""
    li = t(spark, sf, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").cast("long").alias("t"),
        F.count("*").cast("long").alias("n"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * F.col("n") * 5 > F.col("t") * 6)
        .select("l_partkey", "value_cents")
        # no orderBy: the qualifying tail is part-count-sized (~15% of
        # parts) — a global sort on it would be a real data sort at
        # scale, and the driver compare is order-independent
    )


@q(
    "join_idle_rich_customers",
    """
    WITH bal AS (SELECT c_custkey, c_mktsegment,
                        CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
                 FROM customer),
    avgpos AS (SELECT count(*)::BIGINT AS n, sum(bal_cents)::BIGINT AS s
               FROM bal WHERE bal_cents > 0),
    cutoff AS (SELECT max(o_orderdate) - INTERVAL 180 DAY AS c0 FROM orders),
    idle AS (SELECT b.c_custkey, b.c_mktsegment, b.bal_cents
             FROM bal b CROSS JOIN avgpos a
             WHERE b.bal_cents * a.n > a.s
               AND NOT EXISTS (SELECT 1 FROM orders o, cutoff
                               WHERE o.o_custkey = b.c_custkey
                                 AND o.o_orderdate >= cutoff.c0))
    SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           sum(bal_cents)::BIGINT AS total_bal_cents
    FROM idle GROUP BY 1 ORDER BY 1
    """,
)
def join_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers with an
    above-average positive balance and NO order in the trailing 180
    days of the corpus — scalar-subquery threshold (1-row broadcast
    of the positive-balance moments; the gate is the cross-multiplied
    integer bal·n > Σbal, so no float average crosses engines) plus
    an ANTI join against recent orders, rolled up per market segment.
    (The literal Q22 "never ordered" predicate is empty on this
    synthetic corpus — every customer orders; the recency window
    keeps the anti join non-degenerate at every SF: 70/708/7081
    qualifying customers at sf0.001/0.01/0.1.) Plan: two 1-row
    broadcasts (moments, cutoff), one custkey-keyed LEFT ANTI
    (broadcast or shuffled-hash per AQE), one segment-keyed metadata
    rollup."""
    c = t(spark, sf, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    avgpos = c.filter(F.col("bal_cents") > 0).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bal_cents").cast("long").alias("s"),
    )
    o = t(spark, sf, "orders")
    cutoff = o.agg(
        F.date_sub(F.max("o_orderdate").cast("date"), 180).alias("c0")
    )
    recent = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate").cast("date") >= F.col("c0"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    idle = (
        c.crossJoin(F.broadcast(avgpos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(recent, "c_custkey", "left_anti")
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("bal_cents").cast("long").alias("total_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


@q(
    "join_salted_priority_revenue",
    """
    SELECT o.o_orderpriority,
           count(*)::BIGINT AS n_items,
           sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
             AS revenue_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def join_salted_priority_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue by order priority through the SKEW-SAFE salted join
    (operators/joins.salted_join, 8 salts): the fact side carries a
    deterministic (orderkey·7 + linenumber) % 8 salt, the dim side
    replicates once per salt, and the shuffle runs on (key, salt) —
    a hot orderkey's rows land on 8 reducers instead of one. The
    oracle is the PLAIN join: hash-equality IS the proof that salting
    preserves join semantics exactly. (AQE's skew splitting is the
    first answer and is on in this repo's sessions; the explicit form
    is for skewed-aggregation feeds and AQE-less engines — see the
    module docstring.)"""
    from denormalized_spark.operators.joins import salted_join

    li = t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li,
        o,
        "o_orderkey",
        left_salt=F.col("o_orderkey") * 7 + F.col("l_linenumber"),
        n_salts=8,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "pivot_user_event_matrix",
    """
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events),
    m AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END)::BIGINT AS click_n,
             sum(CASE WHEN event_type = 'click'    THEN cents ELSE 0 END)::BIGINT AS click_cents,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase_n,
             sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)::BIGINT AS purchase_cents,
             sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END)::BIGINT AS view_n,
             sum(CASE WHEN event_type = 'view'     THEN cents ELSE 0 END)::BIGINT AS view_cents,
             sum(cents)::BIGINT AS total_cents
      FROM e GROUP BY user_id
    )
    SELECT * FROM m ORDER BY total_cents DESC, user_id ASC LIMIT 100
    """,
)
def pivot_user_event_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide PIVOT (datastream.pivot_agg over the reference's
    aggregation surface): per-user event-type count/value matrix with
    an EXPLICIT pivot-value list — the static-schema form that skips
    Spark's value-discovery scan and is the only pivot shape that
    survives 100 TB. One user-keyed shuffle (the pivot is column
    fan-out, not row fan-out), then a 100-row TakeOrdered by total
    spend. Oracle is the equivalent CASE-sum matrix."""
    from denormalized_spark.datastream import DataStream

    ds = DataStream(t(spark, sf, "events").select(
        "user_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ))
    wide = ds.pivot_agg(
        ["user_id"],
        "event_type",
        ["click", "purchase", "view"],
        [F.count(F.lit(1)).cast("long").alias("n"),
         F.sum("cents").cast("long").alias("cents")],
    ).df
    out = wide.select(
        "user_id",
        F.coalesce("click_n", F.lit(0)).cast("long").alias("click_n"),
        F.coalesce("click_cents", F.lit(0)).cast("long").alias("click_cents"),
        F.coalesce("purchase_n", F.lit(0)).cast("long").alias("purchase_n"),
        F.coalesce("purchase_cents", F.lit(0)).cast("long").alias("purchase_cents"),
        F.coalesce("view_n", F.lit(0)).cast("long").alias("view_n"),
        F.coalesce("view_cents", F.lit(0)).cast("long").alias("view_cents"),
    )
    totals = t(spark, sf, "events").groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long").alias("total_cents")
    )
    return (
        out.join(totals, "user_id")
        .orderBy(F.desc("total_cents"), F.asc("user_id"))
        .limit(100)
    )


@q(
    "agg_theil_inequality",
    """
    WITH rev AS (
      SELECT n.n_name AS grp,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    per AS (
      SELECT grp,
             sum(CASE WHEN x > 0 THEN 1 ELSE 0 END)::BIGINT AS n,
             sum(CASE WHEN x <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_excluded,
             sum(CASE WHEN x > 0 THEN x ELSE 0 END)::BIGINT AS sx,
             sum(CASE WHEN x > 0 THEN
                   CAST(floor(x::DOUBLE * ln(x::DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT)
                 ELSE 0 END)::BIGINT AS sxlnx_micro
      FROM rev GROUP BY grp
    )
    SELECT grp, n, n_excluded,
           CASE WHEN n > 0 AND sx > 0 THEN
             CAST(floor(
               (sxlnx_micro::DOUBLE / 1000000.0 / sx::DOUBLE
                + ln(n::DOUBLE) - ln(sx::DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           ELSE 0::BIGINT END AS theil_micro
    FROM per ORDER BY grp
    """,
)
def agg_theil_inequality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation Theil T inequality of order values (operators/
    analytics.theil_index; Theil 1967) — the decomposable
    concentration measure beside agg_value_concentration's Gini.
    One fact-side scan with two broadcast dimension joins (customer
    at test SFs, nation always), then ONE nation-keyed agg; per-row
    x·ln(x) micro-floored before the integer sum (BM25's grid-vs-ulp
    argument), so the sum is partition-order exact."""
    from denormalized_spark.operators.analytics import theil_index

    o = t(spark, sf, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return theil_index(rev, "n_name", "cents")


@q(
    "agg_hhi_concentration",
    """
    WITH rev AS (
      SELECT n.n_name AS grp, c.c_custkey AS m,
             sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS x
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT grp, sum(x)::BIGINT AS t, count(*)::BIGINT AS n_members
            FROM rev GROUP BY grp)
    SELECT rev.grp, any_value(tot.n_members)::BIGINT AS n_members,
           CAST(floor(sum(CAST(floor((x::DOUBLE / t::DOUBLE)
                                     * (x::DOUBLE / t::DOUBLE)
                                     * 1e12 + 0.5) AS BIGINT))::DOUBLE
                / 1e6 + 0.5) AS BIGINT) AS hhi_micro
    FROM rev JOIN tot USING (grp)
    GROUP BY rev.grp ORDER BY rev.grp
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation Herfindahl-Hirschman index of customer revenue
    concentration (operators/analytics.hhi_concentration) — the
    sum-of-squared-shares member of the inequality panel beside Gini
    and Theil. Member totals exact longs, per-member s² pico-floored,
    integer group sum; two keyed aggs + one group-total join."""
    from denormalized_spark.operators.analytics import hhi_concentration

    o = t(spark, sf, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return hhi_concentration(rev, "n_name", "c_custkey", "cents")


@q(
    "join_bloom_semi_revenue",
    """
    WITH hot AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000),
    gated AS (
      SELECT l.l_returnflag,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS cents
      FROM lineitem l SEMI JOIN hot h ON l.l_orderkey = h.o_orderkey
    )
    SELECT l_returnflag, count(*)::BIGINT AS n_items,
           sum(cents)::BIGINT AS revenue_cents
    FROM gated GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    eager=True,
)
def join_bloom_semi_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-gated semi join (operators/joins.bloom_semi_join; the
    hand-rolled runtime filter — Bloom 1970 + the R* semijoin of
    Mackert & Lohman 1986): revenue of line items belonging to
    hot (>400k) orders, with the fact side prefiltered MAP-SIDE by a
    broadcast 2^16-bit bitmap of the hot keys before the exact semi
    join drops the Bloom false positives. The oracle is the PLAIN
    semi join — a hash match PROVES the gate is semantics-preserving
    (the salted_join proof pattern), while the plan moves only
    might-match fact rows into the join shuffle."""
    from denormalized_spark.operators.joins import bloom_semi_join

    li = t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            + F.lit(0.5)
        ).cast("long").alias("cents"),
    )
    hot = t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey"
    )
    gated = bloom_semi_join(li, hot, "l_orderkey", "o_orderkey")
    return (
        gated.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )
