"""§2.9 UDF/UDAF query entries with DuckDB oracles.

The kernels intentionally mirror the reference examples:
- scalar UDF over pyarrow arrays (udf_example.py:31-36),
- Accumulator-protocol UDAF (udaf_example.py:31-66) — here with a
  two-field numeric state exercising update/merge/evaluate.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from denormalized_spark.queries._util import q, t
from denormalized_spark.udf import Accumulator, udaf, udf


def _revenue(price: pa.Array, discount: pa.Array) -> pa.Array:
    """Arrow-kernel UDF body: price * (1 - discount)."""
    return pc.multiply(price, pc.subtract(pa.scalar(1.0), discount))


@q(
    "udf_revenue_by_flag",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_revenue_by_flag(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar UDF path (reference udf.py:78-143): the revenue kernel
    runs on pyarrow Arrays inside a pandas_udf — Arrow-batched, no
    row-at-a-time Python. (The built-in-expression equivalent is the
    fast path; this query exists to verify the UDF machinery.)"""
    revenue_udf = udf(
        _revenue, [pa.float64(), pa.float64()], pa.float64(), "immutable"
    )
    li = t(spark, sf, "lineitem")
    return (
        li.withColumn("rev", revenue_udf("l_extendedprice", "l_discount"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"), F.count("*").alias("n"))
    )


class WeightedAvg(Accumulator):
    """Weighted average with a two-field state [sum_wx, sum_w] —
    exercises the full state/update/merge/evaluate protocol
    (reference udf.py:146-248)."""

    def __init__(self):
        self.sum_wx = 0.0
        self.sum_w = 0.0

    def update(self, values: pa.Array, weights: pa.Array) -> None:
        wx = pc.sum(pc.multiply(values, weights))
        w = pc.sum(weights)
        self.sum_wx += wx.as_py() or 0.0
        self.sum_w += w.as_py() or 0.0

    def merge(self, states: list[pa.Array]) -> None:
        # states[i] = i-th state field across partials
        self.sum_wx += pc.sum(states[0]).as_py() or 0.0
        self.sum_w += pc.sum(states[1]).as_py() or 0.0

    def state(self) -> list[pa.Scalar]:
        return [pa.scalar(self.sum_wx), pa.scalar(self.sum_w)]

    def evaluate(self) -> pa.Scalar:
        if self.sum_w == 0:
            return pa.scalar(None, type=pa.float64())
        return pa.scalar(self.sum_wx / self.sum_w)


@q(
    "udaf_weighted_avg_price",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_weighted_avg_price(spark: SparkSession, sf: str) -> DataFrame:
    """UDAF path (reference udaf(), udf.py:218-248): quantity-weighted
    average price per return flag through the Accumulator protocol —
    update per chunk, merge of partial states, evaluate."""
    wavg = udaf(
        WeightedAvg,
        [pa.float64(), pa.float64()],
        pa.float64(),
        [pa.float64(), pa.float64()],
        "immutable",
    )
    li = t(spark, sf, "lineitem").withColumn(
        "qty_d", F.col("l_quantity").cast("double")
    )
    out = wavg.apply(li, ["l_returnflag"], ["l_extendedprice", "qty_d"], alias="wavg")
    return out.select(
        "l_returnflag", F.round("wavg", 4).alias("weighted_avg_price")
    )


@q(
    "window_udaf_wavg",
    """
    SELECT time_bucket(INTERVAL '6 hours', ts)                     AS window_start_time,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end_time,
           event_type,
           floor(sum(floor(value * 100 + 0.5) * (user_id % 10 + 1))
                 / sum(user_id % 10 + 1) * 100 + 0.5) / 10000
             AS wavg_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def window_udaf_wavg(spark: SparkSession, sf: str) -> DataFrame:
    """UDAF INSIDE an event-time window — the reference's headline
    UDAF usage ``ds.window([], [my_udaf(col)], len)``
    (examples/udaf_example.py:76-83) through :func:`window_udaf`:
    the window struct is assigned as a column, then the Accumulator's
    state/update/merge/evaluate protocol runs per (window, key)
    group. Cross-engine evidence for the windowed-UDAF lane: a parity
    test against its batch twin alone would pass if both drifted
    from SQL together.

    Engine-portability: the accumulator sums value-CENTS (binary
    HALF_UP floor(value·100+0.5)) times an integer weight
    (user_id % 10 + 1) — integer-valued doubles, so every partial sum
    is exact under ANY partition/merge order (first attempt with raw
    doubles hit a 51.62875 halfway flip at sf0.01), both engines
    divide bit-identical numerator/denominator, and the final
    4-decimal rounding is the same explicit floor HALF_UP on the
    identical quotient."""
    from denormalized_spark.datastream import DataStream
    from denormalized_spark.udf import window_udaf

    wavg = udaf(
        WeightedAvg,
        [pa.float64(), pa.float64()],
        pa.float64(),
        [pa.float64(), pa.float64()],
        "immutable",
    )
    ev = (
        t(spark, sf, "events")
        .withColumn(
            "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
        )
        .withColumn("w", (F.col("user_id") % 10 + 1).cast("double"))
    )
    ds = DataStream(ev, event_time="ts")
    out = window_udaf(
        ds, wavg, ["cents", "w"], ["event_type"], 6 * 3600_000, alias="wavg_raw"
    )
    return out.select(
        "window_start_time",
        "window_end_time",
        "event_type",
        (F.floor(F.col("wavg_raw") * 100 + F.lit(0.5)) / 10000).alias("wavg_value"),
    )
