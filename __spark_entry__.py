"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship pipeline (streaming-window aggregation on
  the events table at sf0.001) through the DataStream façade.
- ``queries()``: every implemented operator from SURVEY.md §2 plus the
  LLM-data-pipeline extensions (registry in denormalized_spark.queries).
- ``oracle_sql()``: the DuckDB-equivalent SQL for EVERY query — the
  approximate ops are oracled too (HLL via an error-bound contract;
  LSH/minhash/hyperplanes via engine-portable md5-derived constants
  recomputed in SQL).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine settings to a driver-provided session (the driver
    builds its own SparkSession). RUNTIME_CONF is the single source of
    truth shared with session.get_spark, so tests and driver see the
    same semantics — in particular the parquet timestamp confs
    (inferTimestampNTZ=false), without which the driver's session reads
    events.ts as TIMESTAMP_NTZ while the test suite sees TIMESTAMP.
    The shuffle/state partition count and the checkpoint file manager
    are derived from this session by the same function get_spark
    uses. Static confs are skipped, so a driver-built session keeps its
    own codegen class-cache size (``spark.sql.codegen.cache.maxEntries``
    in session._DEFAULTS)."""
    from denormalized_spark.session import RUNTIME_CONF, apply_session_defaults

    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf already fixed; defaults are acceptable
    apply_session_defaults(spark)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: filter → tumbling 1h window → count/sum/avg by
    event_type, via the DataStream API. Scale factor comes from
    $SPARK_GRAFT_SF_DIR (default sf0.001) so the driver's bench scale
    is honored."""
    import os

    from pyspark.sql import functions as F

    from denormalized_spark import Context

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    ctx = Context(_configure(spark))
    ds = ctx.from_parquet(os.path.join(sf_dir, "events.parquet"), event_time="ts")
    return ds.filter(F.col("value") >= 0).window(
        ["event_type"],
        [
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        ],
        3600_000,
    ).df


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from denormalized_spark.queries import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    from denormalized_spark.queries import ORACLES

    return dict(ORACLES)
