"""Event-time column normalization.

The reference normalizes a user-named event-time column to
epoch-millis inside a hidden ``_streaming_internal_metadata`` struct
(reference: crates/core/src/datasource/kafka/kafka_stream_read.rs:225-271,
physical_plan/utils/time.rs:59-94, TimestampUnit at time.rs:14-19).
Spark needs no hidden column — event time is just a TimestampType
column named in ``withWatermark`` — so we reproduce only the
user-visible contract: accept ms-int / sec-int / ISO-8601-string
columns and produce a proper TimestampType column.
:func:`declare_watermark` is the package's one watermark declaration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Accepted unit names, mirroring TimestampUnit::{Int64Millis,
#: Int64Seconds, StringIso8601} (reference time.rs:14-19).
UNITS = ("ms", "s", "iso8601", "timestamp")


def to_event_time(col: Column | str, unit: str = "ms", fmt: str | None = None) -> Column:
    """Normalize a raw event-time column to TimestampType."""
    c = F.col(col) if isinstance(col, str) else col
    if unit == "ms":
        return F.timestamp_millis(c.cast("long"))
    if unit == "s":
        return F.timestamp_seconds(c.cast("long"))
    if unit == "iso8601":
        return F.to_timestamp(c, fmt) if fmt else F.to_timestamp(c)
    if unit == "timestamp":
        return c.cast(T.TimestampType())
    raise ValueError(f"unknown timestamp unit {unit!r}; expected one of {UNITS}")


def with_event_time(
    df: DataFrame,
    source_column: str,
    unit: str = "ms",
    target_column: str = "_event_time",
    fmt: str | None = None,
) -> DataFrame:
    """Add a normalized event-time column (``with_timestamp`` in the
    reference API, kafka_config.rs:129-135)."""
    return df.withColumn(target_column, to_event_time(source_column, unit, fmt))


def declare_watermark(df: DataFrame, column: str, delay: str) -> DataFrame:
    """Declare the watermark on ``column`` unless it already carries
    one, as the reference keeps one watermark per event-time column
    (streaming_window.rs:732-744). Spark records a declared watermark
    as ``spark.watermarkDelayMs`` column metadata, which survives
    projections, filters, renames and ``window_time``. Declaring again
    either fails (``Redefining watermark is disallowed``) or, after an
    upstream stateful operator, recomputes lateness from its output
    and holds a chained operator's windows open forever."""
    if "spark.watermarkDelayMs" in df.schema[column].metadata:
        return df
    return df.withWatermark(column, delay)
