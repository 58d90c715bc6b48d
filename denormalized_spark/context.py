"""Context — session wrapper + source registration.

Mirrors the reference's ``Context`` (crates/core/src/context.rs:19-88;
Python py-denormalized/src/context.rs:53-116): the single entry point
that owns the session and turns sources into DataStreams. Here the
session is a SparkSession and each ``from_*`` returns a
:class:`~denormalized_spark.datastream.DataStream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from denormalized_spark.datastream import DataStream
from denormalized_spark.session import get_spark


class Context:
    def __init__(self, spark: SparkSession | None = None, **session_kwargs):
        self.spark = spark or get_spark(**session_kwargs)

    # -- streaming sources ------------------------------------------------

    def from_topic(
        self,
        topic: str,
        sample_event: str,
        bootstrap_servers: str,
        timestamp_column: str | None = None,
        group_id: str | None = None,
        timestamp_unit: str = "ms",
        *,
        starting_offsets: str = "latest",
    ) -> DataStream:
        """Kafka topic → DataStream with schema inferred from one
        sample JSON event (reference Context::from_topic,
        context.rs:65-72 + py context.rs:81-116). Positional argument
        order matches the reference (context.py:32-39):
        ``timestamp_column`` fourth, ``group_id`` fifth.

        Event time: ``timestamp_column`` (normalized from
        ``timestamp_unit``) when given, else the Kafka message
        timestamp — the reference's default (kafka_stream_read.rs:233-238).
        """
        from denormalized_spark.sources.kafka import infer_schema_from_json, read_kafka_json

        schema = infer_schema_from_json(sample_event)
        df = read_kafka_json(
            self.spark,
            topic,
            bootstrap_servers,
            schema,
            group_id=group_id,
            starting_offsets=starting_offsets,
        )
        ds = DataStream(df, event_time="_kafka_timestamp")
        if timestamp_column is not None:
            ds = ds.with_timestamp(timestamp_column, timestamp_unit)
        return ds

    def with_checkpointing(
        self, path: str, *, rocksdb: bool = True, changelog: bool = True
    ) -> "Context":
        """One-call checkpointing setup — the reference's
        ``Context::with_config(checkpoint=true).with_slatedb_backend(
        path)`` builder (README.md:100-111): enables the RocksDB state
        store (the SlateDB-backend analogue) and sets ``path`` as the
        default checkpoint root (``spark.sql.streaming.
        checkpointLocation``) so sinks recover without a per-sink
        ``checkpoint=``. NOTE: under the default root Spark mints a
        fresh subdirectory per query START; for kill/restart recovery
        of a specific job, pass a stable per-job ``checkpoint=`` to
        the sink (see tests/test_checkpoint.py)."""
        if rocksdb:
            from denormalized_spark.streaming.checkpoint import (
                enable_rocksdb_state_store,
            )

            enable_rocksdb_state_store(self.spark, changelog=changelog)
        self.spark.conf.set("spark.sql.streaming.checkpointLocation", path)
        return self

    def from_stream_parquet(self, sf_dir: str, table: str, event_time: str | None = None) -> DataStream:
        """Parquet directory as an unbounded stream (deterministic
        test source standing in for the reference's Kafka+generator)."""
        from denormalized_spark.sources.files import stream_table

        return DataStream(stream_table(self.spark, sf_dir, table), event_time=event_time)

    def from_stream_csv(
        self,
        path: str,
        schema,
        event_time: str | None = None,
        *,
        header: bool = True,
        max_files_per_trigger: int | None = None,
        **options,
    ) -> DataStream:
        """CSV directory as an unbounded stream (the reference's
        csv_streaming example, examples/examples/csv_streaming.rs:14-63
        — there it is a bounded batch; Spark's FileStreamSource makes
        it a real tailing stream). Streaming reads require an explicit
        schema — inference would race the growing directory."""
        reader = self.spark.readStream.schema(schema).options(
            header=str(header).lower(), **options
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return DataStream(reader.csv(path), event_time=event_time)

    def from_stream_json(
        self,
        path: str,
        schema,
        event_time: str | None = None,
        *,
        max_files_per_trigger: int | None = None,
        **options,
    ) -> DataStream:
        """Newline-delimited-JSON directory as an unbounded stream."""
        reader = self.spark.readStream.schema(schema).options(**options)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return DataStream(reader.json(path), event_time=event_time)

    # -- batch sources ------------------------------------------------------

    def from_parquet(self, path: str, event_time: str | None = None) -> DataStream:
        """Batch parquet file or dataset, read with its cached schema
        (:func:`~denormalized_spark.sources.files.read_parquet`)."""
        from denormalized_spark.sources.files import read_parquet

        return DataStream(read_parquet(self.spark, path), event_time=event_time)

    def from_csv(
        self,
        path: str,
        event_time: str | None = None,
        *,
        header: bool = True,
        infer_schema: bool = True,
        schema=None,
        **options,
    ) -> DataStream:
        """Batch CSV source (reference vendored SessionContext.read_csv,
        datafusion/context.py:671-744; csv_streaming.rs:14-63)."""
        reader = self.spark.read.options(
            header=str(header).lower(), inferSchema=str(infer_schema).lower(), **options
        )
        if schema is not None:
            reader = reader.schema(schema)
        return DataStream(reader.csv(path), event_time=event_time)

    def from_json(
        self, path: str, event_time: str | None = None, *, schema=None, **options
    ) -> DataStream:
        """Batch newline-delimited JSON source (reference
        SessionContext.read_json, datafusion/context.py:746-812)."""
        reader = self.spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return DataStream(reader.json(path), event_time=event_time)

    def from_batch(self, df: DataFrame, event_time: str | None = None) -> DataStream:
        """Wrap an existing DataFrame (the reference's Joinable batch
        side, datastream.rs:379-395)."""
        return DataStream(df, event_time=event_time)

    # -- table registration (reference vendored SessionContext.
    #    register_parquet/register_csv/..., context.py:817-1017) --------

    def register_parquet(self, name: str, path: str) -> None:
        self.from_parquet(path).df.createOrReplaceTempView(name)

    def register_csv(self, name: str, path: str, **options) -> None:
        self.from_csv(path, **options).df.createOrReplaceTempView(name)

    def register_json(self, name: str, path: str, **options) -> None:
        self.from_json(path, **options).df.createOrReplaceTempView(name)

    def register_table(self, name: str, df_or_ds) -> None:
        df = df_or_ds.df if isinstance(df_or_ds, DataStream) else df_or_ds
        df.createOrReplaceTempView(name)

    def sql(self, query: str) -> DataStream:
        """SQL entry point (vendored SessionContext.sql in the
        reference, context.py:501-533 — batch-only there; Spark SQL
        also composes with streaming views, a superset)."""
        return DataStream(self.spark.sql(query))
