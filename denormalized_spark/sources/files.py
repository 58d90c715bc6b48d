"""File sources — parquet/csv/json batch + streaming readers.

The reference inherits batch file IO from its engine (vendored
SessionContext.read_parquet/register_csv/..., SURVEY §2.1). Spark has
the same surface natively; these helpers add the test-data
conventions (a directory of ``<table>.parquet``) and file-streaming,
which doubles as the deterministic stream source for tests (the
reference's equivalent is its Kafka + docker generator setup —
its docs/kafka_rideshare_example.md; our broker-free translation is
examples/kafka_rideshare.py).

Every parquet read goes through :func:`parquet_schema`, which caches
Spark's inferred schema per SparkSession: inference is a Spark job, and
a cached schema lets a warm plan build run none. The key is the
absolute path, ``(size, mtime_ns)`` of the file (or of every data file
of a directory dataset) and the values of :data:`INFERENCE_CONFS`; a
rewritten file or a changed conf re-infers and replaces the entry, so
the cache holds one entry per path.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: SQL confs that change what parquet schema inference returns; their
#: values are part of the :func:`parquet_schema` cache key.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# SparkSession -> {absolute path: (key, schema, ns-long columns)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _fingerprint(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of a file, or of every data file of a
    directory dataset (names starting with ``.`` or ``_`` are skipped,
    as Spark skips them). None for a path that is not local."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    if not os.path.isdir(path):
        return None
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if not f.startswith((".", "_")):
                st = os.stat(os.path.join(root, f))
                out.append((os.path.relpath(os.path.join(root, f), path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _nanos_timestamp_columns(path: str) -> set[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), from the footer of
    the file (or of one part of a directory dataset)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return set()
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return set()
        path = parts[0]
    return {
        f.name
        for f in pq.read_schema(path)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the parquet file or dataset at
    ``path`` — the one place a parquet schema is inferred.

    Inference is a Spark job; this runs it once per session and path.
    The cache key is the absolute path, ``(size, mtime_ns)`` of the
    file (or of every data file of a directory dataset) and the
    values of :data:`INFERENCE_CONFS`. A rewritten file or a changed
    conf re-infers, and the new entry replaces the old one, so the
    cache holds one entry per distinct path. The entry also records
    which TIMESTAMP(NANOS) columns Spark reads as long. Paths that are
    not local are inferred on every call."""
    fp = _fingerprint(path)
    if fp is None:  # not a local path: nothing to key a cache on
        return spark.read.parquet(path).schema
    key = (fp, tuple(spark.conf.get(c) for c in INFERENCE_CONFS))
    cache = _SCHEMAS.setdefault(spark, {})
    path = os.path.abspath(path)
    hit = cache.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    # INT96 timestamps (Spark's own default output) show as ns in the
    # footer but Spark reads them as timestamps: only ns columns that
    # Spark read as long are converted.
    longs = {f.name for f in schema.fields if isinstance(f.dataType, LongType)}
    nanos = longs & _nanos_timestamp_columns(path)
    cache[path] = (key, schema, tuple(c for c in schema.fieldNames() if c in nanos))
    return schema


def _schema_and_nanos(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """:func:`parquet_schema` plus its ns-long columns."""
    schema = parquet_schema(spark, path)
    hit = _SCHEMAS.get(spark, {}).get(os.path.abspath(path))
    return schema, (hit[2] if hit is not None and hit[1] is schema else ())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet at ``path`` with its cached schema
    (:func:`parquet_schema`), converting TIMESTAMP(NANOS) columns that
    Spark reads as long (the session sets nanosAsLong) to
    TimestampType via integer-div truncation to micros — matching
    DuckDB's read of the same file, so oracle comparisons see
    identical values."""
    schema, nanos = _schema_and_nanos(spark, path)
    return _convert_nanos_longs(spark.read.schema(schema).parquet(path), nanos)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read table ``<sf_dir>/<name>.parquet`` through
    :func:`read_parquet`. A warm call runs no Spark job: the schema is
    cached per session, keyed on the absolute path, the file's (or
    every data file's) ``(size, mtime_ns)`` and the inference confs,
    and re-inferred when any of them changes."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _convert_nanos_longs(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """``timestamp_micros(c div 1000)`` for each ns-long column."""
    if not cols:
        return df
    return df.withColumns({c: F.expr(f"timestamp_micros({c} div 1000)") for c in cols})


def register_tables(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view, enabling the
    SQL surface over the same data the DataFrame API sees."""
    out = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Read a parquet table as an unbounded stream (file streams need
    an explicit schema: the cached :func:`parquet_schema`). This is
    the deterministic stream source used by the streaming tests."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _schema_and_nanos(spark, path)
    # FileStreamSource needs a directory; stage a symlink dir when the
    # table is a single file (the driver's testdata layout).
    stream_path = path
    if os.path.isfile(path):
        import hashlib
        import tempfile

        # staging dir must be DETERMINISTIC per source path: the
        # checkpoint log records the source directory, so a fresh
        # mkdtemp per call would break offset resume across restarts
        # (FileStreamSource raises a basePath mismatch)
        tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
        d = os.path.join(tempfile.gettempdir(), f"stream_{name}_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(link):
            try:
                os.symlink(path, link)
            except OSError:
                import shutil

                shutil.copy(path, link)
        stream_path = d
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _convert_nanos_longs(reader.load(stream_path), nanos)
