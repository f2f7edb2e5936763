"""Fixture-table catalog: the ten driver tables as DataFrames / temp views.

Scans are plain ``spark.read.parquet`` so Catalyst's predicate pushdown and
column pruning reach the file scan (verify with ``.explain``: PushedFilters /
ReadSchema). At 100 TB these would be partitioned/bucketed external tables;
the loader shape is the same.

Every read of a parquet input goes through :func:`read_parquet`, which
infers each footer schema once per file listing instead of once per read.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP across fixture generations.

    The driver has shipped ``events.ts`` both as TIMESTAMP(MICROS) (read
    natively) and as TIMESTAMP(NANOS) parquet, which Spark rejects outright
    unless read as raw nanos via ``spark.sql.legacy.parquet.nanosAsLong``.
    When the column arrives as a raw LONG of epoch-nanos, convert with
    integer division (``DIV 1000`` — epoch-nanos ≈ 1.7e18 exceeds double's
    2^53, so float division would corrupt it). DuckDB truncates ns→µs the
    same way.

    Micros parquet without a timezone arrives as TIMESTAMP_NTZ; cast it to
    TIMESTAMP (session tz is pinned to UTC, so the cast is value-preserving)
    because watermarks/windows require the LTZ type and every oracle pair
    was written against it.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change the schema Spark 4.1 infers from a parquet
# footer: the ones ParquetToSparkSchemaConverter reads, plus the two that
# decide which footers ParquetUtils.inferSchema reads.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# path -> (conf values, file listing, inferred schema): one entry per path.
# Readers only get and set whole entries, and each entry a concurrent miss
# stores is valid for its listing, so threads share it without a lock.
_footer_schemas: dict[str, tuple[tuple, tuple, StructType]] = {}


def _listing(path: str) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of the files Spark lists at
    ``path``: the file itself, or a flat directory's entries minus the
    ``_``/``.`` names Spark skips (it keeps the ``_metadata`` summaries).
    None when ``os`` cannot stat the path (an object-store URI, a glob) or
    the directory has subdirectories (partition columns come from names)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    files = []
    with os.scandir(path) as entries:
        for e in entries:
            if e.name.startswith((".", "_")) and not e.name.startswith(
                ("_metadata", "_common_metadata")
            ):
                continue
            if e.is_dir():
                return None
            s = e.stat()
            files.append((e.name, s.st_size, s.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job per call.

    Plain ``spark.read.parquet`` runs a one-task Spark job to read the
    footer every time. This infers once per file listing and session
    schema confs (:data:`SCHEMA_CONFS`), keeps that schema, and passes it
    to later reads of the same files. A rewrite changes the listing, so a
    stale schema is never used; a miss replaces the path's entry, so
    rewriting one path never grows the memo. Paths ``os`` cannot list fall
    through to plain inference."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    confs = tuple(spark.conf.get(k) for k in SCHEMA_CONFS)
    entry = _footer_schemas.get(key)
    if entry is not None and entry[:2] == (confs, listing):
        return spark.read.schema(entry[2]).parquet(path)
    df = spark.read.parquet(path)
    _footer_schemas[key] = (confs, listing, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table through :func:`read_parquet`: the schema comes
    from the parquet footer, inferred by Spark on the first read of the
    file and passed to every later read, so only that first read runs a
    Spark job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(read_parquet(spark, table_path(sf_dir, name)))
    return read_parquet(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view (for the SQL entry path)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
