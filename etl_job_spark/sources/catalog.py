"""Parquet-backed table catalog (SURVEY.md §2.1 S2/S3).

The reference scans MySQL tables (full scan kicc_to_tb_sales.py:67,
range scan kicc_to_tb_sales_prod.py:63-70); here every table is a
Parquet directory read with an explicit select so Catalyst prunes
columns at the scan and pushes filters into the Parquet reader. At
cluster scale the same call reads a partitioned table
(``partitionBy(sale_dy)`` on write → partition pruning on read).
"""

from __future__ import annotations

import os
from typing import Any, Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_job_spark.schemas import DRIVER_TABLES

TABLE_NAMES = list(DRIVER_TABLES)

# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# path -> (key, inferred schema, {decode fn: decoded rows}); one entry
# per path, replaced whenever the key no longer matches
_SCHEMAS: dict[str, tuple[tuple, Any, dict]] = {}


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The local filesystem path behind ``path``, or None when Spark
    would resolve it elsewhere (a remote scheme, or a scheme-less path
    under a non-local default filesystem)."""
    u = urlparse(path)
    if u.scheme == "file":
        return u.path
    if u.scheme:
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return path if default_fs.startswith("file:") else None


def _listing(local: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``local`` —
    a rewrite or an append changes at least one of them (Spark names
    each written part file uniquely). None when nothing is there."""
    if os.path.isfile(local):
        st = os.stat(local)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(local):
        return None
    out = []
    for root, _, files in os.walk(local):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, local), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _cache_key(spark: SparkSession, path: str) -> tuple | None:
    local = _local_path(spark, path)
    listing = None if local is None else _listing(local)
    if listing is None:
        return None
    return (listing, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))


def _entry(spark: SparkSession, path: str) -> tuple[DataFrame, dict | None]:
    key = _cache_key(spark, path)
    if key is None:
        return spark.read.parquet(path), None
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path), hit[2]
    df = spark.read.parquet(path)
    decoded: dict = {}
    _SCHEMAS[path] = (key, df.schema, decoded)
    return df, decoded


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    set: later reads of an unchanged local path pass the cached schema
    to ``spark.read.schema(...)``, so building the frame opens no footer
    and launches no Spark job. The cache key is the path, the listing
    (relative name, size and ``mtime_ns`` of every file) and the
    session confs that steer inference, so a rewrite, an append or a
    conf flip infers afresh. Non-local URIs always infer: listing them
    costs about what inference does."""
    return _entry(spark, path)[0]


def read_parquet_rows(spark: SparkSession, path: str, decode: Callable[[list], Any]) -> Any:
    """``decode(read_parquet(spark, path).collect())``, kept with the
    cached schema under the same key — small driver-side tables (an
    index's centroids or codebooks) are collected once per file set."""
    df, decoded = _entry(spark, path)
    if decoded is None:
        return decode(df.collect())
    if decode not in decoded:
        decoded[decode] = decode(df.collect())
    return decoded[decode]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Filters/projections applied by the caller
    reach the scan via Catalyst (verified in tests via explain())."""
    if name not in DRIVER_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # generator-dependent ts physical type: some driver rounds land
        # TIMESTAMP(NANOS), which a default session rejects
        # (PARQUET_TYPE_ILLEGAL) — read it as long and convert below.
        # Set here, not only in session.py: the driver calls queries()
        # with its OWN SparkSession. The UTC pin rides along for the
        # same reason — the NTZ→timestamp cast below is wall-clock-
        # preserving only under a UTC session, and a driver session
        # in a non-UTC zone would silently shift every ts
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    ts_type = dict(df.dtypes).get("ts") if name == "events" else None
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong) → micros timestamp,
        # matching DuckDB's epoch_us() floor semantics
        # integer div: ns values exceed double's 2^53 exact range
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as NTZ; cast to
        # TimestampType so time arithmetic (unix_micros, windows) sees
        # ONE type whichever physical form the generator used. The
        # session timezone is pinned UTC (session.py), so the cast is
        # wall-clock-preserving and matches DuckDB's naive reading.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}
