"""Readers for the driver-provided synthetic corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under ``{sf_dir}/``.

The ``events`` table stores nanosecond-precision timestamps, which Spark's
parquet reader rejects natively; with ``spark.sql.legacy.parquet.nanosAsLong``
the column surfaces as LongType nanos and we floor-convert to a microsecond
TIMESTAMP here (matching Iceberg's µs limit — SURVEY.md §1.2 — and DuckDB's
``CAST(ts_ns AS TIMESTAMP)`` truncation, so oracle comparisons line up).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.session import NANOS_AS_LONG, ensure_session_defaults

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with normalized types."""
    if name not in TABLES:
        raise ValueError(f"unknown testdata table {name!r}; expected one of {TABLES}")
    if name == "events":
        ensure_session_defaults(spark)  # needs NANOS_AS_LONG on driver-owned sessions
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer division: ns / 1000 as a double loses precision above
            # 2^53 (epoch-ns is ~1.7e18), yielding ±1 µs drift vs DuckDB's
            # exact CAST(ns AS TIMESTAMP) truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs parquet timestamps (isAdjustedToUTC=false) surface as NTZ;
            # the session timezone is forced to UTC (session.py), so this
            # cast is an exact identity on the stored micros while restoring
            # the TIMESTAMP type that unix_micros()/range windows require
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ = NANOS_AS_LONG  # re-exported for tests
