"""Parquet catalog over the driver testdata directory.

One loader for every table in TESTDATA.md.  Reads are plain
``spark.read.parquet`` so Catalyst can push filters and prune columns into
the scan — callers must NOT ``.cache()`` by default (at 100 TB the scan is
the cheap part; a cache of the raw table is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP at the load boundary.

    Parquet ``timestamp[us]`` written without the UTC (``isAdjustedToUTC``)
    flag is inferred by Spark 4.x as TIMESTAMP_NTZ, which time-arithmetic
    builtins like ``unix_micros`` reject.  Under the session's UTC timezone
    the cast is value-preserving and matches what the DuckDB oracle (whose
    TIMESTAMP is naive-µs) computes on the same file.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    if name == "events":
        # events.parquet has stored TIMESTAMP(NANOS) (which the vectorized
        # reader rejects) in some driver generations and TIMESTAMP(MICROS)
        # without the UTC flag (→ TIMESTAMP_NTZ) in others; normalize both
        # spellings to plain TIMESTAMP = µs — exactly what DuckDB sees on the
        # same file, so oracle comparisons see identical values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _normalize_timestamps(df)
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register every testdata table as a temp view (SQL surface parity with
    the reference's per-user public views, `database.py:253-265`)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
