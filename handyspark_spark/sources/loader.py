"""Parquet source loading with schema normalization.

The reference defines no sources of its own (SURVEY.md §2.1) — ingestion is
``spark.read.*``. This module adds the one piece of plumbing real lakes
need: transparent handling of nanosecond-precision parquet timestamps,
which Spark 4 refuses by default ([PARQUET_TYPE_ILLEGAL] INT64
TIMESTAMP(NANOS)). We read them as longs
(``spark.sql.legacy.parquet.nanosAsLong``) and rebuild proper
TimestampType columns via ``timestamp_micros`` — a map-only projection,
no data pass beyond the footer read.
"""
from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _nano_ts_columns(path: str) -> list[str]:
    """Column names stored as timestamp[ns] (from the parquet footer only)."""
    try:
        import pyarrow
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    f = path
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "*.parquet"))
        if not parts:
            return []
        f = parts[0]
    try:
        schema = pq.read_schema(f)
    except (OSError, pyarrow.ArrowInvalid):
        return []
    return [fld.name for fld in schema
            if str(fld.type).startswith("timestamp[ns")]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that upgrades nano timestamps in place."""
    # pin timestamp semantics: parquet micros are wall-clock values; a
    # non-UTC session TZ would shift year()/hour() extractions relative
    # to engines that read timestamps as naive (DuckDB, pandas). This IS
    # a session-level side effect — opt out by setting
    # HANDYSPARK_KEEP_SESSION_TZ if your app manages its own timezone.
    if not os.environ.get("HANDYSPARK_KEEP_SESSION_TZ"):
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:  # pragma: no cover - locked conf
            pass
    nanos = _nano_ts_columns(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # integer div, NOT `/1000` — double division rounds-to-nearest at
        # ~1.7e18 ns magnitudes (double mantissa < 63 bits) and shifted
        # some timestamps by 1 microsecond vs engines that truncate
        df = df.withColumn(c, F.timestamp_micros(
            F.expr(f"`{c}` div 1000")))
    return _ntz_to_ltz(df)


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to plain TimestampType.

    Parquet written with isAdjustedToUTC=false infers as TIMESTAMP_NTZ in
    Spark 4, which many numeric-context expressions refuse (e.g.
    ``cast(ts as double)`` -> DATATYPE_MISMATCH). With the session TZ
    pinned to UTC above, the NTZ->LTZ cast preserves wall-clock values
    exactly, so downstream arithmetic and DuckDB/pandas comparisons are
    unchanged. Map-only projection, no data pass.
    """
    from pyspark.sql import types as T
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
