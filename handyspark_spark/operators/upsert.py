"""Upsert / latest-row-per-key — incremental-ingestion building blocks.

Without a transactional table format (Delta/Iceberg), MERGE semantics are
composed from plain DataFrames: union the base with the updates, keep the
newest row per key. One shuffle on the key; at 100 TB you bucket the base
table by the key (sources/sinks.write_bucketed) so repeated upserts
never reshuffle the big side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(df: DataFrame, keys: list[str],
                  order_by: list[str]) -> DataFrame:
    """Keep the newest row per key (row_number over the key partition,
    ordered by ``order_by`` DESC with the last column as tiebreak)."""
    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in order_by])
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def upsert(base: DataFrame, updates: DataFrame, keys: list[str],
           order_by: list[str]) -> DataFrame:
    """MERGE-equivalent: updates win over base on key collision (and the
    newest update wins among duplicates)."""
    tagged = (base.withColumn("_src", F.lit(0))
              .unionByName(updates.withColumn("_src", F.lit(1))))
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_src"), *[F.desc(c) for c in order_by])
    return (tagged.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn", "_src"))
