"""Sinks: training shards and ORC.

The hive-partitioned and bucketed parquet layouts are in ``sinks``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          key_col: str, salt: str = "shuffle",
                          split_col: str | None = None) -> None:
    """Write globally-shuffled training shards — the hand-off from the
    data pipeline to a trainer's data loader.

    Rows get the deterministic shuffle key (salted md5 of ``key_col``,
    see ``pipeline.sample.deterministic_shuffle``), are RANGE-partitioned
    into ``n_shards`` files on it, and each shard is sorted by it — so
    (a) concatenating shards 0..N in order replays one exact global
    permutation, (b) any single shard is itself an unbiased sample, and
    (c) re-salting re-shuffles without re-reading anything upstream.
    Optionally partitions by a split column first (train/val/test dirs).

    Plan: ONE range exchange (sampled boundaries — the TeraSort shape,
    linear at any corpus size) + an in-partition sort that parquet
    writes through. No global sort bottleneck, no driver state."""
    from pyspark.sql import functions as F
    key = F.col(key_col)
    h = F.md5(F.concat_ws("#", key.cast("string"), F.lit(salt)))
    out = (df.withColumn("_shard_key", h)
           .repartitionByRange(n_shards, F.col("_shard_key"))
           .sortWithinPartitions("_shard_key"))
    # _shard_key stays in the files: readers need it to merge-replay the
    # global order across shards
    w = out.write.mode("overwrite")
    if split_col is not None:
        w = w.partitionBy(split_col)
    w.parquet(path)


def write_orc(df: DataFrame, path: str,
              partition_cols: list[str] | None = None) -> None:
    """ORC sink (built into Spark; same predicate-pushdown + column-
    pruning story as parquet — ORC is the right choice when the
    downstream consumer is Hive/Presto-first). Snappy by default."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC source — pushdown verified in tests (PushedFilters reaches
    the scan exactly like parquet)."""
    return spark.read.orc(path)
