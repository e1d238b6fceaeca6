"""Skew-aware aggregation and join helpers.

At 100 TB a single hot key (one language, one boilerplate document, one
null-heavy join column) can pin an entire stage on one task. Two standard
mitigations, exposed as composable helpers:

- ``salted_agg``: two-phase aggregation — phase 1 groups on
  (key, random-salt) so a hot key's rows spread over N partial groups,
  phase 2 merges partials per key. Correct for any algebraic aggregate
  expressed as (partial expr, merge expr) pairs.
- ``salted_join``: replicate the small side N ways, salt the big side —
  an explicit fallback for when AQE's skew-join splitting
  (``spark.sql.adaptive.skewJoin.enabled``, on by default here) doesn't
  apply (e.g. non-shuffle joins, or pre-3.0 clusters).

Note: Spark's AQE already splits skewed SHUFFLE partitions adaptively;
these helpers are for the cases the runtime can't see — pre-aggregation
before a shuffle whose key histogram you already know is degenerate.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (partial_expr(col), merge_expr(partial_col)) pairs for algebraic aggs
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(df: DataFrame, keys: list[str], aggs: dict[str, tuple],
               salt_buckets: int = 16) -> DataFrame:
    """``aggs``: {out_name: (fn_name, colname)} with fn_name in
    sum/count/min/max (avg = sum+count composed by the caller — it is not
    algebraic over partials without both).

    Result is EXACTLY the plain ``groupBy(keys)`` aggregation; the salt
    only reshapes the first shuffle."""
    salted = df.withColumn("_salt",
                           (F.rand(42) * salt_buckets).cast("int"))
    partials = []
    finals = []
    for out, (fn, col) in aggs.items():
        p_fn, m_fn = _ALGEBRAIC[fn]
        partials.append(p_fn(F.col(col) if col else None)
                        .alias(f"_p_{out}"))
        finals.append(m_fn(F.col(f"_p_{out}")).alias(out))
    phase1 = salted.groupBy(*(keys + ["_salt"])).agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def salted_join(big: DataFrame, small: DataFrame, big_key: str,
                small_key: str, salt_buckets: int = 8,
                how: str = "inner") -> DataFrame:
    """Salt the big side, replicate the small side ``salt_buckets``× —
    every hot key's rows land in distinct shuffle partitions.

    Only big-side-preserving join types are valid: with the small side
    replicated, right/full outer joins would emit one (possibly
    null-padded) row per surviving replica."""
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti, not {how!r} "
            "(small-side replication breaks right/full outer semantics)")
    b = big.withColumn("_salt", (F.rand(42) * salt_buckets).cast("int"))
    s = (small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i)
                                     for i in range(salt_buckets)]))))
    out = b.join(s, (F.col(big_key) == F.col(small_key)) &
                 (b["_salt"] == s["_salt"]), how)
    return out.drop("_salt")


def skew_report(df: DataFrame, key, top: int = 10) -> DataFrame:
    """Join/agg-key skew diagnostic — the report you run BEFORE deciding
    to salt: the ``top`` heaviest key values with their row count, share
    of the table, and skew factor (count / mean-per-key). A skew factor
    near 1 means salting buys nothing; a factor of 10^3 on a join key is
    the straggler that motivates ``salted_join``/AQE skew handling.

    Plan: ONE groupBy on the key (map-side combined), a broadcast 1-row
    summary (total rows, distinct keys), top-k via
    TakeOrderedAndProject. Safe on any cardinality — nothing driver-side
    beyond the k result rows.

    Returns (key, cnt, share, skew_factor) ordered by cnt desc."""
    k = F.col(key) if isinstance(key, str) else key
    # the summary branch and the top-k branch both consume the per-key
    # counts and share their aggregate exchange (ReusedExchange), so the
    # corpus is scanned and grouped once
    counts = (df.select(k.cast("string").alias("key"))
              .groupBy("key").agg(F.count(F.lit(1)).alias("cnt")))
    summary = counts.agg(
        F.sum("cnt").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"))
    return (counts.crossJoin(F.broadcast(summary))
            .select("key", "cnt",
                    F.round(F.col("cnt") / F.col("_total"), 6)
                    .alias("share"),
                    F.round(F.col("cnt") /
                            (F.col("_total") / F.col("_nkeys")), 6)
                    .alias("skew_factor"))
            .orderBy(F.col("cnt").desc(), F.col("key"))
            .limit(top))
