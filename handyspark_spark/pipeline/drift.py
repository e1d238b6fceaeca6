"""Distribution-drift monitoring for training-data pipelines.

A corpus assembled over months shifts: source mix changes, a crawler
starts emitting a new document shape, an upstream filter silently breaks.
The standard guard is a per-slice (day / snapshot / source) categorical
histogram compared against the previous slice with a symmetric
divergence. These operators compute that report with shuffles bounded by
|slices| x |buckets| — never by corpus size — so the check is free at any
scale.

Determinism contract: divergence terms are snapped to an integer
nano-grid and summed exactly (the same trick as pipeline/sample.py's
DSIR weights), so the report is bit-identical across engines, partition
counts and add orders — required for oracle checks and for alert
thresholds that must not flap between runs.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_GRID = 1_000_000_000  # 1e-9 term snap; report rounded to 1e-6


def _snap_sum6(term: Column) -> Column:
    """Exact-sum a double expression to 6 decimals: snap each term to
    the nano-grid, sum as integers, then round to micros IN INTEGER
    ARITHMETIC ((k + 500) div 1000) — no double ever holds an
    intermediate, so the result is identical under any add order and on
    any engine (a double ROUND of k/1e9 flips at exact half-micro
    boundaries, which integer grids hit constantly). Individual terms
    may be negative (a KL term with p < m); only the TOTAL must be
    > -500 nano for the trunc-vs-floor division difference to stay
    unreachable — JS and TV totals are >= 0 by construction."""
    k = F.sum(F.floor(term * _GRID + F.lit(0.5)).cast("bigint"))
    # TRUE integer division: (k + 500) div 1000 via exact DECIMAL
    # arithmetic — a double `/` then bigint cast only coincides with
    # integer div while |k| < ~9e12, silently breaking the bit-exact
    # contract for larger sums. floor == trunc here because the contract
    # guarantees the total > -500 nano, i.e. the numerator is >= 0 —
    # matching the DuckDB `(k + 500) // 1000` oracle at any magnitude.
    micros = F.floor((k + F.lit(500)).cast("decimal(38,0)")
                     / F.lit(1000)).cast("bigint")
    return micros / F.lit(1e6)


def slice_histograms(df: DataFrame, slice_col, bucket_col,
                     slice_name: str = "slice",
                     bucket_name: str = "bucket") -> DataFrame:
    """Per-slice categorical histogram: (slice, bucket, cnt, p) with p
    the within-slice probability. ONE groupBy (map-side combined —
    shuffled bytes ~ |slices| x |buckets|) plus a broadcast of the
    per-slice totals."""
    s = F.col(slice_col) if isinstance(slice_col, str) else slice_col
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    # the histogram is |slices| x |buckets| rows and every reference
    # reads it: the branches share its aggregate exchange
    # (ReusedExchange), so the corpus-sized groupBy map side runs once
    hist = (df.select(s.alias(slice_name), b.alias(bucket_name))
            .groupBy(slice_name, bucket_name)
            .agg(F.count(F.lit(1)).alias("cnt")))
    totals = hist.groupBy(slice_name).agg(F.sum("cnt").alias("_tot"))
    return (hist.join(F.broadcast(totals), slice_name)
            .select(slice_name, bucket_name, "cnt",
                    (F.col("cnt").cast("double") / F.col("_tot"))
                    .alias("p")))


def drift_report(df: DataFrame, slice_col, bucket_col) -> DataFrame:
    """Slice-over-slice drift: for every ADJACENT pair of slices (in
    slice sort order) the Jensen-Shannon divergence (nats) and total
    variation distance of the bucket distribution.

    JS is bounded (<= ln 2), symmetric, and defined when a bucket
    exists on only one side (0*ln0 := 0) — the right default for
    day-over-day alerts; TV is the L1 companion threshold.

    Plan shape: the histogram groupBy is the only corpus-sized job;
    everything after runs on |slices| x |buckets| rows (the adjacency
    map is a broadcast of |slices| rows). Returns
    (slice_from, slice_to, n_from, n_to, js_divergence, tv_distance).
    """
    return drift_report_from_hist(slice_histograms(df, slice_col,
                                                   bucket_col))


def drift_report_from_hist(h: DataFrame) -> DataFrame:
    """Same report from a PRE-AGGREGATED (slice, bucket, cnt[, p])
    histogram — e.g. the persisted state of
    ``streaming.stateful.maintain_drift_monitor`` — without touching
    any corpus-sized data. Recomputes p from cnt when absent so counts
    merged across batches stay consistent."""
    if "p" not in h.columns:
        totals = h.groupBy("slice").agg(F.sum("cnt").alias("_tot"))
        h = (h.join(F.broadcast(totals), "slice")
             .select("slice", "bucket", "cnt",
                     (F.col("cnt").cast("double") / F.col("_tot"))
                     .alias("p")))
    # tiny frame, four downstream references (a, b, adjacency, totals):
    # the adjacency reads only its slice column, so the optimizer prunes
    # the counts there and its exchanges differ from the other branches'
    # — a lazy local checkpoint runs h's upstream (the corpus groupBy,
    # or the state read) once
    h = h.localCheckpoint(eager=False)
    # adjacency: slice -> next slice, via a tiny distinct + lead window
    from pyspark.sql import Window
    slices = h.select("slice").distinct()
    nxt = slices.select(
        F.col("slice").alias("slice_from"),
        F.lead("slice").over(Window.orderBy("slice")).alias("slice_to")) \
        .filter(F.col("slice_to").isNotNull())
    a = h.select(F.col("slice").alias("slice_from"),
                 "bucket", F.col("p").alias("p_a"),
                 F.col("cnt").alias("c_a"))
    b = h.select(F.col("slice").alias("slice_to"),
                 "bucket", F.col("p").alias("p_b"),
                 F.col("cnt").alias("c_b"))
    # both sides carry the FULL pair key before the outer join, so a
    # bucket present in only one slice of the pair still lands on the
    # right pair row (a one-sided outer join would orphan it)
    a2 = F.broadcast(nxt).join(a, "slice_from")
    b2 = F.broadcast(nxt).join(b, "slice_to")
    j = a2.join(b2, ["slice_from", "slice_to", "bucket"], "full")
    pa = F.coalesce(F.col("p_a"), F.lit(0.0))
    pb = F.coalesce(F.col("p_b"), F.lit(0.0))
    m = (pa + pb) / 2
    kl_term = lambda p: F.when(p > 0, p * F.log(p / m)) \
                         .otherwise(F.lit(0.0))  # noqa: E731
    js_term = (kl_term(pa) + kl_term(pb)) / 2
    tv_term = F.abs(pa - pb) / 2
    return (j.groupBy("slice_from", "slice_to")
            .agg(F.sum(F.coalesce(F.col("c_a"), F.lit(0)))
                 .alias("n_from"),
                 F.sum(F.coalesce(F.col("c_b"), F.lit(0))).alias("n_to"),
                 _snap_sum6(js_term).alias("js_divergence"),
                 _snap_sum6(tv_term).alias("tv_distance")))
