"""The composed pretraining funnel: quality gate, exact dedup, near-dup
dedup and decontamination as one fused plan with per-stage counts."""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .dedup import minhash_lsh_groups
from .text import gopher_rules, shingle_rows

__all__ = ["pretrain_funnel"]


def pretrain_funnel(df, text_col="text", id_col="doc_id",
                    bench=None, num_hashes=16, bands=4):
    """End-to-end pretraining data funnel — the composed pipeline a
    training run actually executes, returning per-stage survivor counts:

      raw -> quality gate (gopher_rules) -> exact dedup (first-copy
      keep) -> near-dup dedup (LSH groups, keep group min) ->
      benchmark decontamination (n-gram anti-join)

    Round-9 shared-scan fusion: instead of five separate stage counts
    (each its own aggregation job over a persisted intermediate — 32
    exchanges), every doc carries SURVIVAL FLAGS on one lineage:

    - ``_q``      quality gate (a projection — free);
    - ``_e``      first-copy-per-md5 among quality rows, as a
      CONDITIONAL min over the md5 window (no pre-filter, so the
      window exchange is shared by every downstream branch and
      Catalyst reuses it instead of re-scanning);
    - ``_nd``     joined flag: doc is its LSH cluster's keeper
      (clusters computed over the exact-survivor branch only);
    - ``_hit``    joined flag: shares a 13-gram with the benchmark.

    All five counts then come from ONE conditional aggregation
    (count + 4 sums) unpivoted with ``stack`` — a single pass over the
    corpus plus the two dedup subtrees, instead of one job per stage.
    At 100 TB: one scan, the md5 window exchange, the LSH band
    exchanges, two keyed flag joins, one scalar agg.

    Returns (stage, n_docs) with stages ordered raw/quality/exact/
    neardup/decontaminated."""
    rules = gopher_rules(text_col)
    w = Window.partitionBy(F.md5(F.col(text_col)))
    # The flag-carrying window output feeds THREE branches of the one
    # fused action (the conditional agg, the LSH subtree, the
    # contamination subtree). Spark has no cross-branch common-subplan
    # elimination — only the md5 EXCHANGE gets reused — so without a
    # checkpoint the scan + quality projection + window evaluate once per
    # branch (measured at sf10: 12.3 -> 16.0s after the round-9 fusion
    # dropped the old per-stage persists). A lazy local checkpoint of
    # the slim (id, text, _q, _e) frame restores single evaluation while
    # keeping the one-pass conditional agg; it is corpus-text-sized, the
    # same footprint the pre-fusion plan persisted.
    base = (df.select(id_col, text_col)
            .withColumn("_q", rules["pass"])
            .withColumn("_qfirst",
                        F.min(F.when(F.col("_q"), F.col(id_col))).over(w))
            .withColumn("_e", F.col("_q")
                        & (F.col("_qfirst") == F.col(id_col)))
            .select(id_col, text_col, "_q", "_e")
            .localCheckpoint(eager=False))
    exact = base.filter(F.col("_e")).select(id_col, text_col)

    groups = minhash_lsh_groups(exact, text_col=text_col, id_col=id_col,
                                num_hashes=num_hashes, bands=bands)
    keep = (groups.groupBy("cluster_id")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, F.lit(True).alias("_nd")))

    if bench is None:
        bench = df.filter(F.col(id_col) % 37 == 0)
    # contamination hits computed over the exact branch (a superset of
    # the near-dup keepers — the flag is only consulted where _nd holds,
    # so the result is identical to decontaminating the keepers)
    bkeys = shingle_rows(bench, text_col, 13).distinct()
    hits = (shingle_rows(exact, text_col, 13, [id_col])
            .join(F.broadcast(bkeys), "_k", "left_semi")
            .select(id_col).distinct()
            .select(id_col, F.lit(True).alias("_hit")))

    nd = F.col("_e") & F.coalesce(F.col("_nd"), F.lit(False))
    flagged = (base.select(id_col, "_q", "_e")
               .join(keep, id_col, "left")
               .join(hits, id_col, "left"))
    # coalesce: F.sum over zero rows is NULL — on an empty input every
    # stage must report 0 (the old per-stage count() contract, and what
    # the monotonicity property assumes)
    row = flagged.agg(
        F.count(F.lit(1)).alias("n1"),
        F.coalesce(F.sum(F.col("_q").cast("long")),
                   F.lit(0)).alias("n2"),
        F.coalesce(F.sum(F.col("_e").cast("long")),
                   F.lit(0)).alias("n3"),
        F.coalesce(F.sum(nd.cast("long")), F.lit(0)).alias("n4"),
        F.coalesce(F.sum((nd & ~F.coalesce(F.col("_hit"), F.lit(False)))
                         .cast("long")), F.lit(0)).alias("n5"))
    return row.select(F.expr(
        "stack(5, '1_raw', n1, '2_quality', n2, '3_exact', n3, "
        "'4_neardup', n4, '5_decontaminated', n5) AS (stage, n_docs)"))
