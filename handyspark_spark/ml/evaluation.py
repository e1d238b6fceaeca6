"""DataFrame-native binary classification metrics.

Re-derives reference ``handyspark/extensions/evaluation.py`` WITHOUT the
JVM bridge (``call``/``call2`` Tuple2-RDD deserialization into mllib): the
threshold-metric family is ONE Spark plan — group scores, cumulative
sums over a score-descending window — and every curve is a projection of
that plan. mllib endpoint conventions preserved (evaluation.py:14-34):
roc prepends (0,0) and appends (1,1); pr prepends (0, p@lowest-recall);
getMetricsByThreshold appends the (0, 1, 1, 0) sentinel row. Those
sentinel rows are built inside the plan (a one-row range exploded by
``inline``), so no Python-side rows are pickled into the query.

Scale note: the cumulative pass uses distributed partition-offset
ranking (``operators.rank.ranged_cumsum``) — the curve build is one
range exchange over distinct scores, N-way parallel, with no
single-partition window even when scores are fully continuous
(|distinct| ~ |rows|). ``score_bins`` additionally pre-bins scores to a
fixed precision when a smaller curve is wanted.

The rates divide by the class totals P and N with ``try_divide``: when
one class is absent (a one-class or one-row input) its rate is NULL, as
in DuckDB, instead of an ANSI ``DIVIDE_BY_ZERO``.

``areaUnderROC`` is NOT a projection of the curve: it has its own
single-branch plan (``operators.rank.ranged_partition_aggs``: grouped
scores -> range exchange -> running tp inside each range partition ->
one row of partial sums per partition), and the driver combines those
rows (one per shuffle partition at most) in partition order. One SQL
execution, no local checkpoint, no totals join.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.util import HandyException
from ..operators.rank import ranged_cumsum, ranged_partition_aggs


def _const_rows(spark, names: list[str], rows: list[tuple]) -> DataFrame:
    """Constant double rows built inside the plan: one range row exploded
    by ``inline`` — no Python RDD scan, no Python worker."""
    structs = [F.struct(*[F.lit(float(v)).alias(c)
                          for c, v in zip(names, r)]) for r in rows]
    return spark.range(1).select(F.inline(F.array(*structs)))


def _auc_from_sums(area2: float | None, P: float | None,
                   N: float | None) -> float:
    """AUC = Σ _neg·(2·tp − _pos) / (2·P·N); undefined (named error, not
    a divide-by-zero) when either class is absent or there are no rows."""
    if not P or not N:
        raise HandyException(
            f"areaUnderROC is undefined: needs both classes, got "
            f"{int(P or 0)} positive and {int(N or 0)} negative labels")
    return float(area2) / (2.0 * P * N)


class BinaryClassificationMetrics:
    """Constructed from a DataFrame with a score (double or probability
    vector/array — element [1] taken as P(class 1), ref evaluation.py:
    138-152) and a binary label column."""

    def __init__(self, scoreAndLabels: DataFrame, scoreCol: str = "score",
                 labelCol: str = "label", score_bins: int | None = None):
        df = scoreAndLabels
        dtype = dict(df.dtypes)[scoreCol]
        score = F.col(scoreCol)
        if dtype.startswith(("array", "vector")):
            score = score[1]
        score = score.cast("double")
        if score_bins:
            score = F.round(score, score_bins)
        self._scores = df.select(score.alias("score"),
                                 F.col(labelCol).cast("double")
                                 .alias("label"))
        self._cum = None

    def _grouped(self) -> DataFrame:
        """(score, _pos, _neg): label counts per distinct score."""
        return (self._scores.groupBy("score")
                .agg(F.sum("label").alias("_pos"),
                     F.sum(F.lit(1.0) - F.col("label")).alias("_neg")))

    # -- the single shared plan --------------------------------------------
    def _curve(self) -> DataFrame:
        """Per distinct score (desc): cumulative tp/fp + totals. One
        grouped agg + one distributed cumsum; P/N are the cumsum's
        grand-total columns (no extra pass over the scores)."""
        if self._cum is None:
            g = (self._grouped()
                 # pin the (|distinct scores|-row) grouped frame so the
                 # expensive score extraction + grouping runs ONCE — the
                 # cumsum's range-exchange sampling pass would otherwise
                 # replay the full input scan a second time
                 .localCheckpoint(eager=False))
            self._cum = ranged_cumsum(
                g, [F.col("score").desc()], ["_pos", "_neg"]
            ).withColumnsRenamed({"_cum__pos": "tp", "_cum__neg": "fp",
                                  "_n__pos": "P", "_n__neg": "N"})
        return self._cum

    def persist(self) -> "BinaryClassificationMetrics":
        """Materialize the shared curve once so every curve metric
        (roc/pr/thresholds/fMeasure/getMetricsByThreshold) is a cheap
        projection of the cached frame instead of a full rebuild. The
        curve is |distinct scores| rows — small after score_bins/rounding;
        cache-friendly even at 100 TB input."""
        self._cum = self._curve().persist()
        return self

    def unpersist(self) -> "BinaryClassificationMetrics":
        if self._cum is not None:
            self._cum.unpersist()
            self._cum = None
        return self

    def thresholds(self) -> DataFrame:
        return self._curve().select(F.col("score").alias("threshold")) \
                            .orderBy(F.desc("threshold"))

    def roc(self) -> DataFrame:
        """(fpr, tpr) with (0,0) prepended and (1,1) appended."""
        c = self._curve().select(
            F.try_divide("fp", "N").alias("fpr"),
            F.try_divide("tp", "P").alias("tpr"),
            "score")
        spark = c.sparkSession
        ends = _const_rows(spark, ["fpr", "tpr", "score"],
                           [(0.0, 0.0, float("inf")),
                            (1.0, 1.0, float("-inf"))])
        return (c.unionByName(ends).orderBy(F.desc("score"))
                 .select("fpr", "tpr"))

    def pr(self) -> DataFrame:
        """(recall, precision) with (0, p@lowest-recall) prepended."""
        c = self._curve().select(
            F.try_divide("tp", "P").alias("recall"),
            (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
            "score")
        first = c.orderBy(F.desc("score")).first()
        spark = c.sparkSession
        head = _const_rows(spark, ["recall", "precision", "score"],
                           [(0.0, first.precision, float("inf"))])
        return (head.unionByName(c).orderBy(F.desc("score"))
                    .select("recall", "precision"))

    def precisionByThreshold(self) -> DataFrame:
        return self._curve().select(
            F.col("score").alias("threshold"),
            (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"))

    def recallByThreshold(self) -> DataFrame:
        return self._curve().select(
            F.col("score").alias("threshold"),
            F.try_divide("tp", "P").alias("recall"))

    def fMeasureByThreshold(self, beta: float = 1.0) -> DataFrame:
        b2 = beta * beta
        p = F.col("tp") / (F.col("tp") + F.col("fp"))
        r = F.try_divide("tp", "P")
        # mllib convention: F = 0 when precision + recall == 0 (tp == 0)
        fm = F.when(b2 * p + r > 0,
                    (1 + b2) * p * r / (b2 * p + r)).otherwise(F.lit(0.0))
        return self._curve().select(F.col("score").alias("threshold"),
                                    fm.alias("f_measure"))

    def getMetricsByThreshold(self) -> DataFrame:
        """DataFrame(threshold, fpr, recall, precision) + the reference's
        trailing (0., 1., 1., 0.) row (ref evaluation.py:60-75)."""
        c = self._curve().select(
            F.col("score").alias("threshold"),
            F.try_divide("fp", "N").alias("fpr"),
            F.try_divide("tp", "P").alias("recall"),
            (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"))
        spark = c.sparkSession
        tail = _const_rows(spark, ["threshold", "fpr", "recall",
                                   "precision"], [(0.0, 1.0, 1.0, 0.0)])
        return c.unionByName(tail)

    def _auc_parts(self) -> DataFrame:
        """The AUC plan, ONE branch: per range partition p of the grouped
        scores (score desc), (pid, A_p, P_p, N_p) with the partition-local
        running tp in A_p = Σ _neg·(2·tp_local − _pos)."""
        return ranged_partition_aggs(
            self._grouped(), [F.col("score").desc()], ["_pos"],
            # _loc__pos: the running _pos inside the partition
            [F.sum(F.col("_neg") * (2 * F.col("_loc__pos") -
                                    F.col("_pos"))).alias("A"),
             F.sum("_pos").alias("P"), F.sum("_neg").alias("N")])

    @property
    def areaUnderROC(self) -> float:
        """Trapezoid integration of the ROC curve, lag-free: each distinct
        score's segment is Δfpr = _neg/N and mean-tpr = (tpr + prev_tpr)/2
        = (2·tp − _pos)/(2P), so AUC = Σ _neg·(2·tp − _pos) / (2·P·N)
        with no ordering requirement on the sum. The final curve point is
        exactly (1,1), so no closing segment. Raises ``HandyException``
        when one class is absent (AUC undefined).

        The per-partition sums of ``_auc_parts`` are combined on the
        driver in partition order: with off_p = Σ_{q<p} P_q the global
        tp = tp_local + off_p, so A = Σ_p (A_p + 2·off_p·N_p). Every sum
        is of integer-valued doubles, exact below 2^53."""
        area2 = P = N = 0.0
        for r in sorted(self._auc_parts().collect(), key=lambda r: r[0]):
            area2 += r.A + 2 * P * r.N      # P so far = off_p
            P += r.P
            N += r.N
        return _auc_from_sums(area2, P, N)

    @property
    def areaUnderPR(self) -> float:
        pr = self.pr().toPandas()
        import numpy as np
        return float(np.trapz(pr["precision"], pr["recall"]))

    def confusionMatrix(self, threshold: float = 0.5):
        """2×2 pandas DataFrame, predicted classes in columns ordered by
        label ascending (ref evaluation.py:77-116)."""
        import pandas as pd
        cm = (self._scores
              .groupBy(F.col("label").cast("int").alias("actual"),
                       (F.col("score") > F.lit(threshold)).cast("int")
                       .alias("predicted"))
              .agg(F.count(F.lit(1)).alias("n")).toPandas())
        mat = (cm.pivot(index="actual", columns="predicted", values="n")
               .reindex(index=[0, 1], columns=[0, 1]).fillna(0).astype(int))
        mat.index.name = "actual"
        mat.columns = pd.Index([0, 1], name="predicted")
        return mat

    def print_confusion_matrix(self, threshold: float = 0.5):
        print(self.confusionMatrix(threshold))
        return self.confusionMatrix(threshold)


def grouped_auc(df, group_cols, score_col="score", label_col="label",
                round_to: int = 6):
    """Per-group ROC AUC in ONE plan — model evaluation sliced by segment
    (the fairness/debugging loop: AUC per source, per language, per
    cohort) without a per-group driver loop.

    Same lag-free trapezoid as ``BinaryClassificationMetrics``: group
    scores within each segment, cumulative tp via a segment-partitioned
    (score-desc) window, per-segment totals from a window over the whole
    segment; AUC = Σ Δfpr·mean-tpr. The windows are keyed by the group
    columns, so no single-partition stage exists at any segment count.
    Degenerate segments (single class) yield NULL, matching sklearn's
    refusal to score them."""
    from pyspark.sql import Window

    g = (df.groupBy(*group_cols,
                    F.col(score_col).cast("double").alias("_s"))
         .agg(F.sum(F.col(label_col).cast("double")).alias("_pos"),
              F.sum(F.lit(1.0) - F.col(label_col).cast("double"))
              .alias("_neg")))
    w_cum = (Window.partitionBy(*group_cols).orderBy(F.desc("_s"))
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = (Window.partitionBy(*group_cols)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    c = (g.withColumn("_tp", F.sum("_pos").over(w_cum))
          .withColumn("_P", F.sum("_pos").over(w_all))
          .withColumn("_N", F.sum("_neg").over(w_all)))
    seg = F.when((F.col("_P") > 0) & (F.col("_N") > 0),
                 (F.col("_neg") / F.col("_N")) *
                 (2 * F.col("_tp") - F.col("_pos")) / (2 * F.col("_P")))
    return (c.groupBy(*group_cols)
            .agg(F.round(F.sum(seg), round_to).alias("auc"),
                 F.max("_P").cast("long").alias("n_pos"),
                 F.max("_N").cast("long").alias("n_neg")))


def brier_score(df: DataFrame, score_col: str = "score",
                label_col: str = "label") -> DataFrame:
    """Mean squared error of probabilistic predictions — the standard
    proper scoring rule complementing threshold metrics. One aggregation
    pass, no windows."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    return df.agg(F.avg((s - y) * (s - y)).alias("brier"),
                  F.count(F.lit(1)).alias("n"))


def calibration_bins(df: DataFrame, score_col: str = "score",
                     label_col: str = "label",
                     n_bins: int = 10) -> DataFrame:
    """Reliability-curve bins: equal-width score buckets with mean
    predicted score vs observed positive rate — the grouped aggregation
    a calibration plot reads. Closed-form bucket id (same expression the
    strata Bucket uses: clamp to the last bin so score=1.0 lands in
    bin n-1), ONE grouped job at any corpus size."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    return (df.select(b.alias("bin"), s.alias("_s"), y.alias("_y"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("_s").alias("mean_score"),
                 F.avg("_y").alias("pos_rate")))


def retrieval_metrics(results: DataFrame, relevance: DataFrame,
                      k: int = 10, query_col: str = "query_id",
                      doc_col: str = "neighbor_id",
                      rank_col: str = "rank",
                      rel_col: str = "rel") -> DataFrame:
    """Ranking-quality metrics per query from a ranked result table and
    a (query, doc, rel) relevance table: recall@k, MRR@k, nDCG@k.
    Gains may be graded in the DCG numerator, but the ideal-DCG
    normalizer assumes UNIFORM gain (binary relevance) — the common
    retrieval-eval case. Two grouped jobs (per-query result fold +
    per-query relevant-total), one broadcast-able join; the ideal-DCG
    normalizer is a closed-form ``aggregate`` fold over
    ``sequence(1, min(R, k))`` — no per-query sort of the ideal list."""
    r = results.filter(F.col(rank_col) <= k)
    j = (r.join(relevance.select(query_col, doc_col,
                                 F.col(rel_col).cast("double").alias("_g")),
                [query_col, doc_col], "left")
         .withColumn("_g", F.coalesce(F.col("_g"), F.lit(0.0))))
    per_q = (j.groupBy(query_col)
             .agg(F.sum((F.col("_g") > 0).cast("int")).alias("_hits"),
                  F.sum(F.col("_g") /
                        F.log2(F.col(rank_col).cast("double") + 1))
                  .alias("_dcg"),
                  F.min(F.when(F.col("_g") > 0, F.col(rank_col)))
                  .alias("_first")))
    totals = (relevance.filter(F.col(rel_col) > 0)
              .groupBy(query_col)
              .agg(F.count(F.lit(1)).alias("_R"),
                   # graded ideal gains would need the top-k gains; for
                   # binary relevance the ideal list is R ones
                   F.max(F.col(rel_col).cast("double")).alias("_gmax")))
    out = per_q.join(totals, query_col, "left")
    rk = F.least(F.coalesce(F.col("_R"), F.lit(0)), F.lit(k)).cast("int")
    idcg = F.aggregate(
        F.when(rk > 0, F.sequence(F.lit(1), rk))
        .otherwise(F.array().cast("array<int>")),
        F.lit(0.0),
        lambda acc, i: acc + F.col("_gmax") /
        F.log2(i.cast("double") + 1))
    return out.select(
        query_col,
        (F.col("_hits") / F.col("_R")).alias("recall"),
        F.coalesce(1.0 / F.col("_first"), F.lit(0.0)).alias("mrr"),
        F.when(idcg > 0, F.col("_dcg") / idcg).otherwise(F.lit(0.0))
        .alias("ndcg"))
