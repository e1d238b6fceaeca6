"""DataFrame-native metrics + stats vs numpy/pandas oracles (mirrors
reference tests/handyspark/extensions/test_evaluation.py and
test_stats.py strategy, sklearn-free)."""
import re

import numpy as np
import numpy.testing as npt
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def scored(tables):
    return tables["embeddings"].select(
        F.round(F.col("embedding")[0].cast("double"), 6).alias("score"),
        (F.col("label") >= 5).cast("double").alias("label"))


@pytest.fixture(scope="module")
def scored_pd(scored):
    return scored.toPandas()


def _roc_oracle(pdf):
    """Pure-numpy ROC points at every distinct score threshold desc."""
    s = pdf.sort_values("score", ascending=False)
    P, N = pdf.label.sum(), (1 - pdf.label).sum()
    pts = []
    for thr in sorted(pdf.score.unique(), reverse=True):
        sel = pdf.score >= thr
        pts.append((pdf.label[sel].eq(0).sum() / N,
                    pdf.label[sel].eq(1).sum() / P))
    return pts


def test_roc_matches_numpy(scored, scored_pd):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    m = BinaryClassificationMetrics(scored, "score", "label")
    got = [(r.fpr, r.tpr) for r in m.roc().collect()]
    exp = [(0.0, 0.0)] + _roc_oracle(scored_pd) + [(1.0, 1.0)]
    npt.assert_array_almost_equal(np.array(got), np.array(exp))


def test_auc_against_trapz(scored, scored_pd):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    m = BinaryClassificationMetrics(scored, "score", "label")
    pts = np.array([(0.0, 0.0)] + _roc_oracle(scored_pd) + [(1.0, 1.0)])
    exp = np.trapz(pts[:, 1], pts[:, 0])
    npt.assert_almost_equal(m.areaUnderROC, exp, decimal=9)


def test_confusion_matrix(scored, scored_pd):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    m = BinaryClassificationMetrics(scored, "score", "label")
    cm = m.confusionMatrix(0.0)
    pred = scored_pd.score > 0.0
    assert cm.loc[0, 0] == ((scored_pd.label == 0) & ~pred).sum()
    assert cm.loc[1, 1] == ((scored_pd.label == 1) & pred).sum()
    assert cm.values.sum() == len(scored_pd)


def test_fmeasure_precision_recall(scored, scored_pd):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    m = BinaryClassificationMetrics(scored, "score", "label")
    pr = m.precisionByThreshold().orderBy(F.desc("threshold")).first()
    top_score = scored_pd.score.max()
    sel = scored_pd.score >= top_score
    npt.assert_almost_equal(pr.precision, scored_pd.label[sel].mean())


def test_array_score_column(tables):
    """probability array column: element [1] used as P(class 1)."""
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    df = tables["embeddings"].select(
        F.array(F.lit(0.0), F.col("embedding")[1].cast("double"))
        .alias("probability"),
        (F.col("label") >= 5).cast("double").alias("label"))
    m = BinaryClassificationMetrics(df, "probability", "label")
    assert 0.0 <= m.areaUnderROC <= 1.0


def _trapz_auc(score, label):
    """ROC AUC by np.trapz over the (0,0) + per-distinct-score + (1,1)
    curve; NaN when a class is absent (0/0 rates)."""
    score, label = np.asarray(score, float), np.asarray(label, float)
    P, N = label.sum(), (1 - label).sum()
    with np.errstate(invalid="ignore", divide="ignore"):
        pts = [(0.0, 0.0)] + [
            ((1 - label[score >= t]).sum() / N, label[score >= t].sum() / P)
            for t in np.unique(score)[::-1]] + [(1.0, 1.0)]
    pts = np.array(pts)
    return float(np.trapz(pts[:, 1], pts[:, 0]))


def _auc(df):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    return BinaryClassificationMetrics(df).areaUnderROC


@pytest.mark.parametrize("case", ["ties_negative", "empty_partitions"])
def test_auc_single_branch_matches_trapz(spark, case):
    """The single-branch AUC and np.trapz agree to 1e-12 relative — on
    heavy ties with negative scores, and with more shuffle partitions
    than distinct scores (most range partitions empty)."""
    rng = np.random.RandomState(11)
    n = 3000
    if case == "ties_negative":
        score = np.round(rng.normal(-1.0, 2.0, n), 1)
    else:
        score = rng.choice([-2.5, 0.0, 0.75], n)
    label = (score + rng.normal(0, 2.0, n) > -0.5).astype(float)
    df = spark.createDataFrame(
        [(float(s), float(y)) for s, y in zip(score, label)],
        "score double, label double")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if case == "empty_partitions":
        spark.conf.set("spark.sql.shuffle.partitions", "37")
    try:
        got = _auc(df)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    exp = _trapz_auc(score, label)
    assert abs(got - exp) <= 1e-12 * exp, (got, exp)


@pytest.mark.parametrize("rows", [
    [(0.3, 1.0), (0.9, 1.0), (0.1, 1.0)],        # positives only
    [(0.3, 0.0), (0.9, 0.0)],                    # negatives only
    [],                                          # no rows
])
def test_auc_undefined_raises_named_error(spark, rows):
    """P == 0 or N == 0: numpy's trapz is NaN; the AUC raises a
    HandyException naming the problem — no ZeroDivisionError, no ANSI
    DIVIDE_BY_ZERO from inside the plan."""
    from handyspark_spark.core.util import HandyException
    if rows:
        assert np.isnan(_trapz_auc(*zip(*rows)))
    df = spark.createDataFrame(rows, "score double, label double")
    with pytest.raises(HandyException, match="undefined"):
        _auc(df)


@pytest.mark.parametrize("rows", [
    [(0.3, 1.0), (0.9, 1.0), (0.1, 1.0)],        # positives only
    [(0.3, 0.0), (0.9, 0.0)],                    # negatives only
    [(0.5, 1.0)],                                # one row
])
def test_one_class_curves_have_null_rates(spark, rows):
    """With one class absent, the rate over that class is NULL (DuckDB's
    ``x / 0.0``), not an ANSI DIVIDE_BY_ZERO, in every curve frame."""
    import duckdb
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    con = duckdb.connect()
    con.execute("CREATE TABLE s(score DOUBLE, label DOUBLE)")
    con.executemany("INSERT INTO s VALUES (?, ?)", rows)
    exp = con.execute("""
        WITH g AS (SELECT score, SUM(label) pos, SUM(1 - label) neg
                   FROM s GROUP BY score),
        c AS (SELECT score, SUM(pos) OVER (ORDER BY score DESC) tp,
                     SUM(neg) OVER (ORDER BY score DESC) fp FROM g),
        t AS (SELECT SUM(label) P, SUM(1 - label) N FROM s)
        SELECT score, fp / N, tp / P, tp / (tp + fp) FROM c, t
        ORDER BY score DESC""").fetchall()
    df = spark.createDataFrame(rows, "score double, label double")
    m = BinaryClassificationMetrics(df, "score", "label")
    got = [tuple(r) for r in m.getMetricsByThreshold().collect()]
    assert got[-1] == (0.0, 1.0, 1.0, 0.0)
    assert sorted(got[:-1], key=lambda r: -r[0]) == exp
    roc = [tuple(r) for r in m.roc().collect()]
    assert roc == [(0.0, 0.0)] + [(e[1], e[2]) for e in exp] + [(1.0, 1.0)]
    rec = {r.threshold: r.recall for r in m.recallByThreshold().collect()}
    assert rec == {e[0]: e[2] for e in exp}
    assert len(m.pr().collect()) == len(exp) + 1
    # F is 0 where recall is NULL (the mllib tp == 0 convention)
    fm = {r.threshold: r.f_measure
          for r in m.fMeasureByThreshold().collect()}
    assert all(fm[e[0]] == 0.0 for e in exp if e[2] is None)


def test_auc_all_scores_tied_is_half(spark):
    rows = [(0.4, float(i % 3 == 0)) for i in range(30)]
    assert _trapz_auc(*zip(*rows)) == 0.5
    df = spark.createDataFrame(rows, "score double, label double")
    assert _auc(df) == 0.5


def _count_sql_execs(spark, fn):
    """(fn(), number of SQL executions fn started): execution ids are
    dense, so count the ids defined past the high-water mark."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    ex = store.executionsList()
    hw = ex.last().executionId() if ex.nonEmpty() else -1
    out = fn()
    bus.waitUntilEmpty()
    n = 0
    while store.execution(hw + 1 + n).isDefined():
        n += 1
    return out, n


def test_auc_plan_shape(spark, scored, scored_pd):
    """The AUC is one SQL execution over one branch: no local
    checkpoint, no window ordered by score without the range-partition
    key, and no RDD left pinned after the call."""
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics

    from test_rank import assert_no_global_window_on
    m = BinaryClassificationMetrics(scored, "score", "label")
    plan = m._auc_parts()._jdf.queryExecution().executedPlan().toString()
    assert "LocalCheckpoint" not in plan and "ExistingRDD" not in plan
    assert "rangepartitioning" in plan
    assert_no_global_window_on(m._auc_parts(), "score")

    sc = spark.sparkContext
    pinned = sc._jsc.getPersistentRDDs().size()
    auc, execs = _count_sql_execs(spark, lambda: m.areaUnderROC)
    assert execs == 1
    assert sc._jsc.getPersistentRDDs().size() == pinned
    npt.assert_allclose(auc, _trapz_auc(scored_pd.score, scored_pd.label),
                        rtol=1e-12)


def test_curve_sentinel_rows_built_in_plan(spark, scored, scored_pd):
    """roc/pr/getMetricsByThreshold sentinel rows come from the plan, not
    a Python-side RDD: the only RDD scans left are the curve's own
    checkpoints (pr's one checkpoint of its curve projection, which its
    head-row collect and its plan share). Values and types are the mllib
    conventions."""
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    m = BinaryClassificationMetrics(scored, "score", "label")

    def rdd_scans(df):
        return df._jdf.queryExecution().executedPlan().toString() \
            .count("ExistingRDD")

    base = rdd_scans(m._curve())
    for out, scans in ((m.roc(), base), (m.pr(), 1),
                       (m.getMetricsByThreshold(), base)):
        assert rdd_scans(out) == scans
        assert {t for _, t in out.dtypes} == {"double"}
    roc = m.roc().collect()
    assert tuple(roc[0]) == (0.0, 0.0) and tuple(roc[-1]) == (1.0, 1.0)
    top = scored_pd[scored_pd.score == scored_pd.score.max()].label.mean()
    assert tuple(m.pr().first()) == (0.0, top)
    assert tuple(m.getMetricsByThreshold().collect()[-1]) == \
        (0.0, 1.0, 1.0, 0.0)


def test_welch_ttest_vs_numpy(tables, pdf_tables):
    from handyspark_spark.operators.stats import ttest
    res = ttest(tables["customer"], "c_acctbal", "c_mktsegment")
    pdf = pdf_tables["customer"]
    g = pdf.groupby("c_mktsegment")["c_acctbal"]
    for _, row in res.iterrows():
        a = g.get_group(row.group_1)
        b = g.get_group(row.group_2)
        v1, v2 = a.var() / len(a), b.var() / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(v1 + v2)
        npt.assert_almost_equal(row.t_stat, t, decimal=9)
        assert 0 <= row.p_value <= 1


def test_welch_ttest_fewer_than_two_groups_is_empty(tables):
    """No pair of groups, no row: an empty frame and a one-group frame
    both give 0 rows with the five columns (DuckDB's pair self-join
    returns no row either)."""
    from handyspark_spark.operators.stats import ttest
    cols = ["group_1", "group_2", "t_stat", "dof", "p_value"]
    cust = tables["customer"]
    one = cust.filter(F.col("c_mktsegment")
                      == cust.first()["c_mktsegment"])
    for df in (cust.limit(0), one):
        res = ttest(df, "c_acctbal", "c_mktsegment")
        assert list(res.columns) == cols and len(res) == 0


def test_ttest_pvalue_special_function():
    """betainc-based t p-value vs known table values."""
    from handyspark_spark.operators.special import t_sf
    npt.assert_almost_equal(t_sf(1.96, 1e9), 0.05, decimal=3)
    npt.assert_almost_equal(t_sf(2.776, 4), 0.05, decimal=3)
    npt.assert_almost_equal(t_sf(12.706, 1), 0.05, decimal=3)


def test_chi2_ppf_table():
    from handyspark_spark.operators.special import chi2_cdf, chi2_ppf
    npt.assert_almost_equal(chi2_ppf(0.95, 2), 5.991, decimal=3)
    npt.assert_almost_equal(chi2_ppf(0.999, 3), 16.266, decimal=3)
    npt.assert_almost_equal(chi2_cdf(3.841, 1), 0.95, decimal=4)


def test_ks_accept_reject(spark):
    """F.rand column accepted as uniform, rejected as standard normal
    (mirrors reference tests/handyspark/test_stats.py:5-22)."""
    from handyspark_spark.operators.stats import ks_test
    df = spark.range(2000).select(F.rand(42).alias("u"),
                                  F.randn(42).alias("g"))
    assert not ks_test(df, "u", dist="uniform",
                       params=(0.0, 1.0))["reject_at_05"]
    assert ks_test(df, "u", dist="normal",
                   params=(0.0, 1.0))["reject_at_05"]
    assert not ks_test(df, "g", dist="normal",
                       params=(0.0, 1.0))["reject_at_05"]


def test_ks_statistic_vs_numpy(tables, pdf_tables):
    from handyspark_spark.operators.stats import ks_test
    vals = np.sort(pdf_tables["events"]["value"].to_numpy(dtype=float))
    n = len(vals)
    lo, hi = vals.min(), vals.max()
    cdf = (vals - lo) / (hi - lo)
    d = max(np.abs(np.arange(1, n + 1) / n - cdf).max(),
            np.abs(np.arange(0, n) / n - cdf).max())
    res = ks_test(tables["events"], "value", dist="uniform")
    npt.assert_almost_equal(res["statistic"], d, decimal=9)
    # the auto-fit branch matches the normalized name, as the CDF does
    assert ks_test(tables["events"], "value", dist=" Uniform ") == res


def test_ks_native_cdf_equals_udf_path(tables):
    """The in-plan JVM CDF (r13: _NATIVE_CDF fused plan — no
    ArrowEvalPython, auto-fit rides the same action) must reproduce the
    pandas-UDF path exactly. cdf= forces the UDF path on the SAME
    fitted params, so this pins old-vs-new value identity on corpus
    data; plan shape pinned below."""
    from handyspark_spark.operators.stats import _ks_plan, ks_test, make_cdf

    ev, li = tables["events"], tables["lineitem"]
    # uniform auto-fit (the ks_uniform query path): fit params the old
    # way, force the UDF path with cdf=, compare against the fused plan
    r = ev.agg(F.min("value"), F.max("value")).collect()[0]
    old = ks_test(ev, "value", cdf=make_cdf("uniform",
                                            (float(r[0]), float(r[1]))))
    new = ks_test(ev, "value", dist="uniform")
    # same IEEE ops in the same order -> bit-identical
    assert new["statistic"] == old["statistic"]
    assert new["n"] == old["n"]

    # exponential with explicit params (the ks_exponential query path):
    # JVM Math.exp vs libm exp may differ in the last ulp, so pin to
    # 1e-12 relative plus exact equality after the query's 6-dp rounding
    old = ks_test(li, "l_quantity", cdf=make_cdf("exponential", (25.0,)))
    new = ks_test(li, "l_quantity", dist="exponential", params=(25.0,))
    assert abs(new["statistic"] - old["statistic"]) <= 1e-12 * max(
        1.0, abs(old["statistic"]))
    assert round(new["statistic"], 6) == round(old["statistic"], 6)
    assert new["n"] == old["n"]

    # plan shape: no python evaluation node in either native plan; the
    # uniform fit is a broadcast exchange inside the one plan
    uni = _ks_plan(ev, "value", dist="uniform")._jdf.queryExecution() \
        .executedPlan().toString()
    exp = _ks_plan(li, "l_quantity", dist="exponential",
                   params=(25.0,))._jdf.queryExecution() \
        .executedPlan().toString()
    for plan in (uni, exp):
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
    # the fused fit: its _p0/_p1 columns feed the in-plan CDF and are
    # absent when params are given (every KS plan also broadcasts the
    # ECDF total, so a broadcast alone does not pin the fit)
    for col in ("_p0", "_p1"):
        assert re.search(rf"\b{col}#", uni), col
        assert not re.search(rf"\b{col}#", exp), col
    # the normal path (no native expression) still uses the UDF
    norm = _ks_plan(ev, "value", dist="normal",
                    params=(0.0, 1.0))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in norm or "BatchEvalPython" in norm


def test_ks_2samp_same_vs_shifted(spark):
    """Same-distribution cohorts accept; a shifted cohort rejects.
    p-value pinned against the asymptotic Kolmogorov series."""
    import numpy as np

    from handyspark_spark.operators.stats import _kolmogorov_sf, ks_2samp
    rng = np.random.RandomState(7)
    a = rng.normal(0, 1, 4000)
    b_same = rng.normal(0, 1, 4000)
    b_shift = rng.normal(0.6, 1, 4000)
    rows = ([(float(v), "a") for v in a]
            + [(float(v), "same") for v in b_same]
            + [(float(v), "shift") for v in b_shift])
    df = spark.createDataFrame(rows, "v double, g string")
    same = ks_2samp(df, "v", "g", "a", "same")
    assert not same["reject_at_05"]
    shift = ks_2samp(df, "v", "g", "a", "shift")
    assert shift["reject_at_05"] and shift["statistic"] > 0.2
    # D differential vs numpy two-ECDF evaluation on the pooled grid
    grid = np.sort(np.concatenate([a, b_shift]))
    d_np = np.max(np.abs(np.searchsorted(np.sort(a), grid, "right") / 4000
                  - np.searchsorted(np.sort(b_shift), grid, "right") / 4000))
    assert abs(shift["statistic"] - d_np) < 1e-9
    lam = shift["statistic"] * np.sqrt(4000 * 4000 / 8000)
    assert abs(shift["p_value"] - _kolmogorov_sf(lam)) < 1e-12


@pytest.mark.parametrize("rows, cohorts", [
    ([(1.0, "a"), (2.0, "a"), (3.0, "c")], "group_b='b'"),   # absent
    ([], "group_a='a' or group_b='b'"),                      # empty
    ([(None, "a"), (None, "b")], "group_a='a' or group_b='b'"),  # all NULL
], ids=["absent_cohort", "empty", "all_null"])
def test_ks_2samp_undefined_raises_named_error(spark, rows, cohorts):
    """A cohort with no non-null value: the two-sample statistic is
    undefined. A named HandyException, not an ANSI DIVIDE_BY_ZERO from
    inside the plan nor a silent (0.0, 1.0) result."""
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.operators.stats import ks_2samp
    df = spark.createDataFrame(rows, "v double, g string")
    with pytest.raises(HandyException,
                       match=re.escape(f"cohort {cohorts} of 'g'")):
        ks_2samp(df, "v", "g", "a", "b")


def test_chi2_independence_detects_dependence(spark):
    import numpy as np

    from handyspark_spark.operators.stats import chi2_independence
    rng = np.random.RandomState(3)
    # independent columns -> accept
    rows = [(int(rng.randint(3)), int(rng.randint(4))) for _ in range(5000)]
    ind = chi2_independence(
        spark.createDataFrame(rows, "a int, b int"), "a", "b")
    assert ind["dof"] == 6 and not ind["reject_at_05"]
    # deterministic dependence -> reject with huge statistic
    dep_rows = [(i % 3, (i % 3) + 1) for i in range(900)]
    dep = chi2_independence(
        spark.createDataFrame(dep_rows, "a int, b int"), "a", "b")
    assert dep["reject_at_05"] and dep["statistic"] > 1000
    # differential vs the closed-form expected-count computation
    obs = np.zeros((3, 4))
    for a, b in rows:
        obs[a, b] += 1
    e = obs.sum(1)[:, None] * obs.sum(0)[None, :] / obs.sum()
    assert abs(ind["statistic"] - ((obs - e) ** 2 / e).sum()) < 1e-9


def test_retrieval_metrics_vs_python(spark, tables):
    import math
    from pyspark.sql import functions as F
    from handyspark_spark.ml.evaluation import retrieval_metrics
    from handyspark_spark.pipeline.similarity import brute_force_topk
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 10)
    res = brute_force_topk(emb, qs, k=5)
    rel = (qs.select(F.col("vec_id").alias("query_id"),
                     F.col("label").alias("_ql"))
           .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("label").alias("_cl")),
                 F.col("_ql") == F.col("_cl"))
           .filter(F.col("query_id") != F.col("neighbor_id"))
           .select("query_id", "neighbor_id", F.lit(1.0).alias("rel")))
    got = {r["query_id"]: r for r in
           retrieval_metrics(res, rel, k=5).collect()}
    res_rows = {}
    for r in res.collect():
        res_rows.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"]))
    rel_sets = {}
    for r in rel.collect():
        rel_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, rows in res_rows.items():
        R = len(rel_sets[q])
        ranked = sorted(rows)
        hits = [rk for rk, d in ranked if d in rel_sets[q]]
        recall = len(hits) / R
        mrr = 1.0 / hits[0] if hits else 0.0
        dcg = sum(1.0 / math.log2(rk + 1) for rk in hits)
        idcg = sum(1.0 / math.log2(i + 1)
                   for i in range(1, min(R, 5) + 1))
        ndcg = dcg / idcg if idcg else 0.0
        assert abs(got[q]["recall"] - recall) < 1e-9
        assert abs(got[q]["mrr"] - mrr) < 1e-9
        assert abs(got[q]["ndcg"] - ndcg) < 1e-9
