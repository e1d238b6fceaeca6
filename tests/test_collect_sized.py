"""The driver-bound read rule (``core.util.collect_sized``): a small
materialized frame is read through ``coalesce(1)`` by every HandyFrame
plan that collects, so the call runs as one job of one task with no
exchange. Each call is pinned equal on the one-task branch (a small
cached fixture) and the spread branch (the same data as a file scan,
or the cell bound below the fixture); the one-task plans hold no
``Exchange``; the eda call script's job counts are pinned per call."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from handyspark_spark import toHandy
from handyspark_spark.core import util as U
from handyspark_spark.core.util import (HandyException, _stated_rows,
                                        collect_sized, exchange_count)
from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
from handyspark_spark.operators.stats import ks_test, ttest

N = 2000


def _passengers(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "passenger_id": np.arange(N, dtype="int64"),
        "survived": rng.integers(0, 2, N),
        "pclass": rng.integers(1, 4, N),
        "sex": rng.choice(["male", "female"], N),
        "age": np.where(rng.random(N) < 0.2, np.nan,
                        rng.uniform(1, 80, N).round(1)),
        "fare": rng.exponential(30, N).round(2),
        "embarked": rng.choice(["S", "C", "Q", None], N)})
    p = rng.random(N)
    scored = pd.DataFrame({"probability": [[1 - x, x] for x in p],
                           "survived": (rng.random(N) < p).astype("int64")})
    schema = ("passenger_id long, survived long, pclass long, sex string, "
              "age double, fare double, embarked string")
    return (spark.createDataFrame(pdf, schema).repartition(4),
            spark.createDataFrame(scored, "probability array<double>, "
                                  "survived long").repartition(4))


def _parquet_twins(spark, root, frames):
    """Each frame written to two parquet dirs: one read cached and
    loaded (the one-task branch), one read as a plain file scan (the
    spread branch; a read of the same dir would match the cache)."""
    out = ([], [])
    for i, frame in enumerate(frames):
        for side in (0, 1):
            path = str(root / f"{side}-{i}")
            frame.write.parquet(path)
            out[side].append(spark.read.parquet(path))
    for f in out[0]:
        f.cache().count()
    return out


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """(cached passengers, cached scores, spread passengers, spread
    scores)."""
    cached, spread = _parquet_twins(spark, tmp_path_factory.mktemp("eda"),
                                    _passengers(spark))
    yield tuple(cached) + tuple(spread)
    for f in cached:
        f.unpersist()


def _rank_ok(values, value, q, tol):
    """``value`` is a valid approximate ``q``-quantile of ``values``:
    its rank lies within ``tol`` of q."""
    v = np.sort(np.asarray(values, dtype=float))
    lo = np.searchsorted(v, value, "left") / len(v)
    hi = np.searchsorted(v, value, "right") / len(v)
    return lo - tol <= q <= hi + tol


def _eda(df, scored):
    """The eda call script (perfbench's eda_session) plus the other
    driver-bound HandyFrame calls, each result as plain data."""
    h = toHandy(df).set_response("survived")
    strata = h.stratify(["pclass", "sex"])
    m = BinaryClassificationMetrics(scored, "probability", "survived")
    box = h.cols["fare"].boxplot()[0]
    return {
        "classes": h.classes,
        "describe": h.describe(),
        "percentile_exact": h.cols["fare"].percentile(0.9, exact=True),
        "percentile": h.cols["fare"].percentile(0.9),
        "value_counts": h.cols["embarked"].value_counts().to_dict(),
        "strata_mean": strata.cols["fare"].mean().to_dict(),
        "strata_count": strata.cols["age"].count().to_dict(),
        "fill": h.fill(continuous=["age"], strategy="median")
        .statistics_["age"],
        "fill_mean": h.fill(continuous=["age"]).statistics_["age"],
        "hist": h.cols["fare"].hist(bins=20),
        "box": box,
        "auc": m.areaUnderROC,
        "ttest": ttest(df, "fare", "sex"),
        "ks": ks_test(df, "fare", "exponential", (30.0,)),
        "nunique": h.nunique(exact=True).to_dict(),
        "isnull": h.isnull().to_dict(),
        "mode": h.cols["embarked"].mode(),
        "entropy": h.cols["pclass"].entropy(),
        "corr": h.cols[["age", "fare", "pclass"]].corr(),
        "outliers": h.outliers(exact=True).to_dict(),
    }


def _assert_same(one, spread, ages, fares):
    for k in ("classes", "percentile_exact", "value_counts", "strata_count",
              "nunique", "isnull", "mode", "outliers"):
        assert one[k] == spread[k], k
    d1, d2 = one["describe"], spread["describe"]
    exact = ["count", "min", "max"]
    pd.testing.assert_frame_equal(d1.loc[exact], d2.loc[exact])
    pd.testing.assert_frame_equal(d1.loc[["mean", "std"]],
                                  d2.loc[["mean", "std"]], rtol=1e-12)
    # approximate quartiles: one sketch merge vs one per partition, both
    # within the 1/accuracy (1%) rank error of the true quantile
    for q, row in ((0.25, "25%"), (0.5, "50%"), (0.75, "75%")):
        for d in (d1, d2):
            assert _rank_ok(fares, d.loc[row, "fare"], q, 0.01)
    for d in (one, spread):
        assert _rank_ok(fares, d["percentile"], 0.9, 0.01)
        assert _rank_ok(ages, d["fill"], 0.5, 0.01)
    assert one["strata_mean"].keys() == spread["strata_mean"].keys()
    for key, v in one["strata_mean"].items():
        assert v == pytest.approx(spread["strata_mean"][key], rel=1e-12)
    for k in ("fill_mean", "entropy"):
        assert one[k] == pytest.approx(spread[k], rel=1e-12), k
    pd.testing.assert_frame_equal(one["hist"], spread["hist"])
    for q, k in ((0.25, "q1"), (0.5, "med"), (0.75, "q3")):
        assert _rank_ok(fares, one["box"][k], q, 0.01)
    assert one["box"]["mean"] == pytest.approx(spread["box"]["mean"],
                                               rel=1e-12)
    assert one["auc"] == spread["auc"]
    pd.testing.assert_frame_equal(one["ttest"], spread["ttest"], rtol=1e-12)
    assert one["ks"]["n"] == spread["ks"]["n"]
    assert one["ks"]["statistic"] == pytest.approx(spread["ks"]["statistic"],
                                                   rel=1e-12)
    pd.testing.assert_frame_equal(one["corr"], spread["corr"], rtol=1e-12)


def test_rule_takes_small_materialized_frames_only(spark, frames,
                                                   monkeypatch):
    """A loaded cache under plain projections within the cell bound is
    one partition; a file scan, a computed column, an unloaded cache and
    a frame of one cell more than the bound keep their partitions (the
    frame itself comes back)."""
    cached, _, scan, _ = frames
    cells = N * len(cached.columns)
    assert _stated_rows(cached) == N
    monkeypatch.setattr(U, "_ONE_TASK_CELLS", cells)
    assert collect_sized(cached).rdd.getNumPartitions() == 1
    plain = cached.select(F.col("fare").cast("string").alias("f"))
    assert collect_sized(plain).rdd.getNumPartitions() == 1
    computed = cached.withColumn("x", F.col("fare") * 2)
    for frame in (scan, computed):
        assert collect_sized(frame) is frame
    monkeypatch.setattr(U, "_ONE_TASK_CELLS", cells - 1)
    assert collect_sized(cached) is cached
    unloaded = spark.range(10).cache()
    try:
        assert collect_sized(unloaded) is unloaded
    finally:
        unloaded.unpersist()


def test_eda_calls_equal_on_both_branches(spark, frames, monkeypatch):
    """Every driver-bound call gives the same result on the one-task
    branch as on the spread branch (the same data as a file scan, and
    the cached frames with the bound below them): exact aggregates
    identical, double sums within re-association, approximate quantiles
    within their rank error."""
    cached, cached_scored, scan, spread_scored = frames
    pdf = scan.toPandas()
    ages, fares = pdf["age"].dropna(), pdf["fare"]
    with monkeypatch.context() as m:
        m.setattr(U, "_ONE_TASK_CELLS", 0)
        spread_off = _eda(cached, cached_scored)
    spread_scan = _eda(scan, spread_scored)
    one = _eda(cached, cached_scored)
    for spread in (spread_off, spread_scan):
        _assert_same(one, spread, ages, fares)


@pytest.fixture
def exchanges(spark, monkeypatch):
    """Exchange count of every plan collected while active."""
    seen, cls = [], type(spark.range(1))
    for name in ("collect", "toPandas"):
        orig = getattr(cls, name)

        def record(self, *a, _orig=orig, **kw):
            seen.append(exchange_count(self))
            return _orig(self, *a, **kw)
        monkeypatch.setattr(cls, name, record)
    return seen


CALLS = {
    "describe": lambda h, df: h.describe(),
    "value_counts": lambda h, df: h.cols["embarked"].value_counts(),
    "strata_mean": lambda h, df: h.stratify(["pclass", "sex"])
    .cols["fare"].mean(),
    "ttest": lambda h, df: ttest(df, "fare", "sex"),
    "hist": lambda h, df: h.cols["fare"].hist(bins=20),
    "percentile": lambda h, df: h.cols["fare"].percentile(0.9),
    "percentile_exact": lambda h, df: h.cols["fare"].percentile(
        0.9, exact=True),
    # the other driver-bound HandyFrame calls
    "nunique": lambda h, df: h.nunique(),
    "isnull": lambda h, df: h.isnull(),
    "mode": lambda h, df: h.cols["embarked"].mode(),
    "entropy": lambda h, df: h.cols["pclass"].entropy(),
    "mutual_info": lambda h, df: h.cols[["pclass", "sex"]].mutual_info(),
    "corr": lambda h, df: h.cols[["age", "fare"]].corr(),
    "corr_spearman": lambda h, df: h.cols[["age", "fare"]].corr(
        method="spearman"),
    "profile": lambda h, df: h.profile(),
    "fill_median": lambda h, df: h.fill(continuous=["age"],
                                        strategy="median"),
    "outliers": lambda h, df: h.outliers(exact=True),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_one_task_plans_hold_no_exchange(spark, frames, exchanges, name):
    """On the one-task branch each plan these calls collect holds no
    ``Exchange``; the same calls on the file scan do."""
    cached, _, scan, _ = frames
    CALLS[name](toHandy(cached), cached)
    assert exchanges and set(exchanges) == {0}, exchanges
    exchanges.clear()
    CALLS[name](toHandy(scan), scan)
    assert max(exchanges) >= 1, exchanges


#: jobs per call of perfbench's eda script on a small cached fixture:
#: one per collected plan, plus describe's broadcast of one quartile row
#: and AUC's range sampling and partial-sum stages
EDA_JOBS = {"construct": 1, "describe": 2, "percentile_exact": 1,
            "value_counts": 1, "strata_mean": 1, "fill": 1, "hist": 2,
            "metrics": 4, "ttest": 1}


def test_eda_call_job_counts(spark, frames):
    """Each call of the eda script runs the pinned number of jobs
    (``statusTracker`` job groups), twice in a row: an exchange that
    comes back adds a job."""
    cached, cached_scored, _, _ = frames
    h = toHandy(cached).set_response("survived")
    calls = {
        "construct": lambda: toHandy(cached).set_response("survived"),
        "describe": lambda: h.describe(),
        "percentile_exact": lambda: h.cols["fare"].percentile(
            0.9, exact=True),
        "value_counts": lambda: h.cols["embarked"].value_counts(),
        "strata_mean": lambda: h.stratify(["pclass", "sex"])
        .cols["fare"].mean(),
        "fill": lambda: h.fill(continuous=["age"], strategy="median"),
        "hist": lambda: h.cols["fare"].hist(bins=20),
        "metrics": lambda: BinaryClassificationMetrics(
            cached_scored, "probability", "survived").areaUnderROC,
        "ttest": lambda: ttest(cached, "fare", "sex"),
    }
    sc = spark.sparkContext
    for run in range(2):
        got = {}
        for name, fn in calls.items():
            group = f"eda-jobs-{name}-{run}"
            sc.setJobGroup(group, name)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert got == EDA_JOBS, run


@pytest.fixture(scope="module")
def empties(spark, tmp_path_factory):
    """An empty frame and a frame whose ``x`` is all NULL, each cached
    (one-task branch) and a file scan (spread branch)."""
    schema = "g string, x double, y double"
    rows = [("a", None, 1.0), ("b", None, 2.0)]
    cached, spread = _parquet_twins(
        spark, tmp_path_factory.mktemp("empties"),
        [spark.createDataFrame([], schema),
         spark.createDataFrame(rows, schema)])
    yield {"empty": (cached[0], spread[0]),
           "all_null": (cached[1], spread[1])}
    for f in cached:
        f.unpersist()


@pytest.mark.parametrize("branch", [0, 1], ids=["one_task", "spread"])
@pytest.mark.parametrize("kind", ["empty", "all_null"])
def test_plot_stats_name_a_column_without_values(empties, kind, branch):
    """hist, boxplot and scatterplot of a column with no non-NULL value
    raise a ``HandyException`` naming it, on both branches; a boxplot
    stratum without values is named too."""
    df = empties[kind][branch]
    assert (collect_sized(df) is df) == bool(branch)
    h = toHandy(df)
    for call in (lambda: h.cols["x"].hist(bins=5),
                 lambda: h.cols["x"].boxplot(),
                 lambda: h.cols[["x", "y"]].scatterplot(),
                 lambda: h.stratify(["g"]).cols["x"].boxplot()):
        with pytest.raises(HandyException, match="column 'x'.*no non-null"):
            call()


def test_pr_curve_of_no_rows_is_named(spark):
    """``pr()`` and ``areaUnderPR`` on a frame with no rows raise a
    ``HandyException`` that says why."""
    m = BinaryClassificationMetrics(
        spark.createDataFrame([], "score double, label double"))
    for call in (m.pr, lambda: m.areaUnderPR):
        with pytest.raises(HandyException, match="PR curve.*no rows"):
            call()
