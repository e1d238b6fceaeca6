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
    partitioned by the range-partition id or the quantile-bucket id (the
    tiny offsets window orders by _rcs_pid/_rar_bkt only, which is
    allowed — its input is one row per range partition or bucket)."""
    for spec in _window_specs(df):
        for c in data_cols:
            if re.search(rf"\b{re.escape(c)}#", spec):
                assert "_rcs_pid#" in spec or "_rar_bkt#" in spec, (
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


def test_ks_unknown_dist_raises(spark):
    from handyspark_spark.operators.stats import ks_test
    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="unknown dist"):
        ks_test(df, "v", dist="zipf", params=(1.0,))
    with pytest.raises(ValueError, match="needs explicit params"):
        ks_test(df, "v", dist="gamma")


def test_melted_avg_ranks_matches_pandas(spark):
    """All-columns-at-once ranks == per-column pandas average ranks,
    including ties and NULLs (null rank stays null, rows with every
    value null are absent)."""
    from handyspark_spark.operators.rank import melted_avg_ranks
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "x": np.round(rng.uniform(0, 30, 3000), 0),   # heavy ties
        "y": rng.randn(3000),
        "z": np.round(rng.exponential(5, 3000), 1),
    })
    pdf.loc[::13, "x"] = None
    pdf.loc[::7, "y"] = None
    rows = pdf.astype(object).where(pdf.notna(), None)
    sdf = spark.createDataFrame(rows, "x double, y double, z double") \
        .repartition(5)
    got = (melted_avg_ranks(sdf, ["x", "y", "z"], num_partitions=8)
           .toPandas())
    for c in ["x", "y", "z"]:
        exp = pdf[c].rank(method="average").dropna()
        gv = np.sort(got[f"_rk_{c}"].dropna().values)
        np.testing.assert_allclose(gv, np.sort(exp.values))
    # ranks stay PAIRED per input row: z is a strictly-ordered copy of
    # the row index modulo rounding? use correlation-free pairing check:
    # rank of x and y on the same _rid must come from the same input row
    # -> spearman via the melted path equals pandas (null-free columns)
    from handyspark_spark.operators.agg import corr_plan
    sub = pdf[["y", "z"]].dropna()
    want = sub.corr(method="spearman").loc["y", "z"]
    out = corr_plan(sdf.select("y", "z").dropna(), ["y", "z"],
                    method="spearman")
    gotc = {(r.col_x, r.col_y): r.corr for r in out.collect()}
    assert abs(gotc[("y", "z")] - want) < 1e-9


def test_melted_rank_exchange_count_constant_in_M(spark):
    """The MELTED spearman plan keeps a constant exchange count as the
    matrix grows (the per-column loop paid +2 exchanges per column).
    Forced onto the melted path via the ``max_dim_rows=0`` opt-out
    (which must also keep plan construction LAZY — no eager dim-count
    probe); on this bounded-cardinality data the round-8 broadcast-dim
    fast path would otherwise engage; its own property (no data-row
    exchange at all) is pinned separately."""
    from handyspark_spark.core.util import exchange_count
    from handyspark_spark.operators.agg import corr_plan
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({f"c{i}": rng.randn(500) for i in range(6)})
    sdf = spark.createDataFrame(pdf)
    e2 = exchange_count(corr_plan(sdf, ["c0", "c1"],
                                  method="spearman", max_dim_rows=0))
    e6 = exchange_count(corr_plan(sdf, [f"c{i}" for i in range(6)],
                                  method="spearman", max_dim_rows=0))
    assert e6 == e2 <= 5
    # the opt-out must not have engaged the broadcast-dim fast path
    plan0 = corr_plan(sdf, ["c0", "c1"], method="spearman",
                      max_dim_rows=0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "_rid" in plan0      # melted pivot-back key (fast path has none)
    # fast path: every data-side join is a broadcast of a dim — the
    # base rows never sort-merge or window-shuffle
    plan = corr_plan(sdf, [f"c{i}" for i in range(6)],
                     method="spearman") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(_rid" not in plan   # no pivot-back


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
    """(name, frame, rows) inputs for ``joint_spearman``: ties, NULLs on
    both sides (misaligned), NaN, a constant column, an all-NULL column
    and an empty frame. Every non-empty input repeats its rows, so its
    joint table is smaller than its row count and every branch can be
    forced on it."""
    import random

    rng = random.Random(13)
    base = [(rng.choice([None, float(rng.randint(0, 6))]),          # ties
             rng.choice([None, float(rng.randint(0, 4000)) / 7]))   # wide
            for _ in range(1500)]
    nan = float("nan")
    with_nan = [(rng.choice([None, nan, float(rng.randint(0, 5))]),
                 rng.choice([None, nan, float(rng.randint(0, 300)) / 7]))
                for _ in range(1000)]
    inputs = {
        "misaligned_nulls": base + base[::-1],
        "nan": with_nan * 2,
        "constant": [(1.0, float(i % 25)) for i in range(50)],
        "all_null": [(None, float(i % 25)) for i in range(50)],
        "empty": [],
    }
    return [(name, spark.createDataFrame(rows, "x double, y double"), rows)
            for name, rows in inputs.items()]


def _pandas_spearman(rows, cx, cy):
    """The fused convention in pandas: each column ranked (average) over
    its own non-null rows, corr over pairwise-complete rows. NaN maps to
    +inf, Spark's order: one NaN tie group, sorted last. Returns the
    ``{(a, b): corr}`` matrix, None where undefined."""
    import math

    def val(v):
        return math.inf if v is not None and math.isnan(v) else v

    pdf = pd.DataFrame([(val(x), val(y)) for x, y in rows],
                       columns=["x", "y"], dtype="float64")
    rk = {c: pdf[c].rank(method="average") for c in ("x", "y")}
    out = {}
    for a, b in ((cx, cx), (cx, cy), (cy, cy)):
        m = pdf[a].notna() & pdf[b].notna()
        v = rk[a][m].corr(rk[b][m])
        out[(a, b)] = None if pd.isna(v) else v
    return out


def _force_joint_branch(monkeypatch, branch, nrows, njoint):
    """Set the two Spearman constants so ``joint_spearman`` takes
    ``branch`` on an input of ``nrows`` rows and ``njoint`` joint
    groups (all-NULL pairs excluded, as the joint table drops them)."""
    import handyspark_spark.operators.rank as R
    compact, cap = {
        "lazy_compact": (nrows, nrows),
        "measured_compact": (njoint, nrows),
        "ranged": (njoint - 1, nrows),
        "probed_compact": (njoint, nrows - 1),   # HLL runs and accepts
    }[branch]
    monkeypatch.setattr(R, "COMPACT_SPEARMAN_MAX_JOINT", compact)
    monkeypatch.setattr(R, "SPEARMAN_MAX_JOINT", cap)


@pytest.mark.parametrize("branch", ["lazy_compact", "measured_compact",
                                    "ranged", "probed_compact"])
def test_joint_spearman_branches_match_pandas(spark, monkeypatch, branch):
    """Every branch of ``joint_spearman`` reproduces the fused-path
    semantics (pandas, 1e-9) on ties, misaligned NULLs, NaN and
    degenerate columns, in both column orientations — and the branch
    forced is the one that ran: the HLL probe and the joint table's
    eager checkpoint are spied on, the ranged form's melted dims (``_cid``)
    are read from the plan."""
    from handyspark_spark.operators.rank import joint_spearman

    DataFrame = type(spark.range(0))     # the concrete (classic) class
    ran = []
    cp, acd = DataFrame.localCheckpoint, F.approx_count_distinct
    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True, **k: (
                            eager and ran.append("checkpoint"))
                        or cp(self, eager, **k))
    monkeypatch.setattr(F, "approx_count_distinct", lambda *a, **k:
                        ran.append("probe") or acd(*a, **k))
    forced_ran = {"lazy_compact": [], "measured_compact": ["checkpoint"],
                  "ranged": ["checkpoint"],
                  "probed_compact": ["probe", "checkpoint"]}[branch]
    for name, sdf, rows in _spearman_inputs(spark):
        if rows:
            njoint = len({(repr(x), repr(y)) for x, y in rows
                          if (x, y) != (None, None)})
            assert njoint < len(rows), name
            _force_joint_branch(monkeypatch, branch, len(rows), njoint)
        for cols in (["x", "y"], ["y", "x"]):
            del ran[:]
            out = joint_spearman(sdf, cols, len(rows))
            plan = out._jdf.queryExecution().executedPlan().toString()
            got = {(r.col_x, r.col_y): r.corr for r in out.collect()}
            want = _pandas_spearman(rows, *cols)
            assert list(got) == list(want), (name, cols)
            for k, v in want.items():
                if v is None:
                    assert got[k] is None, (name, k)
                else:
                    assert abs(got[k] - v) < 1e-9, (name, k)
            # 0 rows is under every gate: always the lazy compact form
            assert ran == (forced_ran if rows else []), (name, ran)
            assert ("_cid" in plan) == (branch == "ranged"
                                        and bool(rows)), name


def test_joint_spearman_declines_near_unique_and_non_pairs(spark,
                                                           monkeypatch):
    """``None`` (the caller falls through to its rank paths) when the HLL
    probe measures a joint table above ``SPEARMAN_MAX_JOINT``, and for
    inputs that are not a pair of distinct columns."""
    import handyspark_spark.operators.rank as R

    rows = [(float(i % 7), float(i)) for i in range(200)]
    sdf = spark.createDataFrame(rows, "x double, y double")
    assert R.joint_spearman(sdf, ["x"], 200) is None
    assert R.joint_spearman(sdf, ["x", "x"], 200) is None
    assert R.joint_spearman(sdf, ["x", "y"], 200) is not None
    monkeypatch.setattr(R, "SPEARMAN_MAX_JOINT", 100)
    assert R.joint_spearman(sdf, ["x", "y"], 200) is None
