"""Aggregation core vs pandas oracle (the reference's differential-test
strategy, SURVEY.md §5)."""
import re

import numpy as np
import numpy.testing as npt
import pytest

from handyspark_spark import toHandy


@pytest.fixture(scope="module")
def hdf(tables):
    return toHandy(tables["lineitem"])


@pytest.fixture(scope="module")
def pdf(pdf_tables):
    return pdf_tables["lineitem"]


def test_mean(hdf, pdf):
    npt.assert_almost_equal(hdf.cols["l_extendedprice"].mean(),
                            pdf["l_extendedprice"].mean())


def test_mean_multi(hdf, pdf):
    res = hdf.cols[["l_extendedprice", "l_quantity"]].mean()
    npt.assert_almost_equal(res["l_extendedprice"],
                            pdf["l_extendedprice"].mean())
    npt.assert_almost_equal(res["l_quantity"], pdf["l_quantity"].mean())


def test_min_max_sum(hdf, pdf):
    assert hdf.cols["l_quantity"].min() == pdf["l_quantity"].min()
    assert hdf.cols["l_quantity"].max() == pdf["l_quantity"].max()
    npt.assert_almost_equal(hdf.cols["l_quantity"].sum(),
                            pdf["l_quantity"].sum())


def test_stddev_var(hdf, pdf):
    npt.assert_almost_equal(hdf.cols["l_extendedprice"].stddev(),
                            pdf["l_extendedprice"].std(), decimal=6)
    npt.assert_almost_equal(hdf.cols["l_extendedprice"].var(),
                            pdf["l_extendedprice"].var(), decimal=4)


def test_median_exact(hdf, pdf):
    npt.assert_almost_equal(hdf.cols["l_extendedprice"].median(exact=True),
                            pdf["l_extendedprice"].median())


def test_median_approx_tolerance(hdf, pdf):
    approx = hdf.cols["l_extendedprice"].median(precision=0.0001)
    exact = pdf["l_extendedprice"].median()
    assert abs(approx - exact) / exact < 0.01


def test_q1_q3(hdf, pdf):
    npt.assert_almost_equal(hdf.cols["l_quantity"].q1(exact=True),
                            pdf["l_quantity"].quantile(0.25))
    npt.assert_almost_equal(hdf.cols["l_quantity"].q3(exact=True),
                            pdf["l_quantity"].quantile(0.75))


def test_value_counts(hdf, pdf):
    hres = hdf.cols["l_returnflag"].value_counts()
    pres = pdf["l_returnflag"].value_counts()
    npt.assert_array_equal(hres.sort_index().values,
                           pres.sort_index().values)


def test_mode(hdf, pdf):
    assert hdf.cols["l_returnflag"].mode() == pdf["l_returnflag"].mode()[0]


def test_nunique_exact(hdf, pdf):
    res = hdf.cols[["l_returnflag", "l_orderkey"]].nunique(exact=True)
    assert res["l_returnflag"] == pdf["l_returnflag"].nunique()
    assert res["l_orderkey"] == pdf["l_orderkey"].nunique()


def test_nunique_approx(hdf, pdf):
    res = hdf.cols["l_orderkey"].nunique()
    exact = pdf["l_orderkey"].nunique()
    assert abs(res - exact) / exact < 0.1


def test_isnull(hdf, pdf):
    res = hdf.cols[["l_quantity", "l_returnflag"]].isnull()
    assert res["l_quantity"] == pdf["l_quantity"].isna().sum()


def test_entropy(hdf, pdf):
    import numpy as np
    p = pdf["l_returnflag"].value_counts(normalize=True)
    expected = -(p * np.log2(p)).sum()
    npt.assert_almost_equal(hdf.cols["l_returnflag"].entropy(), expected,
                            decimal=6)


def test_corr(hdf, pdf):
    mat = hdf.cols[["l_quantity", "l_extendedprice", "l_discount"]].corr()
    pmat = pdf[["l_quantity", "l_extendedprice", "l_discount"]].corr()
    npt.assert_array_almost_equal(mat.values, pmat.values, decimal=6)


def test_corr_spearman(hdf, pdf):
    mat = hdf.cols[["l_quantity", "l_extendedprice"]].corr(method="spearman")
    pmat = pdf[["l_quantity", "l_extendedprice"]].corr(method="spearman")
    npt.assert_array_almost_equal(mat.values, pmat.values, decimal=4)


def test_mutual_info(hdf, pdf):
    import numpy as np
    mat = hdf.cols[["l_returnflag", "l_linestatus"]].mutual_info()
    # sklearn-free oracle: direct definition
    joint = pdf.groupby(["l_returnflag", "l_linestatus"]).size() / len(pdf)
    px = pdf["l_returnflag"].value_counts(normalize=True)
    py = pdf["l_linestatus"].value_counts(normalize=True)
    mi = sum(pxy * np.log2(pxy / (px[x] * py[y]))
             for (x, y), pxy in joint.items())
    npt.assert_almost_equal(mat.loc["l_returnflag", "l_linestatus"], mi,
                            decimal=6)


def test_head_fetch(hdf, pdf):
    s = hdf.cols["l_quantity"][:5]
    assert len(s) == 5


def test_taxonomy_aliases(hdf):
    cont = hdf.cols["continuous"]._cols()
    assert "l_extendedprice" in cont
    assert "l_orderkey" not in cont


def test_handy_grouped_remembers_groups(hdf):
    from pyspark.sql import functions as F
    g = hdf.groupby("l_returnflag").agg(
        F.mean("l_extendedprice").alias("m"))
    assert g._group_cols == ["l_returnflag"]
    assert g._df.count() == 3


def test_describe_matches_pandas(hdf, pdf):
    got = hdf.describe(["l_quantity", "l_extendedprice"], exact=True)
    exp = pdf[["l_quantity", "l_extendedprice"]].describe()
    npt.assert_array_almost_equal(got.values, exp.values, decimal=6)


def test_nan_treated_as_missing_in_pandas_semantics_ops(spark):
    """NaN (non-Arrow ingestion artifact) must behave like NULL in
    value_counts/mode/fill fitting — pandas semantics."""
    from pyspark.sql import functions as F

    from handyspark_spark import toHandy
    df = spark.range(10).select(
        F.when(F.col("id") < 3, float("nan"))
         .otherwise(F.col("id").cast("double") % 2).alias("v"))
    hdf = toHandy(df)
    vc = hdf.cols["v"].value_counts()
    assert vc.sum() == 7                      # NaN rows dropped
    assert not any(x != x for x in vc.index)  # no NaN key
    filled = hdf.fill(continuous=["v"], strategy="mean")
    mu = filled.statistics_["v"]
    assert mu == mu                           # mean not poisoned by NaN
    import numpy.testing as npt
    npt.assert_almost_equal(mu, 4 / 7)   # ids 3..9: four 1s, three 0s


def test_profile_matches_pandas(tables, pdf_tables):
    """profile(): counts/nulls/distinct for every column + moments for
    numerics, in one wide agg — vs pandas."""
    hdf = tables["lineitem"].toHandy()
    got = hdf.profile(exact=True)
    pdf = pdf_tables["lineitem"]
    for c in pdf.columns:
        r = got.loc[c]
        assert r["n"] == pdf[c].notna().sum()
        assert r["n_null"] == pdf[c].isna().sum()
        assert r["n_distinct"] == pdf[c].nunique()
    num = pdf.select_dtypes("number")
    for c in num.columns:
        r = got.loc[c]
        assert r["min"] == pytest.approx(num[c].min())
        assert r["max"] == pytest.approx(num[c].max())
        assert r["mean"] == pytest.approx(num[c].mean())
        assert r["std"] == pytest.approx(num[c].std())
    # approx path: sane tolerances, single job
    approx = hdf.profile()
    for c in pdf.columns:
        assert abs(approx.loc[c, "n_distinct"] - pdf[c].nunique()) \
            <= max(3, 0.1 * pdf[c].nunique())


def test_profile_exact_split_branch_identical(tables, monkeypatch):
    """profile_plan(exact=True)'s size-gated per-column distinct plan
    (the at-scale branch, r13) returns exactly the Expand plan's rows,
    and really plans without an Expand node."""
    import handyspark_spark.operators.agg as A
    df = tables["lineitem"]
    cols = df.columns
    monkeypatch.setattr(A, "PROFILE_SPLIT_DISTINCT_MIN_BYTES", 1 << 60)
    expand_rows = A.profile_plan(df, cols, exact=True).collect()
    monkeypatch.setattr(A, "PROFILE_SPLIT_DISTINCT_MIN_BYTES", 0)
    split_df = A.profile_plan(df, cols, exact=True)
    split_rows = split_df.collect()

    def norm(rows):
        # NaN-aware cell compare (std of a constant column is NaN on
        # both plans; NaN != NaN under plain equality)
        return [tuple("NaN" if (isinstance(x, float) and x != x) else x
                      for x in r) for r in rows]
    assert norm(split_rows) == norm(expand_rows)

    plan = split_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    monkeypatch.setattr(A, "PROFILE_SPLIT_DISTINCT_MIN_BYTES", 1 << 60)
    plan_e = (A.profile_plan(df, cols, exact=True)
              ._jdf.queryExecution().executedPlan().toString())
    assert "Expand" in plan_e


def test_percentile_distributed_matches_numpy(tables, pdf_tables):
    """Distributed selection-by-rank percentiles == numpy type-7,
    including endpoints and a heavy-ties column."""
    from handyspark_spark.operators.agg import percentile_distributed_plan
    li = tables["lineitem"]
    pdf = pdf_tables["lineitem"]
    for col in ["l_extendedprice", "l_quantity"]:       # continuous + ties
        qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
        got = {r.q: r.value for r in
               percentile_distributed_plan(li, col, qs).collect()}
        for q in qs:
            assert got[q] == pytest.approx(
                float(np.quantile(pdf[col].to_numpy(), q)), abs=1e-9)


def test_corr_spearman_stratified_vs_pandas(tables, pdf_tables):
    """Keyed spearman (melted one-pass ranks with strata keys) matches
    pandas groupby spearman per stratum."""
    from handyspark_spark.operators import agg as A
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    got = {(r.l_returnflag, r.col_x, r.col_y): r.corr
           for r in A.corr_plan(tables["lineitem"], cols,
                                method="spearman",
                                strata=["l_returnflag"]).collect()}
    pdf = pdf_tables["lineitem"]
    for flag, g in pdf.groupby("l_returnflag"):
        pmat = g[cols].corr(method="spearman")
        for i, cx in enumerate(cols):
            for cy in cols[i:]:
                assert abs(got[(flag, cx, cy)] - pmat.loc[cx, cy]) \
                    < 1e-9, (flag, cx, cy)


def test_spearman_pairwise_matches_pandas_on_misaligned_nulls(spark):
    """pairwise=True re-ranks within each pairwise-complete subset —
    exact pandas.DataFrame.corr(method='spearman') on data whose nulls
    are MISALIGNED across columns (where the fused one-pass default
    documentedly deviates)."""
    import numpy as np
    import pandas as pd
    from handyspark_spark.operators.agg import corr_plan
    rng = np.random.RandomState(11)
    n = 2000
    pdf = pd.DataFrame({
        "x": rng.randn(n),
        "y": rng.randn(n) + 0.5 * rng.randn(n),
        "z": np.round(rng.uniform(0, 10, n), 0),   # heavy ties
    })
    pdf.loc[::7, "x"] = None                        # misaligned nulls
    pdf.loc[1::5, "y"] = None
    pdf.loc[2::11, "z"] = None
    rows = pdf.astype(object).where(pdf.notna(), None)
    sdf = spark.createDataFrame(rows, "x double, y double, z double")
    want = pdf.corr(method="spearman")
    got = {(r.col_x, r.col_y): r.corr
           for r in corr_plan(sdf, ["x", "y", "z"], method="spearman",
                              pairwise=True).collect()}
    for cx, cy in got:
        assert abs(got[(cx, cy)] - want.loc[cx, cy]) < 1e-9, (cx, cy)
    # and the default fused path DOES deviate on this fixture (the
    # pairwise mode exists for a reason)
    fused = {(r.col_x, r.col_y): r.corr
             for r in corr_plan(sdf, ["x", "y", "z"],
                                method="spearman").collect()}
    assert any(abs(fused[k] - want.loc[k[0], k[1]]) > 1e-12
               for k in fused if k[0] != k[1])


def test_grid_sum_exact_at_wraparound_magnitudes(spark):
    """grid_sum must agree with exact integer arithmetic where a plain
    sum(long) of the units cannot: 2000 rows of ~5e15 units is 1e19
    total > 2^63 — under Spark 4's ANSI default that is an
    ARITHMETIC_OVERFLOW error (a silent wrap with ANSI off). The split
    accumulator (hi/lo long sums, decimal reassembly) stays exact."""
    import pandas as pd
    import pytest as _pytest
    from handyspark_spark.operators.agg import grid_sum
    from pyspark.sql import functions as F
    units = [4_999_999_999_999_999 + i for i in range(2000)]
    assert sum(units) > 2**63          # beyond a long accumulator
    df = spark.createDataFrame(pd.DataFrame({"u": units}))
    got = df.agg(
        F.round(grid_sum(F.col("u"), 1_000_000), 2).cast("double")
        .alias("s")).collect()[0]["s"]
    want = float(round(sum(units) / 1_000_000, 2))
    assert got == want
    # the naive long sum fails outright at these magnitudes (the split
    # is load-bearing, not belt-and-braces)
    from pyspark.errors.exceptions.captured import ArithmeticException
    with _pytest.raises(ArithmeticException):
        df.agg(F.sum("u").alias("s")).collect()


def test_grid_sum_exact_beyond_double_mantissa(spark):
    """Round-7 hardening: the hi/lo split must be exact for PER-ROW
    units beyond 2^53, where the old raw-double floor mis-binned.
    4e18 - 1 is the canonical breaker: double rounds it UP to 4e18, so
    floor(units/1e9) lands one quotient high and the independent pmod
    remainder no longer pairs with it (total off by exactly 1e9). The
    corrected split keeps q·1e9 + r == units per row identically."""
    from handyspark_spark.operators.agg import grid_sum
    from pyspark.sql import functions as F
    vals = [4 * 10**18 - 1, 10**18 + 10**9 - 1, -(4 * 10**18 - 1),
            123_456_789, -987_654_321, 0]
    df = spark.createDataFrame([(v,) for v in vals], "u long")
    got = df.agg(grid_sum(F.col("u"), 1).alias("s")).collect()[0]["s"]
    assert int(got) == sum(vals)
    # per-group exactness too (grouping sets shape)
    df2 = spark.createDataFrame([(v % 2, v) for v in vals],
                                "g long, u long")
    got2 = {r["g"]: int(r["s"]) for r in
            df2.groupBy("g").agg(grid_sum(F.col("u"), 1).alias("s"))
            .collect()}
    want2 = {}
    for v in vals:
        want2[v % 2] = want2.get(v % 2, 0) + v
    assert got2 == want2


def test_corr_pairwise_shape_matches_fused_on_empty_strata(spark):
    """Round-6 advice: a (stratum, pair) with ZERO pairwise-complete
    rows must still appear (NULL corr) in pairwise mode — the fused
    path emits it via F.corr -> NULL, and the per-pair groupBy used to
    silently drop it. Both modes must return identical (stratum,
    col_x, col_y) key sets."""
    from handyspark_spark.operators.agg import corr_plan
    rows = [("a", 1.0, 2.0), ("a", 2.0, 1.0), ("a", 3.0, 5.0),
            # stratum b: x and y never non-null together
            ("b", 1.0, None), ("b", 2.0, None), ("b", None, 7.0),
            # NULL-valued stratum: the spine left-join must be
            # NULL-SAFE (round-7 advice) so this bucket's keys match
            # between modes instead of pairwise surfacing an
            # unmatchable spine row
            (None, 1.0, 2.0), (None, 2.0, 4.0), (None, 3.0, 5.0)]
    sdf = spark.createDataFrame(rows, "g string, x double, y double")
    fused = {(r.g, r.col_x, r.col_y): r.corr for r in
             corr_plan(sdf, ["x", "y"], method="spearman",
                       strata=["g"]).collect()}
    pw = {(r.g, r.col_x, r.col_y): r.corr for r in
          corr_plan(sdf, ["x", "y"], method="spearman", strata=["g"],
                    pairwise=True).collect()}
    assert set(pw) == set(fused)
    assert pw[("b", "x", "y")] is None
    assert (None, "x", "y") in pw and (None, "x", "y") in fused
    # well-formed strata still agree between modes (aligned-null data)
    assert abs(pw[("a", "x", "y")] - fused[("a", "x", "y")]) < 1e-9


def test_spearman_broadcast_dim_fast_path_equals_melted(spark, monkeypatch):
    """Round-8 zero-exchange spearman: the broadcast rank-dim path must
    equal the melted-window path (and pandas) on data with ties,
    misordered ids, and NULLs; forcing the dim gate to reject must
    fall back to the melted path with identical results. Each forced
    path is checked in the plan that ran: the broadcast path joins on
    the ``_dv_`` dim key, the melted path pivots back on ``_rid``."""
    import math
    import random

    import pandas as pd

    from handyspark_spark.operators.agg import corr_plan
    from handyspark_spark.operators.rank import broadcast_dim_ranks

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 8)),                 # heavy ties
             rng.choice([None, float(rng.randint(0, 30)) / 3.0]))
            for _ in range(500)]
    sdf = spark.createDataFrame(rows, "x double, y double")

    def corr_of(df_out):
        return {(r.col_x, r.col_y): r.corr for r in df_out.collect()}

    def plan_of(df_out):
        return df_out._jdf.queryExecution().executedPlan().toString()

    fast = corr_of(corr_plan(sdf, ["x", "y"], method="spearman"))
    # force the OTHER strategies by making each gate reject: joint
    # plan off -> broadcast-dim path; joint + broadcast off -> melted
    import handyspark_spark.operators.rank as R
    monkeypatch.setattr(R, "joint_spearman", lambda *a, **k: None)
    out = corr_plan(sdf, ["x", "y"], method="spearman")
    plan = plan_of(out)
    assert re.search(r"BroadcastHashJoin \[[^\]]*\], \[[^\]]*_dv_\d",
                     plan), plan
    assert "_rid" not in plan
    bcast = corr_of(out)
    monkeypatch.setattr(R, "broadcast_dim_ranks", lambda *a, **k: None)
    out = corr_plan(sdf, ["x", "y"], method="spearman")
    plan = plan_of(out)
    assert "_rid" in plan and "_dv_" not in plan, plan
    melted = corr_of(out)
    monkeypatch.undo()
    assert set(fast) == set(bcast) == set(melted)
    for k in fast:
        assert abs(fast[k] - melted[k]) < 1e-9, k
        assert abs(bcast[k] - melted[k]) < 1e-9, k
    # pandas agreement (rank-then-pearson, scipy-free) on the
    # complete-pair subset — conventions coincide because y's NULLs
    # are the only nulls, so x's own-non-null ranks restricted to
    # complete pairs are a monotone transform of the re-ranked subset
    # only on null-FREE data; check there
    pdf = pd.DataFrame(rows, columns=["x", "y"]).dropna()
    sub = spark.createDataFrame(pdf, schema="x double, y double")
    fast_nf = corr_of(corr_plan(sub, ["x", "y"], method="spearman"))
    want = pdf["x"].rank(method="average").corr(
        pdf["y"].rank(method="average"))
    assert abs(fast_nf[("x", "y")] - want) < 1e-9
    assert math.isclose(fast[("x", "x")], 1.0)
    # direct rank check: fast-path ranks equal pandas average ranks
    # (over ALL x rows, not the complete-pair subset)
    full = pd.DataFrame(rows, columns=["x", "y"])
    ranked = broadcast_dim_ranks(sdf, ["x"]).select("x", "_rk_x")
    got = {r.x: r._rk_x for r in ranked.distinct().collect()}
    exp = full["x"].rank(method="average")
    for xv, g in got.items():
        assert abs(g - exp[full["x"] == xv].iloc[0]) < 1e-9


def test_exact_quantile_gate_paths_identical(tables):
    """The row-count gate picks a STRATEGY, never a value: the native
    fused percentile aggregate and the distributed selection-by-rank
    plan must return the same type-7 quantiles on the same data
    (n_rows= forces each branch regardless of actual size), and both
    refuse a column with no values the same way."""
    from handyspark_spark.operators import agg as A
    df = tables["lineitem"]
    cols = {"l_extendedprice": [0.25, 0.5, 0.75], "l_quantity": [0.5]}
    native = A.exact_quantiles_distributed(df, cols, n_rows=0)
    dist = A.exact_quantiles_distributed(df, cols, n_rows=10**12)
    for c in cols:
        for q in cols[c]:
            assert dist[c][q] == pytest.approx(native[c][q], rel=1e-12)
    # no non-null values: a named error on both branches, and from the
    # fence fit's approximate path, never a raw TypeError / KeyError
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.operators.fill import fit_fence_values
    spark = df.sparkSession
    for rows in ([(None,), (None,)], []):
        v = spark.createDataFrame(rows, "v double")
        for n_rows in (0, 10**12):
            with pytest.raises(HandyException, match="column 'v'"):
                A.exact_quantiles_distributed(v, {"v": [.25, .75]},
                                              n_rows=n_rows)
        with pytest.raises(HandyException, match="column 'v'"):
            fit_fence_values(v, ["v"])


def test_percentile_cumsum_gate_paths_identical(tables, monkeypatch):
    """The r12 compact-vs-ranged cumsum gate inside
    percentile_distributed_plan picks a STRATEGY, never a value: the
    single-window compact path (|distinct| <= gate) and the ranged
    path (gate forced to -1) must return identical type-7 quantiles,
    including endpoints and the heavy-ties column."""
    from handyspark_spark.operators import agg as A
    li = tables["lineitem"]
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    for col in ["l_extendedprice", "l_quantity"]:
        compact = {r.q: r.value for r in
                   A.percentile_distributed_plan(li, col, qs).collect()}
        monkeypatch.setattr(A, "COMPACT_CUMSUM_MAX_DISTINCT", -1)
        ranged = {r.q: r.value for r in
                  A.percentile_distributed_plan(li, col, qs).collect()}
        monkeypatch.undo()
        for q in qs:
            assert ranged[q] == compact[q], (col, q)
