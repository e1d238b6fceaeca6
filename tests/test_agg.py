"""Aggregation core vs pandas oracle (the reference's differential-test
strategy, SURVEY.md §5)."""
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


def test_pearson_constant_column_is_null(spark):
    """A zero-variance column has NULL Pearson cells (its diagonal too)
    instead of an ANSI divide-by-zero, through ``corr_plan`` and
    ``HandyColumns.corr``; a non-constant pair keeps ``F.corr``'s
    value, also when the pair's NULLs are misaligned."""
    from pyspark.sql import functions as F

    from handyspark_spark.operators.agg import corr_plan
    rows = [(1.0, float(i), float((i * 7) % 11) if i % 4 else None)
            for i in range(30)]
    sdf = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r.col_x, r.col_y): r.corr
           for r in corr_plan(sdf, ["x", "y", "z"]).collect()}
    assert got[("x", "y")] is None and got[("x", "x")] is None
    assert got[("x", "z")] is None
    want = sdf.agg(F.corr("y", "z")).first()[0]
    assert abs(got[("y", "z")] - want) < 1e-12
    assert abs(got[("y", "y")] - 1.0) < 1e-12
    mat = toHandy(sdf).cols[["x", "y"]].corr()
    assert np.isnan(mat.loc["x", "y"]) and np.isnan(mat.loc["y", "x"])


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


def test_exact_quantiles_match_numpy(tables, pdf_tables):
    """The one lazy selection-by-rank plan == numpy type-7 on both
    lineitem columns in one call, including the endpoints and a
    heavy-ties column."""
    from handyspark_spark.operators.agg import exact_quantiles_distributed
    pdf = pdf_tables["lineitem"]
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    cols = {"l_extendedprice": qs, "l_quantity": qs}   # continuous + ties
    got = exact_quantiles_distributed(tables["lineitem"], cols)
    for col in cols:
        for q in qs:
            assert got[col][q] == pytest.approx(
                float(np.quantile(pdf[col].to_numpy(), q)), abs=1e-9)


def test_corr_spearman_stratified_vs_pandas(tables, pdf_tables):
    """Keyed spearman (joint-frequency ranks partitioned by the strata)
    matches pandas groupby spearman per stratum."""
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


def test_exact_quantiles_no_values_named_error(tables):
    """A column with no values has no quantiles: exact quantiles and the
    fence fit's exact and approximate paths raise a named error, never
    a raw TypeError / KeyError."""
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.operators import agg as A
    from handyspark_spark.operators.fill import fit_fence_values
    spark = tables["lineitem"].sparkSession
    for rows in ([(None,), (None,)], [(float("nan"),)], []):
        v = spark.createDataFrame(rows, "v double")
        with pytest.raises(HandyException, match="column 'v'"):
            A.exact_quantiles_distributed(v, {"v": [.25, .75]})
        for exact in (True, False):
            with pytest.raises(HandyException, match="column 'v'"):
                fit_fence_values(v, ["v"], exact=exact)


def _describe_one_aggregate(h, cols, exact=False, precision=0.01):
    """The single-aggregate describe (moments and quartiles in one
    aggregation), the reference the split plan must equal."""
    import pandas as pd
    from pyspark.sql import functions as F
    from handyspark_spark.operators import agg as A
    exprs = []
    for c in cols:
        d = F.col(c).cast("double")
        exprs += [F.count(d).alias(f"count__{c}"),
                  F.mean(d).alias(f"mean__{c}"),
                  F.stddev(d).alias(f"std__{c}"),
                  F.min(d).alias(f"min__{c}"),
                  A.percentile_expr(c, [0.25, 0.5, 0.75], precision,
                                    exact).alias(f"q__{c}"),
                  F.max(d).alias(f"max__{c}")]
    row = A.summary_plan(h._df, exprs).collect()[0]
    nan = float("nan")
    out = {}
    for c in cols:
        q = row[f"q__{c}"] or [nan, nan, nan]
        out[c] = [row[f"count__{c}"], row[f"mean__{c}"], row[f"std__{c}"],
                  row[f"min__{c}"], q[0], q[1], q[2], row[f"max__{c}"]]
    return pd.DataFrame(out, index=["count", "mean", "std", "min", "25%",
                                    "50%", "75%", "max"])


@pytest.fixture(scope="module")
def passengers(spark):
    """FIXTURES.md F1-shaped frame: nulls, right skew, outliers, an
    all-NULL column, over 4 partitions."""
    import pandas as pd
    from pyspark.sql import functions as F
    rng = np.random.default_rng(11)
    n = 891
    pclass = rng.choice([1, 2, 3], n, p=[0.24, 0.21, 0.55])
    age = np.clip(rng.normal(30, 14, n), 0.4, 80).round(1)
    pdf = pd.DataFrame({
        "passenger_id": np.arange(1, n + 1, dtype=np.int32),
        "survived": (rng.random(n) < 0.38).astype(np.int32),
        "pclass": pclass.astype(np.int32),
        "age": np.where(rng.random(n) < 0.2, np.nan, age),
        "sibsp": np.minimum(rng.poisson(0.5, n), 8).astype(np.int32),
        "fare": (rng.lognormal(2.4, 0.9, n) * (4 - pclass)).round(4)})
    df = spark.createDataFrame(pdf).repartition(4)
    return df.withColumn("age", F.when(~F.isnan("age"), F.col("age"))) \
             .withColumn("void", F.lit(None).cast("double"))


@pytest.mark.parametrize("exact", [False, True])
def test_describe_equals_one_aggregate(passengers, exact):
    """The split plan (moments and quartiles in two aggregations, one
    action) returns exactly the single-aggregate values, on the F1
    shape with its all-NULL column and on an empty frame."""
    import pandas as pd
    cols = ["passenger_id", "survived", "pclass", "age", "sibsp", "fare",
            "void"]
    for df in (passengers, passengers.limit(0)):
        h = toHandy(df)
        pd.testing.assert_frame_equal(
            h.describe(cols, exact=exact),
            _describe_one_aggregate(h, cols, exact=exact),
            check_exact=True)


def test_describe_moments_run_codegen(passengers, monkeypatch):
    """No ``ObjectHashAggregate`` computes the moments: they run in a
    ``HashAggregate``, the quartile sketches in their own aggregate."""
    from handyspark_spark.operators import agg as A
    plans = []
    summary_plan = A.summary_plan

    def spy(df, exprs, strata=None):
        out = summary_plan(df, exprs, strata)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(A, "summary_plan", spy)
    toHandy(passengers).describe(["age", "fare"])
    moments, quartiles = plans
    assert "ObjectHashAggregate" not in moments
    assert "HashAggregate" in moments and "count(" in moments
    assert "ObjectHashAggregate" in quartiles
    assert "count(" not in quartiles
