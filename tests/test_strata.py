"""Stratification engine + fitted transforms vs pandas oracles."""
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from handyspark_spark import Bucket, Quantile, toHandy


@pytest.fixture(scope="module")
def hdf(tables):
    return toHandy(tables["lineitem"])


@pytest.fixture(scope="module")
def pdf(pdf_tables):
    return pdf_tables["lineitem"]


def test_stratified_mean(hdf, pdf):
    res = hdf.stratify(["l_returnflag"]).cols["l_extendedprice"].mean()
    exp = pdf.groupby("l_returnflag")["l_extendedprice"].mean()
    npt.assert_array_almost_equal(res.sort_index().values,
                                  exp.sort_index().values)


def test_stratified_two_level_value_counts(hdf, pdf):
    res = (hdf.stratify(["l_returnflag", "l_linestatus"])
           .cols["l_shipdate"].value_counts())
    assert res.sum() == len(pdf.dropna(subset=["l_shipdate"]))


def test_stratified_mode(hdf, pdf):
    res = hdf.stratify(["l_linestatus"]).cols["l_returnflag"].mode()
    exp = pdf.groupby("l_linestatus")["l_returnflag"] \
        .agg(lambda s: s.mode().min())
    npt.assert_array_equal(res.sort_index().values, exp.sort_index().values)


def test_bucket_strata_mean(hdf, pdf):
    import numpy as np
    res = (hdf.stratify([Bucket("l_extendedprice", 3)])
           .cols["l_quantity"].mean())
    lo, hi = pdf["l_extendedprice"].min(), pdf["l_extendedprice"].max()
    edges = np.linspace(lo, hi, 4)
    w = (hi - lo) / 3
    ids = np.minimum(np.floor((pdf["l_extendedprice"] - lo) / w), 2)
    exp = pdf.groupby(ids)["l_quantity"].mean()
    npt.assert_array_almost_equal(np.sort(res.values), np.sort(exp.values))
    # clause-string labels on the index
    assert all("l_extendedprice >=" in str(i) for i in res.index)


def test_quantile_strata_counts_roughly_equal(hdf):
    res = (hdf.stratify([Quantile("l_extendedprice", 4)])
           .cols["l_returnflag"].value_counts())
    per_bucket = res.groupby(level=0).sum()
    assert len(per_bucket) == 4
    assert per_bucket.max() / per_bucket.min() < 1.3


def test_fill_mean_global(tables, spark):
    df = tables["lineitem"].withColumn(
        "d", F.when(F.col("l_discount") == 0.0, None)
             .otherwise(F.col("l_discount")))
    hdf = toHandy(df)
    filled = hdf.fill(continuous=["d"], strategy="mean")
    assert filled._df.filter(F.isnull("d")).count() == 0
    assert "d" in filled.statistics_
    mu = df.agg(F.mean("d")).collect()[0][0]
    npt.assert_almost_equal(filled.statistics_["d"], mu)


def test_fill_categorical_mode(tables):
    df = tables["lineitem"].withColumn(
        "f", F.when(F.col("l_linenumber") == 1, None)
             .otherwise(F.col("l_returnflag")))
    hdf = toHandy(df)
    filled = hdf.fill(categorical=["f"])
    assert filled._df.filter(F.isnull("f")).count() == 0


def test_stratified_fill_clause_keys(tables):
    df = tables["lineitem"].withColumn(
        "d", F.when(F.col("l_discount") == 0.0, None)
             .otherwise(F.col("l_discount")))
    hdf = toHandy(df)
    filled = hdf.stratify(["l_returnflag"]).fill(continuous=["d"],
                                                 strategy="mean")
    keys = list(filled.statistics_.keys())
    assert any('l_returnflag == "' in k for k in keys)
    assert filled._df.filter(F.isnull("d")).count() == 0


def test_fence_winsorizes(hdf, pdf):
    fenced = hdf.fence(["l_extendedprice"], exact=True)
    q1, q3 = pdf["l_extendedprice"].quantile([0.25, 0.75])
    lf, uf = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    got_min, got_max = fenced._df.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")).collect()[0]
    assert got_min >= lf - 1e-9 and got_max <= uf + 1e-9
    npt.assert_almost_equal(fenced.fences_["l_extendedprice"], [lf, uf])


def test_imputer_transformer_roundtrip(tables, spark, tmp_path):
    from handyspark_spark.ml.base import HandyImputer
    df = tables["lineitem"].withColumn(
        "d", F.when(F.col("l_discount") == 0.0, None)
             .otherwise(F.col("l_discount")))
    hdf = toHandy(df)
    filled = hdf.stratify(["l_returnflag"]).fill(continuous=["d"],
                                                 strategy="mean")
    imp = filled.transformers.imputer()
    path = str(tmp_path / "imputer")
    imp.write().overwrite().save(path)
    imp2 = HandyImputer.load(path)
    out = imp2.transform(df)
    assert out.filter(F.isnull("d")).count() == 0
    # same result as the fitted frame
    a = filled._df.agg(F.round(F.sum("d"), 6)).collect()[0][0]
    b = out.agg(F.round(F.sum("d"), 6)).collect()[0][0]
    assert a == b


def test_fencer_transformer_roundtrip(spark, tables, tmp_path):
    from handyspark_spark.ml.base import HandyFencer
    hdf = toHandy(tables["lineitem"])
    fenced = hdf.fence(["l_extendedprice"], exact=True)
    f = fenced.transformers.fencer()
    path = str(tmp_path / "fencer")
    f.write().overwrite().save(path)
    f2 = HandyFencer.load(path)
    out = f2.transform(tables["lineitem"])
    a = fenced._df.agg(F.round(F.sum("l_extendedprice"), 4)).collect()[0][0]
    b = out.agg(F.round(F.sum("l_extendedprice"), 4)).collect()[0][0]
    assert a == b
    # NULL and NaN stay missing in the transformer as in fence, flat and
    # stratified: row by row, the transformer equals fence
    nan = float("nan")
    xs = [1.0, 2.0, 3.0, 4.0, 100.0, None, nan]
    df = spark.createDataFrame(
        [(i, g, x) for i, (g, x) in enumerate(
            [("a", x) for x in xs] + [("b", x) for x in xs])],
        "id int, g string, x double")

    def rows(d):
        return [(r.id, "NaN" if r.x != r.x else r.x)
                for r in d.orderBy("id").collect()]

    for fenced in (toHandy(df).fence(["x"]),
                   toHandy(df).stratify(["g"]).fence(["x"])):
        want = rows(fenced._df)
        assert [x for i, x in want if i % 7 in (5, 6)] == \
            [None, "NaN", None, "NaN"]
        assert rows(fenced.transformers.fencer().transform(df)) == want


def test_tukey_outliers(hdf, pdf):
    res = hdf.outliers(exact=True)
    q1, q3 = pdf["l_extendedprice"].quantile([0.25, 0.75])
    iqr = q3 - q1
    exp = ((pdf["l_extendedprice"] < q1 - 1.5 * iqr) |
           (pdf["l_extendedprice"] > q3 + 1.5 * iqr)).sum()
    assert res["l_extendedprice"] == exp


def test_mahalanobis_outliers(hdf, pdf):
    import numpy as np

    from handyspark_spark.operators.special import chi2_ppf
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    out = hdf.get_outliers(cols, critical_value=0.5)
    n_out = out._df.count()
    # numpy oracle: standardized cols, correlation inverse, chi2 threshold
    X = pdf[cols].to_numpy(dtype=float)
    Z = (X - X.mean(0)) / X.std(0, ddof=1)
    inv = np.linalg.inv(np.corrcoef(Z, rowvar=False))
    d2 = np.einsum("ij,jk,ik->i", Z, inv, Z)
    exp = (np.sqrt(d2) > np.sqrt(chi2_ppf(0.5, 3))).sum()
    assert abs(n_out - exp) <= max(2, 0.01 * exp)
    # distances ordered desc
    d = [r["__mahalanobis"] for r in out._df.select("__mahalanobis")
         .limit(100).collect()]
    assert d == sorted(d, reverse=True)


def test_mahalanobis_degenerate_fit_named_error(spark):
    """An empty or one-row frame, a constant column, a pair with no
    complete rows and collinear columns raise a ``HandyException``
    naming the column(s) and the reason, not a ``TypeError``, an ANSI
    divide-by-zero or numpy's ``LinAlgError``."""
    import pytest

    from handyspark_spark import toHandy
    from handyspark_spark.core.util import HandyException
    schema = "x double, y double"
    cases = [
        ([], "column 'x' has fewer than 2 non-null"),
        ([(1.0, 2.0)], "column 'x' has fewer than 2 non-null"),
        ([(1.0, float(i)) for i in range(10)],
         "column 'x' has standard deviation 0.0"),
        ([(float(i), None) for i in range(5)]
         + [(None, float(i)) for i in range(5)],
         "correlation of 'x' and 'y' is undefined"),
        ([(float(i), 2.0 * i) for i in range(10)], "is singular"),
    ]
    for rows, msg in cases:
        h = toHandy(spark.createDataFrame(rows, schema))
        with pytest.raises(HandyException, match=msg):
            h.get_outliers(["x", "y"], critical_value=0.5)


def test_mahalanobis_distances_k5_vs_numpy(hdf, pdf):
    """Per-row distance differential at k=5 (the oracle query pins only
    the 2-D closed form): Spark native-expression d must match the numpy
    z^T S^-1 z pipeline to float tolerance, row by row."""
    import numpy as np
    import numpy.testing as npt

    from handyspark_spark.operators.outliers import mahalanobis_distance_col
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_partkey"]
    got = (hdf._df.select(
               F.col("l_orderkey"), F.col("l_linenumber"),
               F.sqrt(mahalanobis_distance_col(hdf._df, cols)).alias("d"))
           .toPandas()
           .sort_values(["l_orderkey", "l_linenumber"])
           .reset_index(drop=True))
    p = pdf.sort_values(["l_orderkey", "l_linenumber"]).reset_index(drop=True)
    X = p[cols].to_numpy(dtype=float)
    Z = (X - X.mean(0)) / X.std(0, ddof=1)
    inv = np.linalg.inv(np.corrcoef(Z, rowvar=False))
    exp = np.sqrt(np.einsum("ij,jk,ik->i", Z, inv, Z))
    npt.assert_allclose(got["d"].to_numpy(), exp, rtol=1e-6, atol=1e-8)


def test_strata_take_per_group(hdf):
    out = hdf.stratify(["l_returnflag"]).take(3)
    counts = (out._df.groupBy("l_returnflag").count().collect())
    assert all(r["count"] == 3 for r in counts)


def test_quantile_exact_edges(hdf, pdf):
    import numpy.testing as npt
    from handyspark_spark.operators.strata import Quantile
    q = Quantile("l_extendedprice", 4, exact=True)
    q._fit(hdf._df)
    exp = pdf["l_extendedprice"].quantile([0, 0.25, 0.5, 0.75, 1.0]).values
    npt.assert_array_almost_equal(q.edges, exp)


def test_apply_grouped(hdf):
    import pandas as pd

    def top1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.nlargest(1, "l_extendedprice")[
            ["l_returnflag", "l_extendedprice"]]

    out = hdf.apply_grouped(
        top1, by="l_returnflag",
        schema="l_returnflag string, l_extendedprice double")
    rows = out._df.collect()
    assert len(rows) == 3


def test_imputer_clause_with_quotes_and_and(spark, tmp_path):
    """Clause values containing quotes / ' and ' must survive the
    fit -> serialize -> load -> apply round trip (the reference
    string-built SQL here and would break; SURVEY.md §7 risk 6)."""
    import pandas as pd

    from handyspark_spark import toHandy
    from handyspark_spark.ml.base import HandyImputer
    pdf = pd.DataFrame({
        "grp": ["O'Brien", 'say "hi"', "rock and roll", "plain"] * 10,
        "v": [None if i < 4 else float(i) for i in range(40)]})
    df = spark.createDataFrame(pdf)
    filled = toHandy(df).stratify(["grp"]).fill(continuous=["v"],
                                                strategy="mean")
    imp = filled.transformers.imputer()
    path = str(tmp_path / "imp_q")
    imp.write().overwrite().save(path)
    out = HandyImputer.load(path).transform(df)
    assert out.filter("v IS NULL").count() == 0
    # per-group imputed values match the fitted frame exactly
    a = filled._df.groupBy("grp").sum("v").collect()
    b = out.groupBy("grp").sum("v").collect()
    assert {(r[0], round(r[1], 6)) for r in a} == \
        {(r[0], round(r[1], 6)) for r in b}


def test_clause_parser_edge_grammars(spark):
    """Scientific notation, booleans, and ' and ... < ' inside string
    values must all survive clause parsing (review-round-3 regressions)."""
    import pandas as pd

    from handyspark_spark.ml.base import HandyImputer
    pdf = pd.DataFrame({
        "grp": ["bread and butter < 5 dollars", "plain"] * 6,
        "flag": [True, False] * 6,
        "v": [None if i < 2 else float(i) for i in range(12)]})
    df = spark.createDataFrame(pdf)
    # tricky string value as the only clause
    imp = HandyImputer(statsDict={
        'grp == "bread and butter < 5 dollars"': {"v": 1.5}})
    out = imp.transform(df)
    fixed = out.filter("grp LIKE 'bread%'").filter("v = 1.5").count()
    assert fixed == 1
    # boolean + scientific notation clauses parse
    imp2 = HandyImputer(statsDict={
        "flag == True": {"v": 2.5},
        "flag == False": {"v": 3.5}})
    out2 = imp2.transform(df)
    assert out2.filter("v IS NULL").count() == 0
    imp3 = HandyImputer(statsDict={
        "v >= 1.5e+0 and v < 1e+10": {"v": 9.0}})
    imp3.transform(df).collect()   # parses without error


def test_between_time_rejects_bad_inclusive(tables):
    import pytest as _pytest

    from handyspark_spark import toHandy
    hdf = toHandy(tables["events"])
    with _pytest.raises(ValueError):
        hdf.pandas["ts"].between_time("09:00", "17:00", inclusive="boht")


def test_bucket_constant_column_degenerate_range(spark):
    """Fuzz-found (round 8): a constant stratum column collapses the
    linspace range to width 0; contract is every non-null row in bucket 0
    (no ANSI DIVIDE_BY_ZERO), nulls stay unbucketed, and the clause label
    is the closed point-interval."""
    pdf = pd.DataFrame({"b": [0.0] * 6 + [None],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]})
    sdf = spark.createDataFrame(pdf, "b double, v double")

    bkt = Bucket("b", 4)
    res = toHandy(sdf).stratify([bkt]).cols["v"].mean()
    assert len(res) == 1
    assert res.iloc[0] == pytest.approx(3.5)
    assert res.index[0] == "b >= 0.0 and b <= 0.0"

    cnt = toHandy(sdf).stratify([bkt]).cols["v"].count()
    assert int(cnt.sum()) == 6          # null stratum rows drop out

    # quantile flavor must not crash either and must keep all rows
    qcnt = toHandy(sdf).stratify([Quantile("b", 3)]).cols["v"].count()
    assert int(qcnt.sum()) == 6


_EDGE_FITS = {"Bucket": lambda: Bucket("v", 4),
              "Quantile exact": lambda: Quantile("v", 4, exact=True),
              "Quantile approx": lambda: Quantile("v", 4)}


@pytest.mark.parametrize("fit", list(_EDGE_FITS))
@pytest.mark.parametrize("values", [[], [None, None],
                                    [1.0, 3.0] + [float("nan")] * 3],
                         ids=["empty", "all-null", "nan-mixed"])
def test_edge_fits_on_degenerate_columns(spark, fit, values):
    """Edge fits mask NaN (it sorts above every double) and refuse a
    column with no values left with a named error, never a raw
    TypeError from linspace or an IndexError on 0-d edges."""
    import numpy as np
    from handyspark_spark.core.util import HandyException
    sdf = spark.createDataFrame([(v,) for v in values], "v double")
    spec = _EDGE_FITS[fit]()
    if not [v for v in values if v is not None and v == v]:
        with pytest.raises(HandyException, match="column 'v'"):
            spec._fit(sdf)
        return
    spec._fit(sdf)
    if fit == "Quantile approx":     # GK edges: values of the column
        assert set(spec.edges) <= {1.0, 3.0}
        assert (spec.edges[0], spec.edges[-1]) == (1.0, 3.0)
    else:
        exp = (np.linspace(1.0, 3.0, 5) if fit == "Bucket"
               else np.quantile([1.0, 3.0], np.linspace(0, 1, 5)))
        npt.assert_array_almost_equal(spec.edges, exp)


@pytest.mark.parametrize("fit", ["Bucket", "Quantile exact"])
@pytest.mark.parametrize("missing", [float("nan"), None],
                         ids=["nan", "null"])
def test_nan_stratum_row_gets_no_bucket(spark, fit, missing):
    """A NaN stratum value is missing, like NULL: it gets no bucket.
    Bucket used to floor it into bucket 0 and Quantile to count it
    above every edge, into the last bucket."""
    sdf = spark.createDataFrame(
        [(b, 1.0) for b in [1.0, 2.0, 3.0, 4.0, missing]],
        "b double, v double")
    spec = (Bucket("b", 2) if fit == "Bucket"
            else Quantile("b", 2, exact=True))
    cnt = toHandy(sdf).stratify([spec]).cols["v"].count()
    assert list(cnt.astype(int)) == [2, 2]
