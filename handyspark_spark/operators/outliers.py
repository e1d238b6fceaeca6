"""Outlier operators: univariate Tukey counts + multivariate Mahalanobis.

Re-derives reference ``Handy.outliers`` (dataframe.py:544-576) and the
Mahalanobis pipeline (dataframe.py:353-400, 578-596):

- Tukey: ONE wide agg fits q1/q3 for every column at once, fences computed
  on the driver, then ONE more agg counts violations for all columns —
  two passes total regardless of column count.
- Mahalanobis: standardize -> correlation matrix (one Spark job) ->
  ``numpy.linalg.inv`` on the driver (k×k, tiny) -> squared distance as a
  NATIVE column expression (sum over k² products — codegen-friendly; the
  reference used a row-wise pandas UDF closure) -> chi² threshold filter.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.util import HandyException
from . import agg as A
from .fill import fit_fence_values
from .special import chi2_ppf


def tukey_outliers(hdf, ratio: bool = False, k: float = 1.5,
                   precision: float = 0.01, exact: bool = False) -> pd.Series:
    """Count per numerical column of values outside [q1-k*iqr, q3+k*iqr]."""
    df = hdf._src
    cols = hdf._types.numerical
    fences = fit_fence_values(df, cols, k, None, precision, exact)[0]
    exprs = []
    for c in cols:
        lf, uf = fences[c]
        out = ((F.col(c) < F.lit(lf)) | (F.col(c) > F.lit(uf))).cast("long")
        expr = F.sum(out)
        if ratio:
            expr = expr / F.count(F.lit(1))
        exprs.append(expr.alias(c))
    pdf = A.summary_plan(df, exprs).toPandas()
    s = pdf.iloc[0]
    s.name = "outliers" + ("(ratio)" if ratio else "")
    return s


def mahalanobis_distance_col(df, colnames: list[str]):
    """Squared Mahalanobis distance of standardized columns as a native
    expression: d²(x) = z^T S⁻¹ z with S the correlation matrix."""
    stats = A.summary_plan(
        df, [F.mean(F.col(c).cast("double")).alias(f"_mu_{c}") for c in colnames]
            + [F.stddev(F.col(c).cast("double")).alias(f"_sd_{c}")
               for c in colnames]).collect()[0]
    for c in colnames:
        sd = stats[f"_sd_{c}"]
        if sd is None or not sd > 0:
            why = ("fewer than 2 non-null values" if sd is None
                   else f"standard deviation {sd}")
            raise HandyException(
                f"mahalanobis: column {c!r} has {why}; the distance "
                "needs a positive variance in every column")
    corr = A.corr_plan(df, colnames).toPandas()
    k = len(colnames)
    S = np.eye(k)
    pos = {c: i for i, c in enumerate(colnames)}
    for _, r in corr.iterrows():
        if pd.isna(r["corr"]):
            raise HandyException(
                f"mahalanobis: the correlation of {r.col_x!r} and "
                f"{r.col_y!r} is undefined (fewer than 2 rows where both "
                "are non-null, or a constant column on those rows)")
        S[pos[r.col_x], pos[r.col_y]] = S[pos[r.col_y], pos[r.col_x]] = r["corr"]
    try:
        inv = np.linalg.inv(S)
    except np.linalg.LinAlgError:
        raise HandyException(
            f"mahalanobis: the correlation matrix of {colnames} is "
            "singular (a column is a linear function of the others)"
        ) from None
    z = [((F.col(c).cast("double") - F.lit(float(stats[f"_mu_{c}"])))
          / F.lit(float(stats[f"_sd_{c}"]))) for c in colnames]
    d2 = F.lit(0.0)
    for i in range(k):
        for j in range(k):
            if inv[i, j] != 0.0:
                d2 = d2 + F.lit(float(inv[i, j])) * z[i] * z[j]
    return d2


def mahalanobis_outliers(hdf, colnames=None, critical_value: float = 0.999,
                         keep: bool = True):
    """Rows whose Mahalanobis distance exceeds the chi²(k) quantile
    (keep=True -> the outliers, ordered by distance desc;
    keep=False -> the inliers)."""
    from ..core.frame import HandyFrame

    df = hdf._df
    if colnames is None:
        colnames = hdf._types.numerical
    d2 = mahalanobis_distance_col(hdf._src, colnames)
    thr = chi2_ppf(critical_value, len(colnames))
    out = df.withColumn("__mahalanobis", F.sqrt(d2))
    if keep:
        out = (out.filter(F.col("__mahalanobis") > F.lit(np.sqrt(thr)))
                  .orderBy(F.desc("__mahalanobis")))
    else:
        out = (out.filter(F.col("__mahalanobis") <= F.lit(np.sqrt(thr)))
                  .drop("__mahalanobis"))
    return HandyFrame(out, hdf._handy.copy())
