"""Statistical tests — JVM-free re-derivations of reference
``handyspark/stats.py`` (which bridged to commons-math / mllib KS via py4j).

- ``ttest``: Welch two-sample t from ONE grouped aggregation (mean, var,
  count per group) + pure-python p-value (incomplete beta). Pairwise over
  all group combinations, like the reference's pairwise loop.
- ``ks_test``: one-sample Kolmogorov–Smirnov D statistic via a fully
  distributed ECDF plan — distinct-value counts, partition-offset
  cumulative ranking (``rank.ranged_cumsum``, no single-partition
  window), D reduced with one max-aggregation. The CDF is a JVM
  expression inside the same plan for the distributions in
  ``_NATIVE_CDF`` (uniform, exponential — an auto-fitted uniform's
  min/max ride the same action as a broadcast 1-row crossJoin), and an
  executor-side Arrow-batched pandas UDF for the rest. The reference
  shelled out to commons-math for 18 named distributions
  (/root/reference/handyspark/stats.py:41-42); all 18 are provided here
  as pure-python CDFs (same constructor-parameter conventions as the
  commons-math classes the reference instantiates), plus an arbitrary
  python ``cdf=`` escape hatch.
"""
from __future__ import annotations

import math
from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rank import ranged_cumsum
from .special import betainc_reg, gammainc_lower, norm_cdf, t_sf


class StatisticalSummaryValues:
    """Per-group summary (mean, variance, n, min, max) from one agg —
    the commons-math SSV equivalent (ref stats.py:6-20)."""

    def __init__(self, df: DataFrame, colname: str, group_col: str):
        rows = (df.groupBy(group_col)
                .agg(F.mean(colname).alias("mean"),
                     F.variance(colname).alias("variance"),
                     F.count(colname).alias("n"),
                     F.min(colname).alias("min"),
                     F.max(colname).alias("max"))
                .collect())
        self.groups = {r[group_col]: {"mean": r["mean"],
                                      "variance": r["variance"],
                                      "n": r["n"], "min": r["min"],
                                      "max": r["max"]}
                       for r in rows}


def welch_t(s1: dict, s2: dict) -> tuple[float, float, float]:
    """(t, df, p) from two summary dicts."""
    v1n = s1["variance"] / s1["n"]
    v2n = s2["variance"] / s2["n"]
    t = (s1["mean"] - s2["mean"]) / math.sqrt(v1n + v2n)
    df = (v1n + v2n) ** 2 / (v1n ** 2 / (s1["n"] - 1)
                             + v2n ** 2 / (s2["n"] - 1))
    return t, df, t_sf(abs(t), df)


def ttest(df: DataFrame, colname: str, group_col: str) -> pd.DataFrame:
    """Pairwise Welch t-tests between every pair of groups
    (ref stats.py:22-34). One Spark job total."""
    ssv = StatisticalSummaryValues(df, colname, group_col)
    rows = []
    for g1, g2 in combinations(sorted(ssv.groups), 2):
        t, dof, p = welch_t(ssv.groups[g1], ssv.groups[g2])
        rows.append({"group_1": g1, "group_2": g2, "t_stat": t,
                     "dof": dof, "p_value": p})
    return pd.DataFrame(rows)


def _ecdf_plan(df: DataFrame, colname: str) -> DataFrame:
    """(v, c, cum, total) over distinct values — distributed
    partition-offset cumulative counts (no single-partition window even
    when |distinct| ~ |rows|)."""
    counts = (df.select(F.col(colname).cast("double").alias("v"))
                .dropna()
                .groupBy("v").agg(F.count(F.lit(1)).alias("c")))
    cum, ptot = ranged_cumsum(counts, ["v"], ["c"])
    tot = ptot.agg(F.sum("_tot_c").alias("total"))
    return (cum.withColumnRenamed("_cum_c", "cum")
               .crossJoin(F.broadcast(tot)))


# -- named-distribution CDFs -------------------------------------------------
# Parameter conventions follow the commons-math constructors the reference
# instantiates (org.apache.commons.math3.distribution.<Name>Distribution),
# so `ks_test(df, col, 'gamma', (shape, scale))` means the same thing in
# both engines. All pure python on top of operators/special.py.

def _cauchy(x0, g):
    return lambda x: 0.5 + math.atan((x - x0) / g) / math.pi


def _triangular(a, c, b):
    def cdf(x):
        if x <= a:
            return 0.0
        if x >= b:
            return 1.0
        if x <= c:
            return (x - a) ** 2 / ((b - a) * (c - a))
        return 1.0 - (b - x) ** 2 / ((b - a) * (b - c))
    return cdf


def _t_cdf(dof):
    def cdf(x):
        p = 0.5 * betainc_reg(dof / 2.0, 0.5, dof / (dof + x * x))
        return p if x < 0 else 1.0 - p
    return cdf


KS_DISTRIBUTIONS = {
    # name -> (constructor-arity params) -> scalar cdf callable
    "beta": lambda a, b: lambda x: betainc_reg(a, b, min(1.0, max(0.0, x))),
    "cauchy": _cauchy,
    "chisquared": lambda k: lambda x: gammainc_lower(k / 2.0,
                                                     max(0.0, x) / 2.0),
    "exponential":  # commons-math takes the MEAN, not the rate
        lambda mean: lambda x: 1.0 - math.exp(-max(0.0, x) / mean),
    "f": lambda d1, d2: lambda x: betainc_reg(
        d1 / 2.0, d2 / 2.0, d1 * x / (d1 * x + d2)) if x > 0 else 0.0,
    "gamma": lambda shape, scale: lambda x: gammainc_lower(
        shape, max(0.0, x) / scale),
    "gumbel": lambda mu, beta: lambda x: math.exp(
        -math.exp(-(x - mu) / beta)),
    "laplace": lambda mu, b: lambda x: (
        0.5 * math.exp((x - mu) / b) if x < mu
        else 1.0 - 0.5 * math.exp(-(x - mu) / b)),
    "levy": lambda mu, c: lambda x: (
        math.erfc(math.sqrt(c / (2.0 * (x - mu)))) if x > mu else 0.0),
    "logistic": lambda mu, s: lambda x: 1.0 / (1.0 +
                                               math.exp(-(x - mu) / s)),
    "lognormal":  # commons-math (scale, shape) = (mu, sigma) of ln X
        lambda scale, shape: lambda x: (
            norm_cdf((math.log(x) - scale) / shape) if x > 0 else 0.0),
    "nakagami": lambda mu, omega: lambda x: (
        gammainc_lower(mu, mu * x * x / omega) if x > 0 else 0.0),
    "normal": lambda mu, sd: lambda x: norm_cdf((x - mu) / sd),
    "pareto": lambda scale, shape: lambda x: (
        1.0 - (scale / x) ** shape if x >= scale else 0.0),
    "t": _t_cdf,
    "triangular": _triangular,
    "uniform": lambda lo, hi: lambda x: min(
        1.0, max(0.0, (x - lo) / (hi - lo))),
    "weibull": lambda shape, scale: lambda x: (
        1.0 - math.exp(-((max(0.0, x) / scale) ** shape))),
}


def make_cdf(dist: str, params: tuple):
    """Scalar CDF callable for a named distribution (commons-math
    parameter conventions). Unknown names raise (the reference silently
    fell back to Normal(0,1) — ref stats.py:52-55; we fail loudly)."""
    key = dist.lower().strip()
    if key not in KS_DISTRIBUTIONS:
        raise ValueError(
            f"unknown dist {dist!r}; one of {sorted(KS_DISTRIBUTIONS)} "
            "or pass cdf=")
    return KS_DISTRIBUTIONS[key](*params)


# CDFs whose scalar python form above is a fixed sequence of IEEE-double
# ops that Spark expressions replay op-for-op: same subtractions,
# divisions and clamps in the same order, so the in-plan value is
# bit-identical to the KS_DISTRIBUTIONS callable on non-NaN input (the
# ECDF's v is NaN-free — ``DataFrame.dropna`` treats NaN as missing for
# doubles; python's max(0.0, nan) and Spark's greatest diverge only on
# NaN). exp() is java.lang.Math.exp vs libm — both ≤1 ulp, so the
# exponential statistic can differ in the last bit; equality after the
# queries' 6-dp rounding is pinned by test + oracle. Evaluating the CDF
# in-plan removes the ArrowEvalPython round-trip over |distinct| rows
# (guide §4.1: built-ins over UDFs), and lets an auto-fitted parameter
# agg ride the SAME action as a broadcast 1-row crossJoin instead of a
# separate collect-to-driver corpus pass (guide §2.4).
_NATIVE_CDF = {
    "uniform": lambda x, lo, hi: F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), (x - lo) / (hi - lo))),
    "exponential": lambda x, mean: F.lit(1.0) - F.exp(
        -F.greatest(F.lit(0.0), x) / mean),
}


def _ks_plan(df: DataFrame, colname: str, dist: str = "normal",
             params: tuple | None = None, cdf=None) -> DataFrame:
    """The pre-collect aggregation plan behind ``ks_test`` — exposed so
    plan dumps / tests can inspect it. One row, columns (d, n)."""
    key = dist.lower().strip() if cdf is None else None
    fit_df = None
    if cdf is None and params is None:
        if key == "normal":
            fit_exprs = [F.mean(colname), F.stddev(colname)]
        elif key == "uniform":
            fit_exprs = [F.min(colname), F.max(colname)]
        else:
            raise ValueError(
                f"dist {dist!r} needs explicit params= "
                "(only normal/uniform auto-fit)")
        if key in _NATIVE_CDF:
            # the fit rides the main action: 1-row agg, broadcast
            # crossJoined below — no separate collect-to-driver pass
            fit_df = df.agg(*[e.cast("double").alias(f"_p{i}")
                              for i, e in enumerate(fit_exprs)])
        else:
            r = df.agg(*fit_exprs).collect()[0]
            params = (float(r[0]), float(r[1]))

    ecdf = _ecdf_plan(df, colname)
    if key in _NATIVE_CDF:
        if fit_df is not None:
            ecdf = ecdf.crossJoin(F.broadcast(fit_df))
            pargs = [F.col(f"_p{i}") for i in range(len(fit_exprs))]
        else:
            pargs = [F.lit(float(p)) for p in params]
        ecdf = ecdf.withColumn("_cdf",
                               _NATIVE_CDF[key](F.col("v"), *pargs))
    else:
        if cdf is None:
            cdf = make_cdf(dist, params)
        cdf_udf = F.pandas_udf(
            lambda s: s.map(cdf).astype("float64"), "double")
        ecdf = ecdf.withColumn("_cdf", cdf_udf(F.col("v")))
    gap = F.greatest(
        F.abs(F.col("cum") / F.col("total") - F.col("_cdf")),
        F.abs((F.col("cum") - F.col("c")) / F.col("total") - F.col("_cdf")))
    return ecdf.agg(F.max(gap).alias("d"), F.max("total").alias("n"))


def ks_test(df: DataFrame, colname: str, dist: str = "normal",
            params: tuple | None = None, cdf=None) -> dict:
    """One-sample KS: D = sup_x |ECDF(x) - CDF(x)| (both one-sided gaps
    evaluated, as the exact definition requires). Returns
    {statistic, reject_at_05} with the standard asymptotic critical value
    1.358/sqrt(n) (alpha=.05).

    Fully distributed: the ECDF never leaves the cluster and D is one
    max-aggregation; only 2 scalars come back to the driver. For the
    distributions in ``_NATIVE_CDF`` (uniform, exponential) the CDF is
    a JVM expression inside the same plan and an auto-fitted parameter
    agg rides the same single action (broadcast 1-row crossJoin); for
    every other named distribution the CDF runs as an Arrow-batched
    pandas UDF over distinct values, with normal/uniform auto-fitting
    params via one extra tiny agg when ``params`` is None, matching the
    round-1 behavior."""
    row = _ks_plan(df, colname, dist, params, cdf).collect()[0]
    n = int(row["n"]) if row["n"] is not None else 0
    d = float(row["d"]) if row["d"] is not None else 0.0
    crit = 1.358 / math.sqrt(n) if n else float("nan")
    return {"statistic": d, "n": n, "critical_05": crit,
            "reject_at_05": d > crit}


def _kolmogorov_sf(lam: float, terms: int = 100) -> float:
    """P(K > lam) for the Kolmogorov distribution (asymptotic two-sample
    p-value), via the alternating series 2*sum (-1)^(k-1) exp(-2k^2 lam^2)."""
    if lam <= 0:
        return 1.0
    s = 0.0
    for k in range(1, terms + 1):
        term = 2.0 * (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        s += term
        if abs(term) < 1e-16:
            break
    return min(1.0, max(0.0, s))


def ks_2samp(df: DataFrame, colname: str, group_col: str,
             group_a, group_b) -> dict:
    """Two-sample KS: D = sup_x |ECDF_a(x) − ECDF_b(x)|. Both ECDFs are
    step functions jumping only at sample points, so evaluating at every
    distinct value is exact (no left-limit term needed, unlike the
    one-sample case). One grouped agg + one distributed cumulative pass
    (``ranged_cumsum``) shared by BOTH groups; 3 scalars to the driver.

    Returns {statistic, n_a, n_b, p_value, reject_at_05} with the
    asymptotic Kolmogorov p-value."""
    g = F.col(group_col)
    counts = (df.filter(g.isin([group_a, group_b]))
              .select(F.col(colname).cast("double").alias("v"),
                      (g == F.lit(group_a)).cast("long").alias("_a"),
                      (g == F.lit(group_b)).cast("long").alias("_b"))
              .dropna(subset=["v"])
              .groupBy("v").agg(F.sum("_a").alias("ca"),
                                F.sum("_b").alias("cb")))
    cum, ptot = ranged_cumsum(counts, ["v"], ["ca", "cb"])
    tot = ptot.agg(F.sum("_tot_ca").alias("na"),
                   F.sum("_tot_cb").alias("nb"))
    gap = F.abs(F.col("_cum_ca") / F.col("na")
                - F.col("_cum_cb") / F.col("nb"))
    row = (cum.crossJoin(F.broadcast(tot))
           .agg(F.max(gap).alias("d"), F.max("na").alias("na"),
                F.max("nb").alias("nb")).collect()[0])
    d = float(row["d"] or 0.0)
    na, nb = int(row["na"] or 0), int(row["nb"] or 0)
    lam = d * math.sqrt(na * nb / (na + nb)) if na and nb else 0.0
    p = _kolmogorov_sf(lam)
    return {"statistic": d, "n_a": na, "n_b": nb, "p_value": p,
            "reject_at_05": p < 0.05}


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> dict:
    """Pearson chi-square test of independence over the contingency table
    of two categorical columns. ONE grouped agg ships the |A|×|B| cell
    counts to the driver (bounded by category cardinalities, like the
    confusion matrix); expected counts, the statistic and the p-value
    (regularized incomplete gamma) are computed in pure python. Empty
    cells of the cross product contribute their expected count, per the
    standard definition."""
    obs = (df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
           .agg(F.count(F.lit(1)).alias("n")).toPandas())
    tab = (obs.pivot(index="a", columns="b", values="n")
           .fillna(0.0).astype(float))
    row_tot = tab.sum(axis=1)
    col_tot = tab.sum(axis=0)
    total = float(tab.values.sum())
    stat = 0.0
    for a in tab.index:
        for b in tab.columns:
            e = row_tot[a] * col_tot[b] / total
            stat += (tab.loc[a, b] - e) ** 2 / e
    dof = (len(tab.index) - 1) * (len(tab.columns) - 1)
    p = 1.0 - gammainc_lower(dof / 2.0, stat / 2.0) if dof else 1.0
    return {"statistic": float(stat), "dof": int(dof), "p_value": p,
            "reject_at_05": p < 0.05}


# reference-facing aliases (handyspark.stats drop-in names)
tTest = ttest
KolmogorovSmirnovTest = ks_test
