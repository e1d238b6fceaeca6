"""Plot-statistics operators: compute plot aggregates cluster-side, ship
only summaries to the driver (reference design principle, README.md:15;
handyspark/plot.py + dataframe.py:332-473, 779-838).

Outputs are plain data (bin edges/counts, matplotlib ``bxp`` stat dicts,
2-D bucket proportions) so tests assert on statistics, not pixels
(SURVEY.md §5). Rendering is a thin optional veneer.

Every plan here goes back to the driver, so each reads
``HandyFrame._src`` (one task on a small materialized frame).
A plotted column with no non-NULL value (an empty frame, an all-NULL
column) has no range or quartiles: ``HandyException`` naming it.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.util import HandyException
from ..operators import agg as A


def _bucket_col(c: str, lo: float, hi: float, bins: int):
    """Equal-width bucket id as a native closed-form expression — same
    formula the DuckDB oracle uses."""
    w = (hi - lo) / bins
    if w == 0:
        return F.lit(0)
    col = F.col(c).cast("double")
    return (F.least(F.floor((col - F.lit(lo)) / F.lit(w)),
                    F.lit(bins - 1))).cast("int")


def _no_values(plot: str, c: str, where: str = "") -> HandyException:
    return HandyException(f"{plot} of column {c!r} is undefined{where}: "
                          "it has no non-null values")


def hist_stats(hdf, colname: str, bins: int = 10,
               strata: list[str] | None = None) -> pd.DataFrame:
    """Histogram statistics (ref plot.py:126-148; dataframe.py:817-838).

    Continuous: one tiny agg for min/max -> closed-form bucketing ->
    groupBy(bucket).count -> dense spine with zero-filled empty bins.
    Categorical: top-``bins`` value counts.
    Returns DataFrame(bin_left, bin_right, mid, count [, strata...])."""
    df = hdf._src
    strata = strata or []
    if colname in hdf._types.continuous:
        r = df.agg(F.min(colname).alias("mn"),
                   F.max(colname).alias("mx")).collect()[0]
        if r.mn is None:
            raise _no_values("hist", colname)
        lo, hi = float(r.mn), float(r.mx)
        edges = np.linspace(lo, hi, bins + 1)
        counts = (df.withColumn("_b", _bucket_col(colname, lo, hi, bins))
                    .groupBy(*(strata + ["_b"]))
                    .agg(F.count(F.lit(1)).alias("count"))
                    .toPandas())
        spine = pd.DataFrame({"_b": np.arange(bins),
                              "bin_left": edges[:-1],
                              "bin_right": edges[1:],
                              "mid": (edges[:-1] + edges[1:]) / 2})
        if strata:
            combos = counts[strata].drop_duplicates()
            spine = combos.merge(spine, how="cross")
        out = spine.merge(counts, on=strata + ["_b"], how="left")
        out["count"] = out["count"].fillna(0).astype("int64")
        return out.drop(columns="_b")
    # categorical: top-N bars
    counts = (A.value_counts_plan(df, [colname], strata or None).toPandas()
              .sort_values("count", ascending=False))
    return counts.head(bins).reset_index(drop=True)


def boxplot_stats(hdf, colnames: list[str], k: float = 1.5,
                  strata: list[str] | None = None,
                  precision: float = 0.01, max_fliers: int = 1000,
                  exact: bool = False) -> list[dict]:
    """matplotlib ``ax.bxp``-ready stat dicts (ref dataframe.py:402-473).

    Pass 1 (ONE wide agg): q1/med/q3/mean for every column at once.
    Pass 2 (one agg): whiskers = min/max of in-fence values per column.
    Pass 3 (top-k): fliers = top ``max_fliers`` by |value| outside fences.
    """
    df = hdf._src
    if isinstance(colnames, str):
        colnames = [colnames]
    exprs = []
    for c in colnames:
        exprs.append(A.percentile_expr(c, [0.25, 0.5, 0.75], precision,
                                       exact).alias(f"_qq_{c}"))
        exprs.append(F.mean(F.col(c).cast("double")).alias(f"_mean_{c}"))
    stats = A.summary_plan(df, exprs, strata).toPandas()
    if strata:   # deterministic box order (plans no longer orderBy)
        stats = stats.sort_values(strata).reset_index(drop=True)
    for c in colnames:   # unpack the fused quantile arrays
        missing = stats[stats[f"_qq_{c}"].isna()]
        if stats.empty or len(missing):
            where = (f" in stratum {missing.iloc[0][strata].to_dict()}"
                     if strata and len(missing) else "")
            raise _no_values("boxplot", c, where)
        stats[[f"_q1_{c}", f"_med_{c}", f"_q3_{c}"]] = pd.DataFrame(
            stats[f"_qq_{c}"].tolist(), index=stats.index)

    out = []
    for _, row in stats.iterrows():
        whisk_exprs, res = [], []
        cond_info = {}
        for c in colnames:
            q1, q3 = row[f"_q1_{c}"], row[f"_q3_{c}"]
            iqr = q3 - q1
            lf, uf = q1 - k * iqr, q3 + k * iqr
            cond_info[c] = (lf, uf)
            infence = F.col(c).between(F.lit(lf), F.lit(uf))
            whisk_exprs.append(
                F.min(F.when(infence, F.col(c))).alias(f"_lo_{c}"))
            whisk_exprs.append(
                F.max(F.when(infence, F.col(c))).alias(f"_hi_{c}"))
        sub = df
        if strata:
            for s in strata:
                sub = sub.filter(F.col(s) == F.lit(row[s]))
        wrow = sub.agg(*whisk_exprs).collect()[0]
        for c in colnames:
            lf, uf = cond_info[c]
            fliers = (sub.filter((F.col(c) < F.lit(lf)) |
                                 (F.col(c) > F.lit(uf)))
                      .select(c).orderBy(F.desc(F.abs(F.col(c))))
                      .limit(max_fliers).toPandas()[c].tolist())
            d = {"label": c,
                 "mean": float(row[f"_mean_{c}"]),
                 "med": float(row[f"_med_{c}"]),
                 "q1": float(row[f"_q1_{c}"]),
                 "q3": float(row[f"_q3_{c}"]),
                 "whislo": float(wrow[f"_lo_{c}"]),
                 "whishi": float(wrow[f"_hi_{c}"]),
                 "fliers": fliers}
            if strata:
                d["strata"] = {s: row[s] for s in strata}
            out.append(d)
    return out


def scatterplot_stats(hdf, col_x: str, col_y: str, bins: int = 30,
                      strata: list[str] | None = None) -> pd.DataFrame:
    """2-D bucketized proportions (ref plot.py:50-108): 30×30 grid,
    one groupBy(bucket_x, bucket_y) job, proportions on the driver.
    Returns DataFrame(x_mid, y_mid, count, proportion [, strata...])."""
    df = hdf._src
    strata = strata or []
    r = df.agg(F.min(col_x).alias("x0"), F.max(col_x).alias("x1"),
               F.min(col_y).alias("y0"), F.max(col_y).alias("y1")) \
          .collect()[0]
    for c, lo in ((col_x, r.x0), (col_y, r.y0)):
        if lo is None:
            raise _no_values("scatterplot", c)
    ex = np.linspace(float(r.x0), float(r.x1), bins + 1)
    ey = np.linspace(float(r.y0), float(r.y1), bins + 1)
    counts = (df.withColumn("_bx", _bucket_col(col_x, float(r.x0),
                                               float(r.x1), bins))
                .withColumn("_by", _bucket_col(col_y, float(r.y0),
                                               float(r.y1), bins))
                .groupBy(*(strata + ["_bx", "_by"]))
                .agg(F.count(F.lit(1)).alias("count"))
                .toPandas())
    counts["x_mid"] = (ex[counts["_bx"]] + ex[counts["_bx"] + 1]) / 2
    counts["y_mid"] = (ey[counts["_by"]] + ey[counts["_by"] + 1]) / 2
    group = strata if strata else None
    total = (counts.groupby(strata)["count"].transform("sum") if strata
             else counts["count"].sum())
    counts["proportion"] = counts["count"] / total
    return counts.drop(columns=["_bx", "_by"])
