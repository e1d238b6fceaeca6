"""Imputation (fill) and outlier fencing — stats-to-expression compilation.

Re-derives reference ``Handy.fill``/``Handy.fence``
(handyspark/sql/dataframe.py:246-308, 507-511, 598-631): fitted values are
computed with ONE grouped aggregation, stored in clause-keyed dicts
(``statistics_`` / ``fences_``), and compiled into a single constant-folded
projection. The reference string-builds ``CASE WHEN`` SQL (injection-prone,
dataframe.py:253-262); we build ``F.when`` column expressions — same plan,
no string SQL.

At scale this is the right shape: one shuffle to fit, zero shuffles to
apply (a map-only projection), no join against a stats table.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.util import HandyException
from . import agg as A


def _is_missing(df: DataFrame, c: str) -> Column:
    cond = F.isnull(F.col(c))
    if dict(df.dtypes).get(c) in ("double", "float"):
        cond = cond | F.isnan(F.col(c))
    return cond


def _strata_cond(df: DataFrame, strata: list[str], combo) -> Column:
    cond = F.lit(True)
    for c in strata:
        cond = cond & (F.col(c) == F.lit(combo[c]))
    return cond


def fit_fill_values(df: DataFrame, continuous: list[str],
                    categorical: list[str], strategy: dict[str, str],
                    strata: list[str] | None = None,
                    precision: float = 0.01) -> list[dict]:
    """One grouped agg for all continuous cols + one mode job per categorical
    col. Returns [{strata combo cols..., col: value...}] rows."""
    exprs = []
    for c in continuous:
        if strategy.get(c, "mean") == "median":
            exprs.append(A.percentile_expr(c, 0.5, precision).alias(c))
        else:
            exprs.append(F.mean(c).alias(c))
    rows: list[dict] = []
    if exprs:
        # NaN would poison F.mean; mask to NULL first (pandas semantics)
        clean = A.nan_to_null(df, continuous)
        stats = A.summary_plan(clean.dropna(subset=continuous, how="all"),
                               exprs, strata).toPandas()
        rows = stats.to_dict("records")
    for c in categorical:
        pdf = A.mode_plan(df, c, strata).toPandas()
        if not rows:
            rows = pdf.to_dict("records")
        else:
            key = strata or []
            modes = pdf.set_index(key)[c] if key else None
            for r in rows:
                if key:
                    k = tuple(r[s] for s in key)
                    k = k[0] if len(k) == 1 else k
                    r[c] = modes.get(k)
                else:
                    r[c] = pdf[c].iloc[0]
    return rows


def fill(hdf, *args, categorical=None, continuous=None, strategy=None,
         strata: list[str] | None = None, labeler=None,
         precision: float = 0.01, **kwargs):
    """``hdf.fill(continuous=['Age'], strategy=['mean'],
    categorical=['Embarked'])`` — returns a new HandyFrame with nulls/NaNs
    imputed and fitted values recorded in ``statistics_``."""
    from ..core.frame import HandyFrame

    df, handy = hdf._df, hdf._handy.copy()
    continuous = list(continuous or [])
    categorical = list(categorical or [])
    if args:                                # fill('all') / fill([cols])
        sel = args[0]
        cols = (df.columns if sel == "all"
                else ([sel] if isinstance(sel, str) else list(sel)))
        cols = [c for c in cols if c not in (strata or [])]
        tax = hdf._types
        continuous += [c for c in cols if c in tax.continuous]
        categorical += [c for c in cols
                        if c in tax.categorical and c not in tax.continuous]
    if strategy is None:
        strategy = {}
    elif isinstance(strategy, (list, tuple)):
        strategy = dict(zip(continuous, strategy))
    elif isinstance(strategy, str):
        strategy = {c: strategy for c in continuous}

    rows = fit_fill_values(df, continuous, categorical, strategy, strata,
                           precision)
    targets = continuous + categorical

    if not strata:
        values = {c: rows[0][c] for c in targets} if rows else {}
        handy.imputed_values.update(values)
        out = df
        for c, v in values.items():
            if v is not None:
                out = out.withColumn(
                    c, F.when(_is_missing(df, c), F.lit(v))
                       .otherwise(F.col(c)))
    else:
        out = df
        for c in targets:
            # nested CASE: strata combo -> fitted value (constant-folded)
            vexpr = None
            for r in rows:
                v = r.get(c)
                if v is None:
                    continue
                cond = _strata_cond(df, strata, r)
                vexpr = (F.when(cond, F.lit(v)) if vexpr is None
                         else vexpr.when(cond, F.lit(v)))
                clause = labeler(r) if labeler else str(
                    {s: r[s] for s in strata})
                handy.imputed_values.setdefault(clause, {})[c] = v
            if vexpr is not None:
                out = out.withColumn(
                    c, F.when(_is_missing(df, c), vexpr)
                       .otherwise(F.col(c)))
        out = out.drop(*[c for c in strata if c.startswith("_bkt_")])
    return HandyFrame(out, handy)


def fit_fence_values(df: DataFrame, colnames: list[str], k: float = 1.5,
                     strata: list[str] | None = None,
                     precision: float = 0.01, exact: bool = False):
    """Tukey fences per column in ONE wide agg (q1, q3 for every column at
    once — ref ``_calc_fences`` dataframe.py:332-351). The unstratified
    exact path routes through ``exact_quantiles_distributed`` — a
    row-count-gated strategy: the native ``percentile`` aggregate at
    small row counts, the distributed selection-by-rank plan above the
    crossover (same type-7 values; the native single-reducer
    (value, count) merge made every exact-fence query ~13s at sf10 —
    SCALE.md round-10). A column (or stratum) with no non-null values
    has no fences: ``HandyException`` naming it."""
    if exact and not strata:
        qmap = A.exact_quantiles_distributed(
            df, {c: [0.25, 0.75] for c in colnames})
        row = {}
        for c in colnames:
            q1, q3 = qmap[c][0.25], qmap[c][0.75]
            iqr = q3 - q1
            row[c] = (q1 - k * iqr, q3 + k * iqr)
        return [row]
    exprs = [A.percentile_expr(c, [0.25, 0.75], precision, exact)
             .alias(f"_qq_{c}") for c in colnames]   # fused: one pass/col
    # NaN sorts ABOVE every value in Spark: >25% NaN rows would make q3
    # (hence both fences) NaN — mask to NULL first, like pandas quantile
    stats = A.summary_plan(A.nan_to_null(df, colnames), exprs,
                           strata).toPandas()
    rows = []
    for r in stats.to_dict("records"):
        key = {s: r[s] for s in (strata or [])}
        row = dict(key)
        for c in colnames:
            if r[f"_qq_{c}"] is None:
                where = f" in stratum {key}" if strata else ""
                raise HandyException(f"fences of column {c!r} are undefined"
                                     f"{where}: it has no non-null values")
            q1, q3 = r[f"_qq_{c}"]
            iqr = q3 - q1
            row[c] = (q1 - k * iqr, q3 + k * iqr)
        rows.append(row)
    return rows


def fence(hdf, colnames, k: float = 1.5, strata: list[str] | None = None,
          labeler=None, precision: float = 0.01, exact: bool = False):
    """Winsorize columns to their Tukey fences
    (ref dataframe.py:598-631): ``greatest(lfence, least(ufence, col))`` —
    a map-only projection after the one fitting agg."""
    from ..core.frame import HandyFrame

    if isinstance(colnames, str):
        colnames = [colnames]
    df, handy = hdf._df, hdf._handy.copy()
    rows = fit_fence_values(df, colnames, k, strata, precision, exact)

    out = df
    if not strata:
        fences = {c: rows[0][c] for c in colnames}
        handy.fenced_values.update(fences)
        for c, (lf, uf) in fences.items():
            clamped = F.greatest(F.lit(lf),
                                 F.least(F.lit(uf),
                                         F.col(c).cast("double")))
            # missing stays missing (Spark's NaN-is-largest ordering would
            # clamp NaN to the upper fence; pandas clip keeps NaN)
            out = out.withColumn(
                c, F.when(_is_missing(df, c), F.col(c)).otherwise(clamped))
    else:
        for c in colnames:
            lexpr, uexpr = None, None
            for r in rows:
                lf, uf = r[c]
                cond = _strata_cond(df, strata, r)
                lexpr = (F.when(cond, F.lit(lf)) if lexpr is None
                         else lexpr.when(cond, F.lit(lf)))
                uexpr = (F.when(cond, F.lit(uf)) if uexpr is None
                         else uexpr.when(cond, F.lit(uf)))
                clause = labeler(r) if labeler else str(
                    {s: r[s] for s in strata})
                handy.fenced_values.setdefault(clause, {})[c] = [lf, uf]
            clamped = F.greatest(lexpr, F.least(uexpr,
                                                F.col(c).cast("double")))
            out = out.withColumn(
                c, F.when(_is_missing(df, c), F.col(c)).otherwise(clamped))
        out = out.drop(*[c for c in strata if c.startswith("_bkt_")])
    return HandyFrame(out, handy)
