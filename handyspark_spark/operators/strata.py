"""Stratification engine — split-apply-combine as ONE grouped Spark job.

Re-derives the reference's signature operator (``HandyStrata``,
handyspark/sql/dataframe.py:1812-2052; ``Bucket``/``Quantile``
dataframe.py:1414-1462) with a scale-first redesign:

- aggregation-style ops run as a single ``groupBy(strata)`` job (the
  reference already did this for ``@agg`` ops) — one shuffle total;
- arbitrary per-stratum pandas logic runs through
  ``groupBy(strata).applyInPandas`` — one shuffle, N parallel groups —
  instead of the reference's N filter-jobs, which re-scan the input once
  per stratum (untenable at 100 TB);
- bucket-id assignment is a native closed-form expression
  ``least(floor((x - min) / width), bins-1)`` rather than an ml Bucketizer,
  so it stays inside whole-stage codegen and is reproducible in ANSI SQL
  (the DuckDB oracle uses the identical formula).

Public observable semantics preserved: clause-keyed statistics
(``'Fare >= 0.42 and Fare < 40.21'``), MultiIndex pandas outputs keyed by
strata values.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.columns import HandyColumns
from ..core.frame import HandyFrame
from ..core.util import HandyException
from . import agg as A


def _non_missing(df, colname):
    """The one column an edge fit reads, NaN masked to NULL (NaN sorts
    above every double: it would become the max / the upper edges)."""
    return A.nan_to_null(df.select(colname), [colname])


class Bucket:
    """Equal-width discretizer for a continuous stratum column
    (ref dataframe.py:1414-1433). Edge computation costs one tiny agg."""

    def __init__(self, colname: str, bins: int = 5):
        self.colname = colname
        self.bins = bins
        self.edges: np.ndarray | None = None

    def __repr__(self):
        return f"Bucket_{self.colname}_{self.bins}"

    def _fit(self, df):
        row = _non_missing(df, self.colname).agg(
            F.min(self.colname).alias("mn"),
            F.max(self.colname).alias("mx")).collect()[0]
        self._check(row.mn)
        self.edges = np.linspace(row.mn, row.mx, self.bins + 1)
        return self

    def _check(self, first_edge):
        if first_edge is None:
            raise HandyException(
                f"{type(self).__name__} edges of column {self.colname!r} "
                "are undefined: it has no non-null values")

    def _value(self):
        """The stratum column as double, NaN masked to NULL: a NaN row
        gets no bucket, like a NULL one (the fits drop both)."""
        c = F.col(self.colname).cast("double")
        return F.when(~F.isnan(c), c)

    def _col(self):
        lo, hi = float(self.edges[0]), float(self.edges[-1])
        w = (hi - lo) / self.bins
        c = self._value()
        if w == 0.0:
            # Degenerate range (constant column): every non-null row belongs
            # in bucket 0; nulls stay null, matching the general formula's
            # null propagation. Avoids an ANSI DIVIDE_BY_ZERO.
            return F.when(c.isNotNull(), F.lit(0)).cast("int")
        # F.least SKIPS nulls, so guard explicitly: null input → null bucket
        return F.when(
            c.isNotNull(),
            F.least(F.floor((c - F.lit(lo)) / F.lit(w)),
                    F.lit(self.bins - 1))).cast("int")

    def clauses(self) -> dict[int, str]:
        out = {}
        if float(self.edges[0]) == float(self.edges[-1]):
            # Collapsed range: the only populated bucket is 0; label it as
            # the closed point-interval (others never occur but stay sane).
            v = round(float(self.edges[0]), 2)
            return {i: f"{self.colname} >= {v} and {self.colname} <= {v}"
                    for i in range(self.bins)}
        for i in range(self.bins):
            lo, hi = self.edges[i], self.edges[i + 1]
            op = "<=" if i == self.bins - 1 else "<"
            out[i] = (f"{self.colname} >= {round(lo, 2)} and "
                      f"{self.colname} {op} {round(hi, 2)}")
        return out


class Quantile(Bucket):
    """Equal-frequency discretizer (ref dataframe.py:1455-1462):
    ``approxQuantile(relativeError=0.01)`` edges by default; ``exact=True``
    computes edges with the exact interpolated percentile (one fused
    sort pass) for oracle-grade reproducibility."""

    def __init__(self, colname: str, bins: int = 5,
                 relative_error: float = 0.01, exact: bool = False):
        super().__init__(colname, bins)
        self.relative_error = relative_error
        self.exact = exact

    def _fit(self, df):
        probs = list(np.linspace(0, 1, self.bins + 1))
        df = _non_missing(df, self.colname)
        if self.exact:
            edges = df.agg(A.percentile_expr(self.colname, probs,
                                             exact=True)).collect()[0][0]
        else:
            edges = df.approxQuantile(self.colname, probs,
                                      self.relative_error)
        self._check(edges[0] if edges else None)
        self.edges = np.array(edges)
        return self

    def _col(self):
        # searchsorted over interior edges: id = sum(x >= e_i)
        c = self._value()
        expr = F.lit(0)
        for e in self.edges[1:-1]:
            expr = expr + (c >= F.lit(float(e))).cast("int")
        # F.least SKIPS nulls, so guard explicitly: null input → null bucket
        return F.when(c.isNotNull(),
                      F.least(expr, F.lit(self.bins - 1))).cast("int")


class HandyStrata:
    """``hdf.stratify(['Pclass', Bucket('Age', 2)])`` — see module doc."""

    def __init__(self, hdf: HandyFrame, strata: list):
        self._hdf = hdf
        self._specs = strata
        df = hdf._df
        self._colnames: list[str] = []
        self._labelers: dict[str, dict] = {}
        # the edge fits go back to the driver; the stratified frame
        # ``_aug`` keeps the caller's partitioning (``take`` and
        # ``apply_in_pandas`` hand it back). A bucket column is computed,
        # so the stratified calls over it read it spread
        for s in strata:
            if isinstance(s, Bucket):
                s._fit(hdf._src)
                name = f"_bkt_{s.colname}"     # temp col, dropped on the edge
                df = df.withColumn(name, s._col())
                self._colnames.append(name)
                self._labelers[name] = s.clauses()
            else:
                self._colnames.append(s)
        self._aug = HandyFrame(df, hdf._handy.copy())
        self._aug._handy.strata = self._colnames

    @property
    def cols(self) -> "StrataColumns":
        return StrataColumns(self)

    def take(self, n: int) -> HandyFrame:
        """First n rows PER STRATUM — as one windowed job (row_number over
        the strata partition), not the reference's N filter-jobs
        (dataframe.py:1926-1929)."""
        from pyspark.sql import Window
        w = Window.partitionBy(*self._colnames).orderBy(
            F.monotonically_increasing_id())
        out = (self._aug._df
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= n)
               .drop("_rn", *[c for c in self._colnames
                              if c.startswith("_bkt_")]))
        return HandyFrame(out, self._hdf._handy.copy())

    # -- per-stratum escape hatch ------------------------------------------
    def apply_in_pandas(self, fn, schema):
        """Run ``fn(pdf) -> pdf`` once per stratum via applyInPandas —
        one shuffle, arbitrary pandas logic, distributed."""
        out = self._aug._df.groupBy(*self._colnames).applyInPandas(fn, schema)
        return HandyFrame(out, self._hdf._handy.copy())

    def combinations(self) -> pd.DataFrame:
        """Observed strata combinations (one groupBy job,
        ref dataframe.py:1846-1848)."""
        return (self._aug._src.groupBy(*self._colnames).count()
                .orderBy(*self._colnames).toPandas())

    def clause_for(self, combo: dict) -> str:
        """Human-readable clause string for one combination
        (ref dataframe.py:1849-1862)."""
        parts = []
        for c in self._colnames:
            v = combo[c]
            if c in self._labelers:
                parts.append(self._labelers[c][int(v)])
            elif isinstance(v, str):
                parts.append(f'{c} == "{v}"')
            else:
                parts.append(f"{c} == {v}")
        return " and ".join(parts)

    def _relabel(self, obj):
        """Replace bucket-id index levels with clause strings and restore the
        original column names on the pandas edge."""
        if not self._labelers or not isinstance(obj, (pd.Series, pd.DataFrame)):
            return obj
        strip = lambda n: n[5:] if isinstance(n, str) and n.startswith("_bkt_") else n
        idx = obj.index
        if isinstance(idx, pd.MultiIndex):
            # Null-stratum groups have no clause representation — drop them
            # (pandas groupby convention).
            mask = np.ones(len(obj), dtype=bool)
            for name in idx.names:
                if name in self._labelers:
                    mask &= ~pd.isna(idx.get_level_values(name))
            if not mask.all():
                obj = obj[mask]
                obj.index = obj.index.remove_unused_levels()
            idx = obj.index
            new_levels = []
            for name, level in zip(idx.names, idx.levels):
                if name in self._labelers:
                    lab = self._labelers[name]
                    new_levels.append([lab.get(int(v), v) for v in level])
                else:
                    new_levels.append(list(level))
            obj.index = idx.set_levels(new_levels).set_names(
                [strip(n) for n in idx.names])
        elif idx.name in self._labelers:
            mask = ~pd.isna(idx)
            if not mask.all():
                obj = obj[mask]
                idx = obj.index
            lab = self._labelers[idx.name]
            obj.index = pd.Index([lab.get(int(v), v) for v in idx],
                                 name=strip(idx.name))
        return obj

    # -- fitted transforms under strata ------------------------------------
    def fill(self, *args, **kwargs) -> HandyFrame:
        from .fill import fill
        return fill(self._aug, *args, strata=self._colnames,
                    labeler=self.clause_for, **kwargs)

    def fence(self, colnames, k: float = 1.5) -> HandyFrame:
        from .fill import fence
        return fence(self._aug, colnames, k=k, strata=self._colnames,
                     labeler=self.clause_for)


class StrataColumns(HandyColumns):
    """HandyColumns with the strata pushed into every plan + clause
    relabeling on the pandas edge."""

    def __init__(self, strata: HandyStrata):
        super().__init__(strata._aug, strata=strata._colnames)
        self._strata_obj = strata

    def __getitem__(self, item):
        res = super().__getitem__(item)
        if isinstance(res, HandyColumns):
            res.__class__ = StrataColumns
            res._strata_obj = self._strata_obj
        return res

    def _shape(self, pdf, name):
        return self._strata_obj._relabel(super()._shape(pdf, name))

    def value_counts(self, dropna: bool = True, ascending: bool = False):
        return self._strata_obj._relabel(
            super().value_counts(dropna, ascending))

    def mode(self):
        return self._strata_obj._relabel(super().mode())

    def entropy(self):
        return self._strata_obj._relabel(super().entropy())

    # -- consolidated plot grids (reference plot.py:18-41) ------------------
    def hist(self, bins: int = 10, grid: bool = False, **kwargs):
        """Stratified histogram. ``grid=True`` returns the consolidated
        ``PlotGrid`` (per-stratum panels, shared limits — reference
        ``consolidate_plots``); default returns the flat stats frame."""
        if grid:
            from ..plans.grid import hist_grid
            return hist_grid(self._strata_obj, self._cols()[0], bins)
        return super().hist(bins, **kwargs)

    def boxplot(self, k: float = 1.5, grid: bool = False, **kwargs):
        if grid:
            from ..plans.grid import boxplot_grid
            return boxplot_grid(self._strata_obj, self._cols(), k, **kwargs)
        return super().boxplot(k, **kwargs)

    def scatterplot(self, bins: int = 30, grid: bool = False, **kwargs):
        if grid:
            from ..plans.grid import scatterplot_grid
            cols = self._cols()
            return scatterplot_grid(self._strata_obj, cols[0], cols[1],
                                    bins)
        return super().scatterplot(bins, **kwargs)

    def corr(self, method: str = "pearson"):
        """Stratified correlation — one grouped job over all strata (the
        reference looped filtered children, dataframe.py:1926-1929)."""
        cols = self._cols()
        long = A.corr_plan(self._hdf._src, cols, method,
                           self._strata).toPandas()
        return self._strata_obj._relabel(
            long.set_index(self._strata + ["col_x", "col_y"])["corr"]
            .sort_index())
