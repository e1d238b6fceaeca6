"""HandyFrame — the engine's annotated DataFrame.

Re-derives the reference's data model (handyspark/sql/dataframe.py:44-67,
858-1202): a Spark DataFrame carrying sidecar state (classification metadata,
fitted imputation/fence statistics, stratification state, a collect safety
limit), with every DataFrame-returning method re-wrapping its result and
propagating a copy of the sidecar.

Implementation note: the reference *subclasses* DataFrame (possible on
Spark 2.3); on PySpark 4.x the DataFrame class is split classic/connect, so
we use composition + ``__getattr__`` delegation, which keeps the whole public
DataFrame API available while staying version-proof. Big data stays in Spark;
only small summaries land in pandas on the driver.
"""
from __future__ import annotations

import copy
import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.schema import ColumnTaxonomy


class Handy:
    """Sidecar state (reference ``Handy``, dataframe.py:44-67)."""

    def __init__(self):
        self.safety_limit = 1000
        self.safety = True
        self.is_classification = False
        self.classes = None
        self.nclasses = None
        self.response = None
        # clause -> {colname: value} fitted stats (reference statistics_)
        self.imputed_values: dict = {}
        # clause -> {colname: (lower, upper)} (reference fences_)
        self.fenced_values: dict = {}
        self.strata = None          # list[str | Bucket | Quantile]

    def copy(self) -> "Handy":
        new = Handy.__new__(Handy)
        new.__dict__.update(self.__dict__)
        new.imputed_values = copy.deepcopy(self.imputed_values)
        new.fenced_values = copy.deepcopy(self.fenced_values)
        return new


class HandyFrame:
    """Pandas-flavored wrapper over a Spark DataFrame (ref dataframe.py:858+).

    All heavy computation is delegated to Spark plans built in
    ``handyspark_spark.operators``; aggregation results come back as pandas
    objects (the reference's contract), while row-level transformations stay
    lazy Spark DataFrames wrapped in new HandyFrames.
    """

    def __init__(self, df: DataFrame, handy: Handy | None = None):
        if isinstance(df, HandyFrame):
            df = df._df
        self._df = df
        self._handy = handy if handy is not None else Handy()
        self._types = ColumnTaxonomy(df.schema)

    # -- delegation ---------------------------------------------------------
    def __getattr__(self, name):
        attr = getattr(self._df, name)
        if callable(attr) and not isinstance(attr, DataFrame):
            @functools.wraps(attr)
            def wrapper(*args, **kwargs):
                args = [a._df if isinstance(a, HandyFrame) else a for a in args]
                res = attr(*args, **kwargs)
                if isinstance(res, DataFrame):
                    return HandyFrame(res, self._handy.copy())
                return res
            return wrapper
        return attr

    def __repr__(self):
        return f"HandyFrame[{', '.join(f'{n}: {t}' for n, t in self._df.dtypes)}]"

    def notHandy(self) -> DataFrame:
        return self._df

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- safety valve (ref dataframe.py:64, 1112-1150) ----------------------
    def set_safety_limit(self, limit: int) -> None:
        self._handy.safety_limit = limit

    def safety_off(self) -> "HandyFrame":
        self._handy.safety = False
        return self

    def collect(self):
        from .util import HandyException
        try:
            if self._handy.safety:
                return self._df.limit(self._handy.safety_limit).collect()
            self._handy.safety = True      # one-shot, like the reference
            return self._df.collect()
        except Exception as e:             # surface the root cause first
            raise HandyException(e) from e

    def take(self, num: int):
        return self._df.take(num)

    @property
    def values(self) -> np.ndarray:
        rows = self.collect()
        return np.array([tuple(r) for r in rows], dtype=object)

    # -- metadata -----------------------------------------------------------
    @property
    def nrows(self) -> int:
        return self._df.count()

    @property
    def ncols(self) -> int:
        return len(self._df.columns)

    @property
    def shape(self) -> tuple[int, int]:
        return (self.nrows, self.ncols)

    @property
    def statistics_(self) -> dict:
        return self._handy.imputed_values

    @property
    def fences_(self) -> dict:
        return self._handy.fenced_values

    @property
    def is_classification(self) -> bool:
        return self._handy.is_classification

    @property
    def classes(self):
        return self._handy.classes

    @property
    def nclasses(self):
        return self._handy.nclasses

    @property
    def response(self):
        return self._handy.response

    def set_response(self, colname: str) -> "HandyFrame":
        """Ref dataframe.py:475-484 — mark the label column; for non-float
        labels record the sorted distinct class values."""
        if colname not in self._df.columns:
            raise ValueError(f"column {colname!r} not in DataFrame")
        self._handy.response = colname
        if colname not in self._types.continuous:
            self._handy.is_classification = True
            classes = [r[0] for r in
                       self._df.select(colname).distinct().collect()]
            self._handy.classes = sorted(classes)
            self._handy.nclasses = len(classes)
        return self

    @property
    def stages(self) -> int:
        """Number of shuffle stages = exchanges in the executed plan + 1
        (reimplementation of ref dataframe.py:112-116 on the SQL plan rather
        than RDD debug strings)."""
        from .util import exchange_count
        return exchange_count(self._df) + 1

    # -- experimental row addressing (ref dataframe.py:973-985) -------------
    def _gen_row_ids(self, *sort_cols) -> "HandyFrame":
        """Absolute 0-based row ids over an explicit total order
        (EXPERIMENTAL in the reference). Distributed partition-offset
        row numbering (operators/rank.py) — no single-partition sort, so
        safe on full-size frames; ties within a sort key are numbered
        arbitrarily-but-deterministically, as with the reference's global
        window."""
        from ..operators.rank import ranged_row_number
        out = ranged_row_number(self._df, list(sort_cols), name="_row_id")
        return HandyFrame(out, self._handy.copy())

    def _loc(self, lower: int, upper: int) -> "HandyFrame":
        if "_row_id" not in self._df.columns:
            raise ValueError("call _gen_row_ids(*sort_cols) first")
        return HandyFrame(
            self._df.filter(F.col("_row_id").between(lower, upper)),
            self._handy.copy())

    # -- accessors ----------------------------------------------------------
    @property
    def cols(self) -> "HandyColumns":
        from .columns import HandyColumns
        return HandyColumns(self)

    @property
    def pandas(self):
        from ..functions.series import HandyPandasAccessor
        return HandyPandasAccessor(self)

    def stratify(self, strata: list) -> "HandyStrata":
        from ..operators.strata import HandyStrata
        return HandyStrata(self, strata)

    def groupby(self, cols):
        """Group-aware wrapper (ref dataframe.py:1194-1202 + 841-855):
        the result of ``.agg`` remembers its group columns."""
        from .columns import HandyGrouped
        cols = [cols] if isinstance(cols, str) else list(cols)
        return HandyGrouped(self._df.groupBy(*cols), cols,
                            handy=self._handy)

    def ordered(self, by, partition=None):
        """Ordered-window Series ops (cumsum/diff/shift/rank/...) — the
        upgrade over the reference's order-dependent-method blacklist
        (sql/pandas.py:11-12). Requires an explicit ordering column."""
        from ..functions.window import OrderedAccessor
        return OrderedAccessor(self, by, partition)

    def metrics(self, score_col: str = "probability",
                label_col: str = "label", **kwargs):
        """DataFrame-native BinaryClassificationMetrics
        (replaces the reference's mllib/JVM bridge)."""
        from ..ml.evaluation import BinaryClassificationMetrics
        return BinaryClassificationMetrics(self._df, score_col, label_col,
                                           **kwargs)

    # -- missing data / outliers (operators) --------------------------------
    def isnull(self, ratio: bool = False) -> pd.Series:
        from ..operators import agg as A
        pdf = A.isnull_plan(self._df, self._df.columns, ratio=ratio).toPandas()
        s = pdf.iloc[0]
        s.name = "missing" + ("(ratio)" if ratio else "")
        return s

    def describe(self, colnames=None, exact: bool = False,
                 precision: float = 0.01) -> pd.DataFrame:
        """pandas-style describe (count/mean/std/min/25%/50%/75%/max) for
        numeric columns — ONE wide aggregation over all columns at once,
        quartiles fused into a single percentile pass per column."""
        from ..operators import agg as A
        cols = colnames or self._types.numerical
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
        row = A.summary_plan(self._df, exprs).collect()[0]
        out = {}
        nan = float("nan")
        for c in cols:
            q = row[f"q__{c}"] or [nan, nan, nan]   # all-null/empty column
            out[c] = [row[f"count__{c}"], row[f"mean__{c}"],
                      row[f"std__{c}"], row[f"min__{c}"],
                      q[0], q[1], q[2], row[f"max__{c}"]]
        return pd.DataFrame(out, index=["count", "mean", "std", "min",
                                        "25%", "50%", "75%", "max"])

    def profile(self, colnames=None, exact: bool = False) -> pd.DataFrame:
        """Whole-frame data-quality profile: one row per column with
        (n, n_null, n_distinct, min, max, mean, std) — ONE wide
        aggregation (HLL distinct by default, ``exact=True`` for the
        multi-distinct expand). Beyond-reference surface."""
        from ..operators import agg as A
        return (A.profile_plan(self._df, colnames, exact=exact)
                .toPandas().set_index("column"))

    def nunique(self, exact: bool = False) -> pd.Series:
        from ..operators import agg as A
        pdf = A.nunique_plan(self._df, self._df.columns, exact=exact).toPandas()
        s = pdf.iloc[0]
        s.name = "nunique"
        return s

    def fill(self, *args, categorical=None, continuous=None, strategy=None,
             **kwargs) -> "HandyFrame":
        from ..operators.fill import fill
        return fill(self, *args, categorical=categorical,
                    continuous=continuous, strategy=strategy, **kwargs)

    def fence(self, colnames, k: float = 1.5, **kwargs) -> "HandyFrame":
        from ..operators.fill import fence
        return fence(self, colnames, k=k, **kwargs)

    def outliers(self, ratio: bool = False, method: str = "tukey",
                 **kwargs) -> pd.Series:
        from ..operators.outliers import tukey_outliers
        return tukey_outliers(self, ratio=ratio, **kwargs)

    def get_outliers(self, colnames=None, critical_value: float = 0.999):
        from ..operators.outliers import mahalanobis_outliers
        return mahalanobis_outliers(self, colnames, critical_value,
                                    keep=True)

    def remove_outliers(self, colnames=None, critical_value: float = 0.999):
        from ..operators.outliers import mahalanobis_outliers
        return mahalanobis_outliers(self, colnames, critical_value,
                                    keep=False)

    # -- ML adjacency -------------------------------------------------------
    def disassemble(self, colname: str, new_colnames=None) -> "HandyFrame":
        from ..ml.vector import disassemble
        return disassemble(self, colname, new_colnames)

    def to_metrics_RDD(self, prob_col: str = "probability",
                       label_col: str = "label"):
        from ..ml.vector import to_metrics_rdd
        return to_metrics_rdd(self, prob_col, label_col)

    @property
    def transformers(self):
        from ..ml.base import HandyTransformers
        return HandyTransformers(self)

    # -- UDF surface --------------------------------------------------------
    def transform(self, f, name: str | None = None, args=None,
                  returnType=None) -> "HandyFrame":
        from ..functions.transform import HandyTransform
        return HandyFrame(
            HandyTransform.transform(self._df, f, name=name, args=args,
                                     returnType=returnType),
            self._handy.copy())

    def apply(self, f, name: str | None = None, args=None,
              returnType=None) -> "HandyFrame":
        from ..functions.transform import HandyTransform
        return HandyFrame(
            HandyTransform.apply(self._df, f, name=name, args=args,
                                 returnType=returnType),
            self._handy.copy())

    def assign(self, **kwargs) -> "HandyFrame":
        from ..functions.transform import HandyTransform
        return HandyFrame(HandyTransform.assign(self._df, **kwargs),
                          self._handy.copy())

    def apply_grouped(self, f, by, schema) -> "HandyFrame":
        """Grouped-map pandas transform — the modern form of the
        reference's experimental ``gen_grouped_pandas_udf``
        (transform.py:74-94): ``groupBy(by).applyInPandas(f, schema)``."""
        by = [by] if isinstance(by, str) else list(by)
        return HandyFrame(self._df.groupBy(*by).applyInPandas(f, schema),
                          self._handy.copy())


def toHandy(df: DataFrame) -> HandyFrame:
    """Enter the wrapper (ref dataframe.py:25-30)."""
    return HandyFrame(df)

