"""Serializable imputation/fencing transformers.

Re-derives reference ``handyspark/ml/base.py``: the fitted clause-keyed
stats dict from ``HandyFrame.fill``/``fence`` is exported as a
``pyspark.ml.Transformer`` whose single Param is the dict as JSON —
save/load-able and usable inside a ``pyspark.ml.Pipeline`` (the
train/production bridge, SURVEY.md §3.4).
"""
from __future__ import annotations

import json

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import functions as F


class HasStatsDict(Params):
    statsDict = Param(Params._dummy(), "statsDict",
                      "fitted statistics as a JSON string",
                      typeConverter=TypeConverters.toString)

    def setStatsDict(self, value: dict):
        return self._set(statsDict=json.dumps(value))

    def getStatsDict(self) -> dict:
        return json.loads(self.getOrDefault(self.statsDict))


import re

_EQ_CLAUSE = re.compile(r'^\s*(\w+)\s*==\s*"(.*)"\s*$', re.S)
_NUM_CLAUSE = re.compile(
    r'^\s*(\w+)\s*(==|>=|<=|>|<)\s*'
    r'(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)\s*$')
_BOOL_CLAUSE = re.compile(r'^\s*(\w+)\s*==\s*(True|False)\s*$')


def _clause_condition(clause: str):
    """Parse a stored clause string back into a Column predicate
    STRUCTURALLY — string-equality values go through F.lit, never through
    SQL text, so values containing quotes/backslashes can't break parsing
    or inject SQL (the reference string-built CASE WHEN SQL here,
    dataframe.py:253-262 — a bug SURVEY.md §7 says not to copy).

    Grammar (produced by HandyStrata.clause_for / Bucket.clauses):
    parts joined by ' and ', each `col == "str"`, `col == True/False`,
    or `col <op> number` (incl. scientific notation). A whole-clause
    string match is tried FIRST so single string clauses containing
    ' and ... < ...' inside the value never get mis-split; anything the
    structural grammar can't handle falls back to ``F.expr`` (the legacy
    path — works for everything except quotes inside values)."""
    whole = _parse_part(clause)
    if whole is not None:
        return whole
    # split only where the next token looks like a new `col <op>` clause,
    # so most string values containing ' and ' stay intact
    parts = re.split(r" and (?=\w+\s*(?:==|>=|<=|>|<)\s)", clause)
    conds = [_parse_part(p) for p in parts]
    if all(c is not None for c in conds):
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    return F.expr(clause.replace('"', "'"))   # legacy fallback


def _parse_part(part: str):
    m = _EQ_CLAUSE.match(part)
    if m:
        return F.col(m.group(1)) == F.lit(m.group(2))
    m = _BOOL_CLAUSE.match(part)
    if m:
        return F.col(m.group(1)) == F.lit(m.group(2) == "True")
    m = _NUM_CLAUSE.match(part)
    if m:
        col, op, num = m.group(1), m.group(2), float(m.group(3))
        return {"==": F.col(col) == F.lit(num),
                ">=": F.col(col) >= F.lit(num),
                "<=": F.col(col) <= F.lit(num),
                ">": F.col(col) > F.lit(num),
                "<": F.col(col) < F.lit(num)}[op]
    return None


class HandyImputer(Transformer, HasStatsDict, DefaultParamsReadable,
                   DefaultParamsWritable):
    """Applies fitted fill values (ref ml/base.py:62-106).

    Flat dict -> global imputation; nested {clause: {col: value}} ->
    per-stratum CASE projection. Map-only, no shuffle."""

    @keyword_only
    def __init__(self, statsDict: dict | None = None):
        super().__init__()
        if statsDict is not None:
            self.setStatsDict(statsDict)

    def _transform(self, df):
        stats = self.getStatsDict()
        dtypes = dict(df.dtypes)

        def missing(c):
            cond = F.isnull(F.col(c))
            if dtypes.get(c) in ("double", "float"):
                cond = cond | F.isnan(F.col(c))
            return cond

        nested = any(isinstance(v, dict) for v in stats.values())
        out = df
        if not nested:
            for c, v in stats.items():
                out = out.withColumn(c, F.when(missing(c), F.lit(v))
                                     .otherwise(F.col(c)))
        else:
            cols = sorted({c for d in stats.values() for c in d})
            for c in cols:
                vexpr = None
                for clause, d in stats.items():
                    if c not in d:
                        continue
                    cond = _clause_condition(clause)
                    vexpr = (F.when(cond, F.lit(d[c])) if vexpr is None
                             else vexpr.when(cond, F.lit(d[c])))
                out = out.withColumn(c, F.when(missing(c), vexpr)
                                     .otherwise(F.col(c)))
        return out


class HandyFencer(Transformer, HasStatsDict, DefaultParamsReadable,
                  DefaultParamsWritable):
    """Applies fitted Tukey fences (ref ml/base.py:109-156)."""

    @keyword_only
    def __init__(self, statsDict: dict | None = None):
        super().__init__()
        if statsDict is not None:
            self.setStatsDict(statsDict)

    def _transform(self, df):
        from ..operators.fill import clamp_expr
        stats = self.getStatsDict()
        nested = any(isinstance(v, dict) for v in stats.values())
        out = df
        if not nested:
            for c, (lf, uf) in stats.items():
                out = out.withColumn(
                    c, clamp_expr(df, c, F.lit(lf), F.lit(uf)))
        else:
            cols = sorted({c for d in stats.values() for c in d})
            for c in cols:
                lexpr, uexpr = None, None
                for clause, d in stats.items():
                    if c not in d:
                        continue
                    lf, uf = d[c]
                    cond = _clause_condition(clause)
                    lexpr = (F.when(cond, F.lit(lf)) if lexpr is None
                             else lexpr.when(cond, F.lit(lf)))
                    uexpr = (F.when(cond, F.lit(uf)) if uexpr is None
                             else uexpr.when(cond, F.lit(uf)))
                out = out.withColumn(c, clamp_expr(df, c, lexpr, uexpr))
        return out


class HandyTransformers:
    """``hdf.transformers.imputer()/.fencer()`` factory
    (ref ml/base.py:7-38)."""

    def __init__(self, hdf):
        self._hdf = hdf

    def imputer(self) -> HandyImputer:
        return HandyImputer(statsDict=self._hdf.statistics_)

    def fencer(self) -> HandyFencer:
        return HandyFencer(statsDict=self._hdf.fences_)
