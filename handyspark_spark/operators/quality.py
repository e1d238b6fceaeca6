"""Declarative data-quality checks: a constraint suite evaluated in ONE
aggregation pass, deequ-style.

Beyond-reference surface. A 100 TB ingestion run needs its gate checks
(nullability, ranges, uniqueness, regex shape, referential containment)
evaluated WITHOUT one job per check — every constraint here compiles to
an aggregate expression and the whole suite is a single wide agg (plus
one grouped pass per uniqueness check, the only class that genuinely
needs its own shuffle).

Output is a long-form report (constraint, column, metric, threshold,
passed) — joinable, storable, diffable across runs.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Check", "constraint_report"]


class Check:
    """Builder for a constraint suite. Each method queues a constraint;
    ``constraint_report`` compiles and runs them."""

    def __init__(self):
        self._cs: list[dict] = []

    def not_null(self, col: str, max_null_ratio: float = 0.0) -> "Check":
        self._cs.append(dict(kind="not_null", col=col,
                             threshold=max_null_ratio))
        return self

    def unique(self, *cols: str) -> "Check":
        self._cs.append(dict(kind="unique", col=",".join(cols),
                             cols=list(cols), threshold=0.0))
        return self

    def in_range(self, col: str, lo: float, hi: float,
                 max_violation_ratio: float = 0.0) -> "Check":
        self._cs.append(dict(kind="in_range", col=col, lo=lo, hi=hi,
                             threshold=max_violation_ratio))
        return self

    def matches(self, col: str, pattern: str,
                min_match_ratio: float = 1.0) -> "Check":
        self._cs.append(dict(kind="matches", col=col, pattern=pattern,
                             threshold=min_match_ratio))
        return self

    def isin(self, col: str, allowed: list,
             max_violation_ratio: float = 0.0) -> "Check":
        self._cs.append(dict(kind="isin", col=col, allowed=list(allowed),
                             threshold=max_violation_ratio))
        return self

    def min_rows(self, n: int) -> "Check":
        self._cs.append(dict(kind="min_rows", col="*", threshold=float(n)))
        return self


def _ratio(cond: Column) -> Column:
    return (F.sum(cond.cast("long")) /
            F.greatest(F.count(F.lit(1)), F.lit(1)))


def constraint_report(df: DataFrame, check: Check,
                      round_to: int = 6) -> DataFrame:
    """Evaluate the suite. All row-expressible constraints fuse into ONE
    aggregation job; each ``unique`` adds one grouped-count job (a real
    shuffle is unavoidable for exact uniqueness — use hash_sample +
    unique on a slice when an approximate gate is enough).

    Returns (constraint, column, metric, threshold, passed)."""
    rows = []
    exprs = []
    for i, c in enumerate(check._cs):
        k, col = c["kind"], c["col"]
        if k == "not_null":
            exprs.append(_ratio(F.col(col).isNull()).alias(f"_m{i}"))
            rows.append((i, "not_null", col, c["threshold"], "le"))
        elif k == "in_range":
            v = F.col(col)
            bad = v.isNotNull() & ~v.between(c["lo"], c["hi"])
            exprs.append(_ratio(bad).alias(f"_m{i}"))
            rows.append((i, "in_range", col, c["threshold"], "le"))
        elif k == "matches":
            v = F.col(col)
            ok = v.isNotNull() & v.rlike(c["pattern"])
            exprs.append(_ratio(ok).alias(f"_m{i}"))
            rows.append((i, "matches", col, c["threshold"], "ge"))
        elif k == "isin":
            v = F.col(col)
            bad = v.isNotNull() & ~v.isin(c["allowed"])
            exprs.append(_ratio(bad).alias(f"_m{i}"))
            rows.append((i, "isin", col, c["threshold"], "le"))
        elif k == "min_rows":
            exprs.append(F.count(F.lit(1)).cast("double").alias(f"_m{i}"))
            rows.append((i, "min_rows", col, c["threshold"], "ge"))
        elif k == "unique":
            rows.append((i, "unique", col, c["threshold"], "le"))
    wide = df.agg(*exprs) if exprs else None

    spark = df.sparkSession
    parts = []
    if wide is not None:
        stack_items = ", ".join(
            f"'{i}', _m{i}" for i, k, col, t, d in rows if k != "unique")
        n_items = sum(1 for r in rows if r[1] != "unique")
        long = wide.select(F.expr(
            f"stack({n_items}, {stack_items})").alias("_i", "metric"))
        parts.append(long)
    for i, k, col, t, d in rows:
        if k != "unique":
            continue
        cols = next(c["cols"] for c in [check._cs[i]])
        dup = (df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n"))
               .agg(_ratio(F.col("_n") > 1).alias("metric"))
               .select(F.lit(str(i)).alias("_i"), "metric"))
        parts.append(dup)
    metrics = parts[0]
    for p in parts[1:]:
        metrics = metrics.unionByName(p)

    i_, k_, col_, t_, d_ = zip(*rows)
    meta = spark.createDataFrame(
        pa.table({"_i": [str(i) for i in i_], "constraint": k_,
                  "column": col_, "threshold": [float(t) for t in t_],
                  "_dir": d_}),
        "_i string, constraint string, column string, threshold double, "
        "_dir string")
    out = metrics.join(F.broadcast(meta), "_i")
    passed = F.when(F.col("_dir") == "le",
                    F.col("metric") <= F.col("threshold") + 1e-12) \
              .otherwise(F.col("metric") >= F.col("threshold") - 1e-12)
    return (out.select("constraint", "column",
                       F.round("metric", round_to).alias("metric"),
                       "threshold", passed.alias("passed"))
            .orderBy("constraint", "column"))
