"""Diagnostics: Spark traceback summarization + plan introspection.

Re-derives reference ``handyspark/util.py:42-92`` (``HandyException`` with
a bold-red summary line extracted from the multi-hundred-line JVM
traceback) and the ``stages`` proxy metric — reimplemented on the SQL
executed plan instead of RDD debug strings (dataframe.py:112-116)."""
from __future__ import annotations

import re

from pyspark.sql import DataFrame

ANSI_BOLD_RED = "\033[1;31m"
ANSI_RESET = "\033[0m"


class HandyException(Exception):
    """Wraps a Spark exception with the root-cause line surfaced first."""

    def __init__(self, exc: BaseException):
        self.summary = summarize_spark_error(str(exc))
        super().__init__(f"{ANSI_BOLD_RED}{self.summary}{ANSI_RESET}\n"
                         f"{exc}")


_PATTERNS = [
    re.compile(r"^(pyspark\.errors\.[\w.]+: .+)$", re.M),
    re.compile(r"^([\w.]*AnalysisException: .+)$", re.M),
    re.compile(r"^(\w+Error: .+)$", re.M),
    re.compile(r"Caused by: ([^\n]+)"),
]


def summarize_spark_error(text: str) -> str:
    """First match of the root-cause patterns, else the first line."""
    for pat in _PATTERNS:
        m = pat.search(text)
        if m:
            return m.group(1).strip()
    return text.strip().splitlines()[0] if text.strip() else "unknown error"


def exchange_count(df) -> int:
    """Number of shuffle exchanges in the executed physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


# expression nodes of a plain projection: column picks, renames, casts
# and constants; a Project of anything else (a computed column) is work
# a one-task read would pull into its task
_PLAIN_EXPRS = ("AttributeReference", "Alias", "Cast", "Literal")


def _plain(expr) -> bool:
    kids = expr.children()
    return expr.nodeName() in _PLAIN_EXPRS and all(
        _plain(kids.apply(i)) for i in range(kids.size()))


def _stated_rows(frame: DataFrame) -> int | None:
    """``frame``'s exact row count when it is materialized: its
    analyzed plan, with the session's cached data substituted, is a
    loaded ``InMemoryRelation`` or a ``LocalRelation`` under plain
    projections and repartitions only. None otherwise (a file scan, a
    range, a Python UDF or a computed column on the way, an unloaded
    cache). ``collect_sized`` bounds the rows by the frame's cells,
    ``pipeline.similarity._arrow_sized`` adds its Arrow bounds (rows
    per batch, scores per scan task).

    The walk never runs the optimizer: the cache substitution is the
    one ``QueryExecution.withCachedData`` applies, done afresh (the
    frame's own may predate the cache it reads). With no cache in the
    session, only a ``LocalRelation`` leaf can be stated, so a file
    scan costs a handful of py4j calls and no plan walk."""
    cm = frame.sparkSession._jsparkSession.sharedState().cacheManager()
    plan = frame._jdf.queryExecution().analyzed()
    if cm.isEmpty():
        leaves = plan.collectLeaves()
        if (leaves.size() != 1
                or leaves.head().nodeName() != "LocalRelation"):
            return None
    else:
        plan = cm.useCachedData(plan)
    while plan.nodeName() in ("Project", "Repartition", "SubqueryAlias"):
        if plan.nodeName() == "Project":
            exprs = plan.projectList()
            if not all(_plain(exprs.apply(i)) for i in range(exprs.size())):
                return None
        plan = plan.child()
    if plan.nodeName() == "LocalRelation":
        return int(plan.data().size())
    if (plan.nodeName() == "InMemoryRelation"
            and plan.cacheBuilder().isCachedColumnBuffersLoaded()):
        return int(plan.stats().rowCount().get())
    return None


# most rows x columns a driver-bound plan reads in one task. Measured on
# cached frames, 4-core host, one task vs four (SCALE.md "Round 20"):
# the summed wall of the single-aggregate calls (fill median, hist,
# value_counts, strata mean, exact percentile on a 12-column frame;
# hist, value_counts on a 3-column one) is lower on one task at 360k
# cells (0.88x, 0.95x) and crosses over by 600k (12 columns 0.94x at
# 480k, 1.00x at 600k; 3 columns 1.04x at 480k). Up to 720k cells one
# task also took less CPU in every call.
_ONE_TASK_CELLS = 400_000


def collect_sized(frame: DataFrame) -> DataFrame:
    """The input of a plan whose result goes back to the driver:
    ``frame.coalesce(1)`` when ``frame`` is materialized
    (``_stated_rows``) and its rows x columns are at most
    ``_ONE_TASK_CELLS``, else ``frame`` unchanged.

    Read through ``coalesce(1)`` (narrow, no shuffle) the frame is one
    partition, so an aggregate, groupBy, window or sort over it sees
    ``SinglePartition``: EnsureRequirements plans no exchange and the
    call runs as one job of one task, where the spread input runs a
    partial aggregate per partition, then a shuffle whose reduce side
    AQE coalesces to one partition anyway.

    Results: exact aggregates (counts, min/max, exact percentiles,
    value counts) are identical; double sums re-associate (means,
    stds, t, corr move in the last bits); ``percentile_approx`` merges
    one sketch instead of one per partition, so approximate quantiles
    may move within their 1/accuracy rank error.

    The HandyFrame surface reads it as ``HandyFrame._src``; the
    operators that take a plain DataFrame (``ttest``, ``ks_test``,
    ``BinaryClassificationMetrics``) apply it themselves. Frames handed
    back to the caller never go through it: a returned frame keeps the
    caller's partitioning."""
    rows = _stated_rows(frame)
    if rows is not None and rows * len(frame.columns) <= _ONE_TASK_CELLS:
        return frame.coalesce(1)
    return frame


def explain_str(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)
