"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H Q1-style pricing summary built on
the handyspark_spark aggregation core) at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, registered in ``handyspark_spark.queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from handyspark_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Side effect, deliberate: DuckDB cannot retrain k-means, so the
    ann_pq / ann_ivfpq ORACLES read the trained books and centroids
    from the export under ``$HSQ_INDEX_CACHE_ROOT/hsq_{pq,ivfpq}_idx``
    (default /tmp) that each of those Spark queries writes when it is
    absent. The driver's correctness gate runs Spark and DuckDB
    side-by-side with no ordering contract, so entry() fits and exports
    both sf0.01 indexes up front (a few seconds): an oracle that runs
    first on a fresh root then finds its export. A missing sf0.01
    fixture skips this; any other export error raises."""
    sf = "/root/testdata/sf0.01"
    if os.path.exists(os.path.join(sf, "embeddings.parquet")):
        for family in ("hsq_pq_idx", "hsq_ivfpq_idx"):
            Q._fit_ann_index(spark, sf, family)
    return Q.QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLE)
