import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    import shutil
    import tempfile
    warehouse = tempfile.mkdtemp(prefix="hs_wh_")
    spark = (SparkSession.builder
             .master("local[8]")
             .config("spark.sql.warehouse.dir", warehouse)
             .appName("handyspark_spark-tests")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled",
                     os.environ.get("SPARK_GRAFT_TEST_ARROW", "true"))
             .config("spark.driver.memory", "4g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    yield spark
    spark.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def tables(spark):
    from handyspark_spark.sources.loader import load_all
    return load_all(spark, SF_DIR)


@pytest.fixture(scope="session")
def pdf_tables():
    return {t: pd.read_parquet(f"{SF_DIR}/{t}.parquet") for t in TABLES}


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def lsh_pairs_ref():
    """Reference pair set of ``minhash_lsh_pairs``, written as the
    registry's DuckDB formulation: one banded row per (id, band) with
    the band's signature slice as its bucket key (a duplicate id keeps
    its lexicographically smallest signature), buckets over the cap
    dropped by a count filter, then a DISTINCT self-join on
    (band, slice)."""
    def ref(df, num_hashes, bands, cap, text_col="text", id_col="doc_id"):
        from pyspark.sql import functions as F

        from handyspark_spark.pipeline.dedup import minhash_signature_arrays
        r = num_hashes // bands
        sigs = (minhash_signature_arrays(df, text_col, id_col, num_hashes)
                .groupBy(id_col).agg(F.min("sig").alias("sig")))
        banded = sigs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.array(*[F.slice("sig", i * r + 1, r)
                                   for i in range(bands)]))
            .alias("band", "bv"))
        if cap is not None:
            ok = (banded.groupBy("band", "bv").count()
                  .filter(F.col("count") <= cap).drop("count"))
            banded = banded.join(ok, ["band", "bv"])
        a, b = banded.alias("a"), banded.alias("b")
        rows = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bv") == F.col("b.bv"))
                       & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id"), F.col("b.id")).distinct().collect())
        return {(x[0], x[1]) for x in rows}
    return ref
