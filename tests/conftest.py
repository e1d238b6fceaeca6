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
